"""Reader-style facade: detect / recognize / readtext.

API mirror of the reference's Reader (reference easyocr/easyocr.py):

- ``detect(gray)`` -> (horizontal_list, free_list)   (:311-351)
- ``recognize(gray, horizontal_list, free_list)`` -> [(box, text, conf)]
  (:353-438) — crops in reading order (top-to-bottom lines, left-to-
  right words), two-pass contrast retry, greedy/beam/wordbeam decoder
  switch, allowlist/blocklist masking, rotation TTA.
- ``readtext(gray)`` = detect ∘ recognize             (:440-474)
- ``readtext_text`` — the projection our span pipeline uses:
  ``reading_order_text`` of the free-merged results.

``recognize`` is ``crops`` (cut every box) followed by
``recognize_crops`` (one batched recognition call over all of them);
the OCR UDF calls the two halves itself so that every crop of an Arrow
batch shares one recognition call.

The detect stage is pluggable ('craft' score-map strategy,
'dbnet' — the real DBNet post-process over shrunken-kernel maps,
ocr/detection_db.py — or the 'projection' profile strategy; the
reference's CRAFT/DBNet switch, easyocr/easyocr.py:235-268). Rotation TTA mirrors
make_rotated_img_list + set_result_with_confidence
(easyocr/utils.py:802-835): each crop is additionally decoded at the
listed rotations and the highest-confidence variant wins.

This module is pure numpy and Spark-free so it can be unit-tested
standalone and imported inside Arrow UDF workers (the "weights" — the
glyph atlas — are module-level, loaded once per executor process, the
executor-resident-singleton pattern from SURVEY.md §4.2).
"""

from __future__ import annotations

import numpy as np

from . import detection, detection_projection
from .grouping import group_text_box, min_size_filter
from .paragraph import get_paragraph
from .recognition import build_ignore_mask, recognize_batch

MIN_SIZE = 10


def four_point_transform(gray: np.ndarray, quad: np.ndarray) -> np.ndarray:
    """Perspective-warp a quad crop to an axis-aligned rectangle
    (reference easyocr/utils.py:428-448, cv2-free: inverse bilinear
    sampling on a target grid)."""
    q = np.asarray(quad, dtype=np.float64)
    (tl, tr, br, bl) = q
    w = int(max(np.linalg.norm(br - bl), np.linalg.norm(tr - tl)))
    h = int(max(np.linalg.norm(tr - br), np.linalg.norm(tl - bl)))
    w, h = max(w, 1), max(h, 1)
    us = (np.arange(w) + 0.5) / w
    vs = (np.arange(h) + 0.5) / h
    u, v = np.meshgrid(us, vs)
    top = tl[None, None, :] + u[:, :, None] * (tr - tl)[None, None, :]
    bot = bl[None, None, :] + u[:, :, None] * (br - bl)[None, None, :]
    pts = top + v[:, :, None] * (bot - top)
    xs = pts[:, :, 0].round().astype(np.int64).clip(0, gray.shape[1] - 1)
    ys = pts[:, :, 1].round().astype(np.int64).clip(0, gray.shape[0] - 1)
    return gray[ys, xs]


INK_DARKNESS = 0.45  # same binarization rule recognition.py uses


def merge_to_free(results: list, n_free: int) -> list:
    """Insert free-box results into reading position (the reference's
    output_format='free_merge', easyocr/utils.py:386-426): recognize()
    appends free-quad results after all horizontal ones; this re-inserts
    each free result into the line whose vertical band contains it, at
    its x position, so mixed upright+rotated pages read in true order.

    Line reconstruction mirrors the reference: a new line starts when
    the next result's top-left x does not increase (results arrive
    line-major, left-to-right). Insertion: a free box lands in the last
    line that starts at-or-above its top y (the reference's
    first-line-below minus one), then before the first box to its right."""
    if n_free <= 0 or len(results) <= n_free:
        return results
    free = results[-n_free:]
    horiz = results[:-n_free]
    lines: list[list] = []
    for r in horiz:
        if lines and lines[-1][-1][0][0][0] < r[0][0][0]:
            lines[-1].append(r)
        else:
            lines.append([r])
    for fr in free:
        fx, fy = fr[0][0][0], fr[0][0][1]
        y_pos = len(lines) - 1
        for i in range(1, len(lines)):
            if fy < lines[i][0][0][0][1]:
                y_pos = i - 1
                break
        line = lines[y_pos]
        x_pos = len(line)
        for i, r in enumerate(line):
            if fx < r[0][0][0]:
                x_pos = i
                break
        line.insert(x_pos, fr)
    return [r for line in lines for r in line]


def reading_order_text(results: list, n_free: int, rtl: bool = False) -> str:
    """The span-text projection of recognize() results: free-quad
    results merged into reading position (merge_to_free), non-empty
    texts joined by single spaces. ``rtl`` reverses word order within
    each line — consecutive results with the same top y — (the bidi
    display reordering stand-in, reference easyocr/easyocr.py:414-418,
    applied when the routed language is Arabic)."""
    kept = [(box, t) for box, t, _ in merge_to_free(results, n_free) if t]
    if not rtl:
        return " ".join(t for _, t in kept)
    lines: list[list[str]] = []
    last_y = None
    for box, text in kept:
        y0 = box[0][1]
        if last_y is None or y0 != last_y:
            lines.append([])
            last_y = y0
        lines[-1].append(text)
    return " ".join(t for line in lines for t in reversed(line))


def deshear_crop(gray: np.ndarray, quad: np.ndarray) -> np.ndarray:
    """Pixel-exact unshear for staircase-slanted words (vertical-edged
    parallelogram quads from the detector's _slanted_quad): crop the
    quad's axis-aligned bbox, split ink columns into glyph-cell runs at
    blank columns, and re-paste each run with its own ink top aligned
    to a common baseline. Because glyphs are upright within the
    staircase (only their vertical offset varies), this reconstructs
    the unslanted word exactly — unlike a generic perspective warp,
    which would resample (and distort) glyph pixels along the slant.
    The reference handles slanted boxes by warping
    (easyocr/utils.py:428-448 four_point_transform); the exact unshear
    is the stand-in-faithful equivalent for its own staircase class."""
    q = np.asarray(quad, dtype=np.float64)
    h_img, w_img = gray.shape
    x0 = max(0, int(np.floor(q[:, 0].min())))
    x1 = min(w_img, int(np.ceil(q[:, 0].max())))
    y0 = max(0, int(np.floor(q[:, 1].min())))
    y1 = min(h_img, int(np.ceil(q[:, 1].max())))
    crop = gray[y0:y1, x0:x1]
    if crop.size == 0:
        return crop
    if (crop == SMOOTH_BLEND).any():
        return _deshear_smooth(crop)
    darkness = (255.0 - crop.astype(np.float32)) / 255.0
    binary = darkness > INK_DARKNESS
    col_any = binary.any(axis=0)
    if not col_any.any():
        return crop
    padded = np.concatenate(([False], col_any, [False]))
    d = np.diff(padded.astype(np.int8))
    starts = np.flatnonzero(d == 1)
    ends = np.flatnonzero(d == -1)
    heights = []
    tops = []
    for s, e in zip(starts, ends):
        ys = np.nonzero(binary[:, s:e].any(axis=1))[0]
        tops.append(int(ys[0]))
        heights.append(int(ys[-1]) - int(ys[0]) + 1)
    out_h = max(heights)
    out = np.full((out_h, crop.shape[1]), crop.max(), dtype=gray.dtype)
    for (s, e), top, hh in zip(zip(starts, ends), tops, heights):
        out[:hh, s:e] = crop[top : top + hh, s:e]
    return out


SMOOTH_BLEND = 128  # half-pixel anti-alias gray (render_text_smooth)


def _deshear_smooth(crop: np.ndarray) -> np.ndarray:
    """Exact unshear + DEBLEND for the anti-aliased constant-slope
    (smooth) class: glyph cells carry a half-pixel vertical phase
    rendered as a 2-tap gray-edge blend S(y) = (O(y) + O(y-1)) / 2
    over the binary cell O. Per cell run: the integer shift comes from
    the run's first ink row; the phase from whether that row's darkest
    pixel is a blend (128) or full ink; half-phase cells are inverted
    by the exact greedy deconvolution O(y) = [2*S(y) - O(y-1) > 1/2]
    top-down (binary rounding resets the uint8 quantization error each
    row, so the recursion is stable). The result is the byte-exact
    upright render the template recognizer expects — the reference
    warps such boxes approximately (easyocr/utils.py:428-448); the
    stand-in's gray-edge contract makes the inverse exact."""
    mask = crop <= 250
    col_any = mask.any(axis=0)
    if not col_any.any():
        return crop
    padded = np.concatenate(([False], col_any, [False]))
    d = np.diff(padded.astype(np.int8))
    starts = np.flatnonzero(d == 1)
    ends = np.flatnonzero(d == -1)
    cells = []
    for s, e in zip(starts, ends):
        rows = np.nonzero(mask[:, s:e].any(axis=1))[0]
        t = int(rows[0])
        half = int(crop[t, s:e].min()) == SMOOTH_BLEND
        # ink height of the unblended cell (blend adds one row)
        hh = int(rows[-1]) - t + 1 - (1 if half else 0)
        cells.append((int(s), int(e), t, half, hh))
    out_h = max(c[4] for c in cells)
    out = np.full((out_h, crop.shape[1]), 255, dtype=crop.dtype)
    for s, e, t, half, hh in cells:
        if not half:
            out[:hh, s:e] = crop[t : t + hh, s:e]
            continue
        n = e - s
        o_prev = np.zeros(n, dtype=np.float64)
        for i in range(hh):
            sv = (255.0 - crop[t + i, s:e].astype(np.float64)) / 255.0
            o_cur = (2.0 * sv - o_prev) > 0.5
            out[i, s:e] = np.where(o_cur, 0, 255)
            o_prev = o_cur.astype(np.float64)
    return out


def _is_vertical_edged(quad: np.ndarray) -> bool:
    """True for parallelogram quads whose left/right edges are vertical
    (the staircase-slant detector contract) — those unshear exactly;
    arbitrary rotated quads fall back to the perspective warp."""
    q = np.asarray(quad, dtype=np.float64)
    return abs(q[0][0] - q[3][0]) < 1e-6 and abs(q[1][0] - q[2][0]) < 1e-6


class StandInReader:
    """Deterministic Reader; constructor args mirror the reference's
    decision-tree outputs (language list -> model/charset routing,
    reference easyocr/easyocr.py:106-167). lang_list routes between the
    two stand-in script atlases (latin vs cjk — routing is load-bearing:
    decoding cjk-rendered media with the latin model fails) and flips
    arabic output to RTL."""

    def __init__(
        self,
        lang_list: list[str] | None = None,
        decoder: str = "greedy",
        detect_network: str = "craft",
        allowlist: str | None = None,
        blocklist: str | None = None,
    ):
        self.lang_list = lang_list or ["latin"]
        # Chinese models force the greedy decoder (reference
        # easyocr/easyocr.py:371: model_lang chinese_* overrides the
        # requested decoder) — beam variants are latin-model paths
        if "chinese" in self.lang_list:
            decoder = "greedy"
        self.decoder = decoder
        self.detect_network = detect_network
        self.ignore = build_ignore_mask(allowlist, blocklist)
        # language -> recognition model routing (the reference's
        # decision tree maps lang_list to a gen1/gen2 model + charset,
        # easyocr/easyocr.py:106-167 + config.py:53+; the stand-in has
        # two template atlases standing in for two script models)
        self.recog_model = "cjk" if "chinese" in self.lang_list else "latin"

    def detect(
        self,
        gray: np.ndarray,
        min_size: int = MIN_SIZE,
        optimal_num_chars: int | None = None,
    ) -> tuple[list[list[int]], list[list[list[float]]]]:
        if self.detect_network == "projection":
            boxes = detection_projection.detect(gray)
        elif self.detect_network == "dbnet":
            from . import detection_db

            boxes = detection_db.detect(gray)
        else:
            boxes = detection.detect(gray, optimal_num_chars=optimal_num_chars)
        # with a char-count target the detector's priority order is the
        # answer — grouping must not re-sort it (reference
        # easyocr/easyocr.py:342: sort_output = optimal_num_chars is None)
        horizontal, free = group_text_box(
            boxes, sort_output=optimal_num_chars is None
        )
        return min_size_filter(horizontal, free, min_size)

    def crops(
        self,
        gray: np.ndarray,
        horizontal_list: list[list[int]],
        free_list: list[list[list[float]]],
    ) -> tuple[list, list[np.ndarray]]:
        """(boxes, crops) in recognition order: horizontal boxes (empty
        crops dropped), then free quads (unsheared or warped)."""
        h, w = gray.shape
        boxes: list = []
        crops: list[np.ndarray] = []
        # horizontal boxes are already in reading order from grouping;
        # the reference's get_image_list re-sorts by top y
        # (easyocr/utils.py:621-622) which is stable-equal here
        for x0, x1, y0, y1 in horizontal_list:
            crop = gray[max(0, y0) : min(h, y1), max(0, x0) : min(w, x1)]
            if crop.size == 0:
                continue
            boxes.append([[x0, y0], [x1, y0], [x1, y1], [x0, y1]])
            crops.append(crop)
        for quad in free_list:
            q = np.asarray(quad)
            if _is_vertical_edged(q):
                crops.append(deshear_crop(gray, q))
            else:
                crops.append(four_point_transform(gray, q))
            boxes.append([list(p) for p in quad])
        return boxes, crops

    def recognize_crops(
        self, crops: list[np.ndarray], rotation_info: list[int] | None = None
    ) -> list[tuple[str, float]]:
        """[(text, conf)] per crop from one batched recognition call;
        with rotation_info every crop is also decoded at each rotation
        (same call) and the first highest-confidence variant wins."""
        rots = rotation_info or []
        variants = crops + [np.rot90(c, k=r // 90) for r in rots for c in crops]
        res = recognize_batch(
            variants, decoder=self.decoder, ignore=self.ignore,
            model=self.recog_model,
        )
        best = res[: len(crops)]
        for j in range(1, len(rots) + 1):
            for i, cand in enumerate(res[j * len(crops) : (j + 1) * len(crops)]):
                if cand[1] > best[i][1]:
                    best[i] = cand
        return best

    def recognize(
        self,
        gray: np.ndarray,
        horizontal_list: list[list[int]],
        free_list: list[list[list[float]]],
        rotation_info: list[int] | None = None,
        paragraph: bool = False,
        free_merge: bool = False,
    ) -> list:
        boxes, crops = self.crops(gray, horizontal_list, free_list)
        results = [
            (box, text, conf)
            for box, (text, conf) in zip(boxes, self.recognize_crops(crops, rotation_info))
        ]
        if free_merge:
            results = merge_to_free(results, len(free_list))
        if paragraph:
            mode = "rtl" if "arabic" in self.lang_list else "ltr"
            return get_paragraph(results, mode=mode)
        return results

    def readtext(
        self,
        gray: np.ndarray,
        rotation_info: list[int] | None = None,
        paragraph: bool = False,
        free_merge: bool = False,
    ) -> list:
        horizontal, free = self.detect(gray)
        return self.recognize(
            gray,
            horizontal,
            free,
            rotation_info=rotation_info,
            paragraph=paragraph,
            free_merge=free_merge,
        )

    def readtext_text(self, gray: np.ndarray, rtl: bool = False) -> str:
        """Reading-order concatenation — the span-text projection."""
        horizontal, free = self.detect(gray)
        results = self.recognize(gray, horizontal, free)
        return reading_order_text(results, len(free), rtl)
