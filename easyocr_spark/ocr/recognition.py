"""CRNN-style recognition stage (deterministic template stand-in).

Pipeline per crop, mirroring the reference's recognition contract:

1. optional contrast adjustment — faithful port of the
   contrast_grey / adjust_contrast_grey semantics (reference
   easyocr/recognition.py:16-28): percentile(90/10) contrast measure,
   linear stretch when below target.
2. normalize + trim to ink (the role of NormalizePAD + aspect resize,
   reference easyocr/recognition.py:30-47, utils.py:557-577).
3. "forward pass": per character cell, frame-level class scores against
   the glyph atlas -> a [T, C] probability matrix with column 0 = CTC
   blank. Each glyph emits two identical frames followed by a blank
   frame (as a stride-based CNN over the cell grid would), so the CTC
   collapse-repeats + drop-blank path does real work.
4. CTC greedy (default) or prefix beam search decode; confidence =
   custom_mean of non-blank step max-probs (reference
   easyocr/recognition.py:13-14,99-151).
5. Two-pass orchestration a la get_text (reference
   easyocr/recognition.py:186-233): pass 1 plain; if conf <
   contrast_ths(0.1), pass 2 contrast-adjusted; keep the higher-conf
   result.

Word gaps >= SPACE_GAP base px inside one crop decode as spaces (the
production path keeps words in separate boxes; this covers merged-box
crops from group_text_box's width_ths merging).

Batching. ``recognize_batch`` takes every crop of a batch (one image's
crops in ``StandInReader.recognize``, every crop of an Arrow batch in
the OCR UDF) and scores all their glyph segments with ONE matmul
``S @ (2 * tflat).T``. That is exact, not approximately equal:
templates and binarized segments are 0/1 float32, so each dot product
is an even integer <= 2 * GLYPH_H * GLYPH_W = 70 and every float32
summation order gives the same value. Everything after the matmul is elementwise or a reduction
over one contiguous N_CLASSES-wide row, so a crop's result does not
depend on which crops share its batch. The frame rows repeat (two per
segment plus a blank row), so only the distinct rows — one per segment
and the model's single blank row — are sharpened and normalized, and
the greedy collapse runs once over all segments with per-chunk resets.
"""

from __future__ import annotations

import math

import numpy as np

from ..fixtures.fonts import CHARSET, GLYPH_H, GLYPH_W, MODEL_TEMPLATES
from .ctc import ctc_beam_search, custom_mean, word_beam_search

CONTRAST_THS = 0.1  # reference easyocr/easyocr.py:353 default
ADJUST_CONTRAST = 0.5  # reference default target passed to pass 2
INK_THRESHOLD = 0.45  # darkness above this is ink
SHARPNESS = 40.0  # score -> prob sharpening exponent
SPACE_GAP = 6  # base px gap that reads as a word separator
N_CLASSES = len(CHARSET) + 1

_LEVELS = np.arange(256)
# the float32 darkness rule (255 - g) / 255 > INK_THRESHOLD, evaluated
# once per uint8 level: darkness falls as g rises, so ink is exactly
# "g below _INK_BELOW" (the number of inked levels)
_INK_BELOW = int(((255.0 - _LEVELS.astype(np.float32)) / 255.0 > INK_THRESHOLD).sum())


def _percentile_u8(cum: np.ndarray, n: int, q: float) -> float:
    """``np.percentile(img, q)`` of a uint8 image from its cumulative
    256-bin histogram, bit for bit: numpy's 'linear' method takes
    virtual index (n - 1) * q/100 and lerps its sorted neighbours a, b
    with t = frac, as a + (b - a) * t, or b - (b - a) * (1 - t) when
    t >= 0.5. The k-th smallest pixel is the first level whose
    cumulative count exceeds k."""
    virtual = (n - 1) * (q / 100)
    if virtual >= n - 1:
        return float(np.searchsorted(cum, n - 1, side="right"))
    prev = math.floor(virtual)
    a, b = np.searchsorted(cum, (prev, prev + 1), side="right").tolist()
    t = virtual - prev
    diff = b - a
    return b - diff * (1 - t) if t >= 0.5 else a + diff * t


def contrast_grey(img: np.ndarray) -> tuple[float, float, float]:
    """(contrast, high, low) of a uint8 image — reference
    easyocr/recognition.py:16-20 (percentiles 90 and 10)."""
    cum = np.bincount(img.ravel(), minlength=256).cumsum()
    high = _percentile_u8(cum, img.size, 90)
    low = _percentile_u8(cum, img.size, 10)
    return (high - low) / max(10.0, high + low), high, low


def _contrast_lut(img: np.ndarray, target: float) -> np.ndarray | None:
    """adjust_contrast_grey as a uint8 level map, or None when the image
    already has enough contrast. Each output pixel depends only on its
    input level, so mapping the 256 levels is the same arithmetic."""
    contrast, high, low = contrast_grey(img)
    if contrast >= target:
        return None
    ratio = 200.0 / max(10.0, high - low)
    return np.clip((_LEVELS - low + 25) * ratio, 0, 255).astype(np.uint8)


def adjust_contrast_grey(img: np.ndarray, target: float = 0.4) -> np.ndarray:
    """Reference easyocr/recognition.py:22-28 verbatim semantics."""
    lut = _contrast_lut(img, target)
    return img if lut is None else lut[img]


def _nearest_resize(img: np.ndarray, h: int, w: int) -> np.ndarray:
    ys = ((np.arange(h) + 0.5) * img.shape[0] / h).astype(np.int64).clip(
        0, img.shape[0] - 1
    )
    xs = ((np.arange(w) + 0.5) * img.shape[1] / w).astype(np.int64).clip(
        0, img.shape[1] - 1
    )
    return img[ys][:, xs]


# hoisted constants for the frame scorer (computed once per process,
# one set per script model — the executor-resident "weights"):
# match fraction between binary images a, t of P pixels is
# (P - popcount(a XOR t))/P = (2*a.t - sum(a) - sum(t) + P)/P — one
# matmul against the flattened template stack for every segment.
_NPIX = GLYPH_H * GLYPH_W


_CELL_X = np.arange(GLYPH_W) + 0.5  # nearest-resize sample points


class _ScriptModel:
    def __init__(self, templates: np.ndarray):
        tflat = templates.reshape(len(CHARSET), -1)
        self.tsum = tflat.sum(axis=1)
        # score numerators 2*a.t - sum(t) + P - sum(a) as
        # S @ tflat2.T + bias - sum(S): small integers, so exact in
        # float32 whatever the order of the additions
        self.tflat2 = 2.0 * tflat
        self.bias = _NPIX - self.tsum
        self.blank_scores = np.empty(N_CLASSES)
        self.blank_scores[0] = 1.0
        # blank frame scores vs glyph templates: fraction of pixels
        # matching an empty window = the template's own empty fraction
        self.blank_scores[1:] = 1.0 - self.tsum / _NPIX


_SCRIPT_MODELS: dict[str, _ScriptModel] = {
    name: _ScriptModel(t) for name, t in MODEL_TEMPLATES.items()
}


def build_ignore_mask(
    allowlist: str | None = None, blocklist: str | None = None
) -> np.ndarray | None:
    """Character-constraint mask pushed into decoding (the reference
    zeroes softmax columns of ignored chars and renormalizes,
    easyocr/recognition.py:117-122; the ignore set is charset -
    allowlist, or blocklist — easyocr/easyocr.py:363-368). Returns a
    bool[N_CLASSES] with True = ignore (never index 0 = blank)."""
    if allowlist is None and blocklist is None:
        return None
    mask = np.zeros(N_CLASSES, dtype=bool)
    if allowlist is not None:
        for i, ch in enumerate(CHARSET):
            if ch not in allowlist:
                mask[i + 1] = True
    elif blocklist:
        for ch in blocklist:
            if ch in CHARSET:
                mask[CHARSET.index(ch) + 1] = True
    return mask


def _apply_ignore(probs: np.ndarray, ignore: np.ndarray | None) -> np.ndarray:
    """Row-wise: zero the ignored columns and renormalize each row."""
    if ignore is None or probs.size == 0:
        return probs
    out = probs.copy()
    out[:, ignore] = 0.0
    s = out.sum(axis=1, keepdims=True)
    s[s == 0] = 1.0
    return out / s


def _glyph_rows(crop: np.ndarray, adjust: bool) -> np.ndarray | None:
    """uint8 crop -> its ink as bool[GLYPH_H, w], or None without ink:
    binarize (after contrast adjustment on pass 2), trim to the ink box
    and bring it to glyph height (a stride for integer render scales,
    nearest resize otherwise)."""
    below = _INK_BELOW
    if adjust:
        lut = _contrast_lut(crop, ADJUST_CONTRAST)
        if lut is not None:
            # the stretch is non-decreasing in g: ink stays a threshold
            below = int((lut < _INK_BELOW).sum())
    binary = crop < below
    rows = binary.any(axis=1).nonzero()[0]
    if not len(rows):
        return None
    cols = binary.any(axis=0).nonzero()[0]
    binary = binary[rows[0] : rows[-1] + 1, cols[0] : cols[-1] + 1]
    h = binary.shape[0]
    scale = max(1, round(h / GLYPH_H))
    if h != scale * GLYPH_H:
        return _nearest_resize(
            binary, GLYPH_H, max(1, round(binary.shape[1] / (h / GLYPH_H)))
        )
    return binary[scale // 2 :: scale, scale // 2 :: scale]


_GAP = np.zeros((GLYPH_H, 1), dtype=bool)


def _segments(grids: list[np.ndarray | None]) -> tuple[np.ndarray, ...]:
    """Glyph cells of every crop at once. The crops' glyph rows are laid
    side by side one blank column apart, so runs of inked columns (the
    cells) never cross crops. Returns (segments float32[n, GLYPH_H *
    GLYPH_W] resampled to GLYPH_W columns, chunk-start flags bool[n],
    cells per crop int[len(grids)]). A cell opens a chunk (a word) at
    the start of its crop or after a gap >= SPACE_GAP."""
    parts = [_GAP]
    offsets = []
    at = 1
    for g in grids:
        offsets.append(at)
        if g is not None:
            parts += [g, _GAP]
            at += g.shape[1] + 1
    strip = np.concatenate(parts, axis=1)
    inked = strip.any(axis=0)
    starts = (inked[1:] & ~inked[:-1]).nonzero()[0] + 1
    ends = (inked[:-1] & ~inked[1:]).nonzero()[0] + 1
    # crops without ink take no columns: the last crop starting at or
    # before a cell is the one that holds it
    owner = np.asarray(offsets).searchsorted(starts, side="right") - 1
    new_chunk = np.ones(len(starts), dtype=bool)
    new_chunk[1:] = (starts[1:] - ends[:-1] >= SPACE_GAP) | (owner[1:] != owner[:-1])
    # per-cell nearest-resize columns (identity for GLYPH_W-wide cells)
    widths = (ends - starts)[:, None]
    xs = (_CELL_X * widths / GLYPH_W).astype(np.int64)
    xs = np.minimum(xs, widths - 1) + starts[:, None]
    segs = strip[:, xs.ravel()].reshape(GLYPH_H, len(starts), GLYPH_W)
    segs = segs.transpose(1, 0, 2).reshape(len(starts), _NPIX)
    counts = np.bincount(owner, minlength=len(grids))
    return segs.astype(np.float32), new_chunk, counts


def recognize_pass(
    crops: list[np.ndarray],
    adjust: bool = False,
    decoder: str = "greedy",
    ignore: np.ndarray | None = None,
    model: str = "latin",
) -> list[tuple[str, float]]:
    """One recognition pass over uint8 crops -> [(text, confidence)]."""
    m = _SCRIPT_MODELS[model]
    S, new_chunk, counts = _segments([_glyph_rows(c, adjust) for c in crops])
    n = len(S)
    if n == 0:
        return [("", 0.0)] * len(crops)
    # distinct frame rows: one per segment, then the model's blank row
    ssum = S.sum(axis=1)
    scores = np.empty((n + 1, N_CLASSES))
    scores[:n, 0] = 1.0 - ssum.astype(np.float64) / _NPIX  # blank likes empty
    scores[:n, 1:] = (S @ m.tflat2.T + m.bias - ssum[:, None]) / _NPIX
    scores[n] = m.blank_scores
    raw = scores**SHARPNESS
    probs = _apply_ignore(raw / raw.sum(axis=1, keepdims=True), ignore)
    # greedy collapse over each segment's frames (seg, seg, blank): the
    # duplicate never survives; the segment frame survives unless it
    # repeats the previous blank frame inside a chunk; the blank frame
    # survives unless it repeats the segment frame; then drop blanks
    idx = probs.argmax(axis=1)
    maxp = probs.max(axis=1)
    a, b = idx[:n], idx[n]
    keep = np.empty((n, 2), dtype=bool)
    keep[:, 0] = (new_chunk | (a != b)) & (a != 0)
    keep[:, 1] = (a != b) & (b != 0)
    labels = np.empty((n, 2), dtype=np.int64)
    labels[:, 0], labels[:, 1] = a, b
    confs = np.empty((n, 2))
    confs[:, 0], confs[:, 1] = maxp[:n], maxp[n]
    kept = keep.ravel()
    conf_kept = confs.ravel()[kept]
    # per crop: its slice of the kept confidences, its chunk ids
    kept_per_seg = keep.sum(axis=1)
    seg_ends = np.cumsum(counts)
    conf_ends = np.cumsum(kept_per_seg)[seg_ends - 1].tolist()
    chunk_id = np.cumsum(new_chunk) - 1
    if decoder in ("beamsearch", "wordbeamsearch"):
        from ..fixtures.corpus import VOCAB  # the stand-in word dict

        frame_rows = np.empty((n, 3), dtype=np.int64)
        frame_rows[:, 0] = frame_rows[:, 1] = np.arange(n)
        frame_rows[:, 2] = n
        bounds = np.append(np.flatnonzero(new_chunk), n).tolist()
        words = []
        for lo, hi in zip(bounds[:-1], bounds[1:]):
            chunk_probs = probs[frame_rows[lo:hi].ravel()]
            if decoder == "beamsearch":
                text, _ = ctc_beam_search(chunk_probs, CHARSET)
            else:
                text, _ = word_beam_search(chunk_probs, CHARSET, VOCAB)
            words.append(text)
    else:
        words = [""] * (int(chunk_id[-1]) + 1)
        label_chunk = np.repeat(chunk_id, kept_per_seg).tolist()
        for c, lab in zip(label_chunk, labels.ravel()[kept].tolist()):
            words[c] += CHARSET[lab - 1]
    out: list[tuple[str, float]] = []
    chunk_ends = chunk_id[seg_ends - 1].tolist()
    conf_lo = chunk_lo = 0
    for k, conf_hi, chunk_last in zip(counts.tolist(), conf_ends, chunk_ends):
        if k == 0:
            out.append(("", 0.0))
            continue
        text = " ".join(w for w in words[chunk_lo : chunk_last + 1] if w)
        out.append((text, custom_mean(conf_kept[conf_lo:conf_hi])))
        conf_lo, chunk_lo = conf_hi, chunk_last + 1
    return out


def recognize_batch(
    crops: list[np.ndarray],
    decoder: str = "greedy",
    ignore: np.ndarray | None = None,
    model: str = "latin",
    contrast_ths: float = CONTRAST_THS,
) -> list[tuple[str, float]]:
    """get_text's two-pass orchestration (reference
    easyocr/recognition.py:186-233) over a batch of crops: retry the
    low-confidence crops, in one second pass, with contrast adjustment,
    and keep the better result per crop."""
    out = recognize_pass(crops, False, decoder, ignore, model)
    retry = [i for i, (_, conf) in enumerate(out) if conf < contrast_ths]
    if retry:
        second = recognize_pass([crops[i] for i in retry], True, decoder, ignore, model)
        for i, (text, conf) in zip(retry, second):
            if conf > out[i][1]:
                out[i] = (text, conf)
    return out
