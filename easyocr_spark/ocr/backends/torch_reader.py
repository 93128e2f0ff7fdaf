"""Torch-backed Reader facade — same interface as StandInReader.

detect/crops/recognize_crops/recognize/readtext/readtext_text mirror
ocr/reader.py so ocr/udfs.py kernels work with either backend
unchanged: the ONLY differences are the score-map producer (real
CRAFT) and the [T, C] probability producer (real CRNN). Grouping,
min-size filtering, four-point warping, paragraph assembly, CTC
decoding, and the reading-order projection are the engine's shared
numpy implementations.

UNTESTED IN THIS SANDBOX (no torch); structure tests importorskip.
"""

from __future__ import annotations

import numpy as np

from ..grouping import group_text_box, min_size_filter
from ..paragraph import get_paragraph
from ..reader import MIN_SIZE, four_point_transform, reading_order_text
from ..recognition import adjust_contrast_grey, contrast_grey
from .torch_craft import TorchCraftDetector
from .torch_crnn import TorchCrnnRecognizer

CONTRAST_THS = 0.1
ADJUST_CONTRAST = 0.5

# (lang codes, gen1 model key) in the reference auto-router's EXACT
# priority order (easyocr/easyocr.py:111-168 elif chain: th ... ta,
# bengali, arabic, devanagari, cyrillic) — codes from reference
# easyocr/config.py:34-40 script lists; keys into
# torch_resnet.GEN1_MODELS. The chain order is load-bearing for mixed
# lang_lists: ['bn','ar'] must pick bengali (not arabic) and
# ['ta','hi'] must pick tamil (not devanagari), matching upstream.
GEN1_LANG_ROUTES = (
    (("th",), "thai"),
    (("ta",), "tamil"),
    (("bn", "as", "mni"), "bengali"),
    (("ar", "fa", "ug", "ur"), "arabic"),
    (
        ("hi", "mr", "ne", "bh", "mai", "ang", "bho", "mah", "sck", "new",
         "gom", "sa", "bgc"),
        "devanagari",
    ),
)

# cyrillic comes LAST in the reference chain and routes to the GEN2
# 'cyrillic_g2' model (easyocr/easyocr.py:160-164) — the gen1
# 'cyrillic_g1' exists in the reference config but is never
# auto-selected, so this router mirrors upstream and sends cyrillic to
# the gen2 VGG with the cyrillic_g2 charset (torch_crnn.GEN2_MODELS).
CYRILLIC_LANGS = (
    "ru", "rs_cyrillic", "be", "bg", "uk", "mn", "abq", "ady", "kbd",
    "ava", "dar", "inh", "che", "lbe", "lez", "tab", "tjk",
)


class TorchReader:
    def __init__(
        self,
        lang_list: list[str] | None = None,
        decoder: str = "greedy",
        allowlist: str | None = None,
        blocklist: str | None = None,
        craft_weights: str | None = None,
        crnn_weights: str | None = None,
        quantize: bool = False,
    ):
        # quantize mirrors the reference's CPU default-on dynamic int8
        # (easyocr/detection.py:74-83, recognition.py:168-179) — OFF by
        # default here because it shifts numerics; see
        # backends.maybe_quantize for the parity-pinning note
        self.lang_list = lang_list or ["en"]
        self.decoder = decoder
        self.detector = TorchCraftDetector(craft_weights, quantize=quantize)
        # per-script model routing, mirroring the reference's
        # gen2-vs-gen1 choice (easyocr/easyocr.py:111-168) and its
        # script lang-code lists (easyocr/config.py:34-40): thai/tamil/
        # bengali/arabic/devanagari route to the gen1 ResNet family (in
        # the reference elif-chain order), cyrillic to the gen2 VGG
        # with the cyrillic_g2 charset, everything else to english/latin
        # gen2
        gen1_lang = next(
            (
                lang
                for codes, lang in GEN1_LANG_ROUTES
                if any(code in self.lang_list for code in codes)
            ),
            None,
        )
        if gen1_lang is not None:
            from .torch_resnet import TorchGen1Recognizer

            self.recognizer = TorchGen1Recognizer(
                gen1_lang, crnn_weights, quantize=quantize
            )
        elif any(code in self.lang_list for code in CYRILLIC_LANGS):
            self.recognizer = TorchCrnnRecognizer(
                crnn_weights, quantize=quantize, model="cyrillic"
            )
        else:
            self.recognizer = TorchCrnnRecognizer(crnn_weights, quantize=quantize)
        # allow/blocklist -> ignore mask over the model charset (same
        # semantics as recognition.build_ignore_mask, different charset)
        cs = self.recognizer.charset
        self.ignore = None
        if allowlist is not None or blocklist:
            mask = np.zeros(len(cs) + 1, dtype=bool)
            if allowlist is not None:
                for i, ch in enumerate(cs):
                    if ch not in allowlist:
                        mask[i + 1] = True
            elif blocklist:
                for ch in blocklist:
                    if ch in cs:
                        mask[cs.index(ch) + 1] = True
            self.ignore = mask

    def detect(self, gray: np.ndarray, min_size: int = MIN_SIZE):
        boxes = self.detector.detect(gray)
        horizontal, free = group_text_box(boxes)
        return min_size_filter(horizontal, free, min_size)

    def _decode_crop(self, crop: np.ndarray) -> tuple[str, float]:
        text, conf = self.recognizer.recognize(crop, self.decoder, self.ignore)
        if conf < CONTRAST_THS:
            c, _, _ = contrast_grey(crop)
            if c < ADJUST_CONTRAST:
                t2, c2 = self.recognizer.recognize(
                    adjust_contrast_grey(crop, ADJUST_CONTRAST),
                    self.decoder,
                    self.ignore,
                )
                if c2 > conf:
                    return t2, c2
        return text, conf

    def crops(self, gray, horizontal_list, free_list):
        """(boxes, crops) in recognition order, as StandInReader.crops
        (free quads are always perspective-warped here)."""
        h, w = gray.shape
        boxes, crops = [], []
        for x0, x1, y0, y1 in horizontal_list:
            crop = gray[max(0, y0): min(h, y1), max(0, x0): min(w, x1)]
            if crop.size == 0:
                continue
            boxes.append([[x0, y0], [x1, y0], [x1, y1], [x0, y1]])
            crops.append(crop)
        for quad in free_list:
            boxes.append([list(p) for p in quad])
            crops.append(four_point_transform(gray, np.asarray(quad)))
        return boxes, crops

    def recognize_crops(self, crops):
        return [self._decode_crop(crop) for crop in crops]

    def recognize(self, gray, horizontal_list, free_list, paragraph=False):
        boxes, crops = self.crops(gray, horizontal_list, free_list)
        results = [
            (box, text, conf)
            for box, (text, conf) in zip(boxes, self.recognize_crops(crops))
        ]
        if paragraph:
            mode = "rtl" if "ar" in self.lang_list else "ltr"
            return get_paragraph(results, mode=mode)
        return results

    def readtext(self, gray: np.ndarray, paragraph: bool = False):
        horizontal, free = self.detect(gray)
        return self.recognize(gray, horizontal, free, paragraph=paragraph)

    def readtext_text(self, gray: np.ndarray, rtl: bool = False) -> str:
        horizontal, free = self.detect(gray)
        results = self.recognize(gray, horizontal, free)
        return reading_order_text(results, len(free), rtl)
