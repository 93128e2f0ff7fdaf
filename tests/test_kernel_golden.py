"""Golden parity of the mapInPandas OCR kernel.

``tests/data/ocr_kernel_golden.json`` holds ``(text, conf.hex(),
n_boxes)`` per media ref and decoder config, recorded with
``tools/kernel_golden.py`` from the per-crop kernel that batched
recognition replaced. The kernel runs here as a plain pandas iterator
(no Spark) at several batch sizes: a ref's result must not depend on
which refs share its Arrow batch.
"""

from __future__ import annotations

import importlib.util
import json
import os

import pandas as pd
import pytest

from easyocr_spark.fixtures import png, render
from easyocr_spark.ocr import udfs
from easyocr_spark.ocr.reader import StandInReader

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
_spec = importlib.util.spec_from_file_location(
    "kernel_golden", os.path.join(ROOT, "tools", "kernel_golden.py")
)
kernel_golden = importlib.util.module_from_spec(_spec)
_spec.loader.exec_module(kernel_golden)

with open(os.path.join(ROOT, "tests", "data", "ocr_kernel_golden.json")) as f:
    GOLDEN = json.load(f)


@pytest.fixture(scope="module")
def media():
    refs = sorted({r for cfg in GOLDEN.values() for r in cfg["rows"]})
    return kernel_golden.media_frame(refs).set_index("media_ref", drop=False)


@pytest.mark.parametrize("batch_size", [1, 7, 256])
@pytest.mark.parametrize("config", sorted(GOLDEN))
def test_kernel_matches_golden(media, config, batch_size):
    cfg = GOLDEN[config]
    refs = sorted(cfg["rows"])
    frame = media.loc[refs].reset_index(drop=True)
    got = kernel_golden.kernel_rows(frame, cfg["decoder"], cfg["allowlist"], batch_size)
    assert got == cfg["rows"]


def test_golden_grid_covers_every_media_class():
    from easyocr_spark.fixtures import corpus

    seen = set()
    for ref in GOLDEN["greedy"]["rows"]:
        spec = corpus.media_spec(ref)
        seen.update(k for k in ("tiny", "low_contrast", "color", "curve", "smooth")
                    if spec[k])
        seen.update({"slanted"} if spec["slant_dy"] else set())
        seen.add(spec["lang"])
    assert seen >= {"tiny", "low_contrast", "color", "curve", "smooth",
                    "slanted", "latin", "chinese", "arabic"}


def test_kernel_merges_free_quads_like_readtext_text():
    # a slanted line whose one-char word is detected upright: the
    # kernel must put the free quad in reading position, as
    # readtext_text and the ground truth do
    img = render.render_text([["HELLO", "A"]], 2, False, slant_dy=1)
    pdf = pd.DataFrame({"media_ref": ["x"], "content": [png.encode_gray(img)]})
    [out] = list(udfs.make_ocr_batches("greedy")(iter([pdf])))
    assert StandInReader().readtext_text(img) == "HELLO A"
    assert out["text"].tolist() == ["HELLO A"]
    assert out["n_boxes"].tolist() == [2]
