"""Golden outputs of the mapInPandas OCR kernel over a fixed media grid.

Drives ``udfs.make_ocr_batches(decoder, allowlist)`` as a plain pandas
iterator (no Spark) over rendered corpus media and records, per ref,
``(text, conf.hex(), n_boxes)`` — the float hex makes the confidence
comparison bit-exact. The grids cover every ``corpus.media_spec`` class
(tiny, smooth, slanted, curved, low-contrast, color, cjk, arabic, one and
two lines, both render scales). ``tests/test_kernel_golden.py`` checks the
committed file against the current kernel at several batch sizes.

    python tools/kernel_golden.py tests/data/ocr_kernel_golden.json
"""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

# (name, decoder, allowlist, grid); beam decoders are pure Python, so
# they run on the smaller grid
UPPER_ALLOW = "ABCDEFGHIJKLMNOPQRSTUVWXYZ0123456789"
FULL_GRID = [f"m_{a}_{b}" for a in range(42) for b in range(6)]
SMALL_GRID = [f"m_{a}_{b}" for a in range(12) for b in range(6)]
CONFIGS = [
    ("greedy", "greedy", None, FULL_GRID),
    ("allowlist", "greedy", UPPER_ALLOW, FULL_GRID),
    ("beamsearch", "beamsearch", None, SMALL_GRID),
    ("wordbeamsearch", "wordbeamsearch", None, SMALL_GRID),
]


def media_frame(refs: list[str]):
    """(media_ref, content, lang) rows, the kernel's input columns."""
    import pandas as pd

    from easyocr_spark.fixtures import corpus

    return pd.DataFrame({
        "media_ref": refs,
        "content": [corpus.render_media(r) for r in refs],
        "lang": [corpus.media_spec(r)["lang"] for r in refs],
    })


def kernel_rows(media, decoder: str, allowlist: str | None,
                batch_size: int) -> dict[str, list]:
    """Run the kernel over ``media`` cut into batches of ``batch_size``
    rows; returns {media_ref: [text, conf hex, n_boxes]}."""
    from easyocr_spark.ocr import udfs

    batches = (media.iloc[i : i + batch_size].reset_index(drop=True)
               for i in range(0, len(media), batch_size))
    out: dict[str, list] = {}
    for pdf in udfs.make_ocr_batches(decoder, allowlist)(batches):
        for ref, text, conf, n in zip(pdf["media_ref"], pdf["text"],
                                      pdf["conf"], pdf["n_boxes"]):
            out[ref] = [text, float(conf).hex(), int(n)]
    return out


def main(path: str) -> None:
    golden = {}
    for name, decoder, allowlist, grid in CONFIGS:
        golden[name] = {
            "decoder": decoder,
            "allowlist": allowlist,
            "rows": kernel_rows(media_frame(grid), decoder, allowlist, len(grid)),
        }
    with open(path, "w") as f:
        json.dump(golden, f, indent=1, sort_keys=True)
        f.write("\n")


if __name__ == "__main__":
    main(sys.argv[1])
