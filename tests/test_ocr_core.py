import numpy as np
import pytest

from easyocr_spark.fixtures import corpus, png, render
from easyocr_spark.ocr import detection
from easyocr_spark.ocr.grouping import group_text_box, min_size_filter
from easyocr_spark.ocr.reader import StandInReader, four_point_transform
from easyocr_spark.ocr.recognition import (
    adjust_contrast_grey,
    contrast_grey,
    recognize_batch,
    recognize_pass,
)

READER = StandInReader()


def reader_for(ref):
    # route the recognition model the way the pipeline does (lang tag)
    return StandInReader(lang_list=[corpus.media_spec(ref)["lang"]])


@pytest.mark.parametrize(
    "ref", [f"m_{a}_{b}" for a in range(0, 40, 7) for b in (0, 1, 2, 5)]
)
def test_end_to_end_ground_truth(ref):
    img = png.decode_gray(corpus.render_media(ref))
    rtl = corpus.media_spec(ref)["lang"] == "arabic"
    assert reader_for(ref).readtext_text(img, rtl=rtl) == corpus.ground_truth_text(ref)


def test_rtl_reverses_words_within_lines():
    ref = "m_2_1"  # a % 3 == 2 -> arabic routing
    spec = corpus.media_spec(ref)
    assert spec["lang"] == "arabic"
    img = png.decode_gray(corpus.render_media(ref))
    ltr = READER.readtext_text(img, rtl=False)
    rtl = READER.readtext_text(img, rtl=True)
    assert rtl == corpus.ground_truth_text(ref)
    # per-line reversal, not global: multi-word lines change order
    if any(len(line) > 1 for line in spec["lines"]):
        assert ltr != rtl


def test_tiny_image_filtered_by_min_size():
    img = render.render_tiny()
    boxes = detection.detect(img)
    assert len(boxes) == 1  # detected as a component...
    h, f = group_text_box(boxes)
    h2, f2 = min_size_filter(h, f)
    assert h2 == [] and f2 == []  # ...but dropped by the size filter
    assert READER.readtext_text(img) == ""


def test_low_contrast_takes_second_pass():
    img = render.render_text([["HELLO"]], scale=2, low_contrast=True)
    [(text1, conf1)] = recognize_pass([img], adjust=False)
    assert conf1 < 0.1  # pass 1 fails on low contrast
    [(text2, conf2)] = recognize_batch([img])
    assert text2 == "HELLO" and conf2 > 0.5


def test_contrast_grey_percentiles_match_numpy():
    # the histogram percentile must equal np.percentile bit for bit,
    # including the lerp's t >= 0.5 branch and degenerate images
    rng = np.random.default_rng(7)
    imgs = [
        np.array([[0]], np.uint8),
        np.array([[255]], np.uint8),
        np.full((3, 4), 17, np.uint8),
        np.array([[0, 255]], np.uint8),
        np.array([[255, 0, 0, 0, 0, 0, 0, 0, 0, 0, 255]], np.uint8),
        np.where(rng.random((9, 13)) < 0.8, 250, 30).astype(np.uint8),
    ]
    for _ in range(2000):
        h, w = rng.integers(1, 30, size=2)
        lo, hi = sorted(rng.integers(0, 256, size=2))
        imgs.append(rng.integers(lo, hi + 1, size=(h, w), dtype=np.uint8))
    for img in imgs:
        high, low = np.percentile(img, 90), np.percentile(img, 10)
        expect = (high - low) / max(10.0, high + low)
        c, hi_, lo_ = contrast_grey(img)
        assert (hi_, lo_) == (high, low), img
        assert c.hex() == float(expect).hex()


def test_ink_threshold_matches_darkness_rule():
    # recognition binarizes with one gray-level threshold; that equals
    # the float32 darkness rule because darkness, with or without the
    # pass-2 contrast stretch, is monotone in the gray level
    from easyocr_spark.ocr import recognition as R

    levels = np.arange(256)
    dark = (255.0 - levels.astype(np.float32)) / 255.0 > R.INK_THRESHOLD
    assert (dark == (levels < R._INK_BELOW)).all()
    rng = np.random.default_rng(5)
    stretched = 0
    for _ in range(500):
        lo, hi = sorted(rng.integers(0, 256, size=2))
        img = rng.integers(lo, hi + 1, size=(9, 20), dtype=np.uint8)
        lut = R._contrast_lut(img, R.ADJUST_CONTRAST)
        if lut is None:
            continue
        stretched += 1
        ink = (255.0 - lut.astype(np.float32)) / 255.0 > R.INK_THRESHOLD
        assert (ink == (levels < int((lut < R._INK_BELOW).sum()))).all()
    assert stretched > 100


def _score_maps_reference(gray):
    """The reshape block-min + shifted in-place min formulation that
    compute_score_maps replaced, kept as the parity reference."""
    h, w = gray.shape
    h2, w2 = h // 2, w // 2
    lo, hi = int(gray.min()), int(gray.max())
    g2 = gray[: h2 * 2, : w2 * 2].reshape(h2, 2, w2, 2).min(axis=(1, 3))
    inv = 1.0 / max(hi - lo, 1)
    region = (hi - g2.astype(np.float32)) * inv
    lk = g2.copy()
    for r in range(1, detection.LINK_RADIUS_H + 1):
        np.minimum(lk[:, r:], g2[:, :-r], out=lk[:, r:])
        np.minimum(lk[:, :-r], g2[:, r:], out=lk[:, :-r])
    tmp = lk.copy()
    for r in range(1, detection.LINK_RADIUS_V + 1):
        np.minimum(lk[r:, :], tmp[:-r, :], out=lk[r:, :])
        np.minimum(lk[:-r, :], tmp[r:, :], out=lk[:-r, :])
    return region, (hi - lk.astype(np.float32)) * inv


def test_score_maps_match_reference_formulation():
    rng = np.random.default_rng(3)
    imgs = [
        detection.resize_aspect_ratio(
            png.decode_gray(corpus.render_media(f"m_{a}_{b}"))
        )[0]
        for a in range(0, 60, 5)
        for b in range(3)
    ]
    imgs += [
        rng.integers(0, 256, size=tuple(rng.integers(1, 24, size=2)), dtype=np.uint8)
        for _ in range(200)
    ]
    for img in imgs:
        want = _score_maps_reference(img)
        got = detection.compute_score_maps(img)
        for g, w in zip(got, want):
            assert g.shape == w.shape and g.tobytes() == w.tobytes()


def test_contrast_adjustment_semantics():
    img = render.render_text([["SPARK"]], scale=2, low_contrast=True)
    c1, _, _ = contrast_grey(img)
    adjusted = adjust_contrast_grey(img)
    c2, _, _ = contrast_grey(adjusted)
    assert c2 > c1


def test_word_count_matches_detection():
    for ref in ["m_5_2", "m_11_1", "m_17_4"]:
        spec = corpus.media_spec(ref)
        img = png.decode_gray(corpus.render_media(ref))
        h, f = READER.detect(img)
        n_words = sum(len(line) for line in spec["lines"])
        assert len(h) + len(f) == n_words


def test_connected_components_labels():
    mask = np.zeros((6, 10), dtype=bool)
    mask[1:3, 1:4] = True  # component 1
    mask[4:6, 6:9] = True  # component 2
    labels, n = detection.connected_components(mask)
    assert n == 2
    assert labels[1, 1] != labels[4, 7]
    assert (labels[1:3, 1:4] == labels[1, 1]).all()


def test_connected_components_u_shape():
    # U shape: two verticals joined at the bottom — must be ONE component
    mask = np.zeros((5, 7), dtype=bool)
    mask[0:5, 1] = True
    mask[0:5, 5] = True
    mask[4, 1:6] = True
    labels, n = detection.connected_components(mask)
    assert n == 1


def test_resize_aspect_ratio_caps_and_pads():
    img = np.full((100, 3000), 255, dtype=np.uint8)
    out, ratio = detection.resize_aspect_ratio(img, canvas_size=2560)
    assert ratio == 2560 / 3000
    assert out.shape[0] % 32 == 0 and out.shape[1] % 32 == 0
    assert out.shape[1] == 2560


def test_group_text_box_lines_and_merging():
    # three boxes: two on one line (close enough to merge), one below
    def quad(x0, x1, y0, y1):
        return np.array(
            [[x0, y0], [x1, y0], [x1, y1], [x0, y1]], dtype=np.float32
        )

    polys = [quad(0, 20, 0, 10), quad(22, 40, 0, 10), quad(0, 20, 30, 40)]
    merged, free = group_text_box(polys)
    assert len(free) == 0
    assert len(merged) == 2  # first two merged (gap 2 < 0.5*10), third alone
    assert merged[0][1] >= 40  # merged box spans both


def test_group_text_box_free_quads():
    rot = [[10.0, 0.0], [30.0, 8.0], [28.0, 18.0], [8.0, 10.0]]
    merged, free = group_text_box([np.array(rot)])
    assert merged == [] and len(free) == 1


def test_four_point_transform_identity():
    img = np.arange(100, dtype=np.uint8).reshape(10, 10)
    quad = np.array([[0, 0], [9, 0], [9, 9], [0, 9]], dtype=np.float64)
    out = four_point_transform(img, quad)
    assert out.shape[0] >= 9 and out.shape[1] >= 9


def test_beam_decoder_end_to_end():
    r = StandInReader(decoder="beamsearch")
    ref = "m_9_1"
    img = png.decode_gray(corpus.render_media(ref))
    assert r.readtext_text(img) == corpus.ground_truth_text(ref)


def test_dims_formula_matches_render():
    import duckdb

    con = duckdb.connect()
    refs = [f"m_{a}_{b}" for a in range(0, 30, 4) for b in (0, 1, 3)]
    w_expr, h_expr = corpus.duckdb_dims_exprs("ref")
    sql = f"SELECT ref, {w_expr} AS w, {h_expr} AS h FROM (SELECT UNNEST(?) AS ref)"
    rows = {r: (w, h) for r, w, h in con.execute(sql, [refs]).fetchall()}
    for ref in refs:
        img = png.decode_gray(corpus.render_media(ref))
        assert rows[ref] == (img.shape[1], img.shape[0]), ref
