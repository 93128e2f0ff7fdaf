"""Output formats, CLI smoke, multimodal kernels."""

import json

import pytest
from pyspark.sql import functions as F

from easyocr_spark.fixtures import corpus
from easyocr_spark.ocr import udfs
from easyocr_spark.operators import formats, pipeline
from easyocr_spark.sources import multimodal, tables

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def ocr_results(spark):
    docs = tables.interleaved_documents(spark, SF).limit(40)
    media = tables.media_table(spark, SF)
    spans = pipeline.explode_spans(docs)
    refs = spans.filter(F.col("kind") == "media").select("media_ref").distinct()
    with_bytes = refs.join(media, "media_ref", "inner")
    det = with_bytes.mapInPandas(
        udfs.make_ocr_batches("greedy"), schema=udfs.OCR_RESULT_SCHEMA
    ).withColumn("boxes", F.array().cast("array<int>"))
    return det.cache()


def test_format_standard_and_text(ocr_results):
    std = formats.format_standard(ocr_results).toPandas()
    assert {"media_ref", "result"} == set(std.columns)
    assert "text" in dict(std.iloc[0]["result"])
    txt = formats.format_text_only(ocr_results).toPandas()
    for _, row in txt.iterrows():
        assert row["text"] == corpus.ground_truth_text(row["media_ref"])


def test_format_json_roundtrip(ocr_results):
    js = formats.format_json(ocr_results).toPandas()
    parsed = json.loads(js.iloc[0]["result"])
    assert "text" in parsed and "confident" in parsed


def test_format_dict(ocr_results):
    d = formats.format_dict(ocr_results).toPandas()
    assert "text" in d.iloc[0]["result"]


def test_image_features_kernel(spark):
    media = tables.media_table(spark, SF).limit(30)
    feats = media.mapInPandas(
        multimodal.image_features, schema=multimodal.IMAGE_META_SCHEMA
    ).toPandas()
    assert (feats.width > 0).all() and (feats.height > 0).all()
    assert (feats.ink_ratio_milli >= 0).all()


def test_image_resizer_kernel(spark):
    media = tables.media_table(spark, SF).limit(20)
    resized = media.mapInPandas(
        multimodal.make_image_resizer(64), schema=multimodal.RESIZE_SCHEMA
    ).toPandas()
    assert (resized[["width", "height"]].max(axis=1) <= 64).all()


def test_audio_metadata_kernel(spark):
    import pandas as pd

    pdf = pd.DataFrame(
        {
            "media_ref": ["a_1", "a_2"],
            "content": [
                multimodal.synth_wav(16000, 32000),
                multimodal.synth_wav(8000, 8000),
            ],
        }
    )
    df = spark.createDataFrame(pdf)
    out = df.mapInPandas(
        multimodal.audio_metadata, schema=multimodal.AUDIO_META_SCHEMA
    ).toPandas()
    got = dict(zip(out.media_ref, zip(out.sample_rate, out.duration_ms)))
    assert got["a_1"] == (16000, 2000)
    assert got["a_2"] == (8000, 1000)


def test_video_rejects_compressed_container(spark):
    # compressed containers still need a codec; the decoder refuses
    # anything that is not an uncompressed YUV4MPEG2 stream
    with pytest.raises(ValueError):
        multimodal.decode_y4m_frames(b"\x00\x00\x00\x18ftypmp42 not a y4m")


def test_cli_smoke(spark, tmp_path):
    from easyocr_spark import cli

    out = str(tmp_path / "out")
    state = str(tmp_path / "state")
    rc = cli.main(
        [
            "--sf-dir", SF,
            "--output", out,
            "--state", state,
            "--n-units", "4",
        ]
    )
    assert rc == 0
    assert spark.read.parquet(out).count() == 500


def test_audio_features_kernel(spark):
    """Real PCM decode: a square wave of period 8 at half amplitude has
    peak 16384, RMS = amplitude (rms_milli = 500), and a zero crossing
    every period boundary."""
    import pandas as pd

    from easyocr_spark.sources import multimodal

    wav = multimodal.synth_wav(16000, 1600, tone_period=8)
    sr, samples = multimodal.decode_wav_pcm16(wav)
    assert sr == 16000 and len(samples) == 1600
    assert samples[:8].tolist() == [16384] * 8

    df = spark.createDataFrame(
        pd.DataFrame({"media_ref": ["a1"], "content": [wav]})
    )
    out = df.mapInPandas(
        multimodal.audio_features, schema=multimodal.AUDIO_FEATURES_SCHEMA
    ).collect()[0]
    assert out.peak == 16384
    assert out.rms_milli == 500
    assert out.zero_cross == 1600 // 8 - 1
    assert out.duration_ms == 100


def test_jsonl_source_roundtrip_and_failfast(spark, tmp_path):
    """JSONL sink -> source preserves content exactly (quotes,
    backslashes, newlines-in-text, unicode, empty strings), and the
    pinned FAILFAST mode raises on corrupt lines instead of silently
    nulling them."""
    import pandas as pd

    from easyocr_spark.sources import jsonl

    tricky = [
        'he said "hi" \\ and left',
        "tabs\tand\nnewlines",
        "unicode: é中ا €",
        "",
        "plain",
    ]
    docs = spark.createDataFrame(
        pd.DataFrame({"doc_id": range(len(tricky)), "text": tricky})
    )
    path = str(tmp_path / "docs_jsonl")
    jsonl.write_documents_jsonl(docs, path)
    back = jsonl.read_documents_jsonl(spark, path).toPandas()
    got = dict(zip(back.doc_id, back.text))
    # exact content parity, including the empty string (verified: the
    # sink emits "text":"" — no null coercion)
    assert got == dict(enumerate(tricky))
    # corrupt line -> FAILFAST raises
    bad = tmp_path / "bad" ; bad.mkdir()
    (bad / "part-00000.json").write_text('{"doc_id": 1, "text": "ok"}\n{broken\n')
    with pytest.raises(Exception, match="(?i)malformed|failfast|parse"):
        jsonl.read_documents_jsonl(spark, str(bad)).collect()


def test_package_zip_is_importable(tmp_path):
    """The --py-files artifact must be importable via zipimport, exactly
    as spark-submit puts it on executor PYTHONPATHs."""
    import subprocess
    import sys as _sys

    out = str(tmp_path / "pkg.zip")
    subprocess.run(
        [_sys.executable, "tools/package.py", out], check=True, capture_output=True
    )
    code = (
        "import sys; sys.path.insert(0, %r); "
        "from easyocr_spark.ocr import ctc; "
        "from easyocr_spark.operators import dedup; "
        "print(ctc.BLANK, dedup.N_PERM)" % out
    )
    r = subprocess.run(
        [_sys.executable, "-c", code], capture_output=True, text=True, check=True,
        cwd=str(tmp_path),
    )
    assert r.stdout.strip() == "0 64"


def test_video_frame_sample_y4m(spark):
    """Real uncompressed-video decode: sample every 10th frame of a
    25-frame y4m clip -> frames 0, 10, 20, each round-tripping as PNG
    with the synthetic frame's signature pixels."""
    import pandas as pd

    from easyocr_spark.fixtures.png import decode_gray
    from easyocr_spark.sources import multimodal

    clip = multimodal.synth_y4m(32, 24, 25)
    w, h, frames = multimodal.decode_y4m_frames(clip)
    assert (w, h, len(frames)) == (32, 24, 25)

    df = spark.createDataFrame(pd.DataFrame({"media_ref": ["v1"], "content": [clip]}))
    out = multimodal.video_frame_sample(df, every_n=10).collect()
    assert [r.frame_idx for r in sorted(out, key=lambda r: r.frame_idx)] == [0, 10, 20]
    f10 = next(r for r in out if r.frame_idx == 10)
    img = decode_gray(bytes(f10.frame_png))
    assert img.shape == (24, 32)
    assert img[10, 0] == 250 and img[0, 0] == 100  # bright row + base gray
