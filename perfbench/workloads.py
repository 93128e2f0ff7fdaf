"""The benchmark's workloads.

Each workload owns one user-visible operation (``run_pass``), the number of
documents a pass processes, its correctness check against the DuckDB oracle
and, for traced runs, the per-layer measurements of the layers it exercises.
Every call into the program goes through its public functions.
"""

from __future__ import annotations

import os
import shutil
import time
import traceback

import duckdb

from . import oracle
from .inputs import REPLICAS, Paths

# Text-curation queries of __spark_entry__.queries() that involve no OCR.
CURATION_QUERIES = [
    "dedup_minhash_lsh", "dedup_simhash128", "bm25_topk", "dsir_importance",
    "knn_ivf", "countmin_heavy_hitters", "corpus_mix", "sequence_pack",
    "layout_reading_order", "length_quantiles_hist",
]

# Images timed one by one on the Spark driver's own core per traced run.
KERNEL_SAMPLE = 160
# Of those, images whose Python function calls are counted (profiling hook).
CALL_COUNT_SAMPLE = 8
# Work units of the resumable extraction (state.checkpoint's default).
N_UNITS = 32


def _noop(df) -> None:
    """Run the whole plan without collecting (count() would let Catalyst
    prune row-count-preserving subtrees)."""
    df.write.format("noop").mode("overwrite").save()


def _dir_mb(path: str) -> float:
    return sum(
        os.path.getsize(os.path.join(dp, f)) for dp, _, fs in os.walk(path) for f in fs
    ) / (1024.0 * 1024.0)


class Context:
    """What every workload needs: the session, the seed's inputs, a scratch
    directory for outputs and the instrumentation of this run."""

    def __init__(self, spark, cpus: int, paths: Paths, work_dir: str, tracer,
                 counters, seed: int):
        self.spark = spark
        self.cpus = cpus
        self.paths = paths
        self.work_dir = work_dir
        self.tracer = tracer
        self.counters = counters
        self.seed = seed
        import __spark_entry__

        self.oracle_sql = __spark_entry__.oracle_sql()
        self.queries = __spark_entry__.queries()


class Extract:
    """``pipeline.extract_documents`` over a stored nested table, output
    written as parquet (what the batch job commits). ``n_docs`` documents
    per pass, each checked against the oracle; ``warm_passes`` untimed
    passes follow the cold one before timing starts."""

    def __init__(self, ctx: Context, nested: str, sf_dir: str, replicas: int,
                 warm_passes: int, checkpoint: bool, curation: bool):
        from easyocr_spark.sources import tables

        self.ctx = ctx
        self.warm_passes = warm_passes
        # traced runs also measure state.checkpoint / the curation operators
        self.checkpoint = checkpoint
        self.curation = curation
        self.sf_dir = sf_dir
        self.replicas = replicas
        self.sf = os.path.basename(sf_dir)[2:] + (f"x{replicas}" if replicas > 1 else "")
        self.out = os.path.join(ctx.work_dir, "out")
        self.docs = ctx.spark.read.parquet(nested)
        self.media = tables.media_table(ctx.spark, sf_dir)
        self.n_docs = duckdb.sql(
            f"SELECT count(*) FROM read_parquet('{nested}/*.parquet')"
        ).fetchone()[0]

    def run_pass(self) -> None:
        from easyocr_spark.operators import pipeline

        with self.ctx.tracer.span("pipeline.extract_documents"):
            out = pipeline.extract_documents(self.docs, self.media)
            out.write.mode("overwrite").parquet(self.out)

    def check(self) -> tuple[int, int]:
        return oracle.check_documents(
            self.sf_dir, os.path.join(self.out, "*.parquet"), self.ctx.oracle_sql,
            self.replicas,
        )

    def layers(self) -> dict:
        m = pipeline_layers(self.ctx, self.docs, self.media)
        m.update(kernel_layers(self.ctx, self.media, m.pop("_refs")))
        m["udf.overhead_s"] = m["pipeline.ocr_refs_s"] - m["ocr.kernel_core_s"] / self.ctx.cpus
        if self.checkpoint:
            m.update(checkpoint_layers(self.ctx, self.docs, self.media, self.sf_dir))
        if self.curation:
            m.update(curation_layers(self.ctx))
        return m


def curation_layers(ctx: Context) -> dict:
    """The text-curation operators: every query collected to the Spark
    driver as its user would, once cold (its code generation and first
    worker imports) and once warm; a query's time is its warm wall. The
    warm results are checked against the oracle, a query that raises
    fails."""
    results: dict = {}
    walls: dict[str, float] = {}
    for _ in range(2):
        for q in CURATION_QUERIES:
            t0 = time.perf_counter()
            with ctx.tracer.span(f"curation.{q}"):
                try:
                    results[q] = ctx.queries[q](ctx.spark, ctx.paths.sf_main).toPandas()
                except Exception:  # noqa: BLE001 - a failing query is a measured outcome
                    traceback.print_exc()
                    results[q] = None
            walls[q] = time.perf_counter() - t0
    bad = oracle.check_queries(ctx.paths.sf_main, results, ctx.oracle_sql)
    out = {f"curation.{q}_s": w for q, w in walls.items()}
    out.update(_attempted=len(CURATION_QUERIES), _failed=len(bad))
    return out


def pipeline_layers(ctx: Context, docs, media) -> dict:
    """Outside-in stage times of the extraction pipeline: each stage prefix
    runs as its own action, and a stage's time is the difference between
    consecutive prefixes."""
    from pyspark.sql import functions as F

    from easyocr_spark.operators import pipeline

    tr, sc = ctx.tracer, ctx.counters
    spans = pipeline.explode_spans(docs, keep_empty=True)
    explode_s = tr.timed("pipeline.explode_spans", lambda: _noop(spans))
    with sc.group("ocr_media_refs") as grp:
        ocr_s = tr.timed("pipeline.ocr_media_refs",
                         lambda: _noop(pipeline.ocr_media_refs(spans, media)))
    ocr_stage = sc.last_stage(grp["jobs"])  # the mapInPandas stage
    spans_s = tr.timed("pipeline.extract_spans", lambda: _noop(
        pipeline.extract_spans(docs, media, keep_empty=True)))
    docs_s = tr.timed("pipeline.extract_documents", lambda: _noop(
        pipeline.extract_documents(docs, media)))
    counts = spans.agg(
        F.count(F.col("offset")).alias("n"),
        F.sum((F.col("kind") == "media").cast("long")).alias("m"),
    ).first()
    refs = [r.media_ref for r in spans.filter(F.col("kind") == "media")
            .select("media_ref").distinct().collect()]
    return {
        "pipeline.explode_s": explode_s,
        "pipeline.ocr_refs_s": ocr_s,
        "pipeline.joinback_s": spans_s - ocr_s,
        "pipeline.reassemble_s": docs_s - spans_s,
        "pipeline.spans": counts.n,
        "pipeline.media_spans": counts.m,
        "pipeline.distinct_refs": len(refs),
        "pipeline.dedup_ratio": counts.m / len(refs),
        "spark.ocr_task_max_over_median": sc.task_skew(ocr_stage),
        "_refs": refs,
    }


KERNEL_PHASES = {
    "fixtures.png.decode_gray": "ocr.decode_ms",
    "ocr.detection.detect": "ocr.detect_ms",
    "ocr.grouping.group_text_box": "ocr.group_ms",
    "ocr.reader.recognize": "ocr.recognize_ms",
}


def kernel_layers(ctx: Context, media, refs: list[str]) -> dict:
    """The OCR kernel's phases, timed per image on the Spark driver's own core over
    a seeded sample of the workload's distinct refs: one span per phase call,
    a phase's time is the self time of its spans."""
    import random
    import sys

    from pyspark.sql import functions as F

    from easyocr_spark.fixtures.png import decode_gray
    from easyocr_spark.ocr import detection
    from easyocr_spark.ocr.grouping import group_text_box, min_size_filter
    from easyocr_spark.ocr.reader import MIN_SIZE
    from easyocr_spark.ocr.udfs import get_reader

    sample = random.Random(ctx.seed).sample(sorted(refs), min(KERNEL_SAMPLE, len(refs)))
    rows = media.filter(F.col("media_ref").isin(sample)).select(
        "media_ref", "content", "lang").orderBy("media_ref").collect()
    tr = ctx.tracer
    names = list(KERNEL_PHASES)

    def one(content: bytes, lang: str) -> list:
        reader = get_reader("greedy", None, lang)
        with tr.span(names[0]):
            gray = decode_gray(bytes(content))
        with tr.span(names[1]):
            polys = detection.detect(gray)
        with tr.span(names[2]):
            horizontal, free = min_size_filter(*group_text_box(polys), MIN_SIZE)
        with tr.span(names[3]):
            return reader.recognize(gray, horizontal, free)

    calls = 0

    def count(frame, event, arg):
        nonlocal calls
        if event == "call":
            calls += 1

    tr.enabled = False  # untraced: first calls build the glyph atlases, then
    for r in rows[:4]:  # the kernel's Python calls are counted
        one(r.content, r.lang)
    sys.setprofile(count)
    try:
        for r in rows[:CALL_COUNT_SAMPLE]:
            one(r.content, r.lang)
    finally:
        sys.setprofile(None)
        tr.enabled = True
    boxes = empty = 0
    with tr.span("ocr.kernel"):
        for r in rows:
            results = one(r.content, r.lang)
            boxes += len(results)
            empty += not any(t for _, t, _ in results)
    self_s = tr.self_times()
    n = len(rows)
    out = {metric: 1e3 * self_s[name] / n for name, metric in KERNEL_PHASES.items()}
    out.update({
        "ocr.kernel_core_s": sum(self_s[name] for name in names) / n * len(refs),
        "ocr.py_calls_per_img": calls / min(CALL_COUNT_SAMPLE, n),
        "ocr.boxes_per_img": boxes / n,
        "ocr.empty_text_share": empty / n,
    })
    return out


def sources_layers(ctx: Context) -> dict:
    """``sources.tables``: deriving the nested table from the flat one, and
    scanning the rendered media bytes."""
    from pyspark.sql import functions as F

    from easyocr_spark.sources import tables

    tr, spark, sf_dir = ctx.tracer, ctx.spark, ctx.paths.sf_main
    return {
        "sources.derive_s": tr.timed("sources.interleaved_documents", lambda: _noop(
            tables.interleaved_documents(spark, sf_dir))),
        "sources.media_scan_s": tr.timed("sources.media_table", lambda: (
            tables.media_table(spark, sf_dir).agg(F.sum(F.length("content"))).collect())),
    }


def checkpoint_layers(ctx: Context, docs, media, sf_dir: str) -> dict:
    """``state.checkpoint``: a full ``run_extraction``, then a crash between
    the data commit and the state append (the ``done`` rows of a seed-chosen
    half of the units are lost), then the timed resume, a no-op resume and,
    for the write overhead, ``extract_documents`` over the same todo docs.
    The resumed output (every doc) is checked against the oracle."""
    import random

    from pyspark.sql import functions as F

    from easyocr_spark.operators import pipeline
    from easyocr_spark.state import checkpoint

    spark, tr = ctx.spark, ctx.tracer
    out = os.path.join(ctx.work_dir, "ckpt_out")
    state = os.path.join(ctx.work_dir, "ckpt_state")
    snapshot = checkpoint.input_snapshot_id(ctx.paths.nested)

    def resume(run_id: str) -> dict:
        return checkpoint.run_extraction(
            spark, docs, media, out, state, n_units=N_UNITS, snapshot_id=snapshot,
            run_id=run_id,
        )

    resume("full")
    lost = sorted(random.Random(ctx.seed).sample(range(N_UNITS), N_UNITS // 2))
    kept = spark.read.parquet(state).filter(~F.col("unit_id").isin(lost))
    rows, schema = kept.collect(), kept.schema
    shutil.rmtree(state)
    spark.createDataFrame(rows, schema).coalesce(1).write.parquet(state)

    done_s = tr.timed("checkpoint.done_units",
                      lambda: checkpoint.done_units(spark, state, snapshot))
    res: dict = {}
    resume_s = tr.timed("checkpoint.run_extraction", lambda: res.update(resume("resume")))
    noop_s = tr.timed("checkpoint.run_extraction", lambda: resume("noop"))
    unit = F.pmod(F.xxhash64("doc_id"), F.lit(N_UNITS)).cast("int")
    todo = docs.filter(unit.isin(lost))
    extract_s = tr.timed("pipeline.extract_documents",
                         lambda: _noop(pipeline.extract_documents(todo, media)))
    attempted, failed = oracle.check_documents(
        sf_dir, os.path.join(out, "*", "*.parquet"), ctx.oracle_sql)
    if res["units_processed"] != len(lost):
        failed = attempted
    return {
        "checkpoint.done_units_s": done_s,
        "checkpoint.noop_resume_s": noop_s,
        "checkpoint.write_overhead_s": resume_s - extract_s,
        "checkpoint.units_processed": res["units_processed"],
        "checkpoint.output_mb": sum(
            _dir_mb(os.path.join(out, f"unit_id={u}")) for u in lost),
        "_attempted": attempted,
        "_failed": failed,
    }


def make(name: str, ctx: Context) -> Extract:
    p = ctx.paths
    if name == "extract_ocr_heavy":
        # the first pass after the cold one runs ~25% slow, the next ones steady
        return Extract(ctx, p.nested, p.sf_main, 1, warm_passes=1, checkpoint=True,
                       curation=False)
    if name == "extract_dedup_heavy":
        return Extract(ctx, p.nested_dedup, p.sf001, REPLICAS, warm_passes=1,
                       checkpoint=False, curation=True)
    raise ValueError(f"unknown workload {name!r}")
