"""Extra benchmarks for optimization work (guide §1.4): per-query
isolated timing with the same checksum action as bench.py, runnable on
a subset of queries, plus optional .explain('formatted') capture.

Usage:
    python bench_extra.py q1 q2 ...          # time those queries
    python bench_extra.py --plans q1 ...     # also dump plans to plans/r06
    python bench_extra.py --runs 3 q1 ...

A query name is a bench.py key (the default set) or any
__spark_entry__.queries() name; both resolve through bench.resolve.

This file is NOT the driver's frozen bench.py; it exists so optimization
evidence (noop/checksum isolation, plan dumps) can be produced without
touching the measured harness.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from bench import QUERY_NAMES, checksum, resolve  # noqa: E402


def main() -> None:
    from easyocr_spark.operators import pipeline as pl
    from easyocr_spark.plans.explain import capture_plan
    from easyocr_spark.session import get_spark
    from easyocr_spark.sources import tables as tb

    args = sys.argv[1:]
    runs = 2
    dump_plans = False
    names = []
    i = 0
    while i < len(args):
        if args[i] == "--runs":
            runs = int(args[i + 1])
            i += 2
        elif args[i] == "--plans":
            dump_plans = True
            i += 1
        else:
            names.append(args[i])
            i += 1

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    spark = get_spark(app_name=f"bench_extra_{cpus}", cpus=cpus)
    qs = resolve(names or QUERY_NAMES)

    # warm-up identical in spirit to bench.py
    docs = tb.interleaved_documents(spark, sf_dir)
    media = tb.media_table(spark, sf_dir)
    pl.ocr_media_refs(pl.explode_spans(docs.limit(64)), media).count()

    out = {}
    sums = {}
    for name, build in qs.items():
        spark.sparkContext.setJobDescription(f"bench_extra:{name}")
        walls = []
        for _ in range(runs):
            t0 = time.time()
            sums[name] = checksum(build(spark, sf_dir))
            walls.append(round(time.time() - t0, 3))
        out[name] = walls
        if dump_plans:
            os.makedirs("plans/r06", exist_ok=True)
            with open(f"plans/r06/{name}.txt", "w") as f:
                f.write(capture_plan(build(spark, sf_dir)))
        spark.sparkContext.setJobDescription(None)
    print(json.dumps({"walls": out, "checksums": {k: str(v) for k, v in sums.items()}}))
    spark.stop()


if __name__ == "__main__":
    main()
