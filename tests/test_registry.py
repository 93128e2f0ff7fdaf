"""The query registry (`__spark_entry__.queries()`) and the name lists
resolved through it — pure Python, no SparkSession."""

import json
import os

import __spark_entry__ as entry
import bench
from easyocr_spark.plans import explain

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_queries_and_oracles_pair_in_order():
    assert list(entry.queries()) == list(entry.oracle_sql())


def _unresolved(names):
    registry = entry.queries()
    return [
        n for n in names
        if n not in bench.BENCH_ONLY
        and bench.REGISTRY_NAMES.get(n, n) not in registry
    ]


def test_bench_names_resolve_in_recorded_order():
    assert _unresolved(bench.QUERY_NAMES) == []
    # the JSON "queries" keys keep the order of the last driver record
    with open(os.path.join(ROOT, "BENCH_r06.json")) as f:
        recorded = json.load(f)["parsed"]["queries"]
    assert bench.QUERY_NAMES == list(recorded)
    assert list(bench.resolve(bench.QUERY_NAMES)) == bench.QUERY_NAMES


def test_plan_names_resolve():
    assert _unresolved(explain.PLAN_QUERIES) == []
    assert len(set(explain.PLAN_QUERIES)) == len(explain.PLAN_QUERIES)


def test_renamed_bench_keys_point_at_registry_builders():
    registry = entry.queries()
    for key, name in bench.REGISTRY_NAMES.items():
        assert key not in registry and name in registry
    assert not set(bench.BENCH_ONLY) & set(registry)
