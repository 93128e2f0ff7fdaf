"""Correctness gate: the program's outputs against the DuckDB oracles.

The reference is always ``__spark_entry__.oracle_sql()`` evaluated by
DuckDB over the generated flat tables, never the program under test.
Every check returns ``(attempted, failed)`` in the workload's unit:
documents for the extract workloads and the resumed extraction, queries
for curation.
"""

from __future__ import annotations

import importlib.util
import os
import tempfile

import duckdb

# one string per span, offset first; fields are split by the ASCII unit
# separator and spans by the record separator, which corpus text never holds
_SPAN_SQL = "concat_ws(chr(31), {o}, {k}, {t}, {m})"


def _connect(sf_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    con.execute("SET threads TO 4")
    con.execute("SET enable_progress_bar = false")
    con.execute(f"SET temp_directory = '{tempfile.gettempdir()}'")
    for name in ("documents", "embeddings"):
        path = os.path.join(sf_dir, f"{name}.parquet")
        if os.path.exists(path):
            con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{path}')")
    return con


def _expected_docs_sql(oracle_extract_spans: str) -> str:
    """Per original doc: its spans in offset order as one string; docs
    with no spans get the empty string."""
    span = _SPAN_SQL.format(o='f."offset"', k="f.kind", t="f.text", m="f.media_ref")
    return f"""
        WITH f AS ({oracle_extract_spans})
        SELECT b.doc_id,
               coalesce(string_agg({span}, chr(30) ORDER BY f."offset"), '') AS body
        FROM (SELECT concat('doc_', doc_id) AS doc_id FROM documents) b
        LEFT JOIN f ON f.doc_id = b.doc_id
        GROUP BY b.doc_id
    """


def _got_docs_sql(glob: str) -> str:
    """Per output doc: its spans in stored order as one string."""
    span = _SPAN_SQL.format(o='s."offset"', k="s.kind", t="s.text", m="s.media_ref")
    return f"""
        SELECT doc_id,
               coalesce(array_to_string(list_transform(spans, s -> {span}), chr(30)), '')
                 AS body
        FROM read_parquet('{glob}', hive_partitioning = false)
    """


def check_documents(sf_dir: str, output_glob: str, oracle: dict,
                    replicas: int = 1) -> tuple[int, int]:
    """Nested extract output vs the ``extract_spans`` oracle, doc by doc.

    With ``replicas`` > 1 the output doc_ids carry a ``~<salt>`` suffix; each
    replica is compared with its original and must appear exactly once per
    salt. A doc is failed when it is missing, duplicated or differs in any
    span (offset, kind, text, media_ref or order)."""
    con = _connect(sf_dir)
    try:
        con.execute(f"CREATE TEMP TABLE exp AS {_expected_docs_sql(oracle['extract_spans'])}")
        con.execute(f"CREATE TEMP TABLE got AS {_got_docs_sql(output_glob)}")
        n_exp = con.execute("SELECT count(*) FROM exp").fetchone()[0] * replicas
        ok = con.execute("""
            SELECT count(*) FROM (
              SELECT g.doc_id FROM got g
              JOIN exp e ON e.doc_id = split_part(g.doc_id, '~', 1)
              WHERE g.body = e.body
              GROUP BY g.doc_id HAVING count(*) = 1)
        """).fetchone()[0]
        n_got = con.execute("SELECT count(*) FROM got").fetchone()[0]
    finally:
        con.close()
    # extra output rows (unknown or repeated doc_ids) fail as many docs
    failed = min(n_exp, (n_exp - ok) + max(0, n_got - n_exp))
    return n_exp, failed


def _normalize():
    """``normalize`` from tools/verify_contract.py, the repository's own
    result normalization for oracle comparisons."""
    path = os.path.join(os.getcwd(), "tools", "verify_contract.py")
    spec = importlib.util.spec_from_file_location("_verify_contract", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod.normalize


def check_queries(sf_dir: str, results: dict, oracle: dict) -> list[str]:
    """Names of curation queries whose collected pandas result differs from
    its oracle twin (row count, columns, dtypes or values) or is missing
    (``None``: the query raised)."""
    normalize = _normalize()
    con = _connect(sf_dir)
    bad = []
    try:
        for name, got in results.items():
            if got is None:
                bad.append(name)
                continue
            exp = normalize(con.sql(oracle[name]).df())
            got = normalize(got)
            if len(got) != len(exp) or list(got.columns) != list(exp.columns) \
                    or not got.equals(exp):
                bad.append(name)
    finally:
        con.close()
    return bad
