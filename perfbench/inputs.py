"""Seeded benchmark inputs, generated once and cached on disk.

Inputs live under ``<root>/v<MEDIA_SPEC_VERSION>/`` (``.perfbench/inputs`` in
the checkout), so they are keyed by ``(seed, MEDIA_SPEC_VERSION)``:

- ``seed<N>/sf0.03/{documents,embeddings}.parquet`` - flat tables shaped
  like the repository's testdata at 0.3 of sf0.1: 1,500 docs of 10-100
  words from a 30-word vocabulary with ~5% near-duplicates, and 2,000 unit
  vectors in ten labels.
- ``seed<N>/sf0.01/documents.parquet`` - the first 500 of those docs.
- ``seed<N>/nested_sf0.03.parquet`` - the interleaved nested table of sf0.03.
- ``seed<N>/nested_dedup.parquet`` - the sf0.01 nested docs replicated x256;
  replicas get seed-salted doc_ids (``<doc_id>~<salt>``) and keep their
  spans, so every replica shares the original's media_refs.
- ``<root>/media/<sf>/media_v<V>.parquet`` - rendered media, shared by
  every seed (the program's own cache layout, version in the name).

The nested tables come from the corpus spec's DuckDB twin
(``DUCKDB_FLAT_SPANS_SQL``, storage order included), which yields exactly
what ``sources.tables.interleaved_documents`` derives, without a JVM. Media
refs are a pure function of doc_id, and doc_ids are 0..N-1 for every seed,
so the seed varies text, language, embeddings and replica salts but not the
images; the images are rendered once per checkout by the program's own
``sources.tables.media_table`` in a separate process
(``python3 -m perfbench.inputs --media``).

Generation never runs inside the timed part of a run.
"""

from __future__ import annotations

import argparse
import hashlib
import os
import shutil
import tempfile

import numpy as np

N_DOCS = 1500
N_DOCS_SMALL = 500
N_VECTORS = 2000
DIM = 64
REPLICAS = 256
# nested tables are split into this many files of contiguous docs, so the
# scan's parallelism does not depend on the machine that made the inputs
N_FILES = 4
WORDS = [
    "a", "agg", "batch", "big", "column", "customer", "data", "fast",
    "filter", "group", "hash", "join", "key", "line", "merge", "order",
    "part", "query", "row", "scan", "slow", "small", "sort", "spark",
    "stream", "table", "the", "value", "vector", "window",
]
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.41, 0.15, 0.15, 0.15, 0.14]
NEAR_DUP_SHARE = 0.05
EXACT_DUPS = 8
READY = "_READY"


def spec_version() -> int:
    from easyocr_spark.fixtures.corpus import MEDIA_SPEC_VERSION

    return MEDIA_SPEC_VERSION


class Paths:
    """Where the inputs of one seed live."""

    def __init__(self, root: str, seed: int):
        self.media_root = os.path.join(root, "media")
        # the doc count is in the name: inputs of another size are others
        self.seed_dir = os.path.join(root, f"v{spec_version()}", f"seed{seed}_n{N_DOCS}")
        self.sf_main = os.path.join(self.seed_dir, "sf0.03")
        self.sf001 = os.path.join(self.seed_dir, "sf0.01")
        self.nested = os.path.join(self.seed_dir, "nested_sf0.03.parquet")
        self.nested_dedup = os.path.join(self.seed_dir, "nested_dedup.parquet")

    def media_ready(self) -> bool:
        return all(
            os.path.exists(os.path.join(
                self.media_root, sf, f"media_v{spec_version()}.parquet", "_SUCCESS"))
            for sf in ("sf0.03", "sf0.01")
        )

    def seed_ready(self) -> bool:
        return os.path.exists(os.path.join(self.seed_dir, READY))


def _rng(seed: int, stream: str) -> np.random.Generator:
    digest = hashlib.sha256(f"{seed}:{stream}".encode()).digest()
    return np.random.default_rng(int.from_bytes(digest[:8], "little"))


def flat_documents(seed: int, n: int = N_DOCS):
    """documents(doc_id bigint, text, lang, source, n_chars)."""
    import pyarrow as pa

    rng = _rng(seed, "documents")
    lengths = rng.integers(10, 101, size=n)
    words = np.array(WORDS)
    texts = [" ".join(words[rng.integers(0, len(WORDS), size=k)]) for k in lengths]
    near = rng.choice(np.arange(1, n), size=int(n * NEAR_DUP_SHARE), replace=False)
    for d in near:
        texts[d] = texts[rng.integers(0, d)] + " dup"
    for d in rng.choice(np.arange(1, n), size=EXACT_DUPS, replace=False):
        texts[d] = texts[rng.integers(0, d)]
    langs = rng.choice(LANGS, size=n, p=LANG_P)
    return pa.table({
        "doc_id": pa.array(np.arange(n, dtype=np.int64)),
        "text": pa.array(texts),
        "lang": pa.array(langs.tolist()),
        "source": pa.array([f"src{d % 20}" for d in range(n)]),
        "n_chars": pa.array([len(t) for t in texts], type=pa.int64()),
    })


def embeddings(seed: int, n: int = N_VECTORS, dim: int = DIM):
    """embeddings(vec_id bigint, embedding float[], label int): unit
    vectors scattered around ten label centres."""
    import pyarrow as pa

    rng = _rng(seed, "embeddings")
    labels = rng.integers(0, 10, size=n).astype(np.int32)
    centres = rng.normal(size=(10, dim))
    vecs = centres[labels] + 0.8 * rng.normal(size=(n, dim))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    return pa.table({
        "vec_id": pa.array(np.arange(n, dtype=np.int64)),
        "embedding": pa.array(list(vecs), type=pa.list_(pa.float32())),
        "label": pa.array(labels),
    })


def replica_salt(seed: int, replica: int) -> str:
    """Unique per replica (index prefix), varied by seed (hash suffix)."""
    digest = hashlib.sha256(f"{seed}:replica:{replica}".encode()).hexdigest()
    return f"{replica:03d}{digest[:6]}"


def _nested_sql() -> str:
    """Nested documents over the view ``documents``, spans in storage order;
    docs without spans keep an empty array."""
    from easyocr_spark.fixtures.corpus import DUCKDB_FLAT_SPANS_SQL

    return f"""
        WITH f AS ({DUCKDB_FLAT_SPANS_SQL})
        SELECT concat('doc_', d.doc_id) AS doc_id,
               CASE WHEN count(f.pos) = 0 THEN []
                    ELSE list({{'kind': f.kind, 'text': f.text, 'media_ref': f.media_ref,
                               'offset': f."offset"}} ORDER BY f.pos) END AS spans
        FROM documents d LEFT JOIN f ON f.doc_id = concat('doc_', d.doc_id)
        GROUP BY d.doc_id
    """


def _write_split(table, out_dir: str) -> None:
    """Write ``table`` ordered by doc_id as N_FILES parquet files of
    contiguous rows."""
    import pyarrow.parquet as pq

    os.makedirs(out_dir)
    table = table.sort_by("doc_id")
    step = -(-table.num_rows // N_FILES)
    for i in range(N_FILES):
        pq.write_table(table.slice(i * step, step),
                       os.path.join(out_dir, f"part-{i:05d}.parquet"))


def _replicas(nested, seed: int):
    """``nested`` x REPLICAS, doc_ids suffixed ``~<salt>``, spans unchanged."""
    import pyarrow as pa
    import pyarrow.compute as pc

    return pa.concat_tables(
        nested.set_column(0, "doc_id", pc.binary_join_element_wise(
            nested["doc_id"], f"~{replica_salt(seed, r)}", ""))
        for r in range(REPLICAS)
    )


def generate_seed(root: str, seed: int) -> Paths:
    """Write the flat and nested inputs of ``seed`` (no-op when cached)."""
    import duckdb
    import pyarrow.parquet as pq

    paths = Paths(root, seed)
    if paths.seed_ready():
        return paths
    shutil.rmtree(paths.seed_dir, ignore_errors=True)
    docs = flat_documents(seed)
    for sf_dir, table in ((paths.sf_main, docs), (paths.sf001, docs.slice(0, N_DOCS_SMALL))):
        os.makedirs(sf_dir)
        pq.write_table(table, os.path.join(sf_dir, "documents.parquet"))
    pq.write_table(embeddings(seed), os.path.join(paths.sf_main, "embeddings.parquet"))

    con = duckdb.connect()
    try:
        con.execute("SET threads TO 2")
        con.execute("SET enable_progress_bar = false")
        con.execute(f"SET temp_directory = '{tempfile.gettempdir()}'")
        nested = {}
        for sf_dir in (paths.sf_main, paths.sf001):
            con.execute("CREATE OR REPLACE VIEW documents AS SELECT * FROM "
                        f"read_parquet('{os.path.join(sf_dir, 'documents.parquet')}')")
            nested[sf_dir] = con.execute(_nested_sql()).fetch_arrow_table()
    finally:
        con.close()
    _write_split(nested[paths.sf_main], paths.nested)
    _write_split(_replicas(nested[paths.sf001], seed), paths.nested_dedup)
    open(os.path.join(paths.seed_dir, READY), "w").close()
    return paths


def render_media(root: str, cpus: int) -> None:
    """Render the media of both scale factors with the program's own
    ``sources.tables.media_table``, which caches them under
    ``$EASYOCR_SPARK_CACHE`` (set before the module is imported)."""
    paths = generate_seed(root, 0)
    os.environ["EASYOCR_SPARK_CACHE"] = paths.media_root
    from easyocr_spark.session import get_spark
    from easyocr_spark.sources import tables
    from perfbench.tracing import stop_session

    spark = get_spark(app_name="perfbench_media", cpus=cpus)
    try:
        for sf_dir in (paths.sf_main, paths.sf001):
            tables.media_table(spark, sf_dir)
    finally:
        stop_session(spark)


def main() -> int:
    ap = argparse.ArgumentParser(description="Render the benchmark's media once.")
    ap.add_argument("--media", action="store_true", required=True)
    ap.add_argument("--root", required=True)
    ap.add_argument("--cpus", type=int, required=True)
    args = ap.parse_args()
    render_media(args.root, args.cpus)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
