"""corpus_queries: the dedup, search, graph and text queries over a
seeded ``documents``/``embeddings`` pair, each checked against its
DuckDB ``ORACLE`` SQL on the same files."""

from __future__ import annotations

import contextlib
import math
import os
import time

FAMILIES = {
    "dedup": [
        "dedup_lsh_verified_jaccard",
        "dedup_exact_substring",
        "dedup_incremental_lsh",
        "winnowing_fingerprint",
    ],
    "search": ["bm25_indexed", "hybrid_search_rrf"],
    "graph": [
        "crawl_bfs_depth3",
        "personalized_pagerank",
        "scc_page_graph",
        "kcore_linkfarm",
        "hits_hub_authority",
        "host_graph_diameter",
    ],
    "text": [
        "lm_bigram_familiarity",
        "heavy_hitters",
        "text_quality",
        "flagship_doc_stats",
    ],
}
QUERY_NAMES = [q for qs in FAMILIES.values() for q in qs]
STORES = ("dedupidx", "postings")

# The shape of the repo's documents/embeddings test tables (TESTDATA.md):
# texts of 10-100 words over a 30-word vocabulary, 5% of documents an
# earlier document's text plus " dup", 20 sources, 5 languages, and
# unit-norm 64-dim embeddings with 10 labels. Sized at 1/5 of sf0.1's
# 5,000 documents: each run starts its own Spark session and builds
# its own stores, and all runs of all workloads share one hour.
N_DOCS = 1000
N_VECS = 500
DUP_SHARE = 0.05
VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
LANGS = (["en", "zh", "es", "fr", "de"], [0.41, 0.15, 0.15, 0.15, 0.14])


def write_corpus(out_dir: str, seed: int) -> None:
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = np.random.default_rng(seed)
    texts: list[str] = []
    for i in range(N_DOCS):
        if i and rng.random() < DUP_SHARE:
            texts.append(texts[int(rng.integers(i))] + " dup")
        else:
            words = rng.choice(VOCAB, size=int(rng.integers(10, 101)))
            texts.append(" ".join(words))
    ids = np.arange(N_DOCS, dtype=np.int64)
    os.makedirs(out_dir, exist_ok=True)
    pq.write_table(
        pa.table(
            {
                "doc_id": ids,
                "text": texts,
                "lang": rng.choice(LANGS[0], size=N_DOCS, p=LANGS[1]),
                "source": [f"src{i % 20}" for i in range(N_DOCS)],
                "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
            }
        ),
        os.path.join(out_dir, "documents.parquet"),
    )
    labels = rng.integers(0, 10, size=N_VECS).astype(np.int32)
    centroids = rng.normal(0, 0.5, size=(10, 64))
    vecs = rng.normal(size=(N_VECS, 64)) + centroids[labels]
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    pq.write_table(
        pa.table(
            {
                "vec_id": np.arange(N_VECS, dtype=np.int64),
                "embedding": pa.array(list(vecs), type=pa.list_(pa.float32())),
                "label": labels,
            }
        ),
        os.path.join(out_dir, "embeddings.parquet"),
    )


def build_stores(spark, sf_dir: str) -> dict[str, float]:
    """Build the derived stores the indexed queries read, the way those
    queries build them on a first call; returns seconds per store."""
    from pyspark.sql import functions as F

    from isidorus_web_scraper_spark import dataset_queries as dq
    from isidorus_web_scraper_spark.sources.dedup_index import build_dedup_index
    from isidorus_web_scraper_spark.sources.index_cache import cached_store
    from isidorus_web_scraper_spark.sources.postings import (
        build_postings,
        write_doclens,
        write_postings,
    )
    from isidorus_web_scraper_spark.sources.testdata import load

    took = {}
    t = time.perf_counter()
    path, _ = cached_store(sf_dir, "dedupidx", "grams/_SUCCESS")
    corpus = dq._doc_grams(spark, sf_dir).filter(F.col("doc_id") % 7 != 3)
    build_dedup_index(dq._lsh_bands(corpus), corpus, path)
    took["dedupidx"] = time.perf_counter() - t
    t = time.perf_counter()
    docs = load(spark, sf_dir, "documents")
    path, _ = cached_store(sf_dir, "postings", "_SUCCESS")
    write_postings(build_postings(docs, ["doc_id"], "text"), path, mode="overwrite")
    write_doclens(docs, ["doc_id"], "text", path)
    took["postings"] = time.perf_counter() - t
    for name, marker in (("dedupidx", "grams/_SUCCESS"), ("postings", "_doclen_meta.json")):
        if not cached_store(sf_dir, name, marker)[1]:
            raise RuntimeError(f"derived store {name} was not built")
    return took


def store_bytes(tmp_dir: str) -> int:
    total = 0
    for entry in os.listdir(tmp_dir):
        if entry.startswith("iws-") and os.path.isdir(os.path.join(tmp_dir, entry)):
            for dirpath, _dirs, files in os.walk(os.path.join(tmp_dir, entry)):
                total += sum(os.path.getsize(os.path.join(dirpath, f)) for f in files)
    return total


# ------------------------------------------------------------------ checks
def _norm(v):
    if isinstance(v, float):
        return "nan" if math.isnan(v) else round(v, 6)
    if isinstance(v, (list, tuple)):
        return tuple(_norm(x) for x in v)
    return v


def _key(row):
    return tuple((v is not None, "" if v is None else v) for v in row)


def normalized(columns: list[str], rows: list[tuple]) -> tuple[list[str], list[tuple]]:
    """Columns sorted by name, values rounded to 6 places, rows sorted:
    the order-insensitive form both engines' answers are compared in."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    out = [tuple(_norm(r[i]) for i in order) for r in rows]
    return [columns[i] for i in order], sorted(out, key=_key)


def oracle(sf_dir: str) -> dict[str, tuple[list[str], list[tuple]]]:
    import duckdb

    from isidorus_web_scraper_spark.driver_queries import ORACLE

    conn = duckdb.connect()
    try:
        for t in ("documents", "embeddings"):
            conn.execute(
                f"CREATE VIEW {t} AS SELECT * FROM '{os.path.join(sf_dir, t)}.parquet'"
            )
        out = {}
        for name in QUERY_NAMES:
            rel = conn.sql(ORACLE[name])
            out[name] = normalized(rel.columns, rel.fetchall())
        return out
    finally:
        conn.close()


def check_answers(got: dict, want: dict) -> list[str]:
    fails = []
    for name in QUERY_NAMES:
        (gc, gr), (wc, wr) = got[name], want[name]
        if gc != wc:
            fails.append(f"{name}: columns {gc} != oracle {wc}")
        elif gr != wr:
            bad = next((i for i, (a, b) in enumerate(zip(gr, wr)) if a != b), min(len(gr), len(wr)))
            fails.append(f"{name}: {len(gr)} rows vs oracle {len(wr)}, first difference at row {bad}")
    return fails


# --------------------------------------------------------------- workload
class CorpusQueries:
    """Set-up writes the corpus, builds the derived stores and computes
    the DuckDB answers; one op collects each query once. There is no
    warm-up op: each query is timed on its first call in the process,
    as a user's first call pays its plan's build."""

    WARM_UP_OPS = 0

    def __init__(self, spark, work: str, seed: int, tracer) -> None:
        from isidorus_web_scraper_spark.driver_queries import QUERIES

        self.spark, self.tracer, self.queries = spark, tracer, QUERIES
        self.sf_dir = os.path.join(work, "corpus")
        write_corpus(self.sf_dir, seed)
        self.store_build_s = build_stores(spark, self.sf_dir)
        self.want = oracle(self.sf_dir)
        self.tmp_dir = os.environ["TMPDIR"]
        self.n = 0

    def op(self):
        from crawl_bench import OpResult

        if self.n:
            # a repeated pass must not read frames an earlier pass
            # persisted (dedup_lsh_verified_jaccard leaves some behind)
            self.spark.catalog.clearCache()
        self.n += 1
        per_query, answers = {}, {}
        for name in QUERY_NAMES:
            t = time.perf_counter()
            with self.tracer.span(f"query.{name}") if self.tracer else contextlib.nullcontext():
                df = self.queries[name](self.spark, self.sf_dir)
                rows = df.collect()
            per_query[name] = time.perf_counter() - t
            answers[name] = normalized(df.columns, [tuple(r) for r in rows])
        if self.tracer is not None:
            self.tracer.query_pass(per_query, answers)
        fails = check_answers(answers, self.want)
        return OpResult(
            sum(per_query.values()),
            len(QUERY_NAMES),
            store_bytes(self.tmp_dir),
            fails,
            ops=len(QUERY_NAMES),
        )
