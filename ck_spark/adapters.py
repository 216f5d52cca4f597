"""Adapters between the driver's test tables and the engine's corpus shape.

The driver provides `documents(doc_id, text, lang, source, n_chars)`; the
engine's native input is `(repo, path, commit, lang, content)`
(BASELINE.json input_hint). The adapter encodes the original doc_id into
`path` so results can be mapped back losslessly.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ck_spark.index import build_index
from ck_spark.query import BM25Index

ENTRY_INDEX_ROOT = os.environ.get("CK_SPARK_INDEX_CACHE", "/tmp/ck_spark_entry_idx")


def documents_as_corpus(docs: DataFrame) -> DataFrame:
    return docs.select(
        F.lit("docs").alias("repo"),
        F.col("doc_id").cast("string").alias("path"),
        F.lit("c0").alias("commit"),
        F.col("lang").alias("lang"),
        F.col("text").alias("content"),
    )


def load_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))



def _documents_state(spark: SparkSession, sf_dir: str, suffix: str = ""):
    """Shared cache bookkeeping for every documents-derived artifact:
    (root, snap, corpus_fn). ``snap`` is the mtime+size snapshot token
    (ck's manifest fast path, ck-index/src/lib.rs:851-906) — a rewritten
    documents.parquet under the same path invalidates caches instead of
    being served stale. ``corpus_fn`` builds the repartitioned corpus
    lazily so cache hits never pay the count job."""
    tag = sf_dir.strip("/").replace("/", "_")
    root = os.path.join(ENTRY_INDEX_ROOT, tag + suffix)
    st = os.stat(os.path.join(sf_dir, "documents.parquet"))
    snap = f"mtime{int(st.st_mtime)}-size{st.st_size}"

    def corpus_fn() -> DataFrame:
        # test tables are single parquet files -> 1 scan partition; spread
        # the tokenize UDF across a size-scaled number of partitions (a
        # real corpus arrives already partitioned; tiny inputs drown in
        # per-task overhead)
        docs = load_documents(spark, sf_dir)
        par = min(spark.sparkContext.defaultParallelism,
                  max(2, docs.count() // 512))
        return documents_as_corpus(docs).repartition(par)

    return root, snap, corpus_fn


def _sentinel_ok(path: str, version, snap: str) -> bool:
    import json

    try:
        with open(path) as f:
            return json.load(f) == {"version": version, "snap": snap}
    except (OSError, ValueError):
        return False


def _write_sentinel(path: str, version, snap: str) -> None:
    import json

    with open(path, "w") as f:
        json.dump({"version": version, "snap": snap}, f)


def documents_index(spark: SparkSession, sf_dir: str) -> BM25Index:
    """Build (once, resumable/cached on disk) a simple-mode BM25 index over
    the documents table of the given sf dir and return a query handle.

    `simple` mode == the reference's effective tantivy-default analyzer and
    is exactly expressible in the DuckDB oracle SQL. A (version, snap)
    sentinel short-circuits cache hits straight to BM25Index.load — no
    count job, no resume scan (build_index's resume path still rescans the
    doc_map for stats even when fully complete).
    """
    import shutil

    from ck_spark.index.builder import INDEX_VERSION
    from ck_spark.index.manifest import Manifest

    root, snap, corpus_fn = _documents_state(spark, sf_dir)
    sentinel = os.path.join(root, "_docs_done.json")
    if _sentinel_ok(sentinel, INDEX_VERSION, snap):
        return BM25Index.load(spark, root)
    # invalidate caches written by an older on-disk layout
    try:
        if Manifest(root).load_meta().get("version") != INDEX_VERSION:
            shutil.rmtree(root, ignore_errors=True)
    except FileNotFoundError:
        pass
    build_index(
        spark, corpus_fn(), root, mode="simple",
        n_segments=4, term_buckets=16, build_groups=2, resume=True,
        snapshot_id=snap,
    )
    _write_sentinel(sentinel, INDEX_VERSION, snap)
    return BM25Index.load(spark, root)


# deterministic corpus edit for the LSM-update contract (lsm_update_search):
# docs with doc_id % 11 == 3 are REMOVED; of the remainder, doc_id % 7 == 0
# are MODIFIED (marker text appended). The DuckDB oracle applies the same
# rule in SQL, so the updated index must be hash-identical to a fresh
# engine over the edited corpus.
LSM_EDIT_MARKER = " lsmfresh lsmfresh update marker"


def documents_index_updated(spark: SparkSession, sf_dir: str) -> BM25Index:
    """The LSM-update contract index: base build over documents, then ONE
    update_index (an LSM delta append) with the deterministically
    edited snapshot — removals become tombstones, modified docs a new
    generation. Cached like documents_index; the 'lsm_done' sentinel
    records (version, snapshot) so reruns skip straight to load."""
    import json
    import shutil

    from ck_spark.index.builder import INDEX_VERSION, build_index, update_index

    root, snap, corpus_fn = _documents_state(spark, sf_dir, suffix="_lsm")
    sentinel = os.path.join(root, "_lsm_done.json")
    if _sentinel_ok(sentinel, INDEX_VERSION, snap):
        return BM25Index.load(spark, root)
    shutil.rmtree(root, ignore_errors=True)
    docs = load_documents(spark, sf_dir)
    par = min(spark.sparkContext.defaultParallelism, max(2, docs.count() // 512))
    corpus = corpus_fn()
    build_index(
        spark, corpus, root, mode="simple",
        n_segments=4, term_buckets=16, build_groups=2, resume=False,
        snapshot_id=snap,
    )
    edited = documents_as_corpus(
        docs.where(F.col("doc_id") % 11 != 3).withColumn(
            "text",
            F.when(F.col("doc_id") % 7 == 0,
                   F.concat("text", F.lit(LSM_EDIT_MARKER)))
            .otherwise(F.col("text")),
        )
    ).repartition(par)
    update_index(spark, edited, root, full_snapshot=True)
    _write_sentinel(sentinel, INDEX_VERSION, snap)
    return BM25Index.load(spark, root)


def search_documents(
    spark: SparkSession,
    sf_dir: str,
    query: str,
    k: int,
    mode: str = "or",
    normalize: bool = False,
    threshold: float | None = None,
    tie_buffer: int = 20,
    idx: BM25Index | None = None,
) -> DataFrame:
    """BM25 top-k over documents, results keyed by the ORIGINAL doc_id.

    Ties in BM25 score are broken by documents.doc_id (not the engine's
    internal hash id), exactly: fetch k+tie_buffer, and if the LAST fetched
    score still equals the k-th score (the tie group may extend past the
    fetch window), refetch with 4× the window until the boundary tie group
    is fully covered (or the corpus is exhausted). Then re-rank by
    (score desc, doc_id asc) and cut to k — always identical to the SQL
    oracle's ORDER BY score DESC, doc_id, regardless of how many docs tie
    at the boundary. The decision collects ≤fetch rows driver-side (top-k
    results are driver-sized by definition).

    ``idx`` overrides the default cached documents index (the LSM-updated
    contract index passes its own handle)."""
    if idx is None:
        idx = documents_index(spark, sf_dir)
    n_docs = max(int(idx.meta.get("n_docs") or 0), 1)
    fetch = min(k + tie_buffer, n_docs)
    while True:
        if mode == "syntax":
            # tantivy-QueryParser grammar (+must/-not/"phrase"/AND);
            # phrases resolve index-only from the positions postings —
            # no corpus argument, no corpus scan
            res = idx.search_query(query, k=fetch,
                                   normalize=normalize, threshold=threshold,
                                   with_paths=True)
        else:
            res = idx.search(query, k=fetch, mode=mode,
                             normalize=normalize, threshold=threshold,
                             with_paths=True)
        pdf = (
            res.select(F.col("path").cast("long").alias("doc_id"), "score")
            .toPandas()
            .sort_values(["score", "doc_id"], ascending=[False, True])
            .reset_index(drop=True)
        )
        if len(pdf) < fetch or fetch >= n_docs or len(pdf) < k:
            break  # exhausted: every tying doc is already here
        if float(pdf["score"].iloc[-1]) != float(pdf["score"].iloc[k - 1]):
            break  # strictly below the k-th score: tie group covered
        fetch = min(fetch * 4, n_docs)
    out = pdf.head(k)
    if len(out) == 0:
        from ck_spark.plans.schemas import empty_df

        return empty_df(spark, "doc_id long, score double")
    return spark.createDataFrame(out)


def search_documents_many(
    spark: SparkSession,
    sf_dir: str,
    queries: list[tuple[str, str]],
    k: int,
    tie_buffer: int = 20,
    idx: BM25Index | None = None,
) -> DataFrame:
    """Batched BM25 over documents: one search_many call per fetch
    round — scored on the driver with zero Spark jobs when the unscoped
    batch's summed posting mass fits bm25.LOCAL_POSTINGS_MAX, else one
    distributed plan — then one Spark join to the doc_map (below) and a
    collect. The same oracle-exact tie protocol as search_documents is
    applied per query (fetch k+buffer; if a query's k-th score still
    ties its last fetched score, refetch with a 4x window).  Refetch
    rounds re-run ONLY the queries that reported a boundary tie, so a
    single pathological tie group does not multiply whole-batch work.
    Internal engine ids map back to the ORIGINAL documents.doc_id
    through the index's LIVE doc_map view (base ∪ committed LSM deltas
    minus tombstones — the same view the single-query path reads), so
    delta-generation docs survive the join and ordering/truncation
    match the SQL oracle's ORDER BY score DESC, doc_id per query.

    Returns (query_id int, doc_id long, score double) — query_id is the
    position in ``queries``."""
    import pandas as pd

    if not queries:
        from ck_spark.plans.schemas import empty_df

        return empty_df(spark, "query_id int, doc_id long, score double")
    if idx is None:
        idx = documents_index(spark, sf_dir)
    n_docs = max(int(idx.meta.get("n_docs") or 0), 1)
    dm = idx.doc_map_df.select(
        F.col("doc_id").alias("_eng_id"),
        F.col("path").cast("long").alias("_orig_id"),
    )
    done: dict[int, pd.DataFrame] = {}
    pending = list(range(len(queries)))
    fetch = min(k + tie_buffer, n_docs)
    while pending:
        res = idx.search_many([queries[qid] for qid in pending], k=fetch)
        pdf = (
            res.join(dm, res["doc_id"] == dm["_eng_id"])
            .select("query_id", F.col("_orig_id").alias("doc_id"), "score")
            .toPandas()
        )
        still: list[int] = []
        for pos, qid in enumerate(pending):
            q = (
                pdf[pdf["query_id"] == pos]
                .sort_values(["score", "doc_id"], ascending=[False, True])
                .reset_index(drop=True)
            )
            exhausted = fetch >= n_docs or len(q) < fetch or len(q) < k
            if not exhausted and float(q["score"].iloc[-1]) == float(
                q["score"].iloc[k - 1]
            ):
                still.append(qid)  # boundary tie: widen this query only
                continue
            done[qid] = q.head(k).assign(query_id=qid)
        pending = still
        fetch = min(fetch * 4, n_docs)
    out = pd.concat(
        [done[qid] for qid in sorted(done)], ignore_index=True
    )[["query_id", "doc_id", "score"]]
    if len(out) == 0:
        from ck_spark.plans.schemas import empty_df

        return empty_df(spark, "query_id int, doc_id long, score double")
    out["query_id"] = out["query_id"].astype("int32")
    return spark.createDataFrame(out)


_RESULTS_SCHEMA = (
    "doc_id long, score double, preview string, byte_start long, "
    "byte_end long, line_start int, line_end int, lang string"
)


def search_documents_results(
    spark: SparkSession,
    sf_dir: str,
    query: str,
    k: int,
    mode: str = "or",
    full_section: bool = False,
) -> DataFrame:
    """ck `SearchResult`-shaped BM25 top-k over documents, keyed by the
    ORIGINAL doc_id: the tie-exact (score desc, doc_id asc) winner set
    from search_documents, enriched with preview / span / lang fetched
    candidate-only from the index's stored content
    (BM25Index.fetch_search_results)."""
    from ck_spark.index.builder import DOC_ID_MASK

    base = search_documents(spark, sf_dir, query, k=k, mode=mode).toPandas()
    if len(base) == 0:
        from ck_spark.plans.schemas import empty_df

        return empty_df(spark, _RESULTS_SCHEMA)
    idx = documents_index(spark, sf_dir)
    # engine ids for the winners: the same hash as builder.doc_id_expr
    # over the adapter's (repo='docs', path=str(doc_id), commit='c0'),
    # computed in one JVM-literal job (no doc_map scan, no python rows)
    id_csv = ",".join(f"'{int(d)}'" for d in base["doc_id"])
    eng = spark.sql(
        f"SELECT CAST(id AS LONG) AS orig, "
        f"xxhash64('docs', id, 'c0') & {DOC_ID_MASK} AS doc_id "
        f"FROM (SELECT explode(array({id_csv})) AS id)"
    ).toPandas()
    score_by_orig = dict(
        zip(base["doc_id"].astype(int), base["score"].astype(float))
    )
    vals = ",".join(
        f"({int(r.doc_id)}L, CAST({score_by_orig[int(r.orig)]!r} AS DOUBLE))"
        for r in eng.itertuples()
    )
    res = spark.sql(f"SELECT * FROM VALUES {vals} AS t(doc_id, score)")
    enr = idx.fetch_search_results(res, full_section=full_section)
    return (
        enr.select(
            F.col("path").cast("long").alias("doc_id"),
            F.round("score", 6).alias("score"),
            "preview", "byte_start", "byte_end", "line_start", "line_end",
            "lang",
        )
        .orderBy(F.desc("score"), F.asc("doc_id"))
    )


def embeddings_ivf_root(spark: SparkSession, sf_dir: str, k_lists: int = 8) -> str:
    """Ensure a materialized IVF ANN index (ops/ivf.py) over the sf dir's
    embeddings table; returns its root. Cached on disk like
    documents_index — the meta json is written last and gates reuse, so a
    partial build rebuilds."""
    import shutil

    from ck_spark.ops.ivf import build_ivf_index, ivf_index_exists

    tag = sf_dir.strip("/").replace("/", "_")
    root = os.path.join(ENTRY_INDEX_ROOT, tag, "ivf")
    # staleness gate, same mtime+size token as documents_index: a
    # rewritten embeddings.parquet under the same path must invalidate
    # the cached lists instead of serving vectors that no longer exist
    st = os.stat(os.path.join(sf_dir, "embeddings.parquet"))
    snap = f"mtime{int(st.st_mtime)}-size{st.st_size}"
    sentinel = os.path.join(root, "_ivf_done.json")
    if not (ivf_index_exists(root) and _sentinel_ok(sentinel, 1, snap)):
        shutil.rmtree(root, ignore_errors=True)
        emb = spark.read.parquet(os.path.join(sf_dir, "embeddings.parquet"))
        build_ivf_index(spark, emb, root, k_lists=k_lists,
                        sample_size=16384, iters=10, seed=7)
        _write_sentinel(sentinel, 1, snap)
    return root


def documents_trigram_root(spark: SparkSession, sf_dir: str) -> str:
    """Ensure the trigram candidate index (query/trigram.py) exists beside
    the documents BM25 index; returns the shared index root. Cached on disk
    like documents_index — the _SUCCESS marker gates reuse so a partial
    write rebuilds."""
    idx = documents_index(spark, sf_dir)
    root = idx.paths.root
    from ck_spark.query.trigram import (
        build_trigram_index, trigram_index_compatible,
    )

    if not trigram_index_compatible(root):
        _, _, corpus_fn = _documents_state(spark, sf_dir)
        build_trigram_index(spark, corpus_fn(), root)
    return root


def documents_content_store_root(spark: SparkSession, sf_dir: str) -> str:
    """Ensure the point-read content store (index/content_store.py) exists
    beside the documents index (and the trigram index — together they make
    indexed grep read candidate bytes only); returns the shared root."""
    root = documents_trigram_root(spark, sf_dir)
    from ck_spark.index.content_store import (
        build_content_store, content_store_exists,
    )

    if not content_store_exists(root):
        build_content_store(spark, root)
    return root


def search_documents_rerank(
    spark: SparkSession,
    sf_dir: str,
    query: str,
    k: int,
    base_k: int,
) -> DataFrame:
    """Two-stage retrieve-then-rerank over documents, keyed by the
    ORIGINAL doc_id: BM25 top-``base_k`` (tie-exact, search_documents),
    then the proximity reranker (query/rerank.py — the reference's
    options.rerank rescore→resort→recut contract) cut to ``k``.

    Scale shape: the base result collects ≤base_k rows driver-side
    (top-k is driver-sized by definition), the candidate text fetch is a
    pushed ``doc_id IN (...)`` parquet read — content bytes ∝ the
    candidate set, never the corpus — and the boost kernel is one Arrow
    batch over base_k rows."""
    from ck_spark.query.rerank import proximity_rerank

    base = search_documents(spark, sf_dir, query, k=base_k).collect()
    if not base:
        from ck_spark.plans.schemas import empty_df

        return empty_df(spark, "doc_id long, score double")
    ids = sorted(int(r["doc_id"]) for r in base)
    score_rel = spark.sql(
        "SELECT * FROM VALUES "
        + ",".join(f"({int(r['doc_id'])}L, CAST({float(r['score'])!r} AS DOUBLE))"
                   for r in base)
        + " AS t(doc_id, score)"
    )
    cand = (
        load_documents(spark, sf_dir)
        .where(f"doc_id IN ({','.join(map(str, ids))})")
        .select("doc_id", "text")
        .join(F.broadcast(score_rel), "doc_id")
    )
    out = proximity_rerank(cand, query, k=k, mode="simple",
                           text_col="text", score_col="score")
    return out.select("doc_id", F.round("score", 6).alias("score"))
