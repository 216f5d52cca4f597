"""BM25 top-k query over the segmented posting index.

Query lifecycle (the rebuild of ck's lexical_search,
ck-engine/src/lib.rs:729-845):

  query string → tokenize (same module as index build — rank identity by
  construction) → term_stats lookup (driver-cached dictionary, read with
  pyarrow) → idf per term → postings read pruned to the query terms' hash
  buckets (partition pruning on `bucket`, row-group predicate on `term`)
  → per-segment scorer (per-segment top-k heap; exhaustive-DAAT,
  block-max WAND or MaxScore) → global top-k (score desc, doc_id).

Two read tiers run that pipeline with the same segment scorers:

  driver-local  at most LOCAL_POSTINGS_MAX postings (Σ df of the
                scanned terms — summed over every query plan of a
                search_many batch — known before any read, scaled for
                the dead versions generations still hold), no path
                scope, no path join: pyarrow reads the pruned postings
                of every live generation, scoring runs per (gen, seg)
                with that group's tombstones, and the merged top-k (per
                query for a batch) comes back as an already-sorted local
                DataFrame — zero Spark jobs, and fetch_search_results
                over it stays job-free too.
  distributed   everything else: groupBy(seg).applyInPandas (a cogroup
                with the tombstone / path-scope sets on LSM indexes) →
                orderBy(score desc, doc_id).limit(k), Catalyst's
                TakeOrderedAndProject distributed partial top-k merge;
                a batch cuts its per-query top-k with one row_number
                window instead.

Shuffle profile of the distributed tier: only the selected posting rows
move (one row per (term, segment)), never the corpus. At 10^12 docs the
scan is bounded by the query terms' posting mass, and each segment task
is bounded by the segment width chosen at build time.
"""

from __future__ import annotations

import math
from dataclasses import dataclass

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ck_spark.constants import (
    LEXICAL_DEFAULT_TOPK,
    SEMANTIC_DEFAULT_THRESHOLD,
    SEMANTIC_DEFAULT_TOPK,
)
from ck_spark.index.builder import IndexPaths
from ck_spark.index.manifest import Manifest
from ck_spark.plans.schemas import empty_df as _empty_df
from ck_spark.query import scorer as _scorer
from ck_spark.tokenizer import tokenize

_RESULT_SCHEMA = "doc_id long, score double"
_BATCH_SCHEMA = "query_id int, doc_id long, score double"

# explicit postings projection: pos_blocks (the positions stream) is only
# read by phrase queries — everything else prunes it at the parquet scan
_POSTING_COLS = [
    "seg", "bucket", "term", "n_docs", "ids_blocks", "tfs_blocks",
    "dls_blocks", "block_max", "block_last", "avgdl_enc",
]

# Driver-local read tier: a search that reads at most this many postings
# (Σ df of the scanned terms from term_stats, scaled up for the dead
# versions still stored in generations — see _top_k) is scored on the
# driver — pyarrow reads of the same pruned postings, the same segment
# kernels, a pandas top-k — and comes back as a local DataFrame, so it
# runs no Spark job at all. Measured crossover (40k-doc generated corpus
# built with 4 segments, 4-vCPU host, OR and AND queries of the 1-256
# most common terms, ids and scores identical in both tiers): with one
# task per segment at local[4], the distributed tier first won at 1.07M
# postings (AND, 64 terms: 1.43 s against the driver's 1.52 s); at 0.98M
# and below the driver was faster in both modes (AND 1.21 s vs 1.24 s,
# OR 1.36 s vs 1.58 s). At local[2] the driver won at every mass up to
# 1.08M. The cap sits at that crossover. search_many compares the Σ of
# its query plans' masses with the same cap; on the same index at
# local[4] the batch tiers crossed between 7.0M and 12.0M (50 queries)
# and between 7.4M and 14.4M (512 queries). For batches the cap is thus
# safe in one direction only: it never sends a batch to the driver where
# the driver loses, but batches of 1M-7M summed mass take the Spark tier
# although the driver was faster there (1.41M: 0.83 s vs 1.41 s; 7.04M:
# 2.01 s vs 2.92 s). grep_indexed's driver-side
# candidate intersection uses the same cap on the kept grams' Σ df; it
# was faster than the Spark tier at every mass measured, up to 2.26M ids.
LOCAL_POSTINGS_MAX = 1_000_000

_OR_SCORERS = {
    "exhaustive": _scorer.score_exhaustive_or,
    "wand": _scorer.score_wand_or,
    "maxscore": _scorer.score_maxscore_or,
}


def _score_boolean_segment(by_term: dict, plan: dict, idfs: dict,
                           avgdl: float, k1: float, b: float, k: int,
                           allowed, block_size: int, tombstoned=None,
                           cache=None):
    """One boolean-query evaluation inside one segment: must/should/not
    clauses plus (index-only) positive and negative phrases. Shared by
    search_query and search_many(mode='syntax'). `tombstoned` (sorted ids)
    is the LSM dead-version set for this (gen, seg) group — merged into
    score_boolean's exclusion set, so a superseded doc version can match
    a phrase but never reach the result. Returns (ids, scores) or None
    when no doc in this segment can match."""
    import numpy as np

    m = [by_term[t] for t in plan["must"] if t in by_term]
    if plan["must"] and len(m) < len(plan["must"]):
        # a must term with no postings in this segment => no doc here can
        # match (segments partition the doc space)
        return None
    s = [by_term[t] for t in plan["should"] if t in by_term]
    n = [by_term[t] for t in plan["must_not"] if t in by_term]
    banned = None
    if plan.get("phrases"):
        allowed = _scorer.phrase_allowed_ids(
            by_term, plan["phrases"], block_size, allowed
        )
        if allowed.size == 0:
            return None
    if plan.get("neg_phrases"):
        banned = _scorer.phrase_banned_ids(by_term, plan["neg_phrases"], block_size)
    if tombstoned is not None and tombstoned.size:
        banned = (
            tombstoned if banned is None or not banned.size
            else np.union1d(banned, tombstoned)
        )
    return _scorer.score_boolean(m, s, n, idfs, avgdl, k1, b, k, allowed,
                                 banned, cache=cache)


def _in_term_order(score_fn):
    """Hand `score_fn` its segment's posting rows sorted by term. The
    kernels add per-term contributions in row order, and float addition
    is order-sensitive in the last bit; a fixed order makes scores
    independent of scan and shuffle order, so both read tiers agree to
    the bit."""
    def ordered(pdf: pd.DataFrame, allowed, banned) -> pd.DataFrame:
        return score_fn(pdf.sort_values("term", kind="stable", ignore_index=True),
                        allowed, banned)

    return ordered


def _pick_or_scorer(strategy: str, total_postings: int, k: int):
    """Strategy selection for disjunctive queries (all are rank-identical;
    only the amount of decoding differs). Measured crossover (120k-doc
    profile): below ~50k postings the vectorized exhaustive DAAT wins on
    constant factors; above it, block-max WAND skips best for small k and
    MaxScore's essential-list pruning covers broad queries at larger k
    (WAND's floor rises too slowly there to skip blocks)."""
    if strategy != "auto":
        return _OR_SCORERS[strategy]
    if total_postings <= 50_000:
        return _scorer.score_exhaustive_or
    return _scorer.score_wand_or if k <= 20 else _scorer.score_maxscore_or


@dataclass
class BM25Index:
    spark: SparkSession
    paths: IndexPaths
    meta: dict

    @classmethod
    def load(cls, spark: SparkSession, root: str, repair: bool = False) -> "BM25Index":
        """repair=True additionally heals a crashed compaction or
        content-store commit (builder.repair_index) — pass it ONLY from a
        context that owns the index exclusively: a concurrent reader
        repairing while the writer's update is legitimately in flight
        would clobber the writer's partitions and clear its crash
        bracket. Owners: update_index (always repairs first) and
        CkService (single-service root)."""
        if repair:
            from ck_spark.index.builder import repair_index

            repair_index(spark, root)
        elif Manifest(root).load_marker("compact_inprogress") is not None:
            import warnings

            warnings.warn(
                f"index at {root} has an in-progress compaction (or a "
                "crashed one): results may be mid-mutation until the owner "
                "repairs it (BM25Index.load(repair=True) / update_index)",
                stacklevel=2,
            )
        meta = Manifest(root).load_meta()
        return cls(spark, IndexPaths(root), meta)

    # -- lookups --------------------------------------------------------------

    _TERM_CACHE_MAX = 2_000_000  # cache the whole term dict when small

    @property
    def gens(self) -> list[int]:
        """Committed LSM delta generations (index/lsm.py). Empty for an
        index that was never incrementally updated (or was compacted) —
        every query path then keeps its original gen-less plan."""
        return [int(g) for g in (self.meta.get("gens") or [])]

    @property
    def postings_df(self) -> DataFrame:
        """The postings table as a REUSED DataFrame: `spark.read.parquet`
        builds an InMemoryFileIndex (partition-dir listing + footer reads)
        whose cost is per-DataFrame, not per-query — at 1M files this
        re-listing was ~0.3-0.5 s of every query's dispatch overhead.
        Filters on the cached frame still prune partitions (the file index
        serves PartitionFilters). The file index snapshots the table: after
        update_index, reload the handle (BM25Index.load — every caller
        already does; the service refreshes on reindex).

        With LSM generations this is the base ∪ delta union (lsm.
        live_postings) carrying a `gen` column; bucket/term pruning hits
        every generation's scan identically."""
        df = self.__dict__.get("_postings_df")
        if df is None:
            from ck_spark.index.lsm import live_postings

            df = live_postings(self.spark, self.paths.root, self.meta)
            self.__dict__["_postings_df"] = df
        return df

    @property
    def doc_map_df(self) -> DataFrame:
        """The LIVE document view: base ∪ committed deltas minus
        tombstones (lsm.live_doc_map) — plain base read when no
        generations exist. Every doc-level consumer (enrichment joins,
        stored-content fetch, path scoping, scans) reads this, so a
        modified doc resolves to exactly its newest version."""
        df = self.__dict__.get("_doc_map_df")
        if df is None:
            from ck_spark.index.lsm import live_doc_map

            df = live_doc_map(self.spark, self.paths.root, self.meta)
            self.__dict__["_doc_map_df"] = df
        return df

    @property
    def tombstones_df(self) -> DataFrame:
        df = self.__dict__.get("_tombstones_df")
        if df is None:
            from ck_spark.index.lsm import read_tombstones

            df = read_tombstones(self.spark, self.paths.root, self.meta)
            self.__dict__["_tombstones_df"] = df
        return df

    @property
    def content_store(self):
        """Point-read blob store (index.content_store) when a complete one
        exists beside the index, else None — the stored-field fetch then
        uses the doc_map parquet. Probed once per handle."""
        if "_content_store" not in self.__dict__:
            from ck_spark.index.content_store import ContentStore

            try:
                cs = ContentStore.load(self.spark, self.paths.root)
            except FileNotFoundError:
                cs = None
            self.__dict__["_content_store"] = cs
        return self.__dict__["_content_store"]

    def term_stats(self, terms: list[str]) -> pd.DataFrame:
        """df/bucket lookup for query terms. For small indexes the whole
        term dictionary is cached driver-side on the first query (the
        analogue of tantivy keeping the term dict mmap'd), read with
        pyarrow — no Spark job, so a freshly loaded handle's first search
        can stay job-free; above the cap it stays a pruned parquet read
        per query — at 10^12 docs the dict is executor-resident data, not
        driver state."""
        from ck_spark.index.lsm import term_stats_path

        ts_path = term_stats_path(self.paths.root, self.meta)
        if "_term_cache" not in self.__dict__:
            # one attempt per handle: a stored None means "dict exceeds
            # the cap" — without the sentinel a too-big dict would be
            # fully materialized driver-side on EVERY query. When meta
            # lacks n_terms (legacy/resume), a footer-only row count gates
            # the read so an oversized dict never reaches the driver.
            from ck_spark.index.builder import TERM_STATS_SCHEMA
            from ck_spark.plans.schemas import arrow_dataset

            ts = arrow_dataset(ts_path, TERM_STATS_SCHEMA)
            n_terms = self.meta.get("n_terms")
            if n_terms is None:
                n_terms = ts.count_rows()
            cache = None
            if n_terms <= self._TERM_CACHE_MAX:
                pdf = ts.to_table().to_pandas()
                if len(pdf) <= self._TERM_CACHE_MAX:
                    cache = pdf.set_index("term", drop=False)
            self.__dict__["_term_cache"] = cache
        cache = self.__dict__["_term_cache"]
        if cache is not None:
            found = [t for t in terms if t in cache.index]
            return cache.loc[found].reset_index(drop=True)
        return (
            self.spark.read.parquet(ts_path)
            .where(F.col("term").isin(terms))
            .toPandas()
        )

    def idfs(self, terms: list[str],
             ts: "pd.DataFrame | None" = None) -> dict[str, float]:
        """Lucene idf per term. Pass the already-fetched term_stats frame
        (every search path has one) to skip a second dictionary lookup."""
        n = self.meta["n_docs"]
        if ts is None:
            ts = self.term_stats(terms)
        return {
            r.term: math.log(1.0 + (n - r.df + 0.5) / (r.df + 0.5))
            for r in ts.itertuples()
        }

    def _group_cols(self) -> list[str]:
        """Segment-scorer grouping unit. Every document VERSION lives
        wholly inside one (gen, seg) — its doc_map row and all its posting
        entries were written by the same build/update — so per-(gen, seg)
        scoring plus the global top-k merge is exactly per-seg scoring on
        a gen-less index."""
        return (["gen"] if self.gens else []) + ["seg"]

    def _scope_cols(self) -> list[str]:
        return self._group_cols() + ["doc_id"]

    def _seg_grouped(self, post: DataFrame, score_fn, out_schema: str,
                     allowed_df: DataFrame | None = None) -> DataFrame:
        """Run `score_fn(pdf, allowed, banned) -> pdf` once per segment
        group of `post`, rows in term order (_in_term_order). Gen-less
        indexes keep the original plans (plain groupBy(seg), cogroup
        only when scoping). With LSM generations the
        right side of ONE cogroup carries both the tombstone set
        (ban=True — dead versions whose postings still sit in their
        generation) and the optional path-scope allowed set (ban=False),
        split into the scorer's two filters executor-side: no driver
        state, no corpus-scale broadcast, rows ∝ tombstones + scope.
        _seg_local is the driver-side twin for small reads."""
        import numpy as np

        score_fn = _in_term_order(score_fn)
        gens = self.gens
        if not gens:
            if allowed_df is None:
                return post.groupBy("seg").applyInPandas(
                    lambda pdf: score_fn(pdf, None, None), out_schema
                )

            def cg(pl: pd.DataFrame, pr: pd.DataFrame) -> pd.DataFrame:
                allowed = np.sort(pr["doc_id"].to_numpy().astype(np.int64))
                return score_fn(pl, allowed, None)

            return (
                post.groupBy("seg")
                .cogroup(allowed_df.groupBy("seg"))
                .applyInPandas(cg, out_schema)
            )

        has_scope = allowed_df is not None
        filt = self.tombstones_df.select(
            "gen", "seg", "doc_id", F.lit(True).alias("ban")
        )
        if has_scope:
            filt = filt.unionByName(
                allowed_df.select("gen", "seg", "doc_id",
                                  F.lit(False).alias("ban"))
            )

        def cg2(pl: pd.DataFrame, pr: pd.DataFrame) -> pd.DataFrame:
            ban_mask = pr["ban"].to_numpy(dtype=bool) if len(pr) else None
            if ban_mask is not None and ban_mask.any():
                ids = pr["doc_id"].to_numpy()
                banned = np.sort(ids[ban_mask].astype(np.int64))
            else:
                banned = None
            if has_scope:
                if ban_mask is None:
                    allowed = np.empty(0, dtype=np.int64)
                else:
                    allowed = np.sort(
                        pr["doc_id"].to_numpy()[~ban_mask].astype(np.int64)
                    )
            else:
                allowed = None
            return score_fn(pl, allowed, banned)

        return (
            post.groupBy("gen", "seg")
            .cogroup(filt.groupBy("gen", "seg"))
            .applyInPandas(cg2, out_schema)
        )

    def _seg_local(self, buckets: list[int], terms: list[str],
                   cols: list[str], score_fn) -> pd.DataFrame:
        """Driver-side twin of _seg_grouped for small reads (no path
        scope): pyarrow reads the same bucket/term-pruned postings of
        every live generation (lsm.postings_datasets), groups them by
        (gen, seg) and calls the same `score_fn` with that group's
        tombstones (lsm.tombstone_sets) as the banned set. Returns the
        concatenated per-segment top-k rows, unsorted, or None when no
        segment scored a row."""
        import pyarrow.dataset as pads

        from ck_spark.index import lsm

        if "_local_postings" not in self.__dict__:
            # one listing per handle, the snapshot postings_df also keeps
            self.__dict__["_local_postings"] = (
                lsm.postings_datasets(self.paths.root, self.meta),
                lsm.tombstone_sets(self.paths.root, self.meta),
            )
        datasets, tombs = self.__dict__["_local_postings"]
        score_fn = _in_term_order(score_fn)
        flt = pads.field("bucket").isin(buckets) & pads.field("term").isin(terms)
        tops = []
        for gen, ds in datasets:
            pdf = ds.to_table(columns=["seg", *cols], filter=flt).to_pandas()
            for seg, grp in pdf.groupby("seg", sort=True):
                top = score_fn(grp, None, tombs.get((gen, int(seg))))
                # an empty frame carries float columns: concatenated with
                # int64 ids it would round them through float64
                if len(top):
                    tops.append(top)
        return pd.concat(tops, ignore_index=True) if tops else None

    def _fits_local(self, n_postings: int) -> bool:
        """The driver tier's read bound: `n_postings` (a live Σ df) at
        most LOCAL_POSTINGS_MAX. Dead versions' postings still sit in
        their generations until compaction and are read before the
        tombstone ban drops them, so the read is estimated at the index's
        dead-to-live ratio (meta n_tombstones / n_docs)."""
        n_dead = int(self.meta.get("n_tombstones") or 0)
        n_read = n_postings * (1 + n_dead / max(int(self.meta["n_docs"]), 1))
        return n_read <= LOCAL_POSTINGS_MAX

    def _top_k(self, buckets: list[int], terms: list[str], cols: list[str],
               score_fn, n_postings: int, k: int, normalize: bool,
               threshold: float | None, with_paths: bool,
               allowed_df: DataFrame | None) -> DataFrame:
        """Score the postings of `terms` per segment and cut the global
        top-k. Tier choice: a read that _fits_local, no path scope and no
        path join run on the driver (zero Spark jobs); everything else is
        the distributed plan."""
        if allowed_df is None and not with_paths \
                and self._fits_local(n_postings):
            return self._finish_local(
                self._seg_local(buckets, terms, cols, score_fn),
                k, normalize, threshold,
            )
        post = (
            self.postings_df
            .where(F.col("bucket").isin(buckets) & F.col("term").isin(terms))
            .select(*self._group_cols(), *cols)
        )
        seg_top = self._seg_grouped(post, score_fn, _RESULT_SCHEMA, allowed_df)
        return self._finish(seg_top, k, normalize, threshold, with_paths)

    def _no_hits(self, k: int, normalize: bool, threshold: float | None,
                 with_paths: bool) -> DataFrame:
        return self._finish(_empty_df(self.spark, _RESULT_SCHEMA), k,
                            normalize, threshold, with_paths)

    # -- search ---------------------------------------------------------------

    def search(
        self,
        query: str,
        k: int = LEXICAL_DEFAULT_TOPK,
        mode: str = "or",
        strategy: str = "auto",
        normalize: bool = False,
        threshold: float | None = None,
        with_paths: bool = False,
        include_prefixes: list[str] | None = None,
        exclude_globs: list[str] | None = None,
    ) -> DataFrame:
        """Top-k BM25. mode: 'or' (ck/tantivy default: bare terms are
        Should-clauses) or 'and' (conjunctive intersection, north-rule
        operator). normalize: divide by max score AFTER top-k (rank-
        preserving, mirrors ck-engine/src/lib.rs:820-843). threshold:
        drop rows below it (post-normalization if normalize=True).
        include_prefixes/exclude_globs: exact path scoping — allowed doc
        ids flow to the segment scorers via a seg-cogrouped doc_map read
        (F3/F4/F7), so scoped top-k is exact, not a post-filter."""
        terms = list(dict.fromkeys(tokenize(query, self.meta["tokenizer_mode"])))
        if not terms:
            return self._no_hits(k, normalize, threshold, with_paths)

        ts = self.term_stats(terms)
        idfs = self.idfs(terms, ts=ts)
        if ts.empty or (mode == "and" and len(ts) < len(terms)):
            # conjunctive with any unknown term matches nothing
            return self._no_hits(k, normalize, threshold, with_paths)
        found_terms = list(ts["term"])
        buckets = sorted(set(int(b) for b in ts["bucket"]))

        avgdl = float(self.meta["avgdl"])
        k1, b = float(self.meta["k1"]), float(self.meta["b"])
        q_mode, q_strategy, q_k = mode, strategy, int(k)

        n_query_terms = len(found_terms)

        def score_rows(pdf: pd.DataFrame, allowed, banned) -> pd.DataFrame:
            if len(pdf) == 0:
                return pd.DataFrame({"doc_id": [], "score": []})
            rows = pdf.to_dict("records")
            if q_mode == "and":
                # a conjunctive match needs EVERY query term present in
                # this segment; a missing posting row means no doc here
                # can match (same guard as search_many)
                if len({r["term"] for r in rows}) < n_query_terms:
                    return pd.DataFrame({"doc_id": [], "score": []})
                ids, scores = _scorer.score_and(
                    rows, idfs, avgdl, k1, b, q_k, allowed, banned
                )
            else:
                total = int(pdf["n_docs"].sum()) if len(pdf) else 0
                fn = _pick_or_scorer(q_strategy, total, q_k)
                ids, scores = fn(rows, idfs, avgdl, k1, b, q_k, allowed, banned)
            return pd.DataFrame({"doc_id": ids, "score": scores})

        allowed_df = None
        if include_prefixes or exclude_globs:
            from ck_spark.query.scope import path_scope_pred

            allowed_df = (
                self.doc_map_df
                .where(path_scope_pred(F.col("path"), include_prefixes, exclude_globs))
                .select(*self._scope_cols())
            )
        return self._top_k(buckets, found_terms, _POSTING_COLS[1:], score_rows,
                           int(ts["df"].sum()), k, normalize, threshold,
                           with_paths, allowed_df)

    def search_query(
        self,
        query: str,
        k: int = LEXICAL_DEFAULT_TOPK,
        corpus: DataFrame | None = None,
        normalize: bool = False,
        threshold: float | None = None,
        with_paths: bool = False,
        include_prefixes: list[str] | None = None,
        exclude_globs: list[str] | None = None,
    ) -> DataFrame:
        """tantivy-QueryParser-style search: bare terms are SHOULD, +term
        MUST, -term MUST_NOT, "quoted words" phrases, -"quoted words"
        negative phrases, `a AND b` conjunctive (ck passes its query string
        to tantivy's parser, ck-engine/src/lib.rs:765-768; grammar rebuilt
        in query/boolean.py).

        Phrases resolve INDEX-ONLY on v5 indexes: token positions are
        stored per (term, doc) in the postings (pos_blocks), and adjacency
        is a vectorized positional intersection inside the segment scorer
        (the tantivy PhraseQuery analogue, ck-engine/src/lib.rs:765-775) —
        no corpus access, exact top-k. Negative phrases exclude only docs
        containing the ADJACENT phrase (MustNot(PhraseQuery)). For older
        position-less indexes the legacy corpus-scan fallback remains:
        pass `corpus` and candidates are restricted/excluded via a
        token-adjacency regex / tokenizer UDF pass."""
        from ck_spark.query.boolean import parse_query, phrase_adjacency_regex

        pq = parse_query(query, self.meta["tokenizer_mode"])
        if not pq.positive_terms:
            return self._no_hits(k, normalize, threshold, with_paths)
        use_positions = bool(self.meta.get("with_positions"))
        if (pq.phrases or pq.neg_phrases) and not use_positions and corpus is None:
            raise ValueError(
                "phrase queries on a position-less (pre-v5) index need the "
                "corpus DataFrame for adjacency verification — rebuild the "
                "index to resolve phrases index-only"
            )

        ts = self.term_stats(pq.all_terms)
        idfs = self.idfs(pq.all_terms, ts=ts)
        known = set(ts["term"])
        must = list(dict.fromkeys(pq.must + [t for p in pq.phrases for t in p]))
        if any(t not in known for t in must):
            # a required term absent from the corpus matches nothing
            return self._no_hits(k, normalize, threshold, with_paths)
        should = [t for t in pq.should if t in known]
        must_not = [t for t in pq.must_not if t in known]
        # a negative phrase with any unknown term can never match a doc,
        # so it bans nothing — drop it from the plan entirely
        neg_phrases = [p for p in pq.neg_phrases if all(t in known for t in p)]
        neg_terms = [t for p in neg_phrases for t in p] if use_positions else []
        scan_terms = list(dict.fromkeys(must + should + must_not + neg_terms))
        if not scan_terms:
            return self._no_hits(k, normalize, threshold, with_paths)
        scanned = ts[ts["term"].isin(scan_terms)]
        buckets = sorted({int(b) for b in scanned["bucket"]})
        post_cols = _POSTING_COLS[1:] + (
            ["pos_blocks"] if use_positions and (pq.phrases or neg_phrases) else []
        )

        avgdl = float(self.meta["avgdl"])
        k1, b = float(self.meta["k1"]), float(self.meta["b"])
        q_k = int(k)
        block_size = int(self.meta.get("block_size") or 128)
        plan = {
            "must": must, "should": should, "must_not": must_not,
            "phrases": pq.phrases if use_positions else [],
            "neg_phrases": neg_phrases if use_positions else [],
        }

        def score_rows(pdf: pd.DataFrame, allowed, banned) -> pd.DataFrame:
            if len(pdf) == 0:
                return pd.DataFrame({"doc_id": [], "score": []})
            by_term = {r["term"]: r for r in pdf.to_dict("records")}
            res = _score_boolean_segment(
                by_term, plan, idfs, avgdl, k1, b, q_k, allowed, block_size,
                tombstoned=banned,
            )
            if res is None:
                return pd.DataFrame({"doc_id": [], "score": []})
            ids, scores = res
            return pd.DataFrame({"doc_id": ids, "score": scores})

        allowed_df = None
        if (pq.phrases or neg_phrases) and not use_positions:
            # legacy corpus-scan adjacency (pre-v5 indexes only; such
            # indexes can never carry LSM generations — update_index gates
            # on v5 — so the seg-keyed allowed set needs no gen column)
            from ck_spark.index.builder import doc_id_expr, seg_expr

            if self.meta["tokenizer_mode"] == "simple":
                # codegen separator regex == the simple tokenizer's
                # boundary rule (and what the SQL oracle can express)
                pred = F.lit(True)
                for p in pq.phrases:
                    pred = pred & F.col("content").rlike(phrase_adjacency_regex(p))
                for p in neg_phrases:
                    pred = pred & ~F.col("content").rlike(phrase_adjacency_regex(p))
            else:
                # code mode splits inside identifiers (camelCase), so
                # adjacency must be checked under the index's own
                # tokenizer — Arrow UDF, exact by construction
                from ck_spark.query.boolean import phrase_match_udf

                pred = F.lit(True)
                if pq.phrases:
                    pred = pred & phrase_match_udf(
                        pq.phrases, self.meta["tokenizer_mode"]
                    )(F.col("content"))
                for p in neg_phrases:
                    pred = pred & ~phrase_match_udf(
                        [p], self.meta["tokenizer_mode"]
                    )(F.col("content"))
            allowed_df = (
                corpus.where(pred)
                .withColumn("doc_id", doc_id_expr())
                .withColumn("seg", seg_expr(int(self.meta["n_segments"])))
                .select("seg", "doc_id")
            )
        if include_prefixes or exclude_globs:
            from ck_spark.query.scope import path_scope_pred

            scoped = (
                self.doc_map_df
                .where(path_scope_pred(F.col("path"), include_prefixes, exclude_globs))
                .select(*self._scope_cols())
            )
            allowed_df = scoped if allowed_df is None else allowed_df.join(
                scoped, ["seg", "doc_id"], "inner"
            )

        return self._top_k(buckets, scan_terms, post_cols, score_rows,
                           int(scanned["df"].sum()), k, normalize, threshold,
                           with_paths, allowed_df)

    def search_many(
        self,
        queries: list[tuple[str, str]],
        k: int = LEXICAL_DEFAULT_TOPK,
        strategy: str = "auto",
        include_prefixes: list[str] | None = None,
        exclude_globs: list[str] | None = None,
    ) -> DataFrame:
        """Answer a batch of (query, mode) pairs.

        mode per query: 'or' | 'and' | 'syntax' (the full tantivy-
        QueryParser grammar incl. phrases and negative phrases — resolved
        index-only from the positions postings, same as search_query).
        include_prefixes/exclude_globs scope ALL queries via the exact
        cogrouped allowed-set mechanism.

        All queries' posting rows are read together (one pruned read over
        the union of buckets/terms) and scored per segment per query.
        Tier rule: an unscoped batch whose posting mass — Σ over its
        query plans of each plan's Σ df, scaled for dead versions as in
        _top_k (_fits_local) — is at most LOCAL_POSTINGS_MAX is scored
        on the driver (_seg_local) and cut to per-query top-k in pandas
        (_finish_local): zero Spark jobs. Any other batch runs one
        distributed plan that cuts the top-k with one row_number window,
        amortizing job dispatch across the whole query set; on the
        benchmark's 1000-doc, 4-segment index at local[2] its collect
        runs 5 Spark jobs. Both tiers give bit-identical ids and scores.
        Returns (query_id, doc_id, score) ordered by (query_id, score
        desc, doc_id)."""
        import numpy as np

        from pyspark.sql.window import Window

        from ck_spark.query.boolean import parse_query

        spark = self.spark
        mode_tok = self.meta["tokenizer_mode"]
        use_positions = bool(self.meta.get("with_positions"))
        qinfo = []
        all_terms: set[str] = set()
        for qid, (q, mode) in enumerate(queries):
            if mode == "syntax":
                pq = parse_query(q, mode_tok)
                if (pq.phrases or pq.neg_phrases) and not use_positions:
                    raise ValueError(
                        "search_many syntax queries with phrases need a "
                        "positions (v5) index"
                    )
                info = {"qid": qid, "mode": "syntax", "pq": pq}
                info["terms"] = pq.all_terms
            else:
                terms = list(dict.fromkeys(tokenize(q, mode_tok)))
                info = {"qid": qid, "mode": mode, "terms": terms}
            qinfo.append(info)
            all_terms.update(info["terms"])
        if not all_terms:
            return _empty_df(spark, _BATCH_SCHEMA)

        ts = self.term_stats(sorted(all_terms))
        if ts.empty:
            return _empty_df(spark, _BATCH_SCHEMA)
        idfs = self.idfs(sorted(all_terms), ts=ts)
        known = set(ts["term"])
        df_of = dict(zip(ts["term"], ts["df"]))

        avgdl = float(self.meta["avgdl"])
        k1, b = float(self.meta["k1"]), float(self.meta["b"])
        q_k, q_strategy = int(k), strategy
        block_size = int(self.meta.get("block_size") or 128)
        plans = []
        scan_terms: set[str] = set()
        any_phrases = False
        n_postings = 0  # Σ over plans of each plan's Σ df
        for info in qinfo:
            if info["mode"] == "syntax":
                pq = info["pq"]
                must = list(dict.fromkeys(
                    pq.must + [t for p in pq.phrases for t in p]
                ))
                if any(t not in known for t in must):
                    continue  # a required term absent: query matches nothing
                neg_phr = [p for p in pq.neg_phrases if all(t in known for t in p)]
                plan = {
                    "qid": info["qid"], "mode": "syntax",
                    "must": must,
                    "should": [t for t in pq.should if t in known],
                    "must_not": [t for t in pq.must_not if t in known],
                    "phrases": pq.phrases,
                    "neg_phrases": neg_phr,
                }
                terms = set(plan["must"]) | set(plan["should"]) | set(
                    plan["must_not"]) | {t for p in neg_phr for t in p}
                if not terms:
                    continue
                any_phrases = any_phrases or bool(pq.phrases or neg_phr)
                scan_terms |= terms
                n_postings += sum(int(df_of[t]) for t in terms)
                plans.append(plan)
            else:
                found = [t for t in info["terms"] if t in known]
                if not found or (
                    info["mode"] == "and" and len(found) < len(info["terms"])
                ):
                    continue
                scan_terms |= set(found)
                n_postings += sum(int(df_of[t]) for t in found)
                plans.append({"qid": info["qid"], "terms": found,
                              "mode": info["mode"]})
        if not plans:
            return _empty_df(spark, _BATCH_SCHEMA)

        buckets = sorted({
            int(b_) for t, b_ in zip(ts["term"], ts["bucket"]) if t in scan_terms
        })
        post_cols = _POSTING_COLS + (["pos_blocks"] if any_phrases else [])
        local = not (include_prefixes or exclude_globs) \
            and self._fits_local(n_postings)

        # ship large plan sets via a broadcast variable instead of the
        # task closure: every task deserializes the closure, so a 10k-query
        # batch's plans+idfs would otherwise be re-shipped per task
        # (VERDICT r3 ask #8)
        if not local and len(plans) >= 512:
            _bc = spark.sparkContext.broadcast((plans, idfs))
            _plans_ref, _idfs_ref = None, None
        else:
            _bc, _plans_ref, _idfs_ref = None, plans, idfs

        def score_segment(pdf: pd.DataFrame, allowed, banned) -> pd.DataFrame:
            if len(pdf) == 0:
                return pd.DataFrame(
                    {"query_id": [], "doc_id": [], "score": []}
                ).astype({"query_id": "int32", "doc_id": "int64",
                          "score": "float64"})
            plans_l, idfs_l = (
                _bc.value if _bc is not None else (_plans_ref, _idfs_ref)
            )
            by_term: dict[str, dict] = {}
            for rec in pdf.to_dict("records"):
                by_term[rec["term"]] = rec
            # decoded-postings cache (VERDICT r4 #3): a term shared by Q
            # plans is decoded ONCE per task instead of Q times. Seed
            # eagerly for multi-use terms so even the block-selective
            # kernels hit it (they then slice instead of re-decode);
            # single-use terms keep their lazy block-skipping decode.
            from collections import Counter as _Counter

            use = _Counter()
            for plan in plans_l:
                if plan["mode"] == "syntax":
                    terms_p = set(plan["must"]) | set(plan["should"]) | set(
                        plan["must_not"])
                else:
                    terms_p = set(plan["terms"])
                use.update(t for t in terms_p if t in by_term)
            cache = _scorer.TermDecodeCache(block_size)
            for t, c in use.items():
                if c >= 2:
                    _scorer._raw_decode(by_term[t], cache)
            out_q, out_d, out_s = [], [], []
            for plan in plans_l:
                if plan["mode"] == "syntax":
                    res = _score_boolean_segment(
                        by_term, plan, idfs_l, avgdl, k1, b, q_k, allowed,
                        block_size, tombstoned=banned, cache=cache,
                    )
                    if res is None:
                        continue
                    ids, scores = res
                else:
                    rows = [by_term[t] for t in plan["terms"] if t in by_term]
                    if not rows:
                        continue
                    if plan["mode"] == "and":
                        if len(rows) < len(plan["terms"]):
                            continue
                        ids, scores = _scorer.score_and(
                            rows, idfs_l, avgdl, k1, b, q_k, allowed, banned,
                            cache=cache,
                        )
                    else:
                        total = sum(int(r["n_docs"]) for r in rows)
                        fn = _pick_or_scorer(q_strategy, total, q_k)
                        ids, scores = fn(rows, idfs_l, avgdl, k1, b, q_k,
                                         allowed, banned, cache=cache)
                out_q.extend([plan["qid"]] * len(ids))
                out_d.extend(ids.tolist())
                out_s.extend(scores.tolist())
            return pd.DataFrame(
                {"query_id": np.array(out_q, dtype=np.int32),
                 "doc_id": np.array(out_d, dtype=np.int64),
                 "score": np.array(out_s, dtype=np.float64)}
            )

        if local:
            return self._finish_local(
                self._seg_local(buckets, sorted(scan_terms), post_cols[1:],
                                score_segment),
                k, key="query_id",
            )

        # SQL-text IN for the term filter: Column.isin builds one py4j
        # literal per term (~1 ms each — minutes at 10k-query batches);
        # the parsed predicate is the same pushed In/InSet filter.
        # Tokenizer output is [a-z0-9]+ but escape defensively.
        terms_sql = ",".join(
            "'" + t.replace("'", "''") + "'" for t in sorted(scan_terms)
        )
        post = (
            self.postings_df
            .where(F.col("bucket").isin(buckets))
            .where(f"term IN ({terms_sql})")
            .select(*self._group_cols(), *post_cols[1:])
        )

        allowed_df = None
        if include_prefixes or exclude_globs:
            from ck_spark.query.scope import path_scope_pred

            allowed_df = (
                self.doc_map_df
                .where(path_scope_pred(F.col("path"), include_prefixes,
                                       exclude_globs))
                .select(*self._scope_cols())
            )
        seg_top = self._seg_grouped(post, score_segment, _BATCH_SCHEMA,
                                    allowed_df)
        w = Window.partitionBy("query_id").orderBy(F.desc("score"), F.asc("doc_id"))
        return (
            seg_top.withColumn("_rn", F.row_number().over(w))
            .where(F.col("_rn") <= q_k)
            .drop("_rn")
            .orderBy("query_id", F.desc("score"), F.asc("doc_id"))
        )

    def search_with_near_miss(
        self, query: str, k: int = SEMANTIC_DEFAULT_TOPK,
        threshold: float = SEMANTIC_DEFAULT_THRESHOLD,
        normalize: bool = True, **kw,
    ) -> tuple[DataFrame, DataFrame]:
        """Thresholded search plus the single best below-threshold result
        (ck's near-miss UX, ck-engine/src/semantic_v3.rs:149,218-222 /
        SURVEY §2.2 F6). Returns (results, near_miss<=1 row)."""
        full = self.search(query, k=k, normalize=normalize, threshold=None, **kw)
        results = full.where(F.col("score") >= F.lit(threshold))
        near = (
            full.where(F.col("score") < F.lit(threshold))
            .orderBy(F.desc("score"), F.asc("doc_id"))
            .limit(1)
        )
        return results, near

    _SEARCH_RESULT_SCHEMA = (
        "doc_id long, repo string, path string, score double, "
        "preview string, byte_start long, byte_end long, "
        "line_start int, line_end int, lang string"
    )

    def fetch_search_results(self, results: DataFrame,
                             full_section: bool = False) -> DataFrame:
        """ck `SearchResult`-shaped enrichment from STORED content (the
        tantivy STORED-field fetch, ck-engine/src/lib.rs:780-818 /
        ck-core/src/lib.rs:227-241): given a top-k result frame
        (doc_id, score), attach preview = first 3 lines (whole content
        under full_section, the --full-section flag), span = whole file
        (bytes 0..len, lines 1..line_count) flattened to byte_start /
        byte_end / line_start / line_end, and lang; ordered by
        (score desc, doc_id).

        Line semantics mirror Rust `str::lines()` exactly: split on \\n,
        a trailing newline TERMINATES the last line (it does not open an
        empty one), a \\r immediately before each \\n is stripped from
        the line (but counts in byte_end), and empty content has zero
        lines. byte_end counts UTF-8 BYTES (octet_length), not chars.

        Scale shape: the ≤k result rows collect driver-side (top-k is
        driver-sized by definition; a driver-scored search is a local
        frame, so this collect runs no Spark job), and their segments
        derive in pure driver arithmetic (seg = pmod(xxhash64(doc_id), S)
        — no doc_map scan). With a content store (index.content_store
        blobs) up to its LOCAL_FETCH_MAX the stored rows are read on the
        driver (pyarrow pointer lookup + k ranged blob reads), and the
        scores, the preview/line projection (query/results.py's Python
        twins of the Column rule) and the result order are computed in
        pandas and returned as one Arrow-built local frame: zero Spark
        jobs and no per-column py4j work. Larger sets read the store
        distributed, join the scores back and project with the Column
        expressions. Without a store the fetch falls back to the
        doc_map parquet with parsed `seg IN (...) AND doc_id IN (...)`
        literals: seg partition pruning still applies, but every row
        group containing a hit is read whole (k hash-spread ids can touch
        most row groups — build the content store to close that).
        Requires a store_content index (v6 default)."""
        if not self.meta.get("store_content"):
            raise ValueError(
                "index was built with store_content=False — stored-content "
                "result fetch needs a rebuild with store_content=True"
            )
        rows = results.select("doc_id", "score").collect()
        if not rows:
            return _empty_df(self.spark, self._SEARCH_RESULT_SCHEMA)
        scores = {int(r["doc_id"]): float(r["score"]) for r in rows}
        ids = sorted(scores)
        n_seg = int(self.meta["n_segments"])
        # segments derive in pure driver arithmetic (functions/xxh.py is
        # bit-identical to the JVM xxhash64-over-BIGINT) — no Spark job;
        # the distributed path's relations stay SQL text, never per-value
        # py4j Column.isin literals (seconds at k~10^3)
        from ck_spark.functions.xxh import seg_of_doc_id

        segs = sorted({seg_of_doc_id(i, n_seg) for i in ids})
        store = self.content_store
        local = store.fetch_pred_local(segs, ids) if store is not None else None
        if local is not None:
            from ck_spark.query.results import preview_py, rust_lines_py

            content = local["content"]
            out = pd.DataFrame({
                "doc_id": local["doc_id"], "repo": local["repo"],
                "path": local["path"], "score": local["doc_id"].map(scores),
                "preview": content.map(lambda s: preview_py(s, full_section)),
                "byte_start": 0,
                "byte_end": content.map(lambda s: len(s.encode("utf-8"))),
                "line_start": 1,
                "line_end": content.map(lambda s: len(rust_lines_py(s))),
                "lang": local["lang"],
            })
            return self.spark.createDataFrame(
                out.sort_values(["score", "doc_id"], ascending=[False, True],
                                kind="stable", ignore_index=True),
                self._SEARCH_RESULT_SCHEMA,
            )
        score_rel = self.spark.sql(
            "SELECT * FROM VALUES "
            + ",".join(f"({i}L, CAST({scores[i]!r} AS DOUBLE))" for i in ids)
            + " AS t(doc_id, score)"
        )
        if store is not None:
            # blob point reads: bytes ∝ the k results
            src = store.fetch_pred(segs, ids)
        else:
            src = self.doc_map_df.where(
                f"seg IN ({','.join(map(str, segs))}) AND "
                f"doc_id IN ({','.join(map(str, ids))})"
            )
        base = src.join(F.broadcast(score_rel), "doc_id")
        from ck_spark.query.results import preview_expr, rust_lines

        out = base.select(
            "doc_id", "repo", "path", "score",
            preview_expr(F.col("content"), full_section).alias("preview"),
            F.lit(0).cast("long").alias("byte_start"),
            F.octet_length("content").cast("long").alias("byte_end"),
            F.lit(1).cast("int").alias("line_start"),
            F.size(rust_lines(F.col("content"))).alias("line_end"),
            "lang",
        )
        return out.orderBy(F.desc("score"), F.asc("doc_id"))

    def _finish_local(self, top: pd.DataFrame | None, k: int,
                      normalize: bool = False, threshold: float | None = None,
                      key: str | None = None) -> DataFrame:
        """_finish for driver-scored rows (None: no rows): the same
        global top-k order, normalization and threshold in pandas. With
        `key` ("query_id", search_many) the top-k is cut per key after a
        sort by (key, score desc, doc_id) — the distributed tier's
        row_number window order. The rows come back already sorted in an
        Arrow-built local DataFrame, which collects without a Spark job
        (an orderBy().limit() over it would cost three)."""
        schema = _RESULT_SCHEMA if key is None else _BATCH_SCHEMA
        if top is not None:
            keys = [] if key is None else [key]
            top = top.sort_values([*keys, "score", "doc_id"],
                                  ascending=[True] * len(keys) + [False, True],
                                  kind="stable")
            k = max(int(k), 0)
            top = top.head(k) if key is None else top.groupby(key).head(k)
            if normalize and len(top):
                top = top.assign(score=top["score"] / top["score"].max())
            if threshold is not None:
                top = top[top["score"] >= threshold]
        if top is None or top.empty:  # an empty pandas frame skips Arrow
            return _empty_df(self.spark, schema)
        return self.spark.createDataFrame(top.reset_index(drop=True), schema)

    def _finish(self, df: DataFrame, k: int, normalize: bool,
                threshold: float | None, with_paths: bool) -> DataFrame:
        # TakeOrderedAndProject: distributed partial top-k + driver merge.
        out = df.orderBy(F.desc("score"), F.asc("doc_id")).limit(k)
        if normalize:
            # max-normalize AFTER top-k, as the reference does (rank-
            # preserving, ck-engine/src/lib.rs:820-843): scores -> (0, 1].
            # scalar agg + broadcast cross-join instead of an unpartitioned
            # window: the ≤k rows never single-partition through WindowExec.
            mx = out.agg(F.max("score").alias("_max_score"))
            out = (
                out.crossJoin(F.broadcast(mx))
                .withColumn("score", F.col("score") / F.col("_max_score"))
                .drop("_max_score")
            )
        if threshold is not None:
            out = out.where(F.col("score") >= F.lit(threshold))
        if with_paths:
            dm = self.doc_map_df.select("doc_id", "repo", "path", "lang")
            # broadcast the ≤k results; doc_map stays a shuffle-free
            # columnar scan on the stream side.
            out = dm.join(F.broadcast(out), "doc_id").orderBy(
                F.desc("score"), F.asc("doc_id")
            )
        return out
