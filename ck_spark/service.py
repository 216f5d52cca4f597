"""MCP-shaped query service facade (L8).

One module exposing the reference's MCP tool surface
(ck-cli/src/mcp_server.rs:635-935) over the Spark engine:

  lexical_search / regex_search / semantic_search / hybrid_search /
  index_status / reindex / health_check

with the reference's defaults: top_k 10 (DEFAULT_MCP_TOP_K,
mcp_server.rs:33), page_size 50 capped at 200 (paging.py), opaque
"next_cursor" pagination (mcp_server.rs:561-565 — here a KEYSET cursor,
so deep pages stay bounded-memory), and a build-on-first-use index
(L7: auto-index-before-search).

Responses are plain dicts shaped like the reference's structured_content:
{"summary": str, "results": [...], "pagination": {"page_size", "has_more",
"next_cursor", "returned"}} — a thin JSON-RPC layer over these callables
would be protocol-complete; the protocol plumbing itself (stdio framing)
is out of scope per SURVEY §7.
"""

from __future__ import annotations

import os
import time

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ck_spark.constants import (
    SEMANTIC_DEFAULT_THRESHOLD,
)
from ck_spark.index.builder import build_index, update_index
from ck_spark.index.manifest import Manifest
from ck_spark.query.bm25 import BM25Index
from ck_spark.query.grep import grep
from ck_spark.query.paging import DEFAULT_PAGE_SIZE, MAX_PAGE_SIZE
from ck_spark.query.semantic import hybrid_lexical_semantic
from ck_spark.query.semantic import semantic_search as _semantic_search

DEFAULT_MCP_TOP_K = 10  # mcp_server.rs:33


def _decode_cursor(cursor: str | None) -> list | None:
    """Keyset cursor: JSON-encoded order-column values of the last row of
    the previous page. None = first page."""
    if not cursor:
        return None
    import json

    try:
        vals = json.loads(cursor)
        return vals if isinstance(vals, list) else None
    except ValueError:
        return None


def _page(df: DataFrame, order_cols: list[tuple[str, str]],
          cursor: str | None, page_size: int | None) -> dict:
    """Collect one page + has_more/next_cursor via KEYSET pagination.

    order_cols: [(column, 'asc'|'desc'), ...] — must totally order the
    rows (include a unique tiebreaker) with non-null values. The cursor
    encodes the last row's order values; the next page filters
    strictly-after lexicographically and fetches size+1 rows through a
    distributed partial top-k (TakeOrderedAndProject). Bounded driver
    memory (≤ size+1 rows) at ANY cursor depth — the previous offset
    formulation collected offset+size+1 rows at deep cursors."""
    import json

    # clamp to the reference's 1..MAX range — a negative size would
    # otherwise reach df.limit() / window[-1] and blow up
    size = max(1, min(page_size or DEFAULT_PAGE_SIZE, MAX_PAGE_SIZE))
    last = _decode_cursor(cursor)
    sort_exprs = [
        F.desc(c) if d == "desc" else F.asc(c) for c, d in order_cols
    ]
    if last is not None and len(last) == len(order_cols):
        # lexicographic strictly-after predicate over the order columns
        pred = F.lit(False)
        eq = F.lit(True)
        for (c, d), v in zip(order_cols, last):
            col = F.col(c)
            step = (col < F.lit(v)) if d == "desc" else (col > F.lit(v))
            pred = pred | (eq & step)
            eq = eq & (col == F.lit(v))
        df = df.where(pred)
    rows = df.orderBy(*sort_exprs).limit(size + 1).collect()
    window = rows[:size]
    has_more = len(rows) > size
    next_cursor = None
    if has_more:
        next_cursor = json.dumps([window[-1][c] for c, _ in order_cols])
    return {
        "results": [r.asDict(recursive=True) for r in window],
        "pagination": {
            "page_size": size,
            "returned": len(window),
            "has_more": has_more,
            "next_cursor": next_cursor,
        },
    }


class CkService:
    """The ck MCP server analogue: owns an index root + the corpus source,
    builds lazily on first search (L7), answers the six tool calls."""

    def __init__(
        self,
        spark: SparkSession,
        index_root: str,
        corpus: DataFrame | None = None,
        embeddings: DataFrame | None = None,
        mode: str = "code",
        build_opts: dict | None = None,
    ):
        self.spark = spark
        self.root = index_root
        self.corpus = corpus
        self.embeddings = embeddings
        self.mode = mode
        self.build_opts = build_opts or {}
        self._idx: BM25Index | None = None
        self._tri = None  # TrigramIndex | None, lazy

    # -- index lifecycle ----------------------------------------------------

    def _index(self, bootstrap: DataFrame | None = None) -> BM25Index:
        """Auto-index-before-search (L7): build on first use if absent.
        ``bootstrap`` supplies the initial-build corpus when the service
        holds none (reindex(corpus=batch) on a fresh root)."""
        if self._idx is not None:
            return self._idx
        try:
            Manifest(self.root).load_meta()
        except FileNotFoundError:
            src = bootstrap if bootstrap is not None else self.corpus
            if src is None:
                raise RuntimeError("no index at root and no corpus to build from")
            build_index(self.spark, src, self.root, mode=self.mode,
                        **self.build_opts)
        # the service owns its root exclusively -> safe to heal a crashed
        # update at load time
        self._idx = BM25Index.load(self.spark, self.root, repair=True)
        return self._idx

    def index_status(self) -> dict:
        """Tool: index_status — manifest meta + per-stage records
        (mcp_server.rs index status tool / ck --status)."""
        man = Manifest(self.root)
        try:
            meta = man.load_meta()
        except FileNotFoundError:
            return {"exists": False, "root": self.root}
        recs = man.records()
        return {
            "exists": True,
            "root": self.root,
            "meta": meta,
            "stages": [
                {k: r.get(k) for k in ("stage", "partition_id", "rows",
                                       "build_ms", "status", "lineage")}
                for r in recs
            ],
            # the brackets an update can leave open: a compaction swap
            # and the content-store pointer commit after the meta commit
            "update_in_progress": any(
                man.load_marker(m) is not None
                for m in ("compact_inprogress", "cs_refresh_pending")
            ),
        }

    def reindex(self, corpus: DataFrame | None = None,
                full_snapshot: bool = False) -> dict:
        """Tool: reindex — incremental upsert of the given corpus batch
        (or the service's corpus) into the index. A trigram candidate
        index beside the root gets the fresh docs' grams appended by
        update_index itself (stored-content indexes); indexes without
        stored content have it dropped there instead — either way regex
        results can never go silently stale."""
        src = corpus if corpus is not None else self.corpus
        if src is None:
            raise RuntimeError("reindex needs a corpus")
        self._index(bootstrap=src)  # ensure built (fresh root: build from src)
        stats = update_index(self.spark, src, self.root,
                             full_snapshot=full_snapshot)
        self._idx = BM25Index.load(self.spark, self.root, repair=True)  # refresh meta
        self._tri = None  # lazy reload picks up the refreshed index
        return {"summary": "reindex complete", **stats}

    def build_trigram(self) -> dict:
        """Build/rebuild the trigram candidate index (query/trigram.py) so
        regex_search prunes candidates instead of scanning the corpus.
        Stored-content (v6) indexes need no corpus — the grams derive from
        doc_map itself."""
        from ck_spark.query.trigram import TrigramIndex, build_trigram_index

        self._index()  # geometry comes from the BM25 index manifest
        rows = build_trigram_index(self.spark, self.corpus, self.root)
        self._tri = TrigramIndex.load(self.spark, self.root)
        return {"summary": "trigram index built", "rows": rows}

    def build_content_store(self) -> dict:
        """Build/rebuild the point-read blob store (index.content_store)
        so candidate/result content fetches are ranged blob reads instead
        of parquet row-group reads. Needs a stored-content (v6) index —
        the blobs derive from doc_map itself."""
        from ck_spark.index.content_store import build_content_store

        self._index()
        n = build_content_store(self.spark, self.root)
        # cached handles probe the store lazily — force a re-probe
        self._idx = BM25Index.load(self.spark, self.root)
        self._tri = None
        return {"summary": "content store built", "docs": n}

    def _trigram(self):
        if self._tri is None:
            import os

            from ck_spark.query.trigram import (
                TrigramIndex, trigram_index_compatible,
            )

            if trigram_index_compatible(self.root):
                self._tri = TrigramIndex.load(self.spark, self.root)
        return self._tri

    def health_check(self) -> dict:
        return {"status": "healthy", "server": "ck_spark", "protocol": "mcp",
                "root": self.root, "ts": time.time()}

    # -- search tools ---------------------------------------------------------

    def lexical_search(
        self, query: str, top_k: int = DEFAULT_MCP_TOP_K, mode: str = "or",
        cursor: str | None = None, page_size: int | None = None,
        include_prefixes: list[str] | None = None,
        exclude_globs: list[str] | None = None,
        include_snippet: bool | None = None,
        snippet_length: int | None = None,
        rerank: bool = False,
    ) -> dict:
        """include_snippet / snippet_length opt into the reference MCP's
        snippet config (mcp/session.rs:211-222): rows gain the
        SearchResult preview/span columns, truncated or omitted per the
        config. Left at None, the row shape is the classic
        (doc_id, score, path) page.

        rerank=True reruns the fetched top-k through the built-in
        proximity reranker (query/rerank.py — the options.rerank slot,
        ck-engine/src/semantic_v3.rs:230-291) before paging; the boost is
        computed over the FULL stored text, the returned preview still
        honors the snippet config."""
        idx = self._index()
        if rerank or include_snippet is not None or snippet_length is not None:
            res = idx.search(query, k=top_k, mode=mode,
                             include_prefixes=include_prefixes,
                             exclude_globs=exclude_globs)
            enr = idx.fetch_search_results(res, full_section=rerank)
            if rerank:
                from ck_spark.query.rerank import proximity_rerank

                enr = proximity_rerank(
                    enr, query, k=top_k,
                    mode=idx.meta["tokenizer_mode"], text_col="preview")
                from ck_spark.query.results import preview_expr

                enr = enr.withColumn("preview",
                                     preview_expr(F.col("preview")))
            res = _apply_snippet(enr, "preview",
                                 include_snippet is not False, snippet_length)
        else:
            res = idx.search(query, k=top_k, mode=mode, with_paths=True,
                             include_prefixes=include_prefixes,
                             exclude_globs=exclude_globs)
        out = _page(res, [("score", "desc"), ("doc_id", "asc")], cursor, page_size)
        out["summary"] = f"lexical top-{top_k} for {query!r}"
        return out

    def lexical_results(
        self, query: str, top_k: int = DEFAULT_MCP_TOP_K, mode: str = "or",
        full_section: bool = False, jsonl: bool = False,
        no_snippet: bool = False, rerank: bool = False,
    ) -> DataFrame:
        """ck `SearchResult`-shaped lexical search: top-k plus
        stored-content preview/span/lang (candidate-only fetch). With
        jsonl=True, serialized to the --jsonl agent wire format
        (ck-cli/src/main.rs:1988). rerank=True applies the proximity
        reranker over the full stored text (query/rerank.py)."""
        idx = self._index()
        res = idx.search(query, k=top_k, mode=mode)
        out = idx.fetch_search_results(res,
                                       full_section=full_section or rerank)
        if rerank:
            from ck_spark.query.rerank import proximity_rerank

            out = proximity_rerank(out, query, k=top_k,
                                   mode=idx.meta["tokenizer_mode"],
                                   text_col="preview")
            if not full_section:
                from ck_spark.query.results import preview_expr

                out = out.withColumn("preview",
                                     preview_expr(F.col("preview")))
        return results_to_jsonl(out, no_snippet=no_snippet) if jsonl else out

    def _stored_doc(self, path: str):
        """The stored (content, lang) row for one path, or None. A pushed
        path filter over doc_map — single-file introspection, not a hot
        path (the reference reads the file from disk here)."""
        idx = self._index()
        if not idx.meta.get("store_content"):
            raise ValueError(
                "inspect/dump_chunks need a store_content index"
            )
        rows = (
            idx.doc_map_df.where(F.col("path") == F.lit(path))
            .select("content", "lang")
            .limit(1)
            .collect()
        )
        return rows[0] if rows else None

    def inspect(self, path: str, display_limit: int = 10) -> dict:
        """--inspect (ck-cli/src/main.rs:769-871): per-file metadata +
        chunk/token analysis — size, Rust-lines count, token estimate,
        language, symbol-aware chunks with min/max/avg tokens and up to
        `display_limit` per-chunk details (type, name, span, stride,
        preview = first non-empty line's first 80 chars)."""
        from ck_spark.functions.chunker import estimate_tokens
        from ck_spark.functions.symbols import chunk_code

        row = self._stored_doc(path)
        if row is None:
            return {"exists": False, "path": path,
                    "summary": f"{path}: not indexed"}
        content, lang = row["content"] or "", row["lang"]
        lines = content.split("\n")
        if content.endswith("\n"):
            lines = lines[:-1]
        n_lines = 0 if content == "" else len(lines)
        chunks = chunk_code(content, lang)
        toks = [c.estimated_tokens for c in chunks]
        details = []
        for c in chunks[:display_limit]:
            first = next(
                (ln for ln in c.text.split("\n") if ln.strip()), ""
            )[:80]
            d = {"chunk_type": c.chunk_type, "name": c.name,
                 "line_start": c.line_start, "line_end": c.line_end,
                 "tokens": c.estimated_tokens, "preview": first}
            if c.stride_index is not None:
                d["stride"] = f"{c.stride_index + 1}/{c.total_strides}"
            details.append(d)
        return {
            "exists": True,
            "path": path,
            "size_bytes": len(content.encode("utf-8")),
            "lines": n_lines,
            "tokens": estimate_tokens(content),
            "language": lang,
            "chunks": {
                "n": len(chunks),
                "min_tokens": min(toks) if toks else 0,
                "max_tokens": max(toks) if toks else 0,
                "avg_tokens": (sum(toks) / len(toks)) if toks else 0.0,
                "details": details,
            },
            "summary": f"inspect {path}: {len(chunks)} chunks",
        }

    def dump_chunks(self, path: str) -> dict:
        """--dump-chunks: every chunk of one file with its full span and
        text (the embedding units, ck-cli/src/main.rs:333,1515+)."""
        from ck_spark.functions.symbols import chunk_code

        row = self._stored_doc(path)
        if row is None:
            return {"exists": False, "path": path,
                    "summary": f"{path}: not indexed"}
        chunks = chunk_code(row["content"] or "", row["lang"])
        return {
            "exists": True,
            "path": path,
            "chunks": [
                {"chunk_id": c.chunk_id, "chunk_type": c.chunk_type,
                 "name": c.name, "breadcrumb": c.breadcrumb,
                 "byte_start": c.byte_start, "byte_end": c.byte_end,
                 "line_start": c.line_start, "line_end": c.line_end,
                 "tokens": c.estimated_tokens, "text": c.text}
                for c in chunks
            ],
            "summary": f"{path}: {len(chunks)} chunks",
        }

    def _scan_source(self) -> DataFrame:
        """The regex/section scan source. A stored-content (v6) index
        WINS over the caller-held corpus: its live view (base ∪ delta
        generations − tombstones) is always the exact indexed state,
        while the constructor's corpus DataFrame goes stale the moment
        reindex() ingests a different batch — scanning it would silently
        grep removed docs / old versions. The caller corpus remains the
        fallback for content-less indexes (and the build source)."""
        idx = self._index()
        if idx.meta.get("store_content"):
            return idx.doc_map_df
        if self.corpus is not None:
            return self.corpus
        raise RuntimeError(
            "regex search needs a corpus (index has no stored content — "
            "rebuild with store_content=True or pass corpus=)"
        )

    def regex_search(
        self, pattern: str, cursor: str | None = None,
        page_size: int | None = None, full_section: bool = False,
        include_snippet: bool | None = None,
        snippet_length: int | None = None,
        **grep_kw,
    ) -> dict:
        if full_section:
            from ck_spark.query.sections import grep_full_section

            hits = grep_full_section(self._scan_source(), pattern, **grep_kw)
            # (repo, path, line_no) — path alone is not unique across
            # repos, and keyset pagination needs a TOTAL order or rows on
            # a tied page boundary are silently skipped/duplicated
            order = [("repo", "asc"), ("path", "asc"), ("line_no", "asc")]
        else:
            tri = self._trigram()
            if tri is not None:
                # identical results, candidate-pruned scan (test_trigram.py).
                # corpus=None on stored-content indexes: candidate fetch and
                # the SCAN fallback both run over the index's LIVE view,
                # never the constructor's (possibly stale) corpus frame
                _src = (None if self._index().meta.get("store_content")
                        else self.corpus)
                hits = tri.grep(_src, pattern, **grep_kw)
            else:
                hits = grep(self._scan_source(), pattern, **grep_kw)
            order = [("repo", "asc"), ("path", "asc"), ("line_no", "asc")]
        if include_snippet is not None or snippet_length is not None:
            col = "section" if full_section else "line"
            hits = _apply_snippet(hits, col,
                                  include_snippet is not False,
                                  snippet_length)
        out = _page(hits, order, cursor, page_size)
        out["summary"] = f"regex matches for {pattern!r}"
        return out

    def semantic_search(
        self, query_vec: list[float], top_k: int = DEFAULT_MCP_TOP_K,
        threshold: float | None = SEMANTIC_DEFAULT_THRESHOLD,
        cursor: str | None = None, page_size: int | None = None,
    ) -> dict:
        if self.embeddings is None:
            raise RuntimeError("semantic search needs an embeddings table")
        res = _semantic_search(self.embeddings, query_vec, k=top_k,
                               threshold=threshold)
        out = _page(res, [("cosine", "desc"), ("vec_id", "asc")], cursor, page_size)
        out["summary"] = f"semantic top-{top_k}"
        return out

    def hybrid_search(
        self, query: str, query_vec: list[float],
        top_k: int = DEFAULT_MCP_TOP_K,
        cursor: str | None = None, page_size: int | None = None,
    ) -> dict:
        idx = self._index()
        lex = idx.search(query, k=max(top_k * 3, 30))
        if self.embeddings is None:
            raise RuntimeError("hybrid search needs an embeddings table")
        sem = _semantic_search(self.embeddings, query_vec,
                               k=max(top_k * 3, 30), threshold=None)
        fused = hybrid_lexical_semantic(lex, sem, k=top_k)
        out = _page(fused, [("rrf_score", "desc"), ("doc_id", "asc")],
                    cursor, page_size)
        out["summary"] = f"hybrid (RRF k=60) top-{top_k} for {query!r}"
        return out


# reference MCP snippet-config clamps (ck-cli/src/mcp/session.rs:20-29,
# 100-101): page_size 1..200, snippet_length capped at 2000, default 500
MAX_SNIPPET_LENGTH = 2000
DEFAULT_SNIPPET_LENGTH = 500


def _apply_snippet(results: DataFrame, col: str, include_snippet: bool,
                   snippet_length: int | None) -> DataFrame:
    """The reference MCP's per-page snippet pass (mcp/session.rs:211-222):
    truncate the snippet column to snippet_length + '...', or replace it
    with '[snippet omitted]'. Truncation counts CHARACTERS where Rust's
    String::truncate counts bytes — the two only diverge inside a
    multibyte character at the cut point (where the reference would
    panic)."""
    if not include_snippet:
        return results.withColumn(col, F.lit("[snippet omitted]"))
    n = min(int(snippet_length or DEFAULT_SNIPPET_LENGTH),
            MAX_SNIPPET_LENGTH)
    return results.withColumn(
        col,
        F.when(
            F.length(col) > n,
            F.concat(F.substring(col, 1, n), F.lit("...")),
        ).otherwise(F.col(col)),
    )


def results_to_jsonl(results: DataFrame, no_snippet: bool = False) -> DataFrame:
    """Serialize an enriched result frame (BM25Index.fetch_search_results
    shape) to the reference's JSONL agent format: one JSON object per row
    with keys path, span{byte_start,byte_end,line_start,line_end},
    language, snippet, score in serde field order
    (ck-core/src/lib.rs:266-279 JsonlSearchResult; its
    skip_serializing_if=None == to_json's default null dropping).
    no_snippet=True omits the snippet field (--no-snippet,
    ck-cli/src/main.rs:230). Returns a single 'line' STRING column in the
    input's row order."""
    fields = [
        F.col("path"),
        F.struct(
            F.col("byte_start"), F.col("byte_end"),
            F.col("line_start"), F.col("line_end"),
        ).alias("span"),
        F.col("lang").alias("language"),
    ]
    if not no_snippet:
        fields.append(F.col("preview").alias("snippet"))
    fields.append(F.col("score"))
    return results.select(F.to_json(F.struct(*fields)).alias("line"))


# serde's DEFAULT enum representation is the VARIANT name — the --json
# schema serializes Language as "Rust"/"Cpp"/"CSharp" (unlike JSONL, which
# goes through Display and is lowercase). ck-core/src/lib.rs:39-60.
_LANG_VARIANTS = {
    "rust": "Rust", "python": "Python", "javascript": "JavaScript",
    "typescript": "TypeScript", "haskell": "Haskell", "go": "Go",
    "java": "Java", "c": "C", "cpp": "Cpp", "csharp": "CSharp",
    "ruby": "Ruby", "php": "Php", "swift": "Swift", "kotlin": "Kotlin",
    "zig": "Zig", "dart": "Dart", "elixir": "Elixir",
    "markdown": "Markdown", "pdf": "Pdf",
}


def results_to_json(results: DataFrame, model: str = "none") -> DataFrame:
    """Serialize an enriched result frame to the reference's --json v1
    schema (ck-core/src/lib.rs:251-262 JsonSearchResult, emitted at
    ck-cli/src/main.rs:1993-2008): keys file, span, lang, symbol, score,
    signals{lex_rank, vec_rank, rrf_score}, preview, model in serde field
    order. Unlike JSONL, JsonSearchResult has NO skip_serializing_if —
    null lang/symbol/lex_rank/vec_rank serialize as explicit nulls — and
    lang uses serde's default enum representation (the VARIANT name,
    "Rust" not "rust"). The CLI stubs signals as
    {null, null, rrf_score=score} and model as "none"; this mirrors
    that."""
    lang_map = F.create_map(
        *[F.lit(x) for kv in _LANG_VARIANTS.items() for x in kv]
    )
    obj = F.struct(
        F.col("path").alias("file"),
        F.struct(
            F.col("byte_start"), F.col("byte_end"),
            F.col("line_start"), F.col("line_end"),
        ).alias("span"),
        lang_map[F.col("lang")].alias("lang"),
        (F.col("symbol") if "symbol" in results.columns
         else F.lit(None).cast("string")).alias("symbol"),
        F.col("score"),
        F.struct(
            F.lit(None).cast("long").alias("lex_rank"),
            F.lit(None).cast("long").alias("vec_rank"),
            F.col("score").alias("rrf_score"),
        ).alias("signals"),
        F.col("preview"),
        F.lit(model).alias("model"),
    )
    return results.select(
        F.to_json(obj, {"ignoreNullFields": "false"}).alias("line")
    )


def rerank(results: DataFrame, score_fn, k: int,
           text_col: str = "section", score_col: str = "score") -> DataFrame:
    """T5 rerank seam: re-score a result frame with a pluggable scorer
    (the reference's cross-encoder slot, ck-engine/src/semantic_v3.rs:
    230-291 — model inference itself is out of scope), re-sort, re-cut.

    score_fn: pandas Series[str] -> Series[float], run as an Arrow UDF."""

    @F.pandas_udf("double")
    def _score(s: pd.Series) -> pd.Series:
        return score_fn(s).astype(float)

    return (
        results.withColumn(score_col, _score(F.col(text_col)))
        .orderBy(F.desc(score_col))
        .limit(k)
    )
