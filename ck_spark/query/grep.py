"""Grep-compatible regex search over the corpus table.

The rebuild of ck's regex mode (/root/reference/ck-engine/src/lib.rs:387-450
regex_search; 586-727 line scan): line-granular matches with deterministic
(path, line) ordering and top-k truncation (lib.rs:435-449), pattern
preprocessing for fixed-string/whole-word/ignore-case (lib.rs:387-399),
files-with/without-matches set ops (ck-cli/src/main.rs:2010-2019,
1609-1631), and -A/-B/-C context extraction (ck-engine/src/lib.rs:1218-1229).

Spark-first: posexplode(split(content)) + rlike keeps the whole scan in
whole-stage codegen, and no tier matches in Python. Line splitting honors
\\n, \\r\\n and bare \\r like the reference's read_lines_with_endings.

Driver tier (grep_local): when the content rows are already on the
driver (a small trigram-pruned fetch or a small live view), the driver
only splits them into lines (Arrow compute), in Spark's split rule and
already in (path, line_no) order, and hands them over as one Arrow
frame. The match is still the same Spark Column expressions (_verify),
which Spark's ConvertToLocalRelation rule folds into the driver JVM:
java.util.regex, no Spark job, and no sort.
"""

from __future__ import annotations

import re

import pandas as pd
import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

_LINE_SPLIT = "\r\n|\r|\n"

# a pattern that is just literals-or-ed-together ("row|window") — every
# character free of regex metasyntax. For these, `contains` is exactly
# the rlike search semantics at a fraction of the cost (java.util.regex
# has no fast literal path; a contains scan measured ~3x faster on the
# grep bench), so the predicate compiles to an OR of contains.
_LITERAL_PART = re.compile(r"[A-Za-z0-9_ \t%@#\"';:,<>/~`!-]+\Z")


def _literal_alternation(p: str) -> list[str] | None:
    parts = p.split("|")
    if parts and all(_LITERAL_PART.fullmatch(x) for x in parts):
        return parts
    return None


def _match_pred(col, p: str):
    """Predicate equivalent to ``col rlike p`` (search semantics), using
    the literal-contains fast path when the pattern allows it."""
    lit = _literal_alternation(p)
    if lit is None:
        return F.col(col).rlike(p) if isinstance(col, str) else col.rlike(p)
    c = F.col(col) if isinstance(col, str) else col
    pred = None
    for part in lit:
        term = c.contains(part)
        pred = term if pred is None else pred | term
    return pred


def preprocess_pattern(
    pattern: str,
    fixed_string: bool = False,
    whole_word: bool = False,
    ignore_case: bool = False,
) -> str:
    """Mirror ck's pattern preprocessing (ck-engine/src/lib.rs:387-399):
    -F escapes, -w wraps in \\b, -i sets the case-insensitive flag."""
    p = re.escape(pattern) if fixed_string else pattern
    if whole_word:
        p = rf"\b{p}\b"
    if ignore_case:
        p = f"(?i){p}"
    return p


def _lines(corpus: DataFrame) -> DataFrame:
    return corpus.select(
        "repo",
        "path",
        F.posexplode(F.split("content", _LINE_SPLIT)).alias("pos", "line"),
    ).withColumn("line_no", F.col("pos") + 1).drop("pos")


# the (repo, path, content) rows grep_local takes: typed, so an empty
# fetch still has string columns for the Arrow string kernels
DOCS_SCHEMA = pa.schema([("repo", pa.string()), ("path", pa.string()),
                         ("content", pa.string())])


def split_lines_local(docs: pa.Table) -> pa.Table:
    """Driver twin of _lines for (repo, path, content) rows: Spark's
    split(content, _LINE_SPLIT) rule (limit -1, trailing empty lines
    kept, None content gives no lines), 1-based line_no, stable-sorted by
    (path, line_no) — Arrow compares strings as UTF-8 bytes, like Spark,
    and puts null paths first, like Spark's ascending sort.

    The split is Arrow's literal one on "\\n" after every "\\r\\n" and
    then every remaining "\\r" became "\\n": the same separators as the
    regex's leftmost-first scan, because "\\r\\n" occurrences never
    overlap."""
    import numpy as np
    import pyarrow.compute as pc

    content = docs.column("content")
    lists = pc.split_pattern(pc.replace_substring(
        pc.replace_substring(content, "\r\n", "\n"), "\r", "\n"), "\n")
    doc = pc.list_parent_indices(lists)
    n = pc.list_value_length(lists).fill_null(0).to_numpy()
    starts = np.repeat(np.cumsum(n) - n, n)
    out = pa.table({
        "repo": docs.column("repo").take(doc),
        "path": docs.column("path").take(doc),
        "line": pc.list_flatten(lists),
        "line_no": pa.array(np.arange(len(starts)) - starts + 1, pa.int32()),
    })
    order = pc.sort_indices(
        out, sort_keys=[("path", "ascending"), ("line_no", "ascending")],
        null_placement="at_start",
    )
    return out.take(order)


def _verify(lines: DataFrame, pattern: str, p: str, topk: int | None,
            count_matches: bool, presorted: bool = False) -> DataFrame:
    """The match, n_matches and top-k of both grep tiers over a
    (repo, path, line, line_no) frame; ``presorted`` frames arrive in
    (path, line_no) order and skip the global sort."""
    out = lines if pattern == "" else lines.where(_match_pred("line", p))
    if count_matches and pattern != "":
        out = out.withColumn(
            "n_matches", F.size(F.regexp_extract_all("line", F.lit(p), F.lit(0)))
        )
    if not presorted:
        out = out.orderBy("path", "line_no")
    if topk is not None:
        out = out.limit(topk)
    return out


def grep(
    corpus: DataFrame,
    pattern: str,
    fixed_string: bool = False,
    whole_word: bool = False,
    ignore_case: bool = False,
    topk: int | None = None,
    count_matches: bool = False,
) -> DataFrame:
    """Line-granular regex matches, ordered by (path, line_no) —
    deterministic grep-parity ordering (T1). Empty pattern matches every
    line once (grep compat, ck-engine/src/lib.rs:586-727)."""
    p = preprocess_pattern(pattern, fixed_string, whole_word, ignore_case)
    return _verify(_lines(corpus), pattern, p, topk, count_matches)


def grep_local(
    spark: SparkSession,
    docs: pa.Table,
    pattern: str,
    fixed_string: bool = False,
    whole_word: bool = False,
    ignore_case: bool = False,
    topk: int | None = None,
    count_matches: bool = False,
) -> DataFrame:
    """grep() over (repo, path, content) rows already on the driver, with
    the same rows in the same order: the lines arrive sorted in one Arrow
    createDataFrame (a LocalRelation), and the filter, n_matches and
    limit fold into it at optimisation time, so collecting the answer
    runs no Spark job. The caller bounds the rows (they are held on the
    driver twice: as Arrow lines and in the JVM)."""
    p = preprocess_pattern(pattern, fixed_string, whole_word, ignore_case)
    lines = spark.createDataFrame(
        split_lines_local(docs), "repo string, path string, line string, line_no int"
    )
    return _verify(lines, pattern, p, topk, count_matches, presorted=True)


def grep_spans(corpus: DataFrame, pattern: str, **kw) -> DataFrame:
    """Byte-accurate match spans, one row per regex match — the full F1
    semantics (ck-engine/src/lib.rs:586-727: per line, per match, byte
    offsets into the file; the reference regression-tests exact byte_start
    values at lib.rs:1499-1536, mirrored in tests/test_grep.py).

    This path needs per-match byte arithmetic over mixed line endings, so
    it runs as an Arrow-batched pandas UDF (the one grep feature built-ins
    can't express); the plain `grep` stays fully JVM-side."""
    import re as _re

    from pyspark.sql.types import (
        ArrayType, IntegerType, LongType, StringType, StructField, StructType,
    )

    from ck_spark.functions.chunker import split_lines_with_offsets

    p = preprocess_pattern(pattern, **kw)
    rx = _re.compile(p)
    span_t = ArrayType(StructType([
        StructField("line_no", IntegerType()),
        StructField("byte_start", LongType()),
        StructField("byte_end", LongType()),
        StructField("match", StringType()),
    ]))

    @F.pandas_udf(span_t)
    def find_spans(s: pd.Series) -> pd.Series:
        def one(text):
            out = []
            if not text:
                return out
            for ln, (b0, _b1, line) in enumerate(split_lines_with_offsets(text), 1):
                for m in rx.finditer(line):
                    # byte offset of the match inside the line (utf-8)
                    pre = len(line[: m.start()].encode("utf-8"))
                    mb = len(m.group(0).encode("utf-8"))
                    out.append(
                        {"line_no": ln, "byte_start": b0 + pre,
                         "byte_end": b0 + pre + mb, "match": m.group(0)}
                    )
            return out

        return s.map(one)

    return (
        corpus.select("repo", "path", F.explode(find_spans("content")).alias("m"))
        .select("repo", "path", "m.*")
        .orderBy("path", "line_no", "byte_start")
    )


def grep_results(
    corpus: DataFrame,
    pattern: str,
    before: int = 0,
    after: int = 0,
    fixed_string: bool = False,
    whole_word: bool = False,
    ignore_case: bool = False,
) -> DataFrame:
    """ck `SearchResult`-shaped regex mode (the F1 output contract,
    ck-engine/src/lib.rs:490-583): one row PER MATCH with span = the
    match's byte range in the file, line_start = line_end = the match's
    line, score = 1.0, and preview = the matched line — widened to the
    [line-before, line+after] window under -A/-B/-C
    (get_context_preview, lib.rs:1218-1229; out-of-range context simply
    truncates). An empty pattern emits one row per line with the LINE's
    byte span (grep compatibility, lib.rs:506-538). Line boundaries and
    byte offsets follow split_lines_with_offsets (\\n, \\r\\n and bare
    \\r endings, byte-exact); previews never include line endings.

    Output matches BM25Index.fetch_search_results minus doc_id, so
    service.results_to_jsonl serializes it unchanged — the reference's
    one-result-type-for-every-mode design. Ordered by
    (path, line_start, byte_start): the reference's (file, line_start)
    sort (lib.rs:430-444) plus a deterministic within-line tiebreak."""
    import re as _re

    from pyspark.sql.types import (
        ArrayType, IntegerType, LongType, StringType, StructField, StructType,
    )

    from ck_spark.functions.chunker import split_lines_with_offsets

    p = preprocess_pattern(pattern, fixed_string, whole_word, ignore_case)
    rx = _re.compile(p)
    is_empty_pat = pattern == ""
    b_ctx, a_ctx = int(before), int(after)
    hit_t = ArrayType(StructType([
        StructField("line_no", IntegerType()),
        StructField("byte_start", LongType()),
        StructField("byte_end", LongType()),
        StructField("preview", StringType()),
    ]))

    @F.pandas_udf(hit_t)
    def find_hits(s: pd.Series) -> pd.Series:
        def one(text):
            out = []
            if not text:
                return out
            lines = split_lines_with_offsets(text)
            texts = [ln for _, _, ln in lines]

            def ctx(i):
                if b_ctx or a_ctx:
                    lo = max(0, i - b_ctx)
                    hi = min(len(texts), i + a_ctx + 1)
                    return "\n".join(texts[lo:hi])
                return texts[i]

            for i, (b0, _b1, line) in enumerate(lines):
                if is_empty_pat:
                    out.append({
                        "line_no": i + 1, "byte_start": b0,
                        "byte_end": b0 + len(line.encode("utf-8")),
                        "preview": ctx(i),
                    })
                    continue
                for m in rx.finditer(line):
                    pre = len(line[: m.start()].encode("utf-8"))
                    mb = len(m.group(0).encode("utf-8"))
                    out.append({
                        "line_no": i + 1, "byte_start": b0 + pre,
                        "byte_end": b0 + pre + mb, "preview": ctx(i),
                    })
            return out

        return s.map(one)

    return (
        corpus.select("repo", "path", "lang",
                      F.explode(find_hits("content")).alias("m"))
        .select(
            "repo", "path",
            F.lit(1.0).alias("score"),
            F.col("m.preview").alias("preview"),
            F.col("m.byte_start").alias("byte_start"),
            F.col("m.byte_end").alias("byte_end"),
            F.col("m.line_no").alias("line_start"),
            F.col("m.line_no").alias("line_end"),
            "lang",
        )
        .orderBy("path", "line_start", "byte_start")
    )


def grep_with_context(
    corpus: DataFrame,
    pattern: str,
    before: int = 0,
    after: int = 0,
    **kw,
) -> DataFrame:
    """-A/-B/-C context: slice of the split lines array around each match
    (ck-engine/src/lib.rs:1218-1229 analogue)."""
    p = preprocess_pattern(pattern, **kw)
    withlines = corpus.withColumn("lines", F.split("content", _LINE_SPLIT))
    hits = withlines.select(
        "repo", "path", "lines",
        F.posexplode("lines").alias("pos", "line"),
    ).where(_match_pred("line", p))
    start = F.greatest(F.lit(1), F.col("pos") + 1 - before)
    # window spans [start, match_line + after]
    length = F.least(
        F.size("lines") - start + 1, F.lit(after + 1) + F.col("pos") + 1 - start
    )
    return (
        hits.withColumn("line_no", F.col("pos") + 1)
        .withColumn("context", F.slice("lines", start, length))
        .select("repo", "path", "line_no", "line", "context")
        .orderBy("path", "line_no")
    )


def files_with_matches(corpus: DataFrame, pattern: str, **kw) -> DataFrame:
    """-l: distinct paths containing >=1 match (U1)."""
    p = preprocess_pattern(pattern, **kw)
    return (
        corpus.where(_match_pred("content", p))
        .select("repo", "path")
        .distinct()
        .orderBy("repo", "path")
    )


def files_without_matches(corpus: DataFrame, pattern: str, **kw) -> DataFrame:
    """-L: all paths MINUS matched paths (U2) — left-anti join, no shuffle
    of content."""
    p = preprocess_pattern(pattern, **kw)
    matched = corpus.where(_match_pred("content", p)).select("repo", "path")
    return (
        corpus.select("repo", "path")
        .join(matched, ["repo", "path"], "left_anti")
        .orderBy("repo", "path")
    )
