import re

import pytest

from ck_spark.corpus import generate_corpus
from ck_spark.query.grep import (
    files_with_matches,
    files_without_matches,
    grep,
    grep_with_context,
    preprocess_pattern,
)


@pytest.fixture(scope="module")
def corpus(spark):
    pdf = generate_corpus(120, seed=42)
    return spark.createDataFrame(pdf), pdf


def _oracle_grep(pdf, pattern):
    """Line-granular python-re oracle honoring \\n, \\r\\n, bare \\r."""
    out = []
    rx = re.compile(pattern)
    for r in pdf.itertuples():
        for i, line in enumerate(re.split("\r\n|\r|\n", r.content), start=1):
            if rx.search(line):
                out.append((r.path, i, line))
    out.sort(key=lambda t: (t[0], t[1]))
    return out


@pytest.mark.parametrize("pattern", [r"def \w+_\w+", r"return", r"marker \w+"])
def test_grep_matches_python_re(spark, corpus, pattern):
    df, pdf = corpus
    got = [(r["path"], r["line_no"], r["line"]) for r in grep(df, pattern).collect()]
    assert got == _oracle_grep(pdf, pattern)


def test_crlf_and_bare_cr_line_numbers(spark, corpus):
    df, pdf = corpus
    got = grep(df, "crlf_func").collect()
    assert len(got) == 1
    assert got[0]["line_no"] == 1
    # the CRLF doc's `return` is on line 2, not line 1
    ret = [r for r in grep(df, "return a$").collect() if r["path"] == "edge/crlf.py"]
    assert ret and ret[0]["line_no"] == 2


def test_pattern_preprocessing():
    assert preprocess_pattern("log.Error()", fixed_string=True) == re.escape("log.Error()")
    assert preprocess_pattern("rust", whole_word=True) == r"\brust\b"
    assert preprocess_pattern("RuSt", ignore_case=True) == "(?i)RuSt"
    # fixed-string actually disables metacharacters
    from ck_spark.corpus import generate_corpus  # noqa: F401


def test_fixed_string_vs_regex(spark, corpus):
    df, pdf = corpus
    # '.' as regex matches everything; as fixed string only literal dots
    n_regex = grep(df, "a.c").count()
    n_fixed = grep(df, "a.c", fixed_string=True).count()
    assert n_fixed <= n_regex


def test_whole_word(spark, corpus):
    df, pdf = corpus
    whole = {(r["path"], r["line_no"]) for r in grep(df, "def", whole_word=True).collect()}
    got_oracle = {(p, i) for p, i, _ in _oracle_grep(pdf, r"\bdef\b")}
    assert whole == got_oracle


def test_topk_deterministic_order(spark, corpus):
    df, _ = corpus
    top = grep(df, "return", topk=7).collect()
    assert len(top) == 7
    keys = [(r["path"], r["line_no"]) for r in top]
    assert keys == sorted(keys)


def test_empty_pattern_matches_all_lines(spark, corpus):
    df, pdf = corpus
    n_lines = sum(len(re.split("\r\n|\r|\n", r.content)) for r in pdf.itertuples())
    assert grep(df, "").count() == n_lines


def test_files_with_without_partition(spark, corpus):
    df, pdf = corpus
    w = {r["path"] for r in files_with_matches(df, "return").collect()}
    wo = {r["path"] for r in files_without_matches(df, "return").collect()}
    assert w | wo == set(pdf["path"])
    assert not (w & wo)
    assert "edge/empty.py" in wo


def test_context_lines(spark, corpus):
    df, pdf = corpus
    rows = grep_with_context(df, r"marker \w+", before=2, after=1).collect()
    assert rows
    for r in rows:
        assert r["line"] in r["context"]
        assert len(r["context"]) <= 4


def test_grep_spans_byte_exact(spark):
    from ck_spark.query.grep import grep_spans

    # mirrors the reference's exact-byte-offset regression
    # (ck-engine/src/lib.rs:1499-1536: asserts byte_start 0/5/10/24)
    rows = [
        ("r", "a.txt", "c", "text", "test\ntest2\nanother test here\n"),
        ("r", "b.txt", "c", "text", "héllo test\r\ntest\r\n"),  # utf-8 + CRLF
    ]
    df = spark.createDataFrame(rows, ["repo", "path", "commit", "lang", "content"])
    got = [(r["path"], r["line_no"], r["byte_start"], r["byte_end"])
           for r in grep_spans(df, "test").collect()]
    assert got == [
        ("a.txt", 1, 0, 4),
        ("a.txt", 2, 5, 9),
        ("a.txt", 3, 19, 23),
        ("b.txt", 1, 7, 11),   # 'héllo ' = 7 bytes (é is 2)
        ("b.txt", 2, 13, 17),  # after 'héllo test\r\n' = 13 bytes
    ]
    # the spans decode back to the matched text from raw bytes
    raw = {p: c.encode("utf-8") for _, p, _, _, c in rows}
    for r in grep_spans(df, "test").collect():
        assert raw[r["path"]][r["byte_start"]:r["byte_end"]].decode() == r["match"]


def test_grep_spans_multiple_per_line(spark):
    from ck_spark.query.grep import grep_spans

    df = spark.createDataFrame(
        [("r", "x", "c", "t", "aXbXc\n")], ["repo", "path", "commit", "lang", "content"]
    )
    got = grep_spans(df, "X").collect()
    assert [(r["byte_start"], r["byte_end"]) for r in got] == [(1, 2), (3, 4)]


def test_count_matches(spark, corpus):
    df, _ = corpus
    rows = grep(df, "a", count_matches=True).limit(20).collect()
    for r in rows:
        assert r["n_matches"] == len(re.findall("a", r["line"]))


# ---------------------------------------------------------------------------
# grep_results: ck SearchResult-shaped regex mode (per-match spans, context
# previews, score 1.0) — ck-engine/src/lib.rs:490-583
# ---------------------------------------------------------------------------

@pytest.fixture(scope="module")
def result_corpus(spark):
    docs = [
        ("r", "multi.py", "c", "python", "aXbXc\nplain\nX at end X"),
        ("r", "crlf.go", "c", "go", "one X\r\ntwo\r\nthree X\r\n"),
        ("r", "uni.rs", "c", "rust", "héllo X\nsecond ✓ X\n"),
        ("r", "none.md", "c", "markdown", "nothing here\n"),
        ("r", "empty.txt", "c", None, ""),
    ]
    return spark.createDataFrame(
        docs, "repo string, path string, commit string, lang string, content string"
    )


def test_grep_results_per_match_spans(result_corpus):
    from ck_spark.query.grep import grep_results

    rows = grep_results(result_corpus, "X", fixed_string=True).collect()
    by_path = {}
    for r in rows:
        by_path.setdefault(r["path"], []).append(r)
    # multi.py line 1 'aXbXc': matches at bytes 1 and 3; line 3 at 0 and 9
    m = [(r["line_start"], r["byte_start"], r["byte_end"]) for r in by_path["multi.py"]]
    assert m == [(1, 1, 2), (1, 3, 4), (3, 12, 13), (3, 21, 22)]
    # crlf.go: line 1 'one X' -> X at byte 4; line 3 starts at 7+5? no:
    # 'one X\r\n' = 7 bytes, 'two\r\n' = 5 -> line 3 base 12, X at +6
    c = [(r["line_start"], r["byte_start"]) for r in by_path["crlf.go"]]
    assert c == [(1, 4), (3, 18)]
    # unicode: 'héllo ' is 7 bytes (é=2)
    u = [(r["line_start"], r["byte_start"], r["byte_end"]) for r in by_path["uni.rs"]]
    assert u[0] == (1, 7, 8)
    # 'second ✓ X': base 9 (line1 8+\n), ✓ is 3 bytes -> 'second ✓ ' = 11
    assert u[1] == (2, 9 + 11, 9 + 12)
    assert "none.md" not in by_path and "empty.txt" not in by_path
    for r in rows:
        assert r["score"] == 1.0
        assert r["line_end"] == r["line_start"]
        # previews carry the line, no endings
        assert "\r" not in r["preview"] and "\n" not in r["preview"]


def test_grep_results_context_preview_truncates(result_corpus):
    from ck_spark.query.grep import grep_results

    rows = grep_results(result_corpus, "X", fixed_string=True,
                        before=1, after=1).collect()
    prev = {(r["path"], r["line_start"], r["byte_start"]): r["preview"] for r in rows}
    # first line: no before-context available
    assert prev[("multi.py", 1, 1)] == "aXbXc\nplain"
    # last line: no after-context
    assert prev[("multi.py", 3, 12)] == "plain\nX at end X"
    # middle line of crlf.go from line-1 match: after-context only reaches line 2
    assert prev[("crlf.go", 1, 4)] == "one X\ntwo"
    assert prev[("crlf.go", 3, 18)] == "two\nthree X"


def test_grep_results_empty_pattern_line_spans(result_corpus):
    from ck_spark.query.grep import grep_results

    rows = [r for r in grep_results(result_corpus, "").collect()
            if r["path"] == "crlf.go"]
    # one row per line, span = the line WITHOUT its ending
    assert [(r["line_start"], r["byte_start"], r["byte_end"]) for r in rows] == [
        (1, 0, 5), (2, 7, 10), (3, 12, 19)
    ]


def test_grep_results_feeds_jsonl(result_corpus):
    import json

    from ck_spark.query.grep import grep_results
    from ck_spark.service import results_to_jsonl

    rows = grep_results(result_corpus, "X", fixed_string=True)
    objs = [json.loads(r["line"]) for r in results_to_jsonl(rows).collect()]
    assert objs and all(
        list(o) == ["path", "span", "language", "snippet", "score"] for o in objs
    )
    assert {o["language"] for o in objs} == {"python", "go", "rust"}


# (path, content): every line-ending edge of Spark's split rule; U+2028
# and U+0085 are line breaks to Python's str.splitlines but not to it.
# The paths' code points order differently as UTF-16 (U+1D11E first) than
# as UTF-8 bytes (U+FF5E first); Spark sorts by the bytes.
_SPLIT_EDGES = [
    ("a_empty", ""),
    ("b_lf", "\n"),
    ("c_trailing_lf", "one\ntwo\n"),
    ("d_crlf", "one\r\ntwo"),
    ("e_bare_cr", "one\rtwo\r"),
    ("f_cr_crlf", "a\r\r\nb"),
    ("g_lf_lf", "\n\n"),
    ("h_u2028", "one\u2028two"),
    ("i_nel", "one\u0085two"),
    ("j_multibyte", "héllo ✓\n日本語 𝄞\r\nend"),
    ("k_none", None),
    ("p\uff5e", "full-width\nline"),
    ("p\U0001d11e", "clef\nline"),
    (None, "null path\nfirst"),
]


def test_split_lines_local_equals_spark_split(spark):
    """The driver tier's line split (grep.split_lines_local) against
    Spark's posexplode(split(content, _LINE_SPLIT)) in (path, line_no)
    order: the same lines, line numbers and order, None content giving no
    lines and a null path sorting first."""
    import pyarrow as pa

    from ck_spark.query.grep import _lines, split_lines_local

    docs = pa.table({
        "repo": ["r"] * len(_SPLIT_EDGES),
        "path": [p for p, _ in _SPLIT_EDGES],
        "content": [c for _, c in _SPLIT_EDGES],
    })
    want = [tuple(r) for r in _lines(spark.createDataFrame(
        docs.to_pandas(), "repo string, path string, content string",
    )).orderBy("path", "line_no").collect()]
    got = [(r["repo"], r["path"], r["line"], r["line_no"])
           for r in split_lines_local(docs).to_pylist()]
    assert got == want
    assert ("r", "f_cr_crlf", "", 2) in got and ("r", "b_lf", "", 2) in got
    assert ("r", "h_u2028", "one\u2028two", 1) in got
    assert all(p != "k_none" for _, p, _, _ in got)
    assert got[0][1] is None
