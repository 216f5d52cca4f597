"""Regressions for defects found in code review: AND-mode false positives
from term-missing segments, stale resume across different corpora, empty
segment-group builds, and grep context window size."""

import pandas as pd
import pytest


def _corpus(rows):
    return pd.DataFrame(
        [(f"r{i}", f"p{i}.py", f"c{i}", "python", text) for i, text in enumerate(rows)],
        columns=["repo", "path", "commit", "lang", "content"],
    )


def test_and_mode_requires_all_terms_in_segment(spark, tmp_path):
    from ck_spark.index import build_index
    from ck_spark.query import BM25Index

    # one true conjunctive match + many docs with only one term; with 4
    # doc-hash segments, most segments have no 'zebra' posting row at all
    rows = ["alpha zebra together here"] + [f"alpha only doc {i}" for i in range(40)]
    root = str(tmp_path / "andidx")
    build_index(spark, spark.createDataFrame(_corpus(rows)), root, mode="code",
                n_segments=4, term_buckets=4, build_groups=1)
    idx = BM25Index.load(spark, root)
    got = idx.search("alpha zebra", mode="and", k=50).collect()
    assert len(got) == 1
    batch = idx.search_many([("alpha zebra", "and")], k=50).collect()
    assert len(batch) == 1
    assert batch[0]["doc_id"] == got[0]["doc_id"]


def test_resume_does_not_reuse_stale_corpus(spark, tmp_path):
    from ck_spark.index import build_index
    from ck_spark.query import BM25Index

    root = str(tmp_path / "staleidx")
    build_index(spark, spark.createDataFrame(_corpus(["old words here"] * 3)),
                root, mode="simple", n_segments=2, term_buckets=2,
                build_groups=1, snapshot_id="v1")
    # different corpus, same out_dir, resume on — new snapshot forces rebuild
    build_index(spark, spark.createDataFrame(_corpus(["fresh tokens now"] * 3)),
                root, mode="simple", n_segments=2, term_buckets=2,
                build_groups=1, snapshot_id="v2")
    idx = BM25Index.load(spark, root)
    assert idx.search("fresh", k=5).count() == 3
    assert idx.search("old", k=5).count() == 0


def test_build_with_empty_segment_group(spark, tmp_path):
    from ck_spark.index import build_index
    from ck_spark.query import BM25Index

    # 3 docs, 8 segments, 4 groups -> at least one group has no docs
    root = str(tmp_path / "tinyidx")
    build_index(spark, spark.createDataFrame(_corpus(["a b", "c d", "e f"])),
                root, mode="simple", n_segments=8, term_buckets=4, build_groups=4)
    idx = BM25Index.load(spark, root)
    assert idx.search("a", k=5).count() == 1


def test_update_removing_all_docs_of_affected_segments(spark, tmp_path):
    from ck_spark.index import build_index
    from ck_spark.index.builder import update_index
    from ck_spark.query import BM25Index

    root = str(tmp_path / "rmidx")
    base = _corpus(["kept words", "gone words", "also kept"])
    build_index(spark, spark.createDataFrame(base), root, mode="simple",
                n_segments=8, term_buckets=4, build_groups=1)
    smaller = base[base["content"] != "gone words"]
    stats = update_index(spark, spark.createDataFrame(smaller), root)
    assert stats["removed"] == 1
    idx = BM25Index.load(spark, root)
    assert idx.search("gone", k=5).count() == 0
    assert idx.search("kept", k=5).count() == 2


def test_grep_context_window_exact(spark):
    from ck_spark.query.grep import grep_with_context

    text = "\n".join(f"line{i}" for i in range(1, 31))
    df = spark.createDataFrame(
        [("r", "p", "c", "t", text)], ["repo", "path", "commit", "lang", "content"]
    )
    rows = grep_with_context(df, "^line15$", before=2, after=1).collect()
    assert len(rows) == 1
    assert rows[0]["context"] == ["line13", "line14", "line15", "line16"]


def test_rewrite_update_refreshes_total_tokens(spark, tmp_path):
    """Compaction — the one path that rewrites the whole base — must
    refresh meta['total_tokens']: a later delta update trusts that value
    arithmetically, so a stale one silently corrupts avgdl (and every
    BM25 score after)."""
    from ck_spark.index import build_index
    from ck_spark.index.builder import update_index
    from ck_spark.index.manifest import Manifest
    from ck_spark.query import BM25Index

    rows = [f"alpha beta doc number {i} with words" for i in range(30)]
    root = str(tmp_path / "idx")
    build_index(spark, spark.createDataFrame(_corpus(rows)), root,
                mode="code", n_segments=2, term_buckets=4)
    meta0 = Manifest(root).load_meta()
    assert meta0.get("total_tokens"), "build must persist total_tokens"

    # delta update that changes token totals (longer docs + an add); it
    # supersedes every doc, so the tombstone share makes it compact
    rows2 = [r + " extra tokens appended here" for r in rows] + [
        "brand new document gamma delta"
    ]
    stats = update_index(spark, spark.createDataFrame(_corpus(rows2)), root)
    assert stats.get("compacted") is True
    meta1 = Manifest(root).load_meta()
    assert meta1["gens"] == []
    assert meta1["total_tokens"] != meta0["total_tokens"]

    # delta update on top: avgdl must equal a from-scratch build's
    rows3 = rows2 + ["another fresh doc epsilon zeta eta"]
    update_index(spark, spark.createDataFrame(_corpus(rows3)), root)
    fresh_root = str(tmp_path / "fresh")
    build_index(spark, spark.createDataFrame(_corpus(rows3)), fresh_root,
                mode="code", n_segments=2, term_buckets=4)
    upd = BM25Index.load(spark, root).meta
    ref = BM25Index.load(spark, fresh_root).meta
    assert upd["n_docs"] == ref["n_docs"]
    assert abs(upd["avgdl"] - ref["avgdl"]) < 1e-9
    assert upd["total_tokens"] == ref["total_tokens"]


def test_regex_pagination_total_order_across_repos(spark, tmp_path):
    """Keyset pagination needs a TOTAL order: two repos holding the same
    path with a match on the same line used to tie on (path, line_no) and
    lose/duplicate rows at a page boundary."""
    from ck_spark.service import CkService

    pdf = pd.DataFrame(
        [(f"repo{r}", "src/main.py", f"c{r}", "python",
          "needle one\nfiller\nneedle two\n") for r in range(4)],
        columns=["repo", "path", "commit", "lang", "content"],
    )
    svc = CkService(spark, str(tmp_path / "idx"),
                    corpus=spark.createDataFrame(pdf))
    seen = []
    cursor = None
    while True:
        out = svc.regex_search("needle", cursor=cursor, page_size=1)
        seen.extend((r["repo"], r["path"], r["line_no"])
                    for r in out["results"])
        if not out["pagination"]["has_more"]:
            break
        cursor = out["pagination"]["next_cursor"]
    assert len(seen) == 8  # 4 repos x 2 matching lines, no loss
    assert len(set(seen)) == 8  # and no duplicates


def test_page_size_clamped_to_valid_range(spark, tmp_path):
    """Negative/zero page_size must clamp into the reference's 1..200
    range instead of crashing in limit() or the cursor indexing."""
    from ck_spark.service import CkService

    pdf = _corpus([f"needle doc {i}" for i in range(5)])
    svc = CkService(spark, str(tmp_path / "idx"),
                    corpus=spark.createDataFrame(pdf))
    out = svc.regex_search("needle", page_size=-1)
    assert out["pagination"]["page_size"] == 1
    assert len(out["results"]) == 1
    out = svc.regex_search("needle", page_size=0)
    assert out["pagination"]["returned"] == 5


def test_reindex_with_corpus_bootstraps_fresh_root(spark, tmp_path):
    """reindex(corpus=batch) on a root with no index must build from the
    supplied batch instead of raising 'no corpus to build from'."""
    from ck_spark.service import CkService

    batch = spark.createDataFrame(_corpus(["alpha doc", "beta doc"]))
    svc = CkService(spark, str(tmp_path / "idx"))  # no service corpus
    out = svc.reindex(corpus=batch)
    assert out["summary"] == "reindex complete"
    hits = svc.lexical_search("alpha")["results"]
    assert len(hits) == 1


def test_load_warns_on_compact_marker(spark, tmp_path):
    """BM25Index.load(repair=False) must warn on a compact_inprogress
    marker — mid-compaction base postings may be stale."""
    import warnings

    from ck_spark.index import build_index
    from ck_spark.index.manifest import Manifest
    from ck_spark.query import BM25Index

    root = str(tmp_path / "idx")
    build_index(spark, spark.createDataFrame(_corpus(["alpha", "beta"])),
                root, mode="code", n_segments=2, term_buckets=2)
    Manifest(root).save_marker("compact_inprogress", {"ts": 0})
    with warnings.catch_warnings(record=True) as w:
        warnings.simplefilter("always")
        BM25Index.load(spark, root, repair=False)
    assert any("in-progress compact" in str(x.message) for x in w)
