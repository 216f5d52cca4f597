"""Trigram-accelerated grep: analyzer soundness + index-vs-scan identity.

The invariant under test: grep_indexed over (corpus, trigram index) is
ROW-IDENTICAL to the full-scan grep for every pattern — the index only
prunes candidates, never decides matches."""

from __future__ import annotations

import re
import tempfile

import pytest

from ck_spark.corpus import generate_corpus
from ck_spark.query.trigram import (
    MAX_QUERY_TRIGRAMS,
    build_trigram_index,
    grep_indexed,
    required_trigrams,
)


def _tg(s: str) -> list[str]:
    return sorted({s[i : i + 3] for i in range(len(s) - 2)})


# ---------------------------------------------------------------------------
# analyzer (pure python)
# ---------------------------------------------------------------------------


def test_literal_pattern_yields_its_trigrams():
    assert required_trigrams("parse_buffer") == _tg("parse_buffer")


def test_concat_across_wildcard_requires_both_sides():
    got = set(required_trigrams("parse.*buffer"))
    assert set(_tg("parse")) <= got and set(_tg("buffer")) <= got


def test_unanchorable_patterns_yield_nothing():
    for pat in [".*", "[abc]+", r"\w+\s\d", "a|bcd", "..", "x?y?z?"]:
        assert required_trigrams(pat) == []


def test_alternation_keeps_only_common_trigrams():
    assert required_trigrams("abcde|xbcdz") == ["bcd"]


def test_optional_group_not_required():
    assert required_trigrams("(?:skipme)?abc") == ["abc"]


def test_repeat_min_one_required():
    assert "abc" in required_trigrams("(?:abc){1,5}")
    assert required_trigrams("(?:abc){0,5}") == []


def test_cap_is_enforced_and_subset_of_full():
    long = "abcdefghijklmnopqrstuvwxyz0123456789"
    got = required_trigrams(long)
    assert len(got) <= MAX_QUERY_TRIGRAMS
    assert set(got) <= set(_tg(long))


def test_invalid_regex_falls_back_to_empty():
    assert required_trigrams("a(b") == []


@pytest.mark.parametrize(
    "pat,text",
    [
        ("parse.*buffer", "xx parse the big buffer yy"),
        ("(?i)GetUserName", "call GETUSERNAME now"),
        (r"fn\s+main\(", "fn  main()"),
        (r"def\s+\w+\(self", "def foo(self):"),
        ("abcde|xbcdz", "qqxbcdzqq"),
        (r"\bword\b", "a word here"),
        (r"(?=hello)hello world", "say hello world"),
        ("(?>atomic)x", "an atomicx thing"),
    ],
)
def test_required_trigrams_are_necessary(pat, text):
    """Every extracted trigram must appear in lower(text) whenever the
    pattern matches text — the pruning-soundness contract."""
    assert re.search(pat, text)
    low = text.lower()
    for g in required_trigrams(pat):
        assert g in low, (pat, g)


# ---------------------------------------------------------------------------
# spark: index == scan
# ---------------------------------------------------------------------------


@pytest.fixture(scope="module")
def indexed(spark):
    from ck_spark.index.builder import build_index

    pdf = generate_corpus(150, seed=42)
    corpus = spark.createDataFrame(pdf)
    root = tempfile.mkdtemp(prefix="ck_trigram_")
    build_index(spark, corpus, root, mode="code", n_segments=4,
                term_buckets=8, resume=False)
    n_rows = build_trigram_index(spark, corpus, root)
    assert n_rows > 0
    return corpus, root


GREP_MATRIX = [
    dict(pattern="def "),                          # common literal
    dict(pattern=r"return\s+\w+"),                 # literal + class tail
    dict(pattern="zzzz_no_such_literal_zzzz"),     # zero candidates
    dict(pattern=r"for\s.*\sin\s"),                # short literals only -> scan
    dict(pattern="IMPORT", ignore_case=True),      # case-insensitive
    dict(pattern="a(b", fixed_string=True),        # -F escapes regex chars
    dict(pattern="return", whole_word=True),       # -w wrapping
    dict(pattern="return|import"),                 # alternation: 2 DNF clauses
    dict(pattern=r"(def|class) \w+"),              # alternation ANDed with tail
    dict(pattern="zzzznope_zz|import"),            # one clause EMPTY, one live
    dict(pattern="zzzznope_zz|qqqqnope_qq"),       # all clauses EMPTY
]


@pytest.mark.parametrize("case", GREP_MATRIX, ids=lambda c: c["pattern"])
def test_grep_indexed_identical_to_scan(spark, indexed, case):
    from ck_spark.query.grep import grep

    corpus, root = indexed
    scan = grep(corpus, **case).collect()
    key = lambda r: (r["path"], r["line_no"])
    # caller-corpus path AND corpus-free stored-content path (v6)
    for src in (corpus, None):
        fast = grep_indexed(spark, src, root, **case).collect()
        assert sorted(map(key, fast)) == sorted(map(key, scan))
        assert len(fast) == len(scan)


def test_grep_indexed_count_and_topk_modes(spark, indexed):
    from ck_spark.query.grep import grep

    corpus, root = indexed
    scan = grep(corpus, "def ", count_matches=True).collect()
    fast = grep_indexed(spark, corpus, root, "def ", count_matches=True).collect()
    assert sorted((r["path"], r["n_matches"]) for r in fast) == sorted(
        (r["path"], r["n_matches"]) for r in scan
    )
    top = grep_indexed(spark, corpus, root, "def ", topk=7).collect()
    assert [
        (r["path"], r["line_no"]) for r in top
    ] == sorted((r["path"], r["line_no"]) for r in grep(corpus, "def ").collect())[:7]


def test_candidate_set_is_superset_of_matches(spark, indexed):
    """Direct soundness probe at the candidate level."""
    from ck_spark.index.builder import doc_id_expr
    from ck_spark.index.manifest import Manifest
    from ck_spark.query.grep import files_with_matches
    from ck_spark.query.trigram import trigram_candidates

    corpus, root = indexed
    pat = r"return\s+\w+"
    cands = trigram_candidates(
        spark, root, required_trigrams(pat),
        int(Manifest(root).load_meta()["term_buckets"]),
    )
    cand_paths = {
        r["path"]
        for r in corpus.withColumn("doc_id", doc_id_expr())
        .join(cands, "doc_id").select("path").collect()
    }
    match_paths = {r["path"] for r in files_with_matches(corpus, pat).collect()}
    assert match_paths <= cand_paths


def test_update_index_refreshes_trigram_segments(spark, tmp_path):
    """Incremental update must leave the trigram index CORRECT without a
    full rebuild: an LSM-style delta append covering only the added/
    modified docs (sound because the index is a candidate
    over-approximation — stale entries of changed docs are dropped by the
    doc_map fetch and regex verify; only MISSING entries would be a bug).
    New content starts matching, untouched segment partitions keep their
    files byte-identical, and grep_indexed stays row-identical to the
    full scan."""
    import os

    from ck_spark.index.builder import build_index, update_index
    from ck_spark.query.grep import grep
    from ck_spark.query.trigram import (
        TRIGRAM_DIR, _read_trigram_marker, trigram_index_exists,
    )

    pdf = generate_corpus(40, seed=3)
    corpus = spark.createDataFrame(pdf)
    root = str(tmp_path / "idx")
    build_index(spark, corpus, root, mode="code", n_segments=4,
                term_buckets=4, resume=False)
    build_trigram_index(spark, corpus, root)
    assert trigram_index_exists(root)

    # record per-seg partition mtimes to prove untouched segs stay as-is
    tri_dir = os.path.join(root, TRIGRAM_DIR)
    def seg_mtimes():
        out = {}
        for d in os.listdir(tri_dir):
            if d.startswith("seg="):
                p = os.path.join(tri_dir, d)
                out[d] = max(
                    os.path.getmtime(os.path.join(dp, f))
                    for dp, _, fs in os.walk(p) for f in fs
                )
        return out
    before = seg_mtimes()

    pdf2 = pdf.copy()
    pdf2.loc[pdf2.index[:5], "content"] = (
        pdf2.loc[pdf2.index[:5], "content"] + "\nzephyr_gadget_marker()\n"
    )
    corpus2 = spark.createDataFrame(pdf2)
    stats = update_index(spark, corpus2, root)
    affected = set(stats["affected_segments"])
    assert affected and len(affected) < 4  # partial update, not all segs

    # still complete, and untouched seg partitions were not rewritten
    assert trigram_index_exists(root)
    after = seg_mtimes()
    untouched = [d for d in before if int(d.split("=")[1]) not in affected]
    assert untouched and all(before[d] == after[d] for d in untouched)

    # delta accounting recorded in the marker
    marker = _read_trigram_marker(root)
    assert marker.get("delta_docs", 0) > 0

    # correctness: indexed grep == full scan on the UPDATED corpus, and
    # the new literal is found (stale candidates would miss it)
    key = lambda r: (r["path"], r["line_no"])
    for pat in ["zephyr_gadget_marker", "def "]:
        scan = grep(corpus2, pat).collect()
        fast = grep_indexed(spark, corpus2, root, pat).collect()
        assert sorted(map(key, fast)) == sorted(map(key, scan)), pat
    assert grep_indexed(spark, None, root, "zephyr_gadget_marker").count() == 5


def test_trigram_delta_compaction(spark, tmp_path, monkeypatch):
    """Accumulated delta appends trigger a compaction (full rebuild from
    doc_map) once the delta fraction passes the threshold; results stay
    identical and the delta counter resets."""
    import ck_spark.query.trigram as tri_mod
    from ck_spark.index.builder import build_index, update_index
    from ck_spark.query.grep import grep
    from ck_spark.query.trigram import _read_trigram_marker

    pdf = generate_corpus(40, seed=5)
    corpus = spark.createDataFrame(pdf)
    root = str(tmp_path / "idx")
    build_index(spark, corpus, root, mode="code", n_segments=2,
                term_buckets=4, resume=False)
    build_trigram_index(spark, corpus, root)
    monkeypatch.setattr(tri_mod, "DELTA_COMPACT_FRACTION", 0.01)
    pdf2 = pdf.copy()
    pdf2.loc[pdf2.index[:8], "content"] = (
        pdf2.loc[pdf2.index[:8], "content"] + "\ncompaction_probe_token\n"
    )
    corpus2 = spark.createDataFrame(pdf2)
    update_index(spark, corpus2, root)
    marker = _read_trigram_marker(root)
    assert marker.get("delta_docs") == 0  # compacted back to pure base
    key = lambda r: (r["path"], r["line_no"])
    scan = grep(corpus2, "compaction_probe_token").collect()
    fast = grep_indexed(spark, None, root, "compaction_probe_token").collect()
    assert sorted(map(key, fast)) == sorted(map(key, scan)) and len(scan) == 8


def test_update_index_drops_trigrams_without_stored_content(spark, tmp_path):
    """Legacy store_content=False indexes can't refresh segment-locally —
    the update must DROP the trigram dir rather than leave it stale."""
    import os

    from ck_spark.index.builder import build_index, update_index
    from ck_spark.query.trigram import TRIGRAM_DIR

    pdf = generate_corpus(30, seed=7)
    corpus = spark.createDataFrame(pdf)
    root = str(tmp_path / "idx")
    build_index(spark, corpus, root, mode="code", n_segments=2,
                term_buckets=4, resume=False, store_content=False)
    build_trigram_index(spark, corpus, root)
    pdf2 = pdf.copy()
    pdf2.loc[pdf2.index[:3], "content"] = pdf2.loc[pdf2.index[:3], "content"] + " changed"
    update_index(spark, spark.createDataFrame(pdf2), root)
    assert not os.path.exists(os.path.join(root, TRIGRAM_DIR))


def test_grep_indexed_includes_binary_nul_docs(spark, tmp_path):
    """Binary (NUL-containing) docs are excluded from the trigram index
    but must still be GREPPED (the full scan has no binary filter): the
    indexed path unions them back unpruned, keeping exact row identity."""
    import pandas as pd

    from ck_spark.index.builder import build_index
    from ck_spark.query.grep import grep

    pdf = generate_corpus(20, seed=11)
    extra = pd.DataFrame([
        {"repo": "r0", "path": "bin/blob.dat", "commit": "c0", "lang": "bin",
         "content": "prefix\x00middle needle_in_binary tail\nneedle_in_binary again"},
        {"repo": "r0", "path": "src/plain.py", "commit": "c0", "lang": "python",
         "content": "needle_in_binary appears in text too\n"},
    ])
    pdf = pd.concat([pdf, extra], ignore_index=True)
    corpus = spark.createDataFrame(pdf)
    root = str(tmp_path / "idx")
    build_index(spark, corpus, root, mode="code", n_segments=2,
                term_buckets=4, resume=False)
    build_trigram_index(spark, corpus, root)

    key = lambda r: (r["path"], r["line_no"])
    scan = grep(corpus, "needle_in_binary").collect()
    assert {r["path"] for r in scan} == {"bin/blob.dat", "src/plain.py"}
    for src in (corpus, None):  # caller corpus and stored-content paths
        fast = grep_indexed(spark, src, root, "needle_in_binary").collect()
        assert sorted(map(key, fast)) == sorted(map(key, scan))


def test_grep_indexed_large_candidate_set_join_path(spark, indexed, monkeypatch):
    """Above CANDIDATE_COLLECT_MAX with NO blob store the fetch falls back
    to the plain scan (a semi-join against parquet doc_map would read the
    same content bytes plus pay the join) — same rows either way."""
    import ck_spark.query.trigram as tri_mod
    from ck_spark.query.grep import grep

    corpus, root = indexed
    monkeypatch.setattr(tri_mod, "CANDIDATE_COLLECT_MAX", 2)
    key = lambda r: (r["path"], r["line_no"])
    scan = grep(corpus, "def ").collect()
    fast = grep_indexed(spark, corpus, root, "def ").collect()
    assert sorted(map(key, fast)) == sorted(map(key, scan))


def test_grep_indexed_overflow_distributed_blob_tier(spark, indexed,
                                                     monkeypatch, tmp_path):
    """Above CANDIDATE_COLLECT_MAX with a content store the fetch stays
    distributed — pointer join + ranged blob reads, bytes ∝ candidates —
    instead of degrading to a full corpus scan. Rows identical; the
    returned plan must source content from the blob reader (no doc_map
    content column in the scan)."""
    import shutil

    import ck_spark.query.trigram as tri_mod
    from ck_spark.index.content_store import build_content_store
    from ck_spark.query.grep import grep
    from ck_spark.query.trigram import TrigramIndex, trigram_dnf

    corpus, shared_root = indexed
    root = str(tmp_path / "idx_store")  # private copy: the shared fixture
    shutil.copytree(shared_root, root)  # must stay store-free
    build_content_store(spark, root)
    monkeypatch.setattr(tri_mod, "CANDIDATE_COLLECT_MAX", 2)
    monkeypatch.setattr(tri_mod, "BLOB_MIN_DOC_BYTES", 0)  # force blob tier
    key = lambda r: (r["path"], r["line_no"])
    scan = grep(corpus, "def ").collect()
    fast = grep_indexed(spark, corpus, root, "def ").collect()
    assert sorted(map(key, fast)) == sorted(map(key, scan))
    # the overflow blob tier itself: a DataFrame whose lineage reads
    # pointer rows, not doc_map content
    tri = TrigramIndex.load(spark, root)
    cands = tri.candidates(trigram_dnf("def "))
    fetched = tri_mod._fetch_candidates(lambda: tri.doc_map_df, cands,
                                        store=tri.content_store)
    assert fetched is not None
    assert sorted(fetched.columns) == ["content", "path", "repo"]
    # formatted explain: the raw executedPlan toString elides long child
    # argument lists (maxToStringFields), hiding the ptr FileScan
    plan = spark._jvm.PythonSQLUtils.explainString(
        fetched._jdf.queryExecution(), "formatted"
    )
    assert "content_store/ptr" in plan.replace("\\", "/")
    assert "Join" in plan
    bad = [ln for ln in plan.splitlines()
           if "doc_map" in ln and "Scan" in ln]
    assert not bad, bad
    n_cand = cands.count()
    assert fetched.count() == n_cand  # every candidate fetched exactly once


def test_grep_indexed_overflow_blob_tier_small_docs(spark, indexed,
                                                    monkeypatch, tmp_path):
    """On small-doc corpora with a PACKED (format-2) store the overflow
    continuation is the BLOB tier (VERDICT r4 ask #7): a join of the
    narrow pointer table with the candidate set, then ranged block reads
    — content bytes never enter a shuffle (only ~80-byte pointer rows
    do) and the doc_map's content column is never scanned. Before
    packing, per-doc framing overhead forced these corpora onto a
    doc_map semi-join whose content IO equaled the scan's. Rows must be
    identical to the scan either way."""
    import shutil

    import ck_spark.query.trigram as tri_mod
    from ck_spark.index.content_store import build_content_store
    from ck_spark.query.grep import grep
    from ck_spark.query.trigram import TrigramIndex, trigram_dnf

    corpus, shared_root = indexed
    root = str(tmp_path / "idx_semi")
    shutil.copytree(shared_root, root)
    build_content_store(spark, root)
    tri = TrigramIndex.load(spark, root)
    assert 0 < tri.content_store.avg_raw_len < tri_mod.BLOB_MIN_DOC_BYTES
    assert tri.content_store.packed
    monkeypatch.setattr(tri_mod, "CANDIDATE_COLLECT_MAX", 2)
    key = lambda r: (r["path"], r["line_no"])
    scan = grep(corpus, "def ").collect()
    fast = grep_indexed(spark, corpus, root, "def ").collect()
    assert sorted(map(key, fast)) == sorted(map(key, scan))
    dnf = trigram_dnf("parse_buffer")
    cands = tri.candidates(dnf)
    est = sum(tri.estimate_candidates(cl) for cl in dnf)
    # (a) candidate fraction BELOW the packed crossover -> blob tier:
    # pointer-table join + MapInPandas block reads; the doc_map (and its
    # content column) must not appear in the plan. n_docs is passed large
    # so the real est lands under PACKED_BLOB_FRACTION.
    fetched = tri_mod._fetch_candidates(
        lambda: tri.doc_map_df, cands, store=tri.content_store, est=est,
        n_docs=int(est / tri_mod.PACKED_BLOB_FRACTION) + 1,
    )
    plan = spark._jvm.PythonSQLUtils.explainString(
        fetched._jdf.queryExecution(), "formatted"
    )
    assert "MapInPandas" in plan
    assert "content_store" in plan.replace("\\", "/")
    assert "doc_map" not in plan
    assert fetched.count() == cands.count()
    # (b) fraction ABOVE the crossover -> doc_map semi-join (scan-equal
    # sequential IO, candidate-only regex downstream): candidates must
    # BROADCAST — a shuffled join would move content bytes
    semi = tri_mod._fetch_candidates(
        lambda: tri.doc_map_df, cands, store=tri.content_store, est=est,
        n_docs=int(est / tri_mod.PACKED_BLOB_FRACTION) - 1,
    )
    splan = spark._jvm.PythonSQLUtils.explainString(
        semi._jdf.queryExecution(), "formatted"
    )
    assert "BroadcastHashJoin" in splan and "doc_map" in splan
    assert "content_store" not in splan.replace("\\", "/")
    # (c) without a provable bound the tier degrades to the plain scan —
    # content must never move through a shuffle
    unk = tri_mod._fetch_candidates(lambda: tri.doc_map_df, cands,
                                    store=tri.content_store, est=None)
    uplan = spark._jvm.PythonSQLUtils.explainString(
        unk._jdf.queryExecution(), "formatted"
    )
    assert "Join" not in uplan


def test_estimate_skips_probe_and_runs_intersection_once(spark, indexed,
                                                         monkeypatch,
                                                         tmp_path):
    """When the driver-side df bound proves the candidate set overflows
    the collect cap, _fetch_candidates receives est > cap and must NOT
    run the probe collect — the intersection job executes exactly once,
    inside the continuation join (asserted via the estimate API and by
    passing an est that makes the probe impossible to satisfy)."""
    import ck_spark.query.trigram as tri_mod
    from ck_spark.query.trigram import TrigramIndex, required_trigrams

    corpus, root = indexed
    tri = TrigramIndex.load(spark, root)
    grams = required_trigrams("parse_buffer")
    est = tri.estimate_candidates(grams)
    actual = tri.candidates([grams]).count()
    assert est is not None and est >= actual  # sound upper bound
    # est > cap routes straight to the distributed tier: no probe job
    monkeypatch.setattr(tri_mod, "CANDIDATE_COLLECT_MAX", 0)
    fetched = tri_mod._fetch_candidates(
        lambda: tri.doc_map_df, tri.candidates([grams]), store=None,
        est=est or 1,
    )
    plan = spark._jvm.PythonSQLUtils.explainString(
        fetched._jdf.queryExecution(), "formatted"
    )
    assert "Join" in plan  # semi-join continuation, not a collect probe
    assert fetched.count() == actual


def test_triage_scan_floor_loosens_with_store(spark, indexed, monkeypatch,
                                              tmp_path):
    """With a blob store the triage knee moves from TRIAGE_SCAN_FRACTION
    to STORE_SCAN_FRACTION: a gram too common for the parquet tier is
    still worth pruning when the fetch reads bytes ∝ candidates."""
    import shutil

    import ck_spark.query.trigram as tri_mod
    from ck_spark.index.content_store import build_content_store
    from ck_spark.query.trigram import TrigramIndex, gram_hash

    corpus, shared_root = indexed
    root = str(tmp_path / "idx_floor")  # private copy (store built below)
    shutil.copytree(shared_root, root)
    tri = TrigramIndex.load(spark, root)
    grams = tri.triage_grams(required_trigrams("parse_buffer"))
    assert isinstance(grams, list) and grams
    rarest_df = min(tri.gram_stats[gram_hash(g)] for g in grams)
    n_docs = int(tri.meta["n_docs"])
    # place the floor strictly below the rarest df (and kill the absolute
    # floor term) so the same gram flips SCAN -> prune when the store
    # appears
    monkeypatch.setattr(tri_mod, "CANDIDATE_COLLECT_MAX", 0)
    monkeypatch.setattr(tri_mod, "TRIAGE_SCAN_FRACTION",
                        (rarest_df - 0.5) / n_docs)
    monkeypatch.setattr(tri_mod, "STORE_SCAN_FRACTION", 1.0)
    assert tri.triage_grams(required_trigrams("parse_buffer")) == "SCAN"
    build_content_store(spark, root)
    tri2 = TrigramIndex.load(spark, root)
    sel = tri2.triage_grams(required_trigrams("parse_buffer"))
    assert isinstance(sel, list) and sel


def test_grep_indexed_falls_back_without_marker(spark, indexed, tmp_path):
    """A trigram dir without the completion marker (crash mid-build) must
    never be read: grep_indexed falls back to the full scan and a direct
    TrigramIndex.load raises."""
    import os
    import shutil

    from ck_spark.query.grep import grep
    from ck_spark.query.trigram import (
        TRIGRAM_DIR, TRIGRAM_MARKER, TrigramIndex,
    )

    corpus, root = indexed
    root2 = str(tmp_path / "idx_copy")
    shutil.copytree(root, root2)
    os.remove(os.path.join(root2, TRIGRAM_DIR, TRIGRAM_MARKER))
    with pytest.raises(FileNotFoundError):
        TrigramIndex.load(spark, root2)
    key = lambda r: (r["path"], r["line_no"])
    scan = grep(corpus, "def ").collect()
    fast = grep_indexed(spark, corpus, root2, "def ").collect()
    assert sorted(map(key, fast)) == sorted(map(key, scan))


def test_triage_grams_selects_rarest_and_detects_absent(spark, indexed):
    """Gram triage: rarest-first subset selection off the _gram_stats side
    table (zero Spark jobs), EMPTY for grams absent index-wide, and SCAN
    when nothing is selective."""
    from ck_spark.query.trigram import (
        SELECTIVE_GRAM_LIMIT, TrigramIndex, required_trigrams,
    )

    corpus, root = indexed
    tri = TrigramIndex.load(spark, root)
    assert tri.gram_stats  # side table present and non-empty
    sel = tri.triage_grams(required_trigrams("parse_buffer"))
    assert isinstance(sel, list) and 1 <= len(sel) <= SELECTIVE_GRAM_LIMIT
    # selected grams are the globally rarest of the input set
    from ck_spark.query.trigram import gram_hash
    dfs = {g: tri.gram_stats[gram_hash(g)] for g in required_trigrams("parse_buffer")}
    max_sel = max(dfs[g] for g in sel)
    n_better = sum(1 for v in dfs.values() if v < max_sel)
    assert n_better <= len(sel) * 2  # rarest modulo ties/collisions
    # a gram that exists nowhere -> EMPTY (no doc can match)
    assert tri.triage_grams(["q\x01z"]) == "EMPTY"
    # pending delta: absence is no longer provable -> gram stays selected
    # (a handle reads the marker once, at load: the loaded one keeps its
    # snapshot, a handle loaded after the marker write sees the delta)
    import json, os
    from ck_spark.query.trigram import TRIGRAM_DIR, TRIGRAM_MARKER
    mpath = os.path.join(root, TRIGRAM_DIR, TRIGRAM_MARKER)
    m = json.load(open(mpath))
    try:
        json.dump({**m, "delta_docs": 5}, open(mpath, "w"))
        assert tri.triage_grams(["q\x01z"]) == "EMPTY"
        out = TrigramIndex.load(spark, root).triage_grams(["q\x01z"])
        assert out == ["q\x01z"]
    finally:
        json.dump(m, open(mpath, "w"))


# ---------------------------------------------------------------------------
# DNF (OR-of-ANDs) analysis — Cox's alternation algebra
# ---------------------------------------------------------------------------


def test_trigram_dnf_alternation_clauses():
    from ck_spark.query.trigram import trigram_dnf

    dnf = trigram_dnf("quixotic|obsidian")
    assert len(dnf) == 2
    assert any("qui" in cl for cl in dnf) and any("bsi" in cl for cl in dnf)


def test_trigram_dnf_alternation_with_common_tail():
    from ck_spark.query.trigram import trigram_dnf

    dnf = trigram_dnf("def (foo_bar|baz_qux)")
    assert len(dnf) == 2
    # every clause carries the common prefix's grams AND some gram
    # specific to its own branch (clauses are budget-sampled, so assert
    # membership in the branch's full gram set, not one exact gram)
    tg = lambda s: {s[i:i + 3] for i in range(len(s) - 2)}
    for cl in dnf:
        assert "ef " in cl
    a, b = map(set, dnf)
    foo_only, qux_only = tg("foo_bar") - tg("baz_qux"), tg("baz_qux") - tg("foo_bar")
    assert (a & foo_only and b & qux_only) or (a & qux_only and b & foo_only)


def test_trigram_dnf_unconstrained_branch_is_scan():
    from ck_spark.query.trigram import trigram_dnf

    # 'a' yields no trigram: a match could take that branch unseen
    assert trigram_dnf("a|bcd") == []
    assert trigram_dnf("x.y|abc") == []


def test_trigram_dnf_product_of_alternations():
    from ck_spark.query.trigram import trigram_dnf

    dnf = trigram_dnf("(a1b|c2d)(e3f|g4h)")
    assert len(dnf) == 4
    assert sorted(map(sorted, dnf)) == [
        ["a1b", "e3f"], ["a1b", "g4h"], ["c2d", "e3f"], ["c2d", "g4h"],
    ]
    # 3-way x 2-way product (6 clauses) exceeds the cap -> collapses to
    # the common-substring clause, which is empty -> scan
    assert trigram_dnf("(abc|def|ghi)(jkl|mno)") == []


def test_trigram_dnf_single_clause_matches_required():
    from ck_spark.query.trigram import trigram_dnf

    assert trigram_dnf("parse_buffer") == [required_trigrams("parse_buffer")]


def test_required_trigrams_branch_intersection_still_works():
    # the conjunctive view keeps the historical common-gram semantics
    assert required_trigrams("abcde|xbcdz") == ["bcd"]


def test_dnf_candidates_are_superset_of_alternation_matches(spark, indexed):
    from ck_spark.index.builder import doc_id_expr
    from ck_spark.index.manifest import Manifest
    from ck_spark.query.grep import files_with_matches
    from ck_spark.query.trigram import trigram_candidates, trigram_dnf

    corpus, root = indexed
    pat = "return|import"
    dnf = trigram_dnf(pat)
    assert len(dnf) == 2
    cands = trigram_candidates(
        spark, root, dnf,
        int(Manifest(root).load_meta()["term_buckets"]),
    )
    cand_paths = {
        r["path"]
        for r in corpus.withColumn("doc_id", doc_id_expr())
        .join(cands, "doc_id").select("path").collect()
    }
    match_paths = {r["path"] for r in files_with_matches(corpus, pat).collect()}
    assert match_paths <= cand_paths
    # and the union is really a union: strictly more than either branch
    for branch in ("return", "import"):
        b = trigram_candidates(
            spark, root, required_trigrams(branch),
            int(Manifest(root).load_meta()["term_buckets"]),
        ).count()
        assert b <= cands.count()


# ---------------------------------------------------------------------------
# v7 byte-trigram extraction (zero-shuffle build) — kernel parity
# ---------------------------------------------------------------------------


def test_extract_chunk_matches_analyzer_domain():
    """The numpy build-side extraction and the query-side analyzer must
    agree on the gram domain: packed byte-trigram codes of the UTF-8
    encoding of lower(text) — including multi-byte chars, doc-boundary
    masking, and <3-byte docs."""
    import numpy as np

    from ck_spark.query.trigram import _extract_chunk, _trigrams_of, gram_hash

    texts = ["hello world", "ab", "", "naïve café ☕", "x" * 3,
             "MiXeD Case\nwith lines", "日本語テキスト"]
    bufs = [t.lower().encode("utf-8") for t in texts]
    ids = np.arange(100, 100 + len(bufs), dtype=np.int64)
    segs = np.array([i % 2 for i in range(len(bufs))], dtype=np.int64)
    codes, dids, _ = _extract_chunk(bufs, ids, segs)
    expected = {
        (gram_hash(g), int(ids[i]))
        for i, t in enumerate(texts)
        for g in _trigrams_of([t.lower()])
    }
    assert set(zip(codes.tolist(), dids.tolist())) == expected


def test_extract_pairs_sub_chunk_boundaries():
    """The cache-resident extractor processes <= 255 docs per sub-chunk;
    crossing that boundary (and mixing 0/1/2-byte docs right at it) must
    not drop, duplicate, or misattribute any (doc, gram) pair."""
    import numpy as np

    from ck_spark.query.trigram import _extract_pairs, gram_hash

    rng = np.random.default_rng(11)
    bufs = []
    for i in range(600):  # spans three sub-chunks
        if i % 7 == 0:
            bufs.append(b"")          # empty doc
        elif i % 7 == 1:
            bufs.append(b"a")         # sub-trigram doc
        elif i % 7 == 2:
            bufs.append(b"xy")
        else:
            n = int(rng.integers(3, 40))
            bufs.append(bytes(rng.integers(97, 110, n, dtype=np.uint8)))
    codes, didx = _extract_pairs(bufs)
    expected = {
        (gram_hash(b[j:j + 3]), i)
        for i, b in enumerate(bufs)
        for j in range(max(0, len(b) - 2))
    }
    got = set(zip(codes.tolist(), didx.tolist()))
    assert got == expected
    # per-doc pairs are deduped and keys unique
    assert len(got) == codes.size


def test_gram_hash_packs_bytes():
    from ck_spark.query.trigram import GRAM_HASH_SPACE, gram_hash

    assert gram_hash("abc") == (97 << 16) | (98 << 8) | 99
    assert gram_hash(b"\x00\x00\x01") == 1
    assert gram_hash("\xff\xff\xff") == GRAM_HASH_SPACE - 1
    with pytest.raises(ValueError):
        gram_hash("ab")


def test_grep_indexed_unicode_pattern(spark, indexed):
    """A pattern with multi-byte literals routes through byte trigrams of
    its UTF-8 encoding; answers stay identical to the scan (here: no
    matches in the ASCII corpus, exercising the EMPTY/absent path)."""
    from ck_spark.query.grep import grep

    corpus, root = indexed
    pat = "naïve_token"
    scan = grep(corpus, pat).collect()
    fast = grep_indexed(spark, corpus, root, pat).collect()
    assert len(fast) == len(scan) == 0


def test_legacy_gram_key_index_refused_and_scan_fallback(spark, indexed, tmp_path):
    """A marker recording a different gram keying must make TrigramIndex
    refuse (so grep_indexed falls back to the always-correct full scan)."""
    import json
    import os

    from ck_spark.query.trigram import (
        TRIGRAM_DIR, TRIGRAM_MARKER, TrigramIndex,
    )

    corpus, root = indexed
    marker_path = os.path.join(root, TRIGRAM_DIR, TRIGRAM_MARKER)
    orig = json.load(open(marker_path))
    try:
        legacy = dict(orig, gram_key="xxhash24")
        json.dump(legacy, open(marker_path, "w"))
        with pytest.raises(FileNotFoundError, match="gram keying"):
            TrigramIndex.load(spark, root)
        # the public entry point degrades to the full scan, same answers
        from ck_spark.query.grep import grep

        scan = sorted((r["path"], r["line_no"])
                      for r in grep(corpus, "return").collect())
        fast = sorted((r["path"], r["line_no"])
                      for r in grep_indexed(spark, corpus, root, "return").collect())
        assert fast == scan
    finally:
        json.dump(orig, open(marker_path, "w"))


def test_partial_rows_bounded_by_salt(spark, indexed):
    """The build may emit several partial rows per (seg, ghash) — the
    fragmentation bound is k = ceil(width / n_segments) from the
    (seg, salt) pre-partitioning. Unbounded partials (the pure
    zero-shuffle variant) multiplied table rows ~40x at 1M docs; this
    pins the bound so a regression is loud."""
    from ck_spark.query.trigram import _read_trigram_table

    corpus, root = indexed
    width = max(spark.sparkContext.defaultParallelism * 2, 16)
    k = -(-width // 4)  # fixture builds with n_segments=4
    from pyspark.sql import functions as F

    worst = (
        _read_trigram_table(spark, root)
        .groupBy("seg", "ghash").count()
        .agg(F.max("count")).collect()[0][0]
    )
    # range partitioning on (seg, salt) keeps a seg within <= k
    # consecutive ranges plus one boundary-rounding overlap; in-task
    # chunked emission (_PAIRS_CHUNK) adds a factor of
    # ceil(task_pairs / _PAIRS_CHUNK), which is 1 at this fixture size
    assert worst <= k + 1, (worst, k)


def test_partial_delta_append_invisible_and_gcd(spark, tmp_path):
    """Crash protocol of the _delta/app=K layout: an app dir NOT covered
    by the marker's n_apps (a crashed, possibly PARTIAL append — the one
    direction that would under-approximate candidates) must be invisible
    to reads, and the next append must GC it before writing its own."""
    import os
    import shutil

    from ck_spark.index.builder import build_index, update_index
    from ck_spark.query.grep import grep
    from ck_spark.query.trigram import (
        _read_trigram_marker, _trigram_delta_dir,
    )

    pdf = generate_corpus(40, seed=11)
    corpus = spark.createDataFrame(pdf)
    root = str(tmp_path / "idx")
    build_index(spark, corpus, root, mode="code", n_segments=4,
                term_buckets=4, resume=False)
    build_trigram_index(spark, None, root)

    # one committed append (app=0)
    pdf2 = pdf.copy()
    pdf2.loc[pdf2.index[:4], "content"] = (
        pdf2.loc[pdf2.index[:4], "content"] + "\nquux_committed_marker()\n"
    )
    corpus2 = spark.createDataFrame(pdf2)
    update_index(spark, corpus2, root)
    marker = _read_trigram_marker(root)
    assert marker.get("n_apps") == 1
    ddir = _trigram_delta_dir(root)
    assert os.path.isdir(os.path.join(ddir, "app=0"))

    # forge a crashed append: app=7 >= n_apps, content = a copy of app=0
    # (rows that would ADD candidates if ever read)
    shutil.copytree(os.path.join(ddir, "app=0"), os.path.join(ddir, "app=7"))

    # invisible: indexed grep == full scan despite the orphan dir
    key = lambda r: (r["path"], r["line_no"])
    for pat in ["quux_committed_marker", "def "]:
        scan = grep(corpus2, pat).collect()
        fast = grep_indexed(spark, None, root, pat).collect()
        assert sorted(map(key, fast)) == sorted(map(key, scan)), pat

    # the next append GCs the orphan and commits its own generation
    pdf3 = pdf2.copy()
    pdf3.loc[pdf3.index[10:12], "content"] = (
        pdf3.loc[pdf3.index[10:12], "content"] + "\nquux_second_marker()\n"
    )
    corpus3 = spark.createDataFrame(pdf3)
    update_index(spark, corpus3, root)
    assert not os.path.exists(os.path.join(ddir, "app=7"))
    assert _read_trigram_marker(root).get("n_apps") == 2
    for pat in ["quux_second_marker", "quux_committed_marker"]:
        scan = grep(corpus3, pat).collect()
        fast = grep_indexed(spark, None, root, pat).collect()
        assert sorted(map(key, fast)) == sorted(map(key, scan)), pat


def test_removal_only_update_keeps_trigram_valid(spark, tmp_path):
    """A pure-removal update appends NO grams (nothing fresh) and must
    leave the trigram index complete and correct: removed docs drop out
    via the live doc_map join, the marker survives, n_apps is unchanged."""
    from ck_spark.index.builder import build_index, update_index
    from ck_spark.query.grep import grep
    from ck_spark.query.trigram import (
        _read_trigram_marker, trigram_index_exists,
    )

    pdf = generate_corpus(40, seed=12)
    corpus = spark.createDataFrame(pdf)
    root = str(tmp_path / "idx")
    build_index(spark, corpus, root, mode="code", n_segments=4,
                term_buckets=4, resume=False)
    build_trigram_index(spark, None, root)
    n_apps0 = _read_trigram_marker(root).get("n_apps", 0)

    pdf2 = pdf.drop(index=pdf.index[:6])  # removal-only full snapshot
    corpus2 = spark.createDataFrame(pdf2)
    stats = update_index(spark, corpus2, root, full_snapshot=True)
    assert stats["removed"] == 6 and stats["added"] == stats["modified"] == 0

    assert trigram_index_exists(root)
    assert _read_trigram_marker(root).get("n_apps", 0) == n_apps0
    key = lambda r: (r["path"], r["line_no"])
    for pat in ["def ", "parse"]:
        scan = grep(corpus2, pat).collect()
        fast = grep_indexed(spark, None, root, pat).collect()
        assert sorted(map(key, fast)) == sorted(map(key, scan)), pat


def test_updated_to_binary_doc_not_duplicated(spark, tmp_path):
    """A doc rewritten to contain a NUL byte by an incremental update
    lingers in stale trigram postings (delta appends never remove
    entries) while its live doc_map row turns is_binary. The candidate
    fetch must NOT return it — the binary-docs union branch already
    covers it — or its matching lines appear TWICE vs the full scan.
    Checked on the stored-content path, the caller-corpus path, and the
    blob-store point-read path."""
    import pandas as pd

    from ck_spark.index.builder import build_index, update_index
    from ck_spark.index.content_store import build_content_store
    from ck_spark.query.grep import grep

    pdf = generate_corpus(30, seed=9)
    marker_doc = pd.DataFrame([{
        "repo": "r0", "path": "src/turncoat.py", "commit": "c0",
        "lang": "python",
        "content": "alpha omegaturncoat_literal()\nplain tail line\n",
    }])
    pdf = pd.concat([pdf, marker_doc], ignore_index=True)
    corpus = spark.createDataFrame(pdf)
    root = str(tmp_path / "idx")
    build_index(spark, corpus, root, mode="code", n_segments=2,
                term_buckets=4, resume=False)
    build_trigram_index(spark, corpus, root)

    # rewrite the doc to BINARY while keeping the literal greppable
    pdf2 = pdf.copy()
    mask = pdf2["path"] == "src/turncoat.py"
    pdf2.loc[mask, "content"] = (
        "alpha omegaturncoat_literal()\x00binary now\n"
    )
    corpus2 = spark.createDataFrame(pdf2)
    update_index(spark, corpus2, root)

    key = lambda r: (r["path"], r["line_no"], r["line"])
    scan = sorted(map(key, grep(corpus2, "omegaturncoat_literal").collect()))
    assert len(scan) == 1  # the binary doc's one matching line
    for src in (corpus2, None):  # caller-corpus and stored-content paths
        fast = grep_indexed(
            spark, src, root, "omegaturncoat_literal"
        ).collect()
        assert sorted(map(key, fast)) == scan, (
            "binary doc duplicated" if len(fast) > len(scan) else fast
        )
    # blob point-read path (exclude_binary must hold there too)
    build_content_store(spark, root)
    fast = grep_indexed(spark, None, root, "omegaturncoat_literal").collect()
    assert sorted(map(key, fast)) == scan
