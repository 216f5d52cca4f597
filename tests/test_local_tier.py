"""Driver-local read tier: small BM25 searches and search_many batches
(query/bm25.py _seg_local), their result fetch and projection, and small
trigram candidate sets (TrigramIndex.candidates_local) run on the driver
without a Spark job, and answer bit-identically to the distributed tier
— forced here by monkeypatching the cap constants."""

import numpy as np
import pandas as pd
import pytest

from ck_spark.corpus import generate_corpus
from ck_spark.index import build_index
from ck_spark.index.builder import update_index
from ck_spark.index.content_store import ContentStore, build_content_store
from ck_spark.query import bm25
from ck_spark.query.bm25 import BM25Index
from ck_spark.query.trigram import (
    TrigramIndex,
    _read_trigram_marker,
    build_trigram_index,
    required_trigrams,
    trigram_dnf,
)
from tests.conftest import spark_jobs


def _upsert(base: pd.DataFrame, round_no: int) -> pd.DataFrame:
    """Modify 4 docs of `base` and add 2 new ones."""
    rng = np.random.RandomState(500 + round_no)
    mod = base.iloc[rng.choice(len(base), size=4, replace=False)].copy()
    mod["content"] += f"\n# round {round_no}: parse buffer merge\n"
    new = generate_corpus(4, seed=700 + round_no).iloc[:2].copy()
    new["path"] = [f"up{round_no}/a.py", f"up{round_no}/b.py"]
    return pd.concat([mod, new], ignore_index=True)


@pytest.fixture(scope="module")
def roots(spark, tmp_path_factory):
    """'plain': a gen-less index. 'gens': the same base after two upserts
    — two LSM generations, tombstones for the modified docs and two
    trigram delta appends."""
    tmp = tmp_path_factory.mktemp("local_tier")
    base = generate_corpus(240, seed=11)
    out = {}
    for name in ("plain", "gens"):
        root = str(tmp / name)
        build_index(spark, spark.createDataFrame(base), root, n_segments=4,
                    term_buckets=8, build_groups=2)
        build_trigram_index(spark, None, root)
        build_content_store(spark, root)
        out[name] = root
    for u in (1, 2):
        update_index(spark, spark.createDataFrame(_upsert(base, u)),
                     out["gens"], full_snapshot=False)
    idx = BM25Index.load(spark, out["gens"])
    assert len(idx.gens) == 2 and int(idx.meta.get("n_tombstones") or 0) > 0
    assert int(_read_trigram_marker(out["gens"]).get("n_apps", 0)) == 2
    return out


def _rows(df):
    return [(r["doc_id"], r["score"]) for r in df.collect()]


def _both_tiers(monkeypatch, run):
    local = run()
    with monkeypatch.context() as m:
        m.setattr(bm25, "LOCAL_POSTINGS_MAX", -1)
        distributed = run()
    return local, distributed


SEARCHES = [
    # (query, mode, normalize, threshold, expect hits); "mid" is the
    # median score of the unthresholded answer, so the cut is real
    ("parse buffer", "or", False, None, True),
    ("def return", "and", False, None, True),
    ("parse buffer merge", "or", True, None, True),
    ("parse buffer", "or", True, "mid", True),
    ("parse", "or", False, "mid", True),
    ("parse zzqunknown", "and", False, None, False),
    ("zzqunknown", "or", False, None, False),
    ("", "or", False, None, False),
]


@pytest.mark.parametrize("which", ["plain", "gens"])
@pytest.mark.parametrize("q,mode,normalize,threshold,hits", SEARCHES)
def test_search_tiers_bit_identical(spark, roots, monkeypatch, which, q, mode,
                                    normalize, threshold, hits):
    idx = BM25Index.load(spark, roots[which])

    def run(threshold):
        return _rows(idx.search(q, k=12, mode=mode, normalize=normalize,
                                threshold=threshold))

    if threshold == "mid":
        full = run(None)
        threshold = full[len(full) // 2][1]
    local, distributed = _both_tiers(monkeypatch, lambda: run(threshold))
    assert local == distributed  # ids, order and every score bit
    assert bool(local) == hits
    if threshold is not None:
        assert len(local) < len(full) and local == full[:len(local)]


@pytest.mark.parametrize("which", ["plain", "gens"])
@pytest.mark.parametrize("q", [
    "+parse buffer -merge",
    '"parse buffer" return',
    'parse -"merge split"',
    "+def +return",
])
def test_search_query_tiers_bit_identical(spark, roots, monkeypatch, which, q):
    idx = BM25Index.load(spark, roots[which])
    local, distributed = _both_tiers(
        monkeypatch, lambda: _rows(idx.search_query(q, k=12, normalize=True)))
    assert local == distributed
    assert local


@pytest.mark.parametrize("which", ["plain", "gens"])
def test_fetch_tiers_identical(spark, roots, monkeypatch, which):
    """The driver fetch (scores and order attached in pandas) against the
    distributed fetch with its broadcast score join and orderBy."""
    idx = BM25Index.load(spark, roots[which])
    top = idx.search("parse buffer", k=12)
    local = idx.fetch_search_results(top).collect()
    with monkeypatch.context() as m:
        m.setattr(ContentStore, "LOCAL_FETCH_MAX", -1)
        distributed = idx.fetch_search_results(top).collect()
    assert local == distributed
    assert [r["doc_id"] for r in local] == [d for d, _ in _rows(top)]


# every Rust str::lines() edge of the projection, one doc each
_EDGE_DOCS = [
    ("empty.txt", ""),
    ("trailing_lf.txt", "needle one\n"),
    ("crlf.txt", "needle one\r\ntwo\r\n"),
    ("cr_cr_lf.txt", "needle a\r\r\nb"),
    ("bare_cr.txt", "needle a\rb\r"),
    ("many_lines.txt", "needle 1\n2\n3\n4\n5\n"),
    ("utf8.txt", "needle héllo ✓\n日本語 𝄞\n"),
]


@pytest.fixture(scope="module")
def edge_root(spark, tmp_path_factory):
    root = str(tmp_path_factory.mktemp("edge_fetch"))
    corpus = spark.createDataFrame(
        [("r", p, "c1", "text", c) for p, c in _EDGE_DOCS],
        "repo string, path string, commit string, lang string, content string")
    build_index(spark, corpus, root, mode="simple", n_segments=2,
                term_buckets=4, build_groups=1)
    build_content_store(spark, root)
    return root


@pytest.mark.parametrize("full_section", [False, True])
def test_local_projection_equals_column_projection(spark, edge_root,
                                                    monkeypatch, full_section):
    """The driver fetch's pandas projection (preview, byte_end, line_end)
    against the distributed fetch's Column expressions, on every doc —
    the token-less empty one too, so the results frame comes from the
    doc_map, with tied scores ordered by doc_id."""
    idx = BM25Index.load(spark, edge_root)
    ids = sorted(r["doc_id"] for r in idx.doc_map_df.select("doc_id").collect())
    assert len(ids) == len(_EDGE_DOCS)
    res = spark.createDataFrame(pd.DataFrame(
        {"doc_id": ids, "score": [float(i % 3) for i in range(len(ids))]}))
    local = idx.fetch_search_results(res, full_section).collect()
    with monkeypatch.context() as m:
        m.setattr(ContentStore, "LOCAL_FETCH_MAX", 0)
        distributed = idx.fetch_search_results(res, full_section).collect()
    assert local == distributed
    by_path = {r["path"]: r for r in local}
    content = dict(_EDGE_DOCS)
    assert by_path["utf8.txt"]["byte_end"] == len(content["utf8.txt"].encode())
    assert by_path["utf8.txt"]["byte_end"] > len(content["utf8.txt"])
    assert (by_path["empty.txt"]["preview"], by_path["empty.txt"]["line_end"]) \
        == ("", 0)
    assert by_path["many_lines.txt"]["line_end"] == 5


BATCH = [
    ("parse buffer", "or"),
    ("def return", "and"),
    ("+parse buffer -merge", "syntax"),
    ('"parse buffer" return', "syntax"),
    ('parse -"merge split"', "syntax"),
    ("duplicated content", "or"),  # two identical docs: a tie at k=1
    ("parse zzqunknown", "and"),  # an unknown AND term matches nothing
    ("parse zzqunknown", "or"),  # an unknown OR term is dropped
    ("+zzqunknown parse", "syntax"),
    ("zzqunknown", "or"),
]


def _batch_rows(df):
    return [(r["query_id"], r["doc_id"], r["score"]) for r in df.collect()]


@pytest.mark.parametrize("which", ["plain", "gens"])
@pytest.mark.parametrize("k", [1, 12])
def test_search_many_tiers_bit_identical(spark, roots, monkeypatch, which, k):
    idx = BM25Index.load(spark, roots[which])
    local, distributed = _both_tiers(
        monkeypatch, lambda: _batch_rows(idx.search_many(BATCH, k=k)))
    assert local == distributed  # ids, order and every score bit
    hit = {q for q, _, _ in local}
    assert hit == {0, 1, 2, 3, 4, 5, 7}
    if k == 12:  # the k=1 run cuts inside this tie
        dup = [s for q, _, s in local if q == 5]
        assert len(dup) >= 2 and dup[0] == dup[1]


@pytest.mark.parametrize("batch", [
    [],
    [("zzqunknown", "or"), ("zzqa zzqb", "and"), ('+zzqa "zzqb zzqc"', "syntax")],
])
def test_search_many_empty_and_all_unknown_batches(spark, roots, monkeypatch,
                                                   batch):
    idx = BM25Index.load(spark, roots["gens"])
    local, distributed = _both_tiers(
        monkeypatch, lambda: _batch_rows(idx.search_many(batch, k=5)))
    assert local == distributed == []


def test_batch_over_cap_or_scoped_takes_spark_tier(spark, roots, monkeypatch):
    """The batch's mass is the Σ over its query plans of each plan's Σ
    df: with every query under the cap but their sum over it, the batch
    takes the Spark tier with the same answer; so does a path-scoped
    batch, however small."""
    idx = BM25Index.load(spark, roots["plain"])  # no dead versions to scale
    batch = [("parse buffer", "or"), ("def return", "or")]
    masses = [int(idx.term_stats(q.split())["df"].sum()) for q, _ in batch]
    keys = []
    orig = BM25Index._finish_local
    monkeypatch.setattr(
        BM25Index, "_finish_local",
        lambda self, *a, **kw: keys.append(kw.get("key")) or orig(self, *a, **kw))
    expected = _batch_rows(idx.search_many(batch, k=12))
    assert keys == ["query_id"] and expected
    for cap, tier in ((sum(masses), ["query_id"]), (sum(masses) - 1, [])):
        assert max(masses) <= cap
        monkeypatch.setattr(bm25, "LOCAL_POSTINGS_MAX", cap)
        keys.clear()
        assert _batch_rows(idx.search_many(batch, k=12)) == expected
        assert keys == tier
    monkeypatch.setattr(bm25, "LOCAL_POSTINGS_MAX", sum(masses))  # fits
    top = idx.search("parse buffer", k=1, with_paths=True).first()["path"]
    prefix = top.rsplit("/", 1)[0] + "/"
    keys.clear()
    scoped = _batch_rows(idx.search_many(batch, k=12, include_prefixes=[prefix]))
    assert keys == []
    single = _rows(idx.search("parse buffer", k=12, include_prefixes=[prefix]))
    assert [(d, s) for q, d, s in scoped if q == 0] == single and single


@pytest.mark.parametrize("which", ["plain", "gens"])
@pytest.mark.parametrize("pattern", ["parse_buffer", "(parse|merge)_", "return"])
def test_trigram_candidates_local_equal_distributed(spark, roots, which, pattern):
    tri = TrigramIndex.load(spark, roots[which])
    # the flat form of an alternation is empty: only its DNF clauses prune
    forms = [g for g in (required_trigrams(pattern), trigram_dnf(pattern)) if g]
    assert forms
    for grams in forms:
        local = tri.candidates_local(grams)
        distributed = tri.candidates(grams).toPandas()
        key = ["seg", "doc_id"]
        assert not local.empty
        pd.testing.assert_frame_equal(
            local.sort_values(key, ignore_index=True),
            distributed.sort_values(key, ignore_index=True),
            check_dtype=False,
        )


def test_small_search_and_fetch_run_no_spark_job(spark, roots):
    """A fresh handle's small search, its result fetch and projection
    (default and full_section) and a small batch: zero jobs."""
    idx = BM25Index.load(spark, roots["gens"])

    def turn():
        hits = idx.search("parse buffer", k=10).collect()
        fetched = [idx.fetch_search_results(idx.search("parse buffer", k=10),
                                            full_section=f).collect()
                   for f in (False, True)]
        return hits, fetched, idx.search_many(BATCH, k=10).collect()

    (hits, fetched, batch), jobs = spark_jobs(spark, turn)
    assert hits and all(len(f) == len(hits) for f in fetched) and batch
    assert jobs == []


def test_dead_postings_count_toward_the_cap(spark, roots, monkeypatch):
    """Dead versions' postings still sit in their generations and the
    driver tier reads them before the tombstone ban: a search whose live
    Σ df fits the cap, but whose estimated read (live × (1 + tombstones /
    docs)) does not, takes the Spark tier with the same answer."""
    idx = BM25Index.load(spark, roots["gens"])
    live = int(idx.term_stats(["parse", "buffer"])["df"].sum())
    calls = []
    orig = BM25Index._seg_local
    monkeypatch.setattr(BM25Index, "_seg_local",
                        lambda self, *a: calls.append(1) or orig(self, *a))
    expected = _rows(idx.search("parse buffer", k=12))
    assert calls and expected
    calls.clear()
    monkeypatch.setattr(bm25, "LOCAL_POSTINGS_MAX", live)
    assert _rows(idx.search("parse buffer", k=12)) == expected
    assert not calls


@pytest.mark.parametrize("which", ["plain", "gens"])
def test_trigram_read_mass_over_cap_takes_spark_tier(spark, roots, monkeypatch,
                                                     which):
    """The driver intersection reads every kept gram's whole posting
    list: with the cap between the candidate bound (the rarest gram's df)
    and the kept grams' Σ df, the regex takes the Spark tier, with the
    scan's answer either way."""
    from ck_spark.query.grep import grep

    tri = TrigramIndex.load(spark, roots[which])
    pattern = "parse_buffer"
    kept = [tri.triage_grams(cl) for cl in trigram_dnf(pattern)]
    assert all(isinstance(k, list) for k in kept)
    est = sum(tri.estimate_candidates(k) for k in kept)
    mass = tri.posting_mass(kept)
    assert est < mass  # a kept gram beyond the rarest adds read mass
    seen = []
    for name in ("candidates", "candidates_local"):
        orig = getattr(TrigramIndex, name)
        monkeypatch.setattr(
            TrigramIndex, name,
            lambda self, g, _o=orig, _n=name: seen.append(_n) or _o(self, g))
    key = lambda r: (r["path"], r["line_no"])  # noqa: E731
    scan = sorted(map(key, grep(tri.doc_map_df, pattern).collect()))
    assert scan
    for cap, tier in ((mass, "candidates_local"), (mass - 1, "candidates")):
        monkeypatch.setattr(bm25, "LOCAL_POSTINGS_MAX", cap)
        seen.clear()
        assert sorted(map(key, tri.grep(None, pattern).collect())) == scan
        assert seen == [tier]


def test_trigram_handle_tiers_share_one_snapshot(spark, roots, tmp_path):
    """A handle that outlives an update answers both candidate tiers from
    the snapshot it was loaded with; a fresh handle sees the update."""
    import shutil

    root = str(tmp_path / "copy")
    shutil.copytree(roots["plain"], root)
    old = TrigramIndex.load(spark, root)
    update_index(spark, spark.createDataFrame(
        _upsert(generate_corpus(240, seed=11), 1)), root, full_snapshot=False)
    grams = required_trigrams("round 1: parse")
    key = ["seg", "doc_id"]

    def cands(tri):
        local = tri.candidates_local(grams).sort_values(key, ignore_index=True)
        pd.testing.assert_frame_equal(
            local,
            tri.candidates(grams).toPandas().sort_values(key, ignore_index=True),
            check_dtype=False,
        )
        return local

    assert cands(old).empty
    assert not cands(TrigramIndex.load(spark, root)).empty


# -- driver-local regex verify (query/grep.py grep_local) ---------------------


def _text_corpus() -> pd.DataFrame:
    """The roots' corpus without its one binary (NUL) doc, so the manifest
    proves the corpus binary-free, which the driver verify requires."""
    base = generate_corpus(240, seed=11)
    return base[~base["content"].str.contains("\x00")].reset_index(drop=True)


@pytest.fixture(scope="module")
def text_roots(spark, tmp_path_factory):
    """'plain' and 'gens' like `roots`, over the binary-free corpus."""
    tmp = tmp_path_factory.mktemp("text_tier")
    base = _text_corpus()
    assert not base["path"].duplicated().any()  # (path, line_no) is a key
    out = {}
    for name in ("plain", "gens"):
        root = str(tmp / name)
        build_index(spark, spark.createDataFrame(base), root, n_segments=4,
                    term_buckets=8, build_groups=2)
        build_trigram_index(spark, None, root)
        build_content_store(spark, root)
        out[name] = root
    for u in (1, 2):
        update_index(spark, spark.createDataFrame(_upsert(base, u)),
                     out["gens"], full_snapshot=False)
    assert int(BM25Index.load(spark, out["gens"]).meta["n_tombstones"]) > 0
    return out


def _spy_grep_local(monkeypatch) -> list:
    """Record each call of the driver verify; trigram imports it per call."""
    from ck_spark.query import grep as grep_mod

    calls: list = []
    orig = grep_mod.grep_local
    monkeypatch.setattr(grep_mod, "grep_local",
                        lambda *a, **kw: calls.append(a[2]) or orig(*a, **kw))
    return calls


# grams in no doc: triage proves the base empty, and on an LSM root
# (delta docs may hold any gram) the pruned grep gets no candidate
NO_MATCH = "qqxqqz"

# the perfbench turn templates (rare literal, identifier regex, rare
# alternation, the SCAN-tier `def \w+\(`), every grep flag, the empty
# pattern, and java.util.regex syntax: Python's re rejects \p{Lu} and
# \Q..\E, so only the JVM can answer those two
REGEX_CASES = [
    ("zephyrblade", {"count_matches": True}),
    (r"parse_span_\w+", {"count_matches": True}),
    ("(gyroscope|palindrome)", {"count_matches": True}),
    (r"def \w+\(", {"count_matches": True}),
    (r"def \w+\(", {"topk": 7}),
    ("(gyroscope|palindrome)", {"topk": 2, "count_matches": True}),
    ("return", {"count_matches": False}),
    ("parse_", {"fixed_string": True, "count_matches": True}),
    ("(x)", {"fixed_string": True}),
    ("PARSE", {"ignore_case": True, "count_matches": True}),
    ("def", {"whole_word": True, "topk": 30}),
    ("", {"count_matches": True}),
    (r"\p{Lu}\w+", {"count_matches": True}),
    (r"\Qreturn \E\w+", {"count_matches": True}),
    (r"\w++\(", {"topk": 40}),
]


@pytest.mark.parametrize("which", ["plain", "gens"])
@pytest.mark.parametrize("pattern,kw", REGEX_CASES)
def test_grep_driver_tier_identical(spark, text_roots, monkeypatch, which,
                                    pattern, kw):
    """The driver verify answers with the Spark tier's rows in the Spark
    tier's order, and with the scan grep's, on the base and on an LSM
    root with tombstones."""
    from ck_spark.query.grep import grep

    tri = TrigramIndex.load(spark, text_roots[which])
    calls = _spy_grep_local(monkeypatch)
    local = tri.grep(None, pattern, **kw).collect()
    assert calls == [pattern]
    with monkeypatch.context() as m:
        m.setattr(ContentStore, "LOCAL_FETCH_MAX", -1)
        distributed = tri.grep(None, pattern, **kw).collect()
    assert calls == [pattern]  # the Spark tier ran
    scan = grep(tri.doc_map_df, pattern, **kw).collect()
    assert local == distributed == scan
    assert local


def test_empty_candidate_set_is_verified_on_the_driver(spark, text_roots,
                                                       monkeypatch):
    """NO_MATCH on the LSM root reaches the pruned driver tier with zero
    candidates (delta docs keep its grams in triage) and answers no rows,
    like the Spark tier and the scan grep."""
    from ck_spark.query.grep import grep
    from ck_spark.query.trigram import trigram_dnf

    tri = TrigramIndex.load(spark, text_roots["gens"])
    (clause,) = trigram_dnf(NO_MATCH)
    kept = tri.triage_grams(clause)
    assert isinstance(kept, list) and tri.candidates_local(kept).empty
    calls = _spy_grep_local(monkeypatch)
    assert tri.grep(None, NO_MATCH, count_matches=True).collect() == []
    assert calls == [NO_MATCH]
    with monkeypatch.context() as m:
        m.setattr(ContentStore, "LOCAL_FETCH_MAX", -1)
        assert tri.grep(None, NO_MATCH, count_matches=True).collect() == []
    assert calls == [NO_MATCH]  # the Spark tier ran
    assert grep(tri.doc_map_df, NO_MATCH).collect() == []


def test_spark_collected_candidates_verify_on_the_driver(spark, text_roots,
                                                        monkeypatch):
    """Candidates intersected in Spark and collected (the kept grams'
    postings past the driver intersection's cap) are read and verified
    on the driver too, with the same answer."""
    from ck_spark.query import bm25

    pattern = "(gyroscope|palindrome)"
    tri = TrigramIndex.load(spark, text_roots["gens"])
    want = tri.grep(None, pattern, count_matches=True).collect()
    calls = _spy_grep_local(monkeypatch)
    monkeypatch.setattr(bm25, "LOCAL_POSTINGS_MAX", -1)
    monkeypatch.setattr(TrigramIndex, "candidates_local",
                        lambda *a: pytest.fail("driver intersection"))
    assert tri.grep(None, pattern, count_matches=True).collect() == want
    assert calls == [pattern] and want


@pytest.mark.parametrize("pattern", ["zephyrblade", r"def \w+\(", NO_MATCH])
def test_small_grep_runs_no_spark_job(spark, text_roots, pattern):
    """A fresh handle's pruned grep (driver candidates, driver point read),
    its SCAN-tier grep (driver live view) and a grep with no candidate run
    zero Spark jobs."""
    tri = TrigramIndex.load(spark, text_roots["gens"])
    rows, jobs = spark_jobs(
        spark, lambda: tri.grep(None, pattern, count_matches=True).collect())
    assert bool(rows) == (pattern in ("zephyrblade", r"def \w+\("))
    assert jobs == []


@pytest.mark.parametrize("pattern", ["(gyroscope|palindrome)", r"def \w+\("])
def test_binary_docs_take_the_spark_verify(spark, roots, monkeypatch, pattern):
    """A corpus that may hold binary docs (the manifest cannot prove
    otherwise) unions them back in Spark: no driver verify, scan answer."""
    from ck_spark.query.grep import grep

    tri = TrigramIndex.load(spark, roots["plain"])
    calls = _spy_grep_local(monkeypatch)
    got = tri.grep(None, pattern, count_matches=True).collect()
    assert not calls
    assert got == grep(tri.doc_map_df, pattern, count_matches=True).collect()


@pytest.mark.parametrize("cap", ["docs", "bytes"])
@pytest.mark.parametrize("pattern", ["(gyroscope|palindrome)", r"def \w+\("])
def test_grep_over_a_cap_takes_the_spark_verify(spark, text_roots,
                                                monkeypatch, pattern, cap):
    """Content rows past ContentStore.LOCAL_FETCH_MAX docs or
    LOCAL_VERIFY_MAX_BYTES are verified in Spark, with one answer. The
    SCAN tier decides before any read: its docs are every stored row of
    the live view, tombstoned versions too, and its bytes the live rows
    × the content store's mean doc size; so at its figure it runs on the
    driver, one under it in Spark. A pruned grep counts what it fetched."""
    from ck_spark.index import lsm
    from ck_spark.query import trigram as tri_mod

    tri = TrigramIndex.load(spark, text_roots["gens"])
    n_live = lsm.parse_snapshot(tri.meta["input_snapshot"])[0]
    owner, name, at = (
        (ContentStore, "LOCAL_FETCH_MAX",
         n_live + int(tri.meta["n_tombstones"])) if cap == "docs" else
        (tri_mod, "LOCAL_VERIFY_MAX_BYTES",
         n_live * tri.content_store.avg_raw_len))
    calls = _spy_grep_local(monkeypatch)
    want = tri.grep(None, pattern, count_matches=True).collect()
    assert calls and want
    scan = pattern == r"def \w+\("
    for value, driver in ((at, True), (at - 1, not scan), (0, False)):
        calls.clear()
        monkeypatch.setattr(owner, name, value)
        assert tri.grep(None, pattern, count_matches=True).collect() == want
        assert bool(calls) == driver


def test_grep_reads_the_marker_once_per_handle(spark, text_roots, monkeypatch,
                                               tmp_path):
    """Triage, the candidate bound and the read mass use the delta_docs
    the handle loaded with: a grep reads no marker file, and a handle
    loaded before an update keeps its own snapshot's bounds."""
    import shutil

    from ck_spark.query import trigram as tri_mod
    from ck_spark.query.grep import grep

    root = str(tmp_path / "copy")
    shutil.copytree(text_roots["plain"], root)
    old = TrigramIndex.load(spark, root)
    grams = required_trigrams("round 1: parse")

    def bounds(tri):
        return (tri.triage_grams(grams), tri.estimate_candidates(grams),
                tri.posting_mass(grams))

    before = bounds(old)
    assert before[0] == "EMPTY"  # "round 1" occurs in no base doc
    update_index(spark, spark.createDataFrame(_upsert(_text_corpus(), 1)),
                 root, full_snapshot=False)
    new = TrigramIndex.load(spark, root)
    assert new.delta_docs > 0 == old.delta_docs
    with monkeypatch.context() as m:
        m.setattr(tri_mod, "_read_trigram_marker",
                  lambda root: pytest.fail("marker re-read"))
        assert bounds(old) == before
        assert bounds(new) != before and bounds(new)[0] != "EMPTY"
        for pattern in ("round 1: parse", "zephyrblade", r"def \w+\("):
            old.grep(None, pattern).collect()
            got = new.grep(None, pattern).collect()
            assert got and got == grep(new.doc_map_df, pattern).collect()
