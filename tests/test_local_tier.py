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
    sc = spark.sparkContext
    group = "ck-local-tier-test"
    idx = BM25Index.load(spark, roots["gens"])
    sc.setJobGroup(group, "driver-local read tier")
    try:
        hits = idx.search("parse buffer", k=10).collect()
        fetched = [idx.fetch_search_results(idx.search("parse buffer", k=10),
                                            full_section=f).collect()
                   for f in (False, True)]
        batch = idx.search_many(BATCH, k=10).collect()
    finally:
        sc.setJobGroup("", "")
    assert hits and all(len(f) == len(hits) for f in fetched) and batch
    assert list(sc.statusTracker().getJobIdsForGroup(group)) == []


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
