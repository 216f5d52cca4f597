"""LSM delta-generation update path (index/lsm.py; builder.update_index).

The contract under test: an updated index is RESULT-IDENTICAL to a
from-scratch build over the changed corpus — ranks, scores, enrichment,
term stats, even the manifest's corpus fingerprint (maintained by XOR
arithmetic) — while NO base segment is rewritten, and every crash point
either leaves the prior state intact (uncommitted generation) or heals
forward (compaction marker)."""

import os

import numpy as np
import pandas as pd
import pytest

from ck_spark.corpus import generate_corpus
from ck_spark.index import build_index
from ck_spark.index.builder import compact_index, repair_index, update_index
from ck_spark.index.manifest import Manifest
from ck_spark.query import BM25Index

QUERIES = [
    ("parse buffer", "or"),
    ("def return", "and"),
    ('+parse -"merge split"', "syntax"),
    ('"parse buffer"', "syntax"),
]


def _all_results(spark, root, corpus_df=None):
    idx = BM25Index.load(spark, root)
    out = {}
    for q, mode in QUERIES:
        if mode == "syntax":
            rows = idx.search_query(q, k=10).collect()
        else:
            rows = idx.search(q, k=10, mode=mode).collect()
        out[(q, mode)] = [(r["doc_id"], round(r["score"], 10)) for r in rows]
    # scoped search exercises the allowed+banned cogroup combination
    rows = idx.search("parse", k=10, include_prefixes=["src/m000"]).collect()
    out["scoped"] = [(r["doc_id"], round(r["score"], 10)) for r in rows]
    rows = idx.search_many([("parse buffer", "or"), ("def", "and")], k=5).collect()
    out["many"] = [(r["query_id"], r["doc_id"], round(r["score"], 10)) for r in rows]
    return out


def _term_stats_table(spark, root):
    from ck_spark.index.lsm import term_stats_path

    meta = Manifest(root).load_meta()
    pdf = (
        spark.read.parquet(term_stats_path(root, meta))
        .select("term", "df").toPandas().sort_values("term").reset_index(drop=True)
    )
    return pdf


def _edit(base: pd.DataFrame, round_no: int) -> pd.DataFrame:
    """Deterministic scattered edit: modify 4, remove 2, add 2."""
    changed = base.copy().reset_index(drop=True)
    rng = np.random.RandomState(1000 + round_no)
    idxs = rng.choice(len(changed), size=8, replace=False)
    for i in idxs[:4]:
        changed.loc[i, "content"] += f"\n# gen{round_no} marker catalyst_{round_no}\n"
    changed = changed.drop(changed.index[[int(idxs[4]), int(idxs[5])]])
    extra = generate_corpus(4, seed=9000 + round_no).iloc[:2].copy()
    extra["path"] = [f"gen{round_no}/a.py", f"gen{round_no}/b.py"]
    return pd.concat([changed, extra], ignore_index=True)


def _rooted(spark, tmp):
    """One base index + three successive delta updates; the same final
    corpus built fresh for comparison."""
    base = generate_corpus(220, seed=7)
    inc_root = str(tmp / "inc")
    build_index(spark, spark.createDataFrame(base), inc_root, mode="code",
                n_segments=5, term_buckets=8, build_groups=2)
    corpus, stats_log = base, []
    for rnd in (1, 2, 3):
        corpus = _edit(corpus, rnd)
        stats = update_index(spark, spark.createDataFrame(corpus), inc_root)
        stats_log.append(stats)
    fresh_root = str(tmp / "fresh")
    build_index(spark, spark.createDataFrame(corpus), fresh_root, mode="code",
                n_segments=5, term_buckets=8, build_groups=2)
    return inc_root, fresh_root, corpus, stats_log


@pytest.fixture(scope="module")
def rooted(spark, tmp_path_factory):
    """Small updates: the driver write tier stages them."""
    return _rooted(spark, tmp_path_factory.mktemp("lsm"))


@pytest.fixture(scope="module")
def rooted_spark(spark, tmp_path_factory):
    """The same updates through the Spark tier (input cap 0)."""
    from ck_spark.index import builder

    with pytest.MonkeyPatch.context() as m:
        m.setattr(builder, "LOCAL_UPDATE_MAX_DOCS", 0)
        return _rooted(spark, tmp_path_factory.mktemp("lsm_spark"))


def test_spark_tier_matches_fresh_build(spark, rooted_spark):
    """The key cases below, on generations the Spark tier staged:
    generations accumulate, answers and arithmetic stats equal a fresh
    build, and compaction verifies and folds."""
    test_delta_updates_accumulate_generations(spark, rooted_spark)
    test_results_identical_to_fresh_build(spark, rooted_spark)
    test_arithmetic_stats_exact(spark, rooted_spark)
    test_compaction_folds_and_verifies(spark, rooted_spark)


def test_delta_updates_accumulate_generations(spark, rooted):
    inc_root, _, _, stats_log = rooted
    assert [s["gen"] for s in stats_log] == [1, 2, 3]
    meta = Manifest(inc_root).load_meta()
    assert meta["gens"] == [1, 2, 3]
    # every update tombstoned 4 modified + 2 removed versions
    assert meta["n_tombstones"] == 18
    for s in stats_log:
        assert (s["added"], s["removed"], s["modified"]) == (2, 2, 4)


def test_base_segments_never_rewritten(spark, rooted, tmp_path):
    """The headline scale property: a scattered update touches every
    segment's DOC SPACE, yet no base partition is rewritten — write
    volume is the delta generation only."""
    inc_root, _, corpus, _ = rooted
    idx = BM25Index.load(spark, inc_root)
    pre = {}
    for table in (idx.paths.doc_map, idx.paths.postings):
        for dirpath, _, files in os.walk(table):
            for f in files:
                p = os.path.join(dirpath, f)
                pre[p] = os.path.getmtime(p)
    corpus2 = _edit(pd.DataFrame(corpus), 4)
    stats = update_index(spark, spark.createDataFrame(corpus2), inc_root)
    assert stats["gen"] == 4
    for p, mt in pre.items():
        assert os.path.getmtime(p) == mt, f"base file rewritten: {p}"
    # roll back to the fixture state for the other tests (gen 5 supersedes)
    update_index(spark, spark.createDataFrame(pd.DataFrame(corpus)), inc_root)


def test_results_identical_to_fresh_build(spark, rooted):
    inc_root, fresh_root, _, _ = rooted
    ri = _all_results(spark, inc_root)
    rf = _all_results(spark, fresh_root)
    assert ri.keys() == rf.keys()
    for key in rf:
        assert ri[key] == rf[key], key


def test_arithmetic_stats_exact(spark, rooted):
    """n_docs, avgdl, total_tokens, the manifest fingerprint and the full
    term dictionary must equal the fresh build's — bit-for-bit for the
    fingerprint (XOR self-inversion), float-identical for avgdl."""
    inc_root, fresh_root, _, _ = rooted
    mi = Manifest(inc_root).load_meta()
    mf = Manifest(fresh_root).load_meta()
    assert mi["n_docs"] == mf["n_docs"]
    assert mi["avgdl"] == mf["avgdl"]
    assert mi["input_snapshot"] == mf["input_snapshot"]
    ti = _term_stats_table(spark, inc_root)
    tf = _term_stats_table(spark, fresh_root)
    pd.testing.assert_frame_equal(ti, tf)


def test_enrichment_reads_live_view(spark, rooted):
    """fetch/with_paths resolve a modified doc to its NEWEST version and
    never return a removed doc."""
    inc_root, fresh_root, corpus, _ = rooted
    idx = BM25Index.load(spark, inc_root)
    res = idx.search("catalyst_3", k=20, with_paths=True).collect()
    fresh = BM25Index.load(spark, fresh_root)
    res_f = fresh.search("catalyst_3", k=20, with_paths=True).collect()
    assert [(r["doc_id"], r["path"]) for r in res] == [
        (r["doc_id"], r["path"]) for r in res_f
    ]
    assert len(res) > 0
    enr = idx.fetch_search_results(idx.search("catalyst_3", k=3)).collect()
    assert all("catalyst_3" in r["preview"] or r["byte_end"] > 0 for r in enr)


def test_orphan_generation_invisible_and_gcd(spark, rooted):
    """A generation directory without its meta commit (= crash mid-append)
    must not change any result, and the next update GC's it."""
    from ck_spark.index import lsm

    inc_root, fresh_root, corpus, _ = rooted
    before = _all_results(spark, inc_root)
    # fabricate an orphan gen: copy gen=1's dirs under an uncommitted number
    import shutil

    g_src = lsm.delta_doc_map_dir(inc_root, 1)
    g_dst = lsm.delta_doc_map_dir(inc_root, 77)
    shutil.copytree(g_src, g_dst)
    p_src = lsm.delta_postings_dir(inc_root, 1)
    p_dst = lsm.delta_postings_dir(inc_root, 77)
    shutil.copytree(p_src, p_dst)
    assert _all_results(spark, inc_root) == before
    # a no-op update still GCs the orphan
    stats = update_index(spark, spark.createDataFrame(pd.DataFrame(corpus)), inc_root)
    assert stats["added"] + stats["removed"] + stats["modified"] == 0
    assert not os.path.exists(g_dst) and not os.path.exists(p_dst)


def test_compaction_folds_and_verifies(spark, rooted):
    """compact_index folds generations into the base, the arithmetic
    fingerprint cross-check passes, and results are unchanged. Runs LAST
    against the shared fixture (it mutates the layout)."""
    inc_root, fresh_root, _, _ = rooted
    before = _all_results(spark, inc_root)
    assert compact_index(spark, inc_root) is True
    meta = Manifest(inc_root).load_meta()
    assert meta["gens"] == [] and meta["n_tombstones"] == 0
    assert meta["term_stats_dir"] == "term_stats"
    from ck_spark.index import lsm

    assert not os.path.exists(os.path.join(inc_root, lsm.DELTA_DIR))
    assert not os.path.exists(lsm.tombstones_dir(inc_root))
    assert _all_results(spark, inc_root) == before
    # and the folded meta matches the fresh build exactly
    mf = Manifest(fresh_root).load_meta()
    assert meta["input_snapshot"] == mf["input_snapshot"]
    assert meta["n_docs"] == mf["n_docs"] and meta["avgdl"] == mf["avgdl"]
    # idempotent no-op second time
    assert compact_index(spark, inc_root) is False


def test_compaction_crash_heals_forward(spark, tmp_path):
    """Kill compaction after the marker write (before swap/re-encode):
    repair_index must converge to the compacted index."""
    base = generate_corpus(120, seed=11)
    root = str(tmp_path / "idx")
    build_index(spark, spark.createDataFrame(base), root, mode="code",
                n_segments=3, term_buckets=8, build_groups=1)
    changed = _edit(base, 1)
    update_index(spark, spark.createDataFrame(changed), root)
    before = _all_results(spark, root)

    # stage + marker, then "crash" (skip _finish_compact)
    from ck_spark.index import lsm
    from ck_spark.index.builder import IndexPaths, doc_map_cols
    from ck_spark.index.format import ParquetDirStore

    man = Manifest(root)
    meta = man.load_meta()
    store = ParquetDirStore()
    live = lsm.live_doc_map(spark, root, meta)
    tmp = store.stage(
        live.select(*doc_map_cols(bool(meta.get("store_content")))),
        root, int(meta["n_segments"]),
    )
    man.save_marker("compact_inprogress", {"tmp": tmp, "ts": 0})

    assert repair_index(spark, root) is True
    meta2 = man.load_meta()
    assert meta2["gens"] == []
    assert man.load_marker("compact_inprogress") is None
    assert _all_results(spark, root) == before


def test_removal_only_update(spark, tmp_path):
    """A pure-removal delta writes an empty generation (tombstones only)
    — the empty doc_map/postings dirs must read cleanly and results must
    match a fresh build over the shrunk corpus."""
    _removal_only_update(spark, tmp_path)


def test_removal_only_update_spark_tier(spark, tmp_path, monkeypatch):
    from ck_spark.index import builder

    monkeypatch.setattr(builder, "LOCAL_UPDATE_MAX_DOCS", 0)
    _removal_only_update(spark, tmp_path)


def _removal_only_update(spark, tmp_path):
    base = generate_corpus(100, seed=23)
    root = str(tmp_path / "idx")
    build_index(spark, spark.createDataFrame(base), root, mode="code",
                n_segments=3, term_buckets=8, build_groups=1)
    shrunk = base.drop(base.index[[3, 4, 5, 60]]).reset_index(drop=True)
    stats = update_index(spark, spark.createDataFrame(shrunk), root)
    assert stats["removed"] == 4 and stats["added"] == 0 and stats["modified"] == 0
    fresh = str(tmp_path / "fresh")
    build_index(spark, spark.createDataFrame(shrunk), fresh, mode="code",
                n_segments=3, term_buckets=8, build_groups=1)
    assert _all_results(spark, root) == _all_results(spark, fresh)
    mi, mf = Manifest(root).load_meta(), Manifest(fresh).load_meta()
    assert mi["input_snapshot"] == mf["input_snapshot"]


def test_corpus_stats_follows_the_meta_commit(spark, tmp_path, monkeypatch):
    """corpus_stats mirrors the committed meta: an update whose meta
    commit fails must leave it at the prior values, and the next
    successful update brings it to the new ones."""
    base = generate_corpus(60, seed=17)
    root = str(tmp_path / "idx")
    build_index(spark, spark.createDataFrame(base), root, mode="code",
                n_segments=2, term_buckets=4, build_groups=1)
    corpus_stats = os.path.join(root, "corpus_stats")

    def stats_match_meta():
        row = spark.read.parquet(corpus_stats).collect()[0]
        meta = Manifest(root).load_meta()
        return (row["n_docs"], row["avgdl"], row["total_tokens"]) == (
            meta["n_docs"], meta["avgdl"], meta["total_tokens"])

    assert stats_match_meta()
    changed = _edit(base, 1)  # +2 -2 ~4: token totals move

    def failing_commit(self, meta):
        raise OSError("simulated crash at the meta commit")

    with monkeypatch.context() as m:
        m.setattr(Manifest, "save_meta", failing_commit)
        with pytest.raises(OSError, match="meta commit"):
            update_index(spark, spark.createDataFrame(changed), root)
    assert Manifest(root).load_meta().get("gens", []) == []
    assert stats_match_meta()

    stats = update_index(spark, spark.createDataFrame(changed), root)
    assert stats["gen"] and stats_match_meta()


def test_compaction_drift_keeps_the_generations(spark, tmp_path):
    """A fold whose fingerprint misses the maintained one (an exactness
    bug, simulated by a falsified input_snapshot) fails safe: compaction
    raises before anything is swapped, the staged fold is dropped, no
    compact_inprogress marker is left, the generations stay live and
    searchable, and repair has nothing to heal."""
    base = generate_corpus(40, seed=13)
    root = str(tmp_path / "drift")
    build_index(spark, spark.createDataFrame(base), root, mode="code",
                n_segments=2, term_buckets=4, build_groups=1)
    batch = base.iloc[:2].copy()
    new = generate_corpus(4, seed=14).iloc[:1].copy()
    new["path"] = ["drift/new.py"]
    batch = pd.concat([batch, new], ignore_index=True)
    batch["content"] += "\n# zzdriftprobe\n"
    update_index(spark, spark.createDataFrame(batch), root, full_snapshot=False)
    man = Manifest(root)
    meta = man.load_meta()
    true_snapshot = meta["input_snapshot"]
    meta["input_snapshot"] = "n1-h1"
    man.save_meta(meta)

    with pytest.raises(RuntimeError, match="drift"):
        compact_index(spark, root)
    assert man.load_meta()["gens"] == [1]
    assert man.load_marker("compact_inprogress") is None
    assert not os.path.exists(os.path.join(root, "_tmp_doc_map"))
    assert repair_index(spark, root) is False
    idx = BM25Index.load(spark, root)
    assert len(idx.search("zzdriftprobe", k=10).collect()) == 3

    meta["input_snapshot"] = true_snapshot
    man.save_meta(meta)
    assert compact_index(spark, root) is True
    assert man.load_meta()["gens"] == []
    idx = BM25Index.load(spark, root)
    assert len(idx.search("zzdriftprobe", k=10).collect()) == 3


def test_live_views_read_with_the_declared_schema(spark, rooted, tmp_path):
    """The live doc_map and postings views read the base with its declared
    schema, which equals the one Spark infers (partition columns last —
    the generation union is built on the base's columns), so a fresh
    handle's first doc_map_df and postings_df access runs no Spark job,
    with generations and without, stored content or not."""
    from ck_spark.index import lsm
    from ck_spark.index.builder import POSTINGS_SCHEMA, doc_map_schema
    from tests.conftest import spark_jobs

    plain = str(tmp_path / "plain")
    build_index(spark, spark.createDataFrame(generate_corpus(30, seed=8)), plain,
                n_segments=2, term_buckets=4, store_content=False)
    inc_root, fresh_root = rooted[:2]
    for root in (inc_root, fresh_root, plain):
        meta = Manifest(root).load_meta()
        for table, ddl in (
            ("doc_map", doc_map_schema(bool(meta["store_content"]))),
            ("postings", POSTINGS_SCHEMA + ", seg int, bucket int"),
        ):
            path = os.path.join(root, table)
            assert (spark.read.schema(ddl).parquet(path).schema
                    == spark.read.parquet(path).schema), (root, table)
        idx = BM25Index.load(spark, root)
        cols, jobs = spark_jobs(
            spark, lambda: (idx.doc_map_df.columns, idx.postings_df.columns))
        assert jobs == [], root
        dm = spark.read.parquet(os.path.join(root, "doc_map")).columns
        post = spark.read.parquet(os.path.join(root, "postings")).columns
        if lsm.live_gens(meta):  # the tombstone anti-join leads with its keys
            dm = ["gen", "doc_id"] + [c for c in dm if c != "doc_id"]
            post = post + ["gen"]
        assert cols == (dm, post), root
