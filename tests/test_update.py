import os

import numpy as np
import pytest

from ck_spark.corpus import generate_corpus
from ck_spark.index import build_index
from ck_spark.index.builder import update_index
from ck_spark.query import BM25Index


def _results(idx, queries, k=10):
    out = {}
    for q in queries:
        rows = idx.search(q, k=k).collect()
        out[q] = [(r["doc_id"], r["score"]) for r in rows]
    return out


QUERIES = ["parse buffer", "def", "merge split cache", "duplicated content"]


@pytest.fixture(scope="module")
def corpora():
    base = generate_corpus(250, seed=42)
    changed = base.copy()
    # modify 3 docs, delete 2, add 2 (deterministic edits)
    changed.loc[changed.index[5], "content"] = "def totally_new_function(x):\n    return x\n"
    changed.loc[changed.index[17], "content"] += "# marker catalyst appears here\n"
    changed.loc[changed.index[42], "content"] = ""
    changed = changed.drop(changed.index[[7, 99]])
    extra = generate_corpus(8, seed=777).iloc[:2].copy()
    extra["path"] = ["new/added_one.py", "new/added_two.py"]
    import pandas as pd

    changed = pd.concat([changed, extra], ignore_index=True)
    return base, changed


def test_incremental_equals_fresh_build(spark, corpora, tmp_path):
    base, changed = corpora
    inc_root = str(tmp_path / "inc")
    fresh_root = str(tmp_path / "fresh")

    build_index(spark, spark.createDataFrame(base), inc_root, mode="code",
                n_segments=6, term_buckets=8, build_groups=2)

    # record mtimes of all seg partitions before update
    p = BM25Index.load(spark, inc_root).paths
    pre_mtime = {
        d: os.path.getmtime(os.path.join(p.postings, d))
        for d in os.listdir(p.postings) if d.startswith("seg=")
    }

    stats = update_index(spark, spark.createDataFrame(changed), inc_root)
    assert stats["added"] == 2
    assert stats["removed"] == 2
    assert stats["modified"] == 3
    assert 0 < len(stats["affected_segments"]) <= 6

    # unaffected segment partitions were not rewritten
    affected = {f"seg={s}" for s in stats["affected_segments"]}
    for d, mt in pre_mtime.items():
        if d not in affected:
            assert os.path.getmtime(os.path.join(p.postings, d)) == mt, d

    build_index(spark, spark.createDataFrame(changed), fresh_root, mode="code",
                n_segments=6, term_buckets=8, build_groups=2)

    inc = BM25Index.load(spark, inc_root)
    fresh = BM25Index.load(spark, fresh_root)
    assert inc.meta["n_docs"] == fresh.meta["n_docs"]
    assert abs(inc.meta["avgdl"] - fresh.meta["avgdl"]) < 1e-12

    ri, rf = _results(inc, QUERIES), _results(fresh, QUERIES)
    for q in QUERIES:
        assert [d for d, _ in ri[q]] == [d for d, _ in rf[q]], q
        np.testing.assert_allclose(
            [s for _, s in ri[q]], [s for _, s in rf[q]], rtol=1e-12
        )
    # WAND stays sound across the avgdl drift (scaled bounds)
    for q in ["def", "parse buffer"]:
        w = [(r["doc_id"], r["score"]) for r in inc.search(q, k=5, strategy="wand").collect()]
        e = [(r["doc_id"], r["score"]) for r in inc.search(q, k=5, strategy="exhaustive").collect()]
        assert [d for d, _ in w] == [d for d, _ in e]


def test_noop_update(spark, corpora, tmp_path):
    base, _ = corpora
    root = str(tmp_path / "noop")
    build_index(spark, spark.createDataFrame(base), root, mode="code",
                n_segments=4, term_buckets=8, build_groups=2)
    stats = update_index(spark, spark.createDataFrame(base), root)
    assert stats["affected_segments"] == []
    assert stats["added"] == stats["removed"] == stats["modified"] == 0
    assert stats["unchanged"] == len(base)


def test_update_finds_new_content(spark, corpora, tmp_path):
    base, changed = corpora
    root = str(tmp_path / "find")
    build_index(spark, spark.createDataFrame(base), root, mode="code",
                n_segments=6, term_buckets=8, build_groups=2)
    update_index(spark, spark.createDataFrame(changed), root)
    idx = BM25Index.load(spark, root)
    hits = idx.search("totally new function", mode="and", k=5, with_paths=True).collect()
    assert len(hits) == 1


def test_rebuild_changed_corpus_no_stale_postings(spark, tmp_path):
    """Rebuilding into an existing out_dir after the corpus changed must not
    leave postings from the old corpus behind (dynamic partition overwrite
    only replaces partitions the new corpus writes to)."""
    root = str(tmp_path / "rebuild")
    base = generate_corpus(60, seed=1)
    marked = base.copy()
    marked.loc[marked.index[0], "content"] = "zzzstaleterm only here\n"
    build_index(spark, spark.createDataFrame(marked), root, mode="code",
                n_segments=3, term_buckets=4, build_groups=2, snapshot_id="v1")
    idx = BM25Index.load(spark, root)
    assert idx.search("zzzstaleterm", k=5).count() == 1

    # rebuild same dir, corpus WITHOUT the term (and fewer docs)
    smaller = base.iloc[5:40]
    build_index(spark, spark.createDataFrame(smaller), root, mode="code",
                n_segments=3, term_buckets=4, build_groups=2, snapshot_id="v2")
    idx2 = BM25Index.load(spark, root)
    assert idx2.search("zzzstaleterm", k=5).count() == 0
    ts = spark.read.parquet(idx2.paths.term_stats)
    assert ts.where(ts.term == "zzzstaleterm").count() == 0
    # every posting doc_id exists in doc_map (no orphans from the old corpus)
    from pyspark.sql import functions as F
    dm_ids = {r.doc_id for r in
              spark.read.parquet(idx2.paths.doc_map).select("doc_id").collect()}
    res = idx2.search("def", k=1000).collect()
    assert res and all(r["doc_id"] in dm_ids for r in res)


def _crash_inside_compaction(spark, root):
    """Leave `root` as a compaction that crashed right after its marker
    write (builder.compact_index): the folded live view fully staged, the
    compact_inprogress marker recorded, nothing swapped yet. Returns the
    index paths and the staging dir."""
    from ck_spark.index import lsm
    from ck_spark.index.builder import IndexPaths, doc_map_cols
    from ck_spark.index.format import ParquetDirStore
    from ck_spark.index.manifest import Manifest

    man = Manifest(root)
    meta = man.load_meta()
    assert lsm.live_gens(meta), "needs delta generations to fold"
    live = lsm.live_doc_map(spark, root, meta)
    tmp = ParquetDirStore().stage(
        live.select(*doc_map_cols(bool(meta.get("store_content")))),
        root, int(meta["n_segments"]),
    )
    man.save_marker("compact_inprogress", {"tmp": tmp, "ts": 0})
    return IndexPaths(root), tmp


def _marked(base, rows, marker):
    changed = base.copy()
    changed.loc[changed.index[rows], "content"] += f"\n# {marker}\n"
    return changed


def test_interrupted_update_is_repaired_on_load(spark, tmp_path):
    """Crash window inside an update's compaction: doc_map swapped and the
    generations retired, but one segment's postings wiped and never
    re-encoded. The compact_inprogress marker must trigger a repair on
    the next load/update, even when a rerun's sha diff sees no changes."""
    import shutil as _sh

    from ck_spark.index import lsm
    from ck_spark.index.format import ParquetDirStore
    from ck_spark.index.manifest import Manifest

    root = str(tmp_path / "crash")
    base = generate_corpus(80, seed=3)
    build_index(spark, spark.createDataFrame(base), root, mode="code",
                n_segments=4, term_buckets=4, build_groups=2)
    c1 = _marked(base, [1, 2, 3], "first catalyst edit")
    update_index(spark, spark.createDataFrame(c1), root)  # delta gen 1
    ref = _results(BM25Index.load(spark, root), ["parse buffer", "def", "catalyst"])

    paths, tmp = _crash_inside_compaction(spark, root)
    ParquetDirStore().swap(paths.doc_map, list(range(4)), tmp)
    man = Manifest(root)
    meta = man.load_meta()
    meta.update({"gens": [], "n_tombstones": 0})
    man.save_meta(meta)
    _sh.rmtree(os.path.join(paths.postings, "seg=1"), ignore_errors=True)

    idx = BM25Index.load(spark, root, repair=True)  # owner-context repair
    assert man.load_marker("compact_inprogress") is None
    assert _results(idx, ["parse buffer", "def", "catalyst"]) == ref

    # and a no-change update on a crashed index repairs too
    c2 = _marked(c1, [40, 41], "second catalyst edit")
    update_index(spark, spark.createDataFrame(c2), root)  # delta gen 1 again
    ref2 = _results(BM25Index.load(spark, root), ["parse buffer", "def", "catalyst"])
    _crash_inside_compaction(spark, root)
    stats = update_index(spark, spark.createDataFrame(c2), root)
    assert stats["repaired"] is True
    assert stats["affected_segments"] == []
    assert lsm.live_gens(man.load_meta()) == []
    assert _results(BM25Index.load(spark, root),
                    ["parse buffer", "def", "catalyst"]) == ref2


def test_interrupted_swap_windows_are_recovered(spark, tmp_path):
    """The rename-aside swap protocol under compaction: every crash point
    leaves a segment's doc_map in exactly one of real / staged cand /
    aside, and repair rolls the fold forward from any of them (review
    finding: the old rmtree-then-rename could permanently lose a
    segment)."""
    import shutil as _sh

    from ck_spark.index import lsm
    from ck_spark.index.format import _aside
    from ck_spark.index.manifest import Manifest

    base = generate_corpus(80, seed=9)
    template = str(tmp_path / "template")
    build_index(spark, spark.createDataFrame(base), template, mode="code",
                n_segments=4, term_buckets=4, build_groups=2)
    changed = _marked(base, [2, 30, 61], "swap window catalyst")
    update_index(spark, spark.createDataFrame(changed), template)
    ref = _results(BM25Index.load(spark, template), ["parse buffer", "def", "catalyst"])
    for window in ("tmp", "aside", "tail"):
        root = str(tmp_path / f"swapcrash_{window}")
        _sh.copytree(template, root)
        paths, tmp_dm = _crash_inside_compaction(spark, root)
        real = os.path.join(paths.doc_map, "seg=1")
        cand = os.path.join(tmp_dm, "seg=1")
        if window == "aside":
            # crash between rename(real, aside) and rename(cand, real):
            # real missing, the _-prefixed aside (invisible to partition
            # discovery) holds the pre-compaction data
            os.rename(real, _aside(paths.doc_map, 1))
        elif window == "tail":
            # crash after rename(cand, real) but before the aside's rmtree
            os.rename(real, _aside(paths.doc_map, 1))
            os.rename(cand, real)
        # "tmp": crash before the swap started — the staged fold must be
        # rolled FORWARD
        healed = BM25Index.load(spark, root, repair=True)
        assert Manifest(root).load_marker("compact_inprogress") is None
        assert lsm.live_gens(Manifest(root).load_meta()) == []
        assert os.path.isdir(real)
        assert not os.path.exists(_aside(paths.doc_map, 1))
        assert not os.path.exists(tmp_dm)
        assert _results(healed, ["parse buffer", "def", "catalyst"]) == ref


def test_leftover_rewrite_marker_is_refused(spark, tmp_path):
    """An update_inprogress marker can only come from a crashed
    segment-rewrite update of older code, which nothing can finish any
    more: repair, update and an owner load refuse it and point at
    build_index instead of healing to a wrong index."""
    from ck_spark.index.builder import repair_index
    from ck_spark.index.manifest import Manifest

    root = str(tmp_path / "old_marker")
    base = generate_corpus(30, seed=5)
    build_index(spark, spark.createDataFrame(base), root, mode="code",
                n_segments=2, term_buckets=4, build_groups=1)
    Manifest(root).save_marker("update_inprogress", {"segs": [0, 1], "ts": 0})
    for attempt in (
        lambda: repair_index(spark, root),
        lambda: update_index(spark, spark.createDataFrame(base), root),
        lambda: BM25Index.load(spark, root, repair=True),
    ):
        with pytest.raises(ValueError, match="rebuild with build_index"):
            attempt()
    assert Manifest(root).load_marker("update_inprogress") is not None


def test_rebuild_same_content_different_snapshot_keeps_postings(spark, tmp_path):
    """Review finding: wiping postings on a fresh tokenize while their
    stage records survive let resume skip re-encoding — a rebuild whose
    content fingerprint is unchanged (only the snapshot token moved) must
    still produce a complete, queryable index."""
    root = str(tmp_path / "resnap")
    base = generate_corpus(60, seed=4)
    build_index(spark, spark.createDataFrame(base), root, mode="code",
                n_segments=3, term_buckets=4, build_groups=2, snapshot_id="t1")
    ref = _results(BM25Index.load(spark, root), ["parse buffer"])
    # same corpus content, new snapshot token (e.g. a touch changed mtime)
    build_index(spark, spark.createDataFrame(base), root, mode="code",
                n_segments=3, term_buckets=4, build_groups=2, snapshot_id="t2")
    idx = BM25Index.load(spark, root)
    assert os.path.isdir(idx.paths.postings) and os.path.isdir(idx.paths.term_stats)
    assert _results(idx, ["parse buffer"]) == ref


def test_update_trusted_sha_column_drives_the_diff(spark, tmp_path):
    """A corpus carrying a materialized content_sha256 column (the
    north-star Iceberg table's ingest invariant) is TRUSTED by the
    snapshot diff — the diff reads key+hash columns only, never hashing
    content. Proven both ways: correct hashes give the identical update
    a plain corpus gives, and a deliberately PERTURBED hash on an
    unchanged doc makes the diff re-ingest it (the column, not the
    content, decides)."""
    import hashlib

    from ck_spark.corpus import generate_corpus
    from ck_spark.index import build_index
    from ck_spark.index.builder import update_index
    from ck_spark.query import BM25Index

    pdf = generate_corpus(50, seed=21)
    root = str(tmp_path / "idx")
    build_index(spark, spark.createDataFrame(pdf), root, mode="code",
                n_segments=2, term_buckets=4, build_groups=1)

    pdf2 = pdf.copy()
    pdf2.loc[pdf2.index[:3], "content"] = (
        pdf2.loc[pdf2.index[:3], "content"] + "\ntrustedshamarker()\n"
    )
    pdf2["content_sha256"] = pdf2["content"].map(
        lambda c: hashlib.sha256(c.encode()).hexdigest()
    )
    stats = update_index(spark, spark.createDataFrame(pdf2), root,
                         full_snapshot=True)
    assert stats["modified"] == 3 and stats["added"] == stats["removed"] == 0
    idx = BM25Index.load(spark, root)
    assert idx.search("trustedshamarker", k=10).count() == 3

    # perturbed hash on an UNCHANGED doc: the diff must trust the column
    # and treat the doc as modified (content is never re-hashed)
    pdf3 = pdf2.copy()
    pdf3.loc[pdf3.index[10], "content_sha256"] = "0" * 64
    stats = update_index(spark, spark.createDataFrame(pdf3), root,
                         full_snapshot=True)
    assert stats["modified"] == 1
    # the re-ingested row stored the TRUE content hash, so the next
    # update with correct hashes sees it as modified once more (doc_map
    # holds sha2(content), the supplied column only gates the diff)
    stats = update_index(spark, spark.createDataFrame(pdf3), root,
                         full_snapshot=True)
    assert stats["modified"] == 1
    stats = update_index(spark, spark.createDataFrame(pdf2), root,
                         full_snapshot=True)
    assert stats["modified"] == 0 and stats["unchanged"] == len(pdf2)
