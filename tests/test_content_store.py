"""Point-read content store (index/content_store.py): blob round-trip
exactness, fetch-path identity (grep + result fetch), update/repair
refresh, and the marker fallback discipline.

The invariant: every consumer that can use the blob store produces
ROW-IDENTICAL results to the parquet stored-content path — the store
only changes WHERE bytes come from, never what they are."""

from __future__ import annotations

import tempfile

import pytest

from ck_spark.corpus import generate_corpus
from ck_spark.index.content_store import (
    ContentStore,
    build_content_store,
    content_store_exists,
    invalidate_content_store_marker,
)


@pytest.fixture(scope="module")
def stored(spark):
    from ck_spark.index.builder import build_index
    from ck_spark.query.trigram import build_trigram_index

    pdf = generate_corpus(150, seed=42)
    corpus = spark.createDataFrame(pdf)
    root = tempfile.mkdtemp(prefix="ck_cstore_")
    build_index(spark, corpus, root, mode="code", n_segments=4,
                term_buckets=8, resume=False)
    build_trigram_index(spark, corpus, root)
    n = build_content_store(spark, root)
    assert n == len(pdf)  # generate_corpus appends edge docs beyond n_docs
    return corpus, root


def _rows(df, cols):
    return sorted(tuple(r[c] for c in cols) for r in df.collect())


def test_round_trip_every_doc_exact(spark, stored):
    """fetch_pred over ALL (seg, doc_id) pairs returns byte-identical
    content for every doc — including the edge docs (empty content, CRLF,
    long identifiers, the NUL-byte binary doc)."""
    _, root = stored
    dm = spark.read.parquet(root + "/doc_map")
    pairs = [(r["seg"], r["doc_id"]) for r in
             dm.select("seg", "doc_id").collect()]
    store = ContentStore.load(spark, root)
    got = store.fetch_pred(sorted({s for s, _ in pairs}),
                           [d for _, d in pairs])
    cols = ["doc_id", "repo", "path", "lang", "content"]
    assert _rows(got, cols) == _rows(dm.select(*cols), cols)


def test_fetch_is_point_read_not_parquet_scan(spark, stored):
    """The fetch plan must not contain a doc_map parquet scan — its only
    file source is the (content-free) pointer table."""
    _, root = stored
    store = ContentStore.load(spark, root)
    dm = spark.read.parquet(root + "/doc_map")
    some = dm.select("seg", "doc_id").limit(5).collect()
    plan = store.fetch_pred(
        [r["seg"] for r in some], [r["doc_id"] for r in some]
    )._jdf.queryExecution().executedPlan().toString()
    assert "doc_map" not in plan
    assert "content_store/ptr" in plan.replace("\\", "/")


def test_grep_indexed_uses_blobs_and_matches_scan(spark, stored):
    from ck_spark.query.grep import grep
    from ck_spark.query.trigram import grep_indexed

    corpus, root = stored
    cols = ["path", "line_no", "line"]
    for pattern in ["zephyr", "return|import", "def "]:
        base = _rows(grep(corpus, pattern), cols)
        got = _rows(grep_indexed(spark, corpus, root, pattern), cols)
        assert got == base, pattern
    # corpus-free stored path too
    got = _rows(grep_indexed(spark, None, root, "zephyr"), cols)
    assert got == _rows(grep(corpus, "zephyr"), cols)


def test_fetch_search_results_identical_with_and_without_store(spark, stored):
    from ck_spark.query.bm25 import BM25Index

    _, root = stored
    idx = BM25Index.load(spark, root)
    assert idx.content_store is not None
    res = idx.search("def return", k=10, mode="or")
    cols = ["doc_id", "repo", "path", "score", "preview", "byte_start",
            "byte_end", "line_start", "line_end", "lang"]
    with_store = _rows(idx.fetch_search_results(res), cols)
    # force the parquet path on a fresh handle
    idx2 = BM25Index.load(spark, root)
    idx2.__dict__["_content_store"] = None
    without = _rows(idx2.fetch_search_results(res), cols)
    assert with_store == without
    assert len(with_store) == 10


def test_update_refreshes_store_delta(spark, tmp_path):
    """After update_index, fetches return the NEW content, removed docs
    vanish, and the refresh was an LSM delta: every pre-existing blob
    file survives untouched (only changed docs' bytes were appended)."""
    import os

    from ck_spark.index.builder import build_index, update_index

    pdf = generate_corpus(80, seed=7)
    corpus = spark.createDataFrame(pdf)
    root = str(tmp_path / "idx")
    build_index(spark, corpus, root, mode="code", n_segments=4,
                term_buckets=8, resume=False)
    build_content_store(spark, root)

    def blob_files():
        out = {}
        bdir = os.path.join(root, "content_store", "blobs")
        for seg in os.listdir(bdir):
            for f in os.listdir(os.path.join(bdir, seg)):
                out[f"{seg}/{f}"] = os.path.getmtime(
                    os.path.join(bdir, seg, f))
        return out

    dm0 = spark.read.parquet(root + "/doc_map")
    removed_row = dm0.where(dm0.path == pdf.loc[5, "path"]).select(
        "seg", "doc_id").collect()[0]
    before = blob_files()
    pdf2 = pdf.copy()
    pdf2.loc[3, "content"] = "def zzz_updated_marker_fn():\n    return 99\n"
    pdf2 = pdf2.drop(index=5)  # removal (full snapshot)
    update_index(spark, spark.createDataFrame(pdf2), root,
                 full_snapshot=True)
    assert content_store_exists(root)
    store = ContentStore.load(spark, root)
    # the updated docs live in the delta generation, not the base table —
    # read the LSM live view (base ∪ delta − tombstones)
    from ck_spark.index.lsm import live_doc_map

    dm = live_doc_map(spark, root)
    row = dm.where(dm.path == pdf2.loc[3, "path"]).select(
        "seg", "doc_id", "content").collect()[0]
    got = store.fetch_pred([row["seg"]], [row["doc_id"]]).collect()
    assert got[0]["content"] == pdf2.loc[3, "content"] == row["content"]
    # removed doc: pointer gone (fetch returns nothing)
    gone = store.fetch_pred([removed_row["seg"]],
                            [removed_row["doc_id"]]).collect()
    assert gone == []
    after = blob_files()
    assert set(before) <= set(after), "delta refresh must not drop blobs"
    assert all(before[f] == after[f] for f in before), \
        "pre-existing blob files must be untouched (append-only delta)"
    # and the pointer table is globally exact vs doc_map
    pairs = dm.select("seg", "doc_id").collect()
    cols = ["doc_id", "repo", "path", "lang", "content"]
    got_all = store.fetch_pred([r["seg"] for r in pairs],
                               [r["doc_id"] for r in pairs])
    assert _rows(got_all, cols) == _rows(dm.select(*cols), cols)


def test_update_compacts_past_delta_budget(spark, tmp_path, monkeypatch):
    """Changing more than DELTA_COMPACT_FRACTION of the corpus folds the
    delta into a fresh store build (delta_docs resets, fetches exact)."""
    import json
    import os

    import ck_spark.index.content_store as cs
    from ck_spark.index.builder import build_index, update_index

    monkeypatch.setattr(cs, "DELTA_COMPACT_FRACTION", 0.10)
    pdf = generate_corpus(40, seed=13)
    corpus = spark.createDataFrame(pdf)
    root = str(tmp_path / "idx")
    build_index(spark, corpus, root, mode="code", n_segments=2,
                term_buckets=4, resume=False)
    build_content_store(spark, root)
    pdf2 = pdf.copy()
    pdf2["content"] = pdf2["content"] + "\nzz_bulk_edit_token\n"
    update_index(spark, spark.createDataFrame(pdf2), root)
    assert content_store_exists(root)
    marker = json.load(open(os.path.join(
        root, "content_store", "_CONTENT_STORE_COMPLETE")))
    assert marker["delta_docs"] == 0, "compaction must reset the delta"
    store = ContentStore.load(spark, root)
    dm = spark.read.parquet(root + "/doc_map")
    pairs = dm.select("seg", "doc_id").collect()
    cols = ["doc_id", "repo", "path", "lang", "content"]
    got = store.fetch_pred([r["seg"] for r in pairs],
                           [r["doc_id"] for r in pairs])
    assert _rows(got, cols) == _rows(dm.select(*cols), cols)


def test_missing_marker_falls_back_everywhere(spark, stored):
    """Marker dropped (crash simulation): ContentStore.load refuses; the
    trigram grep and result fetch silently use the parquet path with
    identical results."""
    from ck_spark.query.bm25 import BM25Index
    from ck_spark.query.grep import grep
    from ck_spark.query.trigram import grep_indexed

    corpus, root = stored
    import json
    import os

    marker = os.path.join(root, "content_store", "_CONTENT_STORE_COMPLETE")
    saved = open(marker).read()
    try:
        invalidate_content_store_marker(root)
        with pytest.raises(FileNotFoundError):
            ContentStore.load(spark, root)
        cols = ["path", "line_no", "line"]
        assert _rows(grep_indexed(spark, corpus, root, "zephyr"), cols) == \
            _rows(grep(corpus, "zephyr"), cols)
        idx = BM25Index.load(spark, root)
        assert idx.content_store is None
        res = idx.search("def", k=5)
        assert idx.fetch_search_results(res).count() == 5
        # codec mismatch refuses too
        bad = dict(json.loads(saved), codec="zstd99")
        with open(marker, "w") as f:
            json.dump(bad, f)
        with pytest.raises(FileNotFoundError):
            ContentStore.load(spark, root)
    finally:
        with open(marker, "w") as f:
            f.write(saved)


def test_repair_restores_content_store(spark, tmp_path):
    """Crash between an update's meta commit and its pointer-table commit
    (cs_refresh_pending set, store marker gone, one segment's blobs and
    another's pointers lost): repair_index must re-derive the flagged
    segments from the live view — the new generation included — and
    restore a marker whose fetches are exact."""
    import os
    import shutil

    from ck_spark.index.builder import build_index, repair_index, update_index
    from ck_spark.index.lsm import live_doc_map
    from ck_spark.index.manifest import Manifest

    pdf = generate_corpus(60, seed=11)
    root = str(tmp_path / "idx")
    build_index(spark, spark.createDataFrame(pdf), root, mode="code",
                n_segments=4, term_buckets=8, resume=False)
    build_content_store(spark, root)
    pdf2 = pdf.copy()
    pdf2.loc[pdf2.index[:6], "content"] += "\nqqzz_fresh_after_commit\n"
    update_index(spark, spark.createDataFrame(pdf2), root)  # delta gen 1

    # simulate the crash window: bracket set, marker dropped, seg 0 and 1
    # partially refreshed (blob dir gone for 0, ptr dir gone for 1)
    Manifest(root).save_marker("cs_refresh_pending", {"segs": [0, 1]})
    invalidate_content_store_marker(root)
    shutil.rmtree(os.path.join(root, "content_store", "blobs", "seg=0"),
                  ignore_errors=True)
    shutil.rmtree(os.path.join(root, "content_store", "ptr", "seg=1"),
                  ignore_errors=True)

    assert repair_index(spark, root) is True
    assert Manifest(root).load_marker("cs_refresh_pending") is None
    assert content_store_exists(root)
    dm = live_doc_map(spark, root)
    pairs = dm.select("seg", "doc_id").collect()
    store = ContentStore.load(spark, root)
    got = store.fetch_pred([r["seg"] for r in pairs],
                           [r["doc_id"] for r in pairs])
    cols = ["doc_id", "repo", "path", "lang", "content"]
    assert _rows(got, cols) == _rows(dm.select(*cols), cols)
    assert sum("qqzz_fresh_after_commit" in r[-1] for r in _rows(got, cols)) == 6


def test_fresh_build_invalidates_stale_store(spark, tmp_path):
    """A full rebuild over CHANGED content must not leave the old store
    (or trigram index) marker valid — both derive from the old bytes."""
    from ck_spark.index.builder import build_index
    from ck_spark.query.trigram import (
        build_trigram_index, trigram_index_exists,
    )

    pdf = generate_corpus(40, seed=3)
    corpus = spark.createDataFrame(pdf)
    root = str(tmp_path / "idx")
    build_index(spark, corpus, root, mode="code", n_segments=2,
                term_buckets=4, resume=False)
    build_trigram_index(spark, corpus, root)
    build_content_store(spark, root)
    assert content_store_exists(root) and trigram_index_exists(root)

    pdf2 = pdf.copy()
    pdf2["content"] = pdf2["content"] + "\nqqzz_new_token_after_rebuild\n"
    build_index(spark, spark.createDataFrame(pdf2), root, mode="code",
                n_segments=2, term_buckets=4, resume=False,
                snapshot_id="changed")
    assert not content_store_exists(root)
    assert not trigram_index_exists(root)


def test_update_dead_terms_from_blob_store_exact(spark, tmp_path):
    """With a content store present, the update's term-stats correction
    re-tokenizes the dead docs' OLD content from ranged blob reads
    instead of point-scattering into doc_map's tfm column (which reads
    ~the whole column for hash-spread ids). The resulting term stats and
    search scores must be identical to a from-scratch rebuild."""
    from ck_spark.index.builder import build_index, update_index
    from ck_spark.index.lsm import term_stats_path
    from ck_spark.index.manifest import Manifest
    from ck_spark.query import BM25Index

    pdf = generate_corpus(60, seed=31)
    root = str(tmp_path / "upd")
    root2 = str(tmp_path / "fresh")
    build_index(spark, spark.createDataFrame(pdf), root, mode="code",
                n_segments=4, term_buckets=8, build_groups=1)
    build_content_store(spark, root)

    pdf2 = pdf.copy()
    pdf2.loc[pdf2.index[:5], "content"] = (
        pdf2.loc[pdf2.index[:5], "content"] + "\nzzfreshterm()\n"
    )
    pdf2 = pdf2.drop(index=pdf2.index[7:10])  # removals exercise dead terms
    update_index(spark, spark.createDataFrame(pdf2), root, full_snapshot=True)
    build_index(spark, spark.createDataFrame(pdf2), root2, mode="code",
                n_segments=4, term_buckets=8, build_groups=1)

    def ts(r):
        meta = Manifest(r).load_meta()
        return (
            spark.read.parquet(term_stats_path(r, meta))
            .select("term", "df").toPandas()
            .sort_values("term").reset_index(drop=True)
        )

    assert ts(root).equals(ts(root2))
    res = [
        sorted((r["doc_id"], round(r["score"], 9))
               for r in BM25Index.load(spark, p).search(
                   "parse buffer", k=10).collect())
        for p in (root, root2)
    ]
    assert res[0] == res[1]


def test_small_docs_share_packed_blocks(spark, stored):
    """Format-2 packing (VERDICT r4 ask #7): small docs must share
    compressed blocks — pointer rows with the same (file, off, clen) and
    ascending blk_off — so mid-size candidate fetches amortize per-doc
    seek/inflate overhead. Blocks respect the per-block doc/byte caps,
    and a doc bigger than the byte cap gets a block of its own."""
    from ck_spark.index.content_store import (
        _PACK_MAX_BYTES,
        _PACK_MAX_DOCS,
        _read_marker,
    )

    _, root = stored
    assert _read_marker(root).get("format", 1) >= 2
    store = ContentStore.load(spark, root)
    assert store.packed
    ptr = store.ptr.select("file", "off", "clen", "blk_off", "raw_len",
                           "doc_id").toPandas()
    n_docs = len(ptr)
    blocks = ptr.groupby(["file", "off"])
    assert blocks.ngroups < n_docs, "no packing happened"
    for (_f, _o), grp in blocks:
        assert len(grp) <= _PACK_MAX_DOCS
        small = grp[grp["raw_len"] < _PACK_MAX_BYTES]
        if len(grp) > 1:
            # packed block: per-doc slices tile [0, sum(raw_len)) exactly
            g = grp.sort_values("blk_off")
            expect = 0
            for bo, rl in zip(g["blk_off"], g["raw_len"]):
                assert int(bo) == expect
                expect += int(rl)
        big = grp[grp["raw_len"] >= _PACK_MAX_BYTES]
        if len(big):
            assert len(grp) == len(big) == 1, "big doc must sit alone"
        del small


def test_packed_local_fetch_matches_distributed(spark, stored):
    """fetch_pred_local (driver-side pyarrow path) must slice packed
    blocks identically to the distributed reader."""
    _, root = stored
    dm = spark.read.parquet(root + "/doc_map")
    rows = dm.select("seg", "doc_id", "content").collect()
    sub = rows[:: max(1, len(rows) // 40)]
    store = ContentStore.load(spark, root)
    pdf = store.fetch_pred_local([r["seg"] for r in sub],
                                 [r["doc_id"] for r in sub])
    got = dict(zip(pdf["doc_id"], pdf["content"]))
    for r in sub:
        assert got[r["doc_id"]] == r["content"], r["doc_id"]
