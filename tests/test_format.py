"""Table-format seam (index/format.py): compaction drives the doc_map
swap ONLY through the SegmentStore interface. A recording store checks
the call protocol; a crashing store checks that the next update heals
through the same interface."""

from __future__ import annotations

import pytest

from ck_spark.corpus import generate_corpus
from ck_spark.index import build_index
from ck_spark.index.builder import update_index
from ck_spark.index.format import ParquetDirStore, SegmentStore
from ck_spark.query import BM25Index


class RecordingStore(SegmentStore):
    """Delegates to ParquetDirStore but records the protocol order."""

    name = "recording"

    def __init__(self):
        self.inner = ParquetDirStore()
        self.calls: list[str] = []

    def stage(self, df, root, n_segments):
        self.calls.append("stage")
        return self.inner.stage(df, root, n_segments)

    def swap(self, doc_map_dir, segs, staging):
        self.calls.append(f"swap:{sorted(segs)}")
        return self.inner.swap(doc_map_dir, segs, staging)

    def heal(self, doc_map_dir, segs, staging):
        self.calls.append("heal")
        return self.inner.heal(doc_map_dir, segs, staging)

    def cleanup(self, staging):
        self.calls.append("cleanup")
        return self.inner.cleanup(staging)


def test_compaction_goes_through_store_protocol(spark, tmp_path):
    """compact_index (the LSM fold) is the consumer of the store seam:
    folding generations back into the base must stage → swap → cleanup
    through the SegmentStore, never raw renames."""
    from ck_spark.index.builder import compact_index

    root = str(tmp_path / "idxc")
    pdf = generate_corpus(60, seed=9)
    build_index(spark, spark.createDataFrame(pdf), root, mode="code",
                n_segments=2, term_buckets=4, build_groups=1)
    pdf2 = pdf.copy()
    pdf2.loc[pdf2.index[:5], "content"] = "compacting zebra content"
    stats = update_index(spark, spark.createDataFrame(pdf2), root)  # delta
    assert stats.get("gen"), "delta update must append a generation"
    store = RecordingStore()
    compact_index(spark, root, store=store)
    assert store.calls[0] == "stage"
    assert store.calls[1].startswith("swap:")
    assert "cleanup" in store.calls and "heal" not in store.calls
    from ck_spark.index import lsm
    from ck_spark.index.manifest import Manifest

    assert lsm.live_gens(Manifest(root).load_meta()) == []
    idx = BM25Index.load(spark, root)
    assert idx.search("zebra", k=10).count() == 5


def test_fake_commit_store_marker_and_heal(spark, tmp_path):
    """A store whose swap 'crashes' mid-compaction: the compact marker
    stays, and the next update heals through the SAME interface (rolling
    the staged fold forward) before appending its own generation."""
    from ck_spark.index import lsm
    from ck_spark.index.builder import compact_index
    from ck_spark.index.manifest import Manifest

    root = str(tmp_path / "idx2")
    pdf = generate_corpus(50, seed=5)
    build_index(spark, spark.createDataFrame(pdf), root, mode="code",
                n_segments=2, term_buckets=4, build_groups=1)
    pdf2 = pdf.copy()
    pdf2.loc[pdf2.index[:3], "content"] = "crashy update marker"
    update_index(spark, spark.createDataFrame(pdf2), root)  # delta gen 1

    class CrashingStore(RecordingStore):
        def swap(self, doc_map_dir, segs, staging):
            self.calls.append("swap-crash")
            raise RuntimeError("simulated crash mid-swap")

    crash = CrashingStore()
    with pytest.raises(RuntimeError, match="simulated crash"):
        compact_index(spark, root, store=crash)
    assert crash.calls == ["stage", "swap-crash"]
    assert Manifest(root).load_marker("compact_inprogress") is not None

    # the next update heals first (heal call observed), then appends
    pdf3 = pdf2.copy()
    pdf3.loc[pdf3.index[10:12], "content"] = "healed zebraheal content"
    store = RecordingStore()
    stats = update_index(spark, spark.createDataFrame(pdf3), root, store=store)
    assert store.calls == ["heal", "cleanup"]
    assert stats["repaired"] is True and stats["modified"] == 2
    assert Manifest(root).load_marker("compact_inprogress") is None
    assert lsm.live_gens(Manifest(root).load_meta()) == [stats["gen"]]
    idx = BM25Index.load(spark, root)
    assert idx.search("crashy", k=10).count() == 3
    assert idx.search("zebraheal", k=10).count() == 2
    fresh = str(tmp_path / "fresh")
    build_index(spark, spark.createDataFrame(pdf3), fresh, mode="code",
                n_segments=2, term_buckets=4, build_groups=1)

    def top(r):
        return [(x["doc_id"], x["score"]) for x in
                BM25Index.load(spark, r).search("crashy zebraheal def", k=20)
                .collect()]

    assert top(root) == top(fresh)
