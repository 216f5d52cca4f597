"""Table-format seam: how compaction (builder.compact_index) stages the
folded doc_map and atomically replaces the live seg=N partitions.

ParquetDirStore is the only implementation: plain parquet directories
with a crash-safe rename-aside swap. There is no Iceberg store. One
would have to keep the same contract — `stage` writes the replacement
durably before the compact-in-progress marker is recorded — because
repair_index heals an interrupted compaction by rolling the swap
FORWARD from the staged data and then re-derives postings from the
swapped doc_map; a store whose stage held the rows only in memory
would leave nothing to roll forward after a crash.

Crash model of ParquetDirStore (tests/test_update.py leaves a
compaction in each window): every crash point leaves each segment's
data in exactly one of {real, staging, aside}; `heal` rolls the swap
forward from whichever survives, and the caller (repair_index) then
re-derives the postings from doc_map.
"""

from __future__ import annotations

import os
import shutil
from abc import ABC, abstractmethod

from pyspark.sql import DataFrame


class SegmentStore(ABC):
    """Stages + atomically swaps the seg=N partitions of the doc_map
    table (compaction's unit of replacement)."""

    name: str

    @abstractmethod
    def stage(self, df: DataFrame, root: str, n_segments: int) -> str:
        """Durably write the replacement rows (partitioned by seg) to a
        staging location; returns an opaque staging token recorded in the
        compact-in-progress marker."""

    @abstractmethod
    def swap(self, doc_map_dir: str, segs: list[int], staging: str) -> None:
        """Atomically (per segment) replace the live partitions with the
        staged ones and drop segments the fold emptied."""

    @abstractmethod
    def heal(self, doc_map_dir: str, segs: list[int], staging: str) -> None:
        """Crash recovery: finish or roll forward an interrupted swap so
        every segment is in exactly one consistent state."""

    @abstractmethod
    def cleanup(self, staging: str) -> None:
        """Drop the staging location after a completed swap."""


def _aside(doc_map_dir: str, seg: int) -> str:
    """Swap-aside location for a doc_map segment: underscore-prefixed so a
    concurrent reader's partition discovery never sees it (Spark ignores
    _-/.-prefixed names), and never a 'seg=N.old' dir that would poison
    the seg partition column's type."""
    return os.path.join(doc_map_dir, f"_aside_seg={seg}")


class ParquetDirStore(SegmentStore):
    """Plain parquet directories + rename-aside swap (the local/HDFS path;
    rename is atomic per POSIX dir entry)."""

    name = "parquet"

    def stage(self, df: DataFrame, root: str, n_segments: int) -> str:
        tmp = os.path.join(root, "_tmp_doc_map")
        shutil.rmtree(tmp, ignore_errors=True)
        # keep the build's doc_id sort so replaced segments retain parquet
        # row-group skipping for literal doc_id candidate fetches
        df.repartition(max(n_segments, 1), "seg").sortWithinPartitions(
            "seg", "doc_id"
        ).write.mode("overwrite").partitionBy("seg").parquet(tmp)
        return tmp

    def swap(self, doc_map_dir: str, segs: list[int], staging: str) -> None:
        for s in segs:
            real = os.path.join(doc_map_dir, f"seg={s}")
            cand = os.path.join(staging, f"seg={s}")
            old = _aside(doc_map_dir, s)
            if os.path.exists(cand):
                # rename-aside, never rmtree-then-rename: every crash point
                # leaves either real, cand or the aside holding the data
                if os.path.exists(real):
                    os.rename(real, old)
                os.rename(cand, real)
                shutil.rmtree(old, ignore_errors=True)
            elif os.path.exists(real):
                # the fold emptied this segment: rename aside FIRST (an
                # interrupted rmtree would leave a torn partition that
                # repair would bless), then drop the aside
                os.rename(real, old)
                shutil.rmtree(old, ignore_errors=True)

    def heal(self, doc_map_dir: str, segs: list[int], staging: str) -> None:
        for s in segs:
            real = os.path.join(doc_map_dir, f"seg={s}")
            cand = os.path.join(staging, f"seg={s}")
            old = _aside(doc_map_dir, s)
            if os.path.exists(cand):
                # swap never completed for this segment: roll it forward
                # (cand present => real is pre-compaction state or absent)
                if os.path.exists(real):
                    os.rename(real, old)
                os.rename(cand, real)
                shutil.rmtree(old, ignore_errors=True)
            elif not os.path.exists(real) and os.path.exists(old):
                os.rename(old, real)  # crash between rename-aside and rename-in
            elif os.path.exists(old):
                shutil.rmtree(old, ignore_errors=True)  # swap done, tail cleanup

    def cleanup(self, staging: str) -> None:
        shutil.rmtree(staging, ignore_errors=True)
