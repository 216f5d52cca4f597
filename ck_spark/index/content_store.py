"""Point-read content store: per-segment blob files + pointer table.

Why this exists — the last corpus-IO gap. The stored-content doc_map
(parquet) is the right layout for SCANS: columnar, compressed, pruned by
seg partitions and column selection. But it is the WRONG layout for
POINT READS: fetching k candidate docs by doc_id reads every row group
that contains at least one candidate, and candidates of a selective
query are hash-spread across the whole id space — measured with a
/proc-level read witness, a 262-candidate fetch from a 30k-doc doc_map
reads the ENTIRE content column (every row group has a hit; parquet
page/row-group skipping cannot engage on spread-out ids). At 10^12 files
that makes every trigram-pruned grep and every top-k result fetch a
corpus-sized IO pass — the exact failure the trigram index was built to
avoid.

The fix is the design Zoekt and Lucene both use: keep TWO layouts.
Columnar (doc_map parquet) for scans; a blob store with offset pointers
for point reads. Each doc's content is zlib-compressed and appended to a
per-segment blob file; a pointer table (doc_id-sorted, seg-partitioned
parquet of ~80-byte rows) records (file, offset, compressed length).
Fetching k docs then costs: a narrow pointer lookup (literal seg/doc_id
pushdown over a content-free table — row-group skipping works here
because rows are tiny and doc_id-sorted) plus k ranged reads of exactly
the candidates' bytes. On a cluster the blobs live on the shared store
(HDFS / S3) and the ranged read is a positioned read / ranged GET — the
standard object-store point-read pattern; reads are embarrassingly
parallel and bytes scale with CANDIDATES, not corpus.

The reference analogue is tantivy's stored-field fetch of matched docs
only (ck-engine/src/lib.rs:586-682 streams only matched files); this is
its distributed, object-store-friendly form.

Like the trigram index, the store is DERIVED data with a completion
marker: absent/incomplete => every consumer falls back to the (always
correct) parquet path; incremental updates re-derive only the affected
seg partitions (content storage is doc-partitioned, so per-segment
refresh is proportional to the changed segments — unlike the trigram
table, no LSM delta machinery is needed); a crash inside the refresh
window leaves the marker absent, never a silently stale pointer.
"""

from __future__ import annotations

import contextlib
import json
import os
import shutil
import tempfile

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

CONTENT_STORE_DIR = "content_store"
BLOBS_SUBDIR = "blobs"
PTR_SUBDIR = "ptr"
MARKER = "_CONTENT_STORE_COMPLETE"
CODEC = "zlib1"  # zlib level 1 blocks: ~3-4x on code, cheap to inflate
# Store format 2 (round 5): SMALL DOCS ARE PACKED — up to _PACK_MAX_DOCS
# consecutive docs (or _PACK_MAX_BYTES raw) share ONE compressed block,
# and pointer rows carry (blk_off, raw_len) to slice their doc out of
# the inflated block. Why: at ~190 B/doc the per-doc seek + zlib header
# + Arrow framing overhead measured 4x the scan's bytes
# (BENCH/SCALE_DEMO r4), which forced mid-size candidate fetches onto
# the scan-equal doc_map semi-join tier. Packing amortizes that
# overhead and lets zlib exploit cross-doc redundancy, so the
# point-read tier wins on small-doc corpora too (Zoekt packs shards the
# same way). Docs >= _PACK_MAX_BYTES still get a block of their own —
# fetching one big doc never inflates its neighbors. Format-1 stores
# (blk_off null in the pointer parquet) read through the same path with
# blk_off=0 and block == doc.
#
# Block sizing: candidates of a selective query are HASH-SCATTERED, so a
# k-candidate fetch touches ~min(k, n_blocks) distinct blocks — block
# bytes are the IO unit, and oversized blocks make a scattered fetch
# read the whole corpus at zlib's (worse-than-columnar-zstd) ratio.
# 8 KB raw per block is the measured knee where per-read overhead
# (seek + inflate setup + Arrow framing) amortizes while a mid-size
# candidate set still skips most blocks: at ~700 B/doc that is ~12
# docs/block, so a 4% candidate fraction hits ~39% of blocks instead of
# the ~93% that 64 KB blocks gave (witness in BENCH/SCALE_DEMO_R5.md).
FORMAT = 2
_PACK_MAX_DOCS = 32
_PACK_MAX_BYTES = 8 << 10

# pointer rows, seg last (partition column); explicit schema keeps an
# empty store a valid empty DataFrame instead of inference failure
_PTR_SCHEMA = (
    "doc_id long, repo string, path string, lang string, "
    "file string, off long, clen long, blk_off long, raw_len long, "
    "is_binary boolean"
)
_PTR_TABLE_SCHEMA = _PTR_SCHEMA + ", seg int"

# fetched row shape (content inflated back to the exact stored string)
FETCH_SCHEMA = (
    "doc_id long, repo string, path string, lang string, content string"
)


def _store_dir(root: str) -> str:
    return os.path.join(root, CONTENT_STORE_DIR)


def content_store_exists(root: str) -> bool:
    return os.path.exists(os.path.join(_store_dir(root), MARKER))


def invalidate_content_store_marker(root: str) -> None:
    """Drop the completion marker — readers then fall back to the parquet
    fetch (loud, correct). Called at the start of any mutation window so
    a crash can never leave silently stale pointers. The marker is moved
    aside (not deleted) so the refresh that follows can carry over its
    delta-docs accounting; readers gate on the exact MARKER name, so the
    aside file never revalidates anything."""
    with contextlib.suppress(FileNotFoundError):
        os.replace(os.path.join(_store_dir(root), MARKER),
                   os.path.join(_store_dir(root), MARKER + ".prev"))


def _write_marker(root: str, n_docs: int, delta_docs: int = 0,
                  avg_raw_len: float = 0.0, fmt: int = FORMAT) -> None:
    # delta_docs counts docs covered only by LSM blob appends since the
    # last full derive — the compaction trigger's accumulator.
    # avg_raw_len (mean uncompressed doc bytes) feeds the query-side
    # blob-vs-columnar tier choice: ranged point reads only beat a
    # sequential columnar scan when docs are big enough to amortize the
    # per-doc seek + Arrow framing overhead.
    d = _store_dir(root)
    fd, tmp = tempfile.mkstemp(dir=d)
    with os.fdopen(fd, "w") as f:
        json.dump({"n_docs": int(n_docs), "codec": CODEC,
                   "delta_docs": int(delta_docs),
                   "avg_raw_len": float(avg_raw_len),
                   "format": int(fmt)}, f)
        f.flush()
        os.fsync(f.fileno())
    os.replace(tmp, os.path.join(d, MARKER))


def _read_marker(root: str) -> dict:
    try:
        with open(os.path.join(_store_dir(root), MARKER)) as f:
            return json.load(f)
    except (OSError, ValueError):
        return {}


def _read_any_marker(root: str) -> dict:
    """Committed marker, or the moved-aside one from an open mutation
    window — bookkeeping only (delta accounting), never gating."""
    m = _read_marker(root)
    if m:
        return m
    try:
        with open(os.path.join(_store_dir(root), MARKER + ".prev")) as f:
            return json.load(f)
    except (OSError, ValueError):
        return {}


def _blob_writer(blobs_dir: str):
    """mapInPandas generator: append each doc's zlib-compressed UTF-8
    bytes to a per-(task, seg) blob file, emit pointer rows. Files are
    named uniquely per task — a retried/failed task's partial file is
    orphaned garbage (its pointer rows are discarded with the task) and
    never referenced; fsync before the generator finishes so a row that
    reaches the pointer table always points at durable bytes."""

    cols = ["doc_id", "repo", "path", "lang", "file", "off",
            "clen", "blk_off", "raw_len", "is_binary", "seg"]

    def gen(batches):
        import uuid
        import zlib

        writers: dict[int, list] = {}  # seg -> [relpath, fh, offset]
        packs: dict[int, list] = {}    # seg -> [meta_rows, raw_parts, nbytes]

        def flush(seg: int, out: list) -> None:
            pack = packs.get(seg)
            if not pack or not pack[0]:
                return
            metas, raws, _nb = pack
            w = writers.get(seg)
            if w is None:
                d = os.path.join(blobs_dir, f"seg={seg}")
                os.makedirs(d, exist_ok=True)
                name = f"{uuid.uuid4().hex}.bin"
                fh = open(os.path.join(d, name), "wb")
                w = writers[seg] = [f"seg={seg}/{name}", fh, 0]
            rel, fh, off = w
            comp = zlib.compress(b"".join(raws), 1)
            fh.write(comp)
            clen = len(comp)
            blk_off = 0
            for doc_id, repo, path, lang, raw_len, is_binary in metas:
                out.append((doc_id, repo, path, lang, rel, off, clen,
                            blk_off, raw_len, is_binary, seg))
                blk_off += raw_len
            w[2] = off + clen
            packs[seg] = [[], [], 0]

        try:
            for pdf in batches:
                out = []
                for seg_val, grp in pdf.groupby("seg", sort=False):
                    seg = int(seg_val)
                    pack = packs.setdefault(seg, [[], [], 0])
                    for r in grp.itertuples(index=False):
                        raw = ("" if r.content is None else str(r.content)
                               ).encode("utf-8")
                        if pack[0] and (
                            pack[2] + len(raw) > _PACK_MAX_BYTES
                            or len(pack[0]) >= _PACK_MAX_DOCS
                        ):
                            flush(seg, out)
                            pack = packs[seg]
                        pack[0].append((
                            int(r.doc_id), r.repo, r.path, r.lang,
                            len(raw), bool(r.is_binary),
                        ))
                        pack[1].append(raw)
                        pack[2] += len(raw)
                        if pack[2] >= _PACK_MAX_BYTES:
                            flush(seg, out)
                            pack = packs[seg]
                yield pd.DataFrame(out, columns=cols)
            tail = []
            for seg in list(packs):
                flush(seg, tail)
            if tail:
                yield pd.DataFrame(tail, columns=cols)
        finally:
            for _, fh, _ in writers.values():
                fh.flush()
                os.fsync(fh.fileno())
                fh.close()

    return gen


def _blob_reader(blobs_dir: str):
    """mapInPandas generator: inflate pointer rows back to content via
    positioned reads, grouped by blob file and offset-sorted (one open +
    sequential-ish reads per file; on an object store this is the ranged-
    GET batch). Bytes read = Σ candidate clen — candidate-proportional by
    construction."""

    def gen(batches):
        import zlib

        for pdf in batches:
            if pdf.empty:
                continue
            pdf = pdf.reset_index(drop=True)
            boffs = pdf["blk_off"].fillna(0).astype("int64") \
                if "blk_off" in pdf.columns \
                else pd.Series(np.zeros(len(pdf), dtype=np.int64))
            rlens = pdf["raw_len"].astype("int64")
            contents = np.empty(len(pdf), dtype=object)
            for fname, grp in pdf.groupby("file", sort=False):
                grp = grp.sort_values(["off", "blk_off"]) \
                    if "blk_off" in grp.columns else grp.sort_values("off")
                with open(os.path.join(blobs_dir, fname), "rb") as fh:
                    # co-located candidates share a block: ONE ranged
                    # read + ONE inflate per (off, clen), sliced per doc
                    last_off, block = -1, b""
                    for pos, off, clen in zip(
                        grp.index, grp["off"], grp["clen"]
                    ):
                        if int(off) != last_off:
                            fh.seek(int(off))
                            block = zlib.decompress(fh.read(int(clen)))
                            last_off = int(off)
                        s = int(boffs[pos])
                        contents[pos] = block[s:s + int(rlens[pos])
                                              ].decode("utf-8")
            yield pd.DataFrame({
                "doc_id": pdf["doc_id"].astype("int64"),
                "repo": pdf["repo"],
                "path": pdf["path"],
                "lang": pdf["lang"],
                "content": contents,
            })

    return gen


_DM_COLS = ["seg", "doc_id", "repo", "path", "lang", "content", "is_binary"]


def _derive(spark: SparkSession, root: str, docs: DataFrame) -> None:
    """Write blobs + pointer partitions for the given doc_map rows.
    Caller owns marker/cleanup discipline. One content pass: blob files
    are written as a side effect of the pointer-row derivation (the rows
    only land in the pointer table if their task — and its fsync —
    completed). Pointer partitions are seg-dir dynamic-overwrite with a
    local doc_id sort so literal IN fetches row-group-skip."""
    blobs_dir = os.path.join(_store_dir(root), BLOBS_SUBDIR)
    ptr_dir = os.path.join(_store_dir(root), PTR_SUBDIR)
    (
        docs.select(*_DM_COLS)
        .mapInPandas(_blob_writer(blobs_dir), _PTR_TABLE_SCHEMA)
        .sortWithinPartitions("seg", "doc_id")
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        # small row groups: a k-id point lookup reads ~k row groups of
        # ~2 MB instead of whole 128 MB-block pointer files (doc_id min/max
        # stats prune per row group because rows are doc_id-sorted)
        .option("parquet.block.size", str(2 << 20))
        .partitionBy("seg")
        .parquet(ptr_dir)
    )


def build_content_store(spark: SparkSession, root: str) -> int:
    """Build (or rebuild) the point-read store beside a stored-content
    index at ``root``. Returns the number of docs stored."""
    from ck_spark.index.manifest import Manifest

    meta = Manifest(root).load_meta()
    if not meta.get("store_content"):
        raise ValueError(
            "content store derives from stored content — rebuild the index "
            "with store_content=True"
        )
    invalidate_content_store_marker(root)
    shutil.rmtree(_store_dir(root), ignore_errors=True)
    os.makedirs(_store_dir(root), exist_ok=True)
    from ck_spark.index.lsm import live_doc_map

    dm = live_doc_map(spark, root, meta).select(*_DM_COLS)
    _derive(spark, root, dm)
    row = _ptr_df(spark, root).agg(
        F.count("*").alias("n"), F.avg("raw_len").alias("avg")
    ).collect()[0]
    _write_marker(root, int(row["n"]), avg_raw_len=float(row["avg"] or 0.0))
    return int(row["n"])


# compaction trigger: when delta-appended docs exceed this fraction of
# the corpus, rebuild the store wholesale — bounds blob-file garbage
# (old versions of modified/removed docs stay on disk unreferenced until
# compaction; the pointer table itself is always exact)
DELTA_COMPACT_FRACTION = 0.25


COMPACT = "COMPACT"  # stage sentinel: delta budget exhausted, rebuild


def stage_content_store_delta(
    spark: SparkSession, root: str, segs: list[int],
    fresh_docs: DataFrame, changed_ids: DataFrame, n_fresh: int,
):
    """Incremental refresh, stage half (the update_index hook) —
    LSM-style: append blob bytes for ONLY the added/modified docs and
    stage the affected segments' POINTER partitions (tiny ~80-byte rows)
    as old-minus-changed ∪ fresh. Unchanged docs keep their existing
    blob pointers; old versions of changed docs become unreferenced
    garbage bytes, bounded by the compaction trigger. So a 2% update
    compresses 2% of the content — a full per-segment re-derive costs
    O(affected segments), which under hash-scattered segments is the
    whole corpus.

    Runs BEFORE update_index's meta commit: all Spark evaluation
    happens here; the commit half is pure renames. Returns None (no
    store), COMPACT (caller must build_content_store AFTER the commit, so
    the rebuild sees the new live view), or (stage_dir, delta_docs) to
    pass to commit_content_store_delta. ``fresh_docs`` as a pandas frame
    (and ``changed_ids`` as an id array) is the driver write tier's call:
    the same staging with pyarrow, no Spark job.

    Crash protocol: the marker is moved aside first — a crash anywhere
    between here and commit leaves readers on the parquet fallback and
    repair_index re-derives the flagged segments wholesale."""
    import uuid

    from ck_spark.index.manifest import Manifest

    store = _store_dir(root)
    if not os.path.isdir(store):
        return None
    invalidate_content_store_marker(root)
    for name in os.listdir(store):
        if name.startswith("_ptr_stage_"):
            # a crashed update's staging (single-writer discipline: any
            # staging present at stage start is stale)
            shutil.rmtree(os.path.join(store, name), ignore_errors=True)
    marker = _read_any_marker(root)
    n_total = max(int(Manifest(root).load_meta().get("n_docs") or 1), 1)
    delta_docs = int(marker.get("delta_docs", 0)) + int(n_fresh)
    if delta_docs > n_total * DELTA_COMPACT_FRACTION:
        return COMPACT
    blobs_dir = os.path.join(store, BLOBS_SUBDIR)
    seg_list = [int(s) for s in segs]
    stage = os.path.join(store, f"_ptr_stage_{uuid.uuid4().hex}")
    if isinstance(fresh_docs, pd.DataFrame):
        _stage_ptr_local(root, seg_list, fresh_docs, changed_ids, stage)
        return stage, delta_docs
    fresh_ptr = fresh_docs.select(*_DM_COLS).mapInPandas(
        _blob_writer(blobs_dir), _PTR_TABLE_SCHEMA
    )
    merged = (
        _ptr_df(spark, root)
        .where(F.col("seg").isin(seg_list))
        .join(changed_ids.select("doc_id"), "doc_id", "left_anti")
        .unionByName(fresh_ptr)
    )
    (
        merged.repartition("seg")
        .sortWithinPartitions("seg", "doc_id")
        .write.option("parquet.block.size", str(2 << 20))
        .partitionBy("seg")
        .parquet(stage)
    )
    return stage, delta_docs


# pointer rows per row group of a driver-written pointer file: ~100 B a
# row, so the ~2 MB row groups of the Spark writer's parquet.block.size
_PTR_GROUP_ROWS = 20_000


def _stage_ptr_local(root: str, segs: list[int], fresh_docs: pd.DataFrame,
                     changed_ids, stage: str) -> None:
    """Driver twin of the Spark staging in stage_content_store_delta: the
    same blob append (_blob_writer over the fresh rows) and pointer merge
    (the segments' old rows minus the changed ids, plus the fresh ones),
    written with pyarrow — one file per seg dir, doc_id-sorted."""
    import pyarrow as pa
    import pyarrow.dataset as pads

    from ck_spark.plans.schemas import arrow_dataset, write_partitioned

    blobs_dir = os.path.join(_store_dir(root), BLOBS_SUBDIR)
    fresh = pd.concat(list(_blob_writer(blobs_dir)(iter([fresh_docs[_DM_COLS]]))),
                      ignore_index=True)
    old = arrow_dataset(os.path.join(_store_dir(root), PTR_SUBDIR),
                        _PTR_TABLE_SCHEMA, ("seg",)).to_table(
        filter=pads.field("seg").isin(segs)
        & ~pads.field("doc_id").isin(pa.array(np.asarray(changed_ids, dtype=np.int64))))
    merged = pa.concat_tables(
        [old, pa.Table.from_pandas(fresh, preserve_index=False).cast(old.schema)])
    write_partitioned(merged, stage, _PTR_TABLE_SCHEMA, ("seg",), ("doc_id",),
                      row_group_size=_PTR_GROUP_ROWS)


def commit_content_store_delta(
    spark: SparkSession, root: str, segs: list[int],
    stage: str, delta_docs: int, n_change: int = 0,
) -> None:
    """Commit half: swap the staged pointer partitions in (pure
    filesystem renames, run after update_index's meta commit) and restore
    the marker. The pointer table stays EXACT — stale rows were anti-joined
    out at stage time, so a fetch can never return removed or outdated
    content. The marker's informational n_docs updates arithmetically
    (prior ± added-removed) — no count job per update."""
    prior = _read_any_marker(root)
    n = int(prior.get("n_docs", 0)) + int(n_change)
    ptr_dir = os.path.join(_store_dir(root), PTR_SUBDIR)
    for s in [int(x) for x in segs]:
        dst = os.path.join(ptr_dir, f"seg={s}")
        src = os.path.join(stage, f"seg={s}")
        shutil.rmtree(dst, ignore_errors=True)
        if os.path.isdir(src):
            os.replace(src, dst)
    shutil.rmtree(stage, ignore_errors=True)
    # avg_raw_len carries over unchanged — a delta touches few docs and
    # the tier heuristic only needs the size class, refreshed exactly at
    # the next full derive/compaction
    _write_marker(root, n, delta_docs=delta_docs,
                  avg_raw_len=float(prior.get("avg_raw_len", 0.0)),
                  fmt=int(prior.get("format", 1)))


def refresh_content_store_segments(
    spark: SparkSession, root: str, segs: list[int]
) -> None:
    """Re-derive the given segments' blobs + pointers WHOLESALE from the
    live doc_map view — the crash-REPAIR hook for an interrupted pointer
    commit (cs_refresh_pending: repair doesn't know which docs changed,
    only which segments the interrupted update touched). update_index
    itself uses the cheaper stage/commit_content_store_delta pair. Stale
    blobs die with their seg dir, so pointers can never reference removed
    or outdated docs."""
    if not os.path.isdir(_store_dir(root)):
        return
    # other segments may still carry delta-appended blobs — keep their
    # garbage accounted (over-counting only compacts earlier, never later)
    prior_m = _read_any_marker(root)
    old_delta = int(prior_m.get("delta_docs", 0))
    invalidate_content_store_marker(root)
    store = _store_dir(root)
    for s in segs:
        shutil.rmtree(
            os.path.join(store, BLOBS_SUBDIR, f"seg={s}"), ignore_errors=True
        )
        shutil.rmtree(
            os.path.join(store, PTR_SUBDIR, f"seg={s}"), ignore_errors=True
        )
    from ck_spark.index.lsm import live_doc_map

    dm = (
        live_doc_map(spark, root)
        .where(F.col("seg").isin([int(s) for s in segs]))
        .select(*_DM_COLS)
    )
    if not dm.isEmpty():
        _derive(spark, root, dm)
    row = _ptr_df(spark, root).agg(
        F.count("*").alias("n"), F.avg("raw_len").alias("avg")
    ).collect()[0]
    # untouched segments keep their blobs: the format claim (the packed
    # fetch-tier heuristic) must not upgrade past what the OLDEST
    # surviving segment was written with
    _write_marker(root, int(row["n"]), delta_docs=old_delta,
                  avg_raw_len=float(row["avg"] or 0.0),
                  fmt=int(prior_m.get("format", 1)))


def _ptr_df(spark: SparkSession, root: str) -> DataFrame:
    return spark.read.schema(_PTR_TABLE_SCHEMA).parquet(
        os.path.join(_store_dir(root), PTR_SUBDIR)
    )


class ContentStore:
    """Query handle: pointer-table lookups + ranged blob reads.

    Refuses to load without the completion marker (crash mid-derive =>
    callers keep using the parquet fetch — correct, just wider IO)."""

    def __init__(self, spark: SparkSession, root: str):
        if not content_store_exists(root):
            raise FileNotFoundError(
                f"no complete content store at {root} (missing "
                f"{CONTENT_STORE_DIR}/{MARKER}) — run build_content_store, "
                "or use the parquet stored-content fetch"
            )
        marker = _read_marker(root)
        if marker.get("codec") != CODEC:
            raise FileNotFoundError(
                f"content store at {root} uses codec {marker.get('codec')!r},"
                f" this build reads {CODEC!r} — rebuild with "
                "build_content_store"
            )
        self.spark = spark
        self.root = root
        self.blobs_dir = os.path.join(_store_dir(root), BLOBS_SUBDIR)
        self.ptr = _ptr_df(spark, root)
        # mean uncompressed doc bytes (0.0 on pre-field stores): the
        # query-side blob-vs-columnar tier gate
        self.avg_raw_len = float(marker.get("avg_raw_len", 0.0))
        # format >= 2: small docs are packed into shared blocks, so the
        # blob point-read tier beats the doc_map semi-join even on
        # small-doc corpora (the per-doc overhead is amortized)
        self.packed = int(marker.get("format", 1)) >= 2

    @classmethod
    def load(cls, spark: SparkSession, root: str) -> "ContentStore":
        return cls(spark, root)

    def fetch_pred(self, segs: list[int], doc_ids: list[int],
                   exclude_binary: bool = False) -> DataFrame:
        """Content rows for literal (seg, doc_id) sets: narrow pointer
        lookup (seg partition pruning + doc_id row-group skipping over
        ~80-byte rows — content bytes are NOT in this table) then ranged
        blob reads of exactly the candidates' bytes. exclude_binary
        drops NUL-flagged docs (callers that union binary docs back
        separately must not fetch them twice)."""
        if not doc_ids:
            return self.spark.createDataFrame([], FETCH_SCHEMA)
        # SQL-text IN lists, not Column.isin — same rationale as
        # trigram._fetch_candidates: py4j literal construction costs
        # seconds at thousands of ids; the parsed predicate pushes
        # identically
        pred = (
            f"seg IN ({','.join(str(int(s)) for s in sorted(set(segs)))}) "
            f"AND doc_id IN ({','.join(str(int(i)) for i in sorted(doc_ids))})"
        )
        if exclude_binary:
            pred += " AND NOT is_binary"
        return self.fetch_rows(self.ptr.where(pred))

    def fetch_rows(self, ptr_rows: DataFrame) -> DataFrame:
        """Inflate an arbitrary pointer-row subset (columns of _PTR_SCHEMA)
        to (doc_id, repo, path, lang, content)."""
        return ptr_rows.select(
            "doc_id", "repo", "path", "lang", "file", "off", "clen",
            "blk_off", "raw_len"
        ).mapInPandas(_blob_reader(self.blobs_dir), FETCH_SCHEMA)

    # driver-side fetch cap: k results are driver-sized by definition (the
    # caller returns them to the user), so reading k docs' bytes on the
    # driver adds no new scale class — it removes two Spark job dispatches
    # (~0.3-0.7 s each) from the latency path. Above the cap, distribute.
    # 4096 docs × ~few KB ≈ tens of MB driver-side, shipped back via ONE
    # Arrow batch — well under any sane driver budget.
    LOCAL_FETCH_MAX = 4096

    def fetch_pred_local(self, segs, doc_ids,
                         exclude_binary: bool = False
                         ) -> "pd.DataFrame | None":
        """Driver-side point read (NO Spark job, see fetch_local), or None
        when the set exceeds LOCAL_FETCH_MAX (use fetch_pred)."""
        if len({int(i) for i in doc_ids}) > self.LOCAL_FETCH_MAX:
            return None
        return fetch_local(self.root, segs, doc_ids, exclude_binary)


def fetch_local(root: str, segs, doc_ids,
                exclude_binary: bool = False) -> pd.DataFrame:
    """Driver-side point read (NO Spark job): pyarrow filters the
    hive-partitioned pointer table, then ranged reads inflate the blobs.
    Returns a pandas frame with FETCH_SCHEMA's columns. On a cluster the
    blobs sit on the shared store — the same ranged reads through its fs
    client (pyarrow handles file/hdfs/s3 URIs)."""
    import zlib

    import pyarrow.dataset as pads

    from ck_spark.plans.schemas import arrow_dataset

    ids = sorted({int(i) for i in doc_ids})
    # explicit schema, the same one _ptr_df reads with: pyarrow
    # dataset discovery infers from ONE fragment, so on a
    # pre-format-2 store that later received a packed delta append it
    # could land on an old file without blk_off and silently hand
    # every packed doc its whole multi-doc block as content
    dset = arrow_dataset(os.path.join(_store_dir(root), PTR_SUBDIR),
                         _PTR_TABLE_SCHEMA, ("seg",))
    flt = (
        pads.field("seg").isin([int(s) for s in set(segs)])
        & pads.field("doc_id").isin(ids)
    )
    if exclude_binary:
        flt = flt & ~pads.field("is_binary")
    want = ["doc_id", "repo", "path", "lang", "file", "off", "clen",
            "raw_len", "blk_off"]
    tbl = dset.to_table(columns=want, filter=flt)
    pdf = tbl.to_pandas().reset_index(drop=True)
    boffs = pdf["blk_off"].fillna(0).astype("int64")
    rlens = pdf["raw_len"].astype("int64")
    contents = np.empty(len(pdf), dtype=object)
    blobs_dir = os.path.join(_store_dir(root), BLOBS_SUBDIR)
    for fname, grp in pdf.groupby("file", sort=False):
        grp = grp.sort_values(["off", "blk_off"])
        with open(os.path.join(blobs_dir, fname), "rb") as fh:
            last_off, block = -1, b""
            for pos, off, clen in zip(grp.index, grp["off"], grp["clen"]):
                if int(off) != last_off:
                    fh.seek(int(off))
                    block = zlib.decompress(fh.read(int(clen)))
                    last_off = int(off)
                s = int(boffs[pos])
                contents[pos] = block[s:s + int(rlens[pos])].decode("utf-8")
    out = pdf[["doc_id", "repo", "path", "lang"]].copy()
    out["content"] = contents
    return out
