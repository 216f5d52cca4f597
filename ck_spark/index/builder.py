"""Distributed inverted-index build + incremental update.

Pipeline (each stage checkpointed in the manifest; resume skips complete
stages for the same input snapshot):

  corpus (repo, path, commit, lang, content)
    │  ONE tokenize pass (Arrow pandas UDF emits map<term,tf> per doc —
    │  tf aggregation is executor-local, so the big shuffle carries one
    │  row per distinct (term, doc) instead of per token occurrence)
    ├─ doc_map       doc_id, sha256, doc_len, …, tfm   partitioned by seg
    │                 (the tokenized table IS the doc map: readers that
    │                 only need paths/lengths prune the tfm column at the
    │                 parquet scan — no second copy, no doc_len shuffle,
    │                 no second corpus scan)
    ├─ corpus_stats  N, avgdl (over indexed = non-binary docs)
    └─ postings      per segment-group: explode tfm → shuffle by
                     (term, seg) → block-encode → seg=N/bucket=B dirs
       term_stats    df per term (sum over segments)

Skew design (BASELINE.json north_rule): doc-hash segmentation IS the
salted repartition — seg = pmod(xxhash64(doc_id), S) splits every posting
list into ≤S bounded segments, so a groupBy key (term, seg) for an
ubiquitous term ('def', 'return') is capped at ~N/S docs. Rare terms
produce only as many segment rows as they have docs — no small-term
overhead. Query-time intersection stays aligned because every term uses
the same modulus.

Incremental update (update_index): the tantivy/Lucene segment model
(index/lsm.py). Only added/modified docs are re-tokenized, into a new
delta generation; superseded versions become tombstone rows; global
stats (N, avgdl, df) are maintained arithmetically exactly, so
incremental and from-scratch builds are rank- and score-identical —
asserted in tests. One atomic meta write commits a generation.
An update stages its generation in one of two tiers and commits it
through one shared function (_commit_generation): under the
LOCAL_UPDATE_* caps (input docs and bytes, live doc_map rows, term
dictionary size) the driver tier (_stage_local) reads the input with its
JVM-computed ids and hashes (_collect_input: no Spark job for a local
relation or a bare local parquet scan, one for any other plan) and does
the diff, tokenize, postings encode, term-dictionary merge, trigram append
and content-store delta with pyarrow and the Arrow/numpy kernels the
Spark tier runs inside its tasks; above them the Spark tier
(_stage_spark) runs them as distributed jobs. The driver tier was
faster at every measured size (up to 30k changed docs, and a 1.1M-doc,
1.1M-term index), so the caps bound its driver memory rather than mark
a crossover (see LOCAL_UPDATE_MAX_DOCS).
Compaction (compact_index) folds generations back into the base through
the SegmentStore stage/swap protocol (index/format.py): the staged fold
is verified against the arithmetic fingerprint before anything is
swapped, then a compact-in-progress marker brackets the swap and
repair_index rolls it forward. This is the scale analogue of ck's
manifest-gated incremental re-index (ck-index/src/lib.rs:841-906).

Because different segments may be (re)encoded under different avgdl
values, every posting row records avgdl_enc; the WAND scorer scales
stored block-max bounds by max(1, avgdl_now/avgdl_enc), keeping pruning
sound after updates.
"""

from __future__ import annotations

import os
import shutil
import time
from dataclasses import dataclass

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from ck_spark.codec import encode_posting_blocks_flat
from ck_spark.constants import (
    BLOCK_SIZE,
    BM25_B,
    BM25_K1,
    DEFAULT_DOCS_PER_SEGMENT,
    DEFAULT_TERM_BUCKETS,
)
from ck_spark.index.manifest import Manifest
from ck_spark.partitioning import exact_repartition

# v3: merged doc_map+tfm layout; v4: <40-byte token filter; v5: positions
# (posm in doc_map, pos_blocks in postings — phrase queries resolve
# index-only, no corpus adjacency scan); v6: gap position numbering
# (tokenizer.term_positions_text) + stored content in doc_map
# (store_content=True): the Zoekt-style stored-content design — candidate
# fetch for trigram grep and all service-side scans become seg-pruned,
# doc_id-sorted narrow reads of the index's own table instead of a
# full-corpus pass, and the service no longer needs a caller-held corpus.
INDEX_VERSION = 6
DOC_ID_MASK = (1 << 62) - 1  # keep xxhash64-derived doc ids non-negative

POSTINGS_SCHEMA = (
    "term string, n_docs int, "
    "ids_blocks array<binary>, tfs_blocks array<binary>, dls_blocks array<binary>, "
    "pos_blocks array<binary>, "
    "block_max array<float>, block_last array<long>, avgdl_enc double"
)

# the term dictionary: one row per term, df summed over segments
TERM_STATS_SCHEMA = "bucket int, term string, df long, n_segments long"

# doc_map columns, in write order; tfm/posm/content last so narrow readers
# prune them (parquet scans read only selected columns either way — the
# order just documents the access classes: identity, stats, token maps,
# raw bytes)
DOC_MAP_COLS = [
    "doc_id", "repo", "path", "commit", "lang",
    "content_sha256", "is_binary", "doc_len", "seg", "tfm", "posm",
]


def doc_map_cols(store_content: bool) -> list[str]:
    return DOC_MAP_COLS + ["content"] if store_content else list(DOC_MAP_COLS)


def doc_map_schema(store_content: bool) -> str:
    """DDL of the doc_map table in the order Spark infers it: the file
    columns, then seg (the partition column) — for the Spark reads of
    the live view (no schema-inference job) and the pyarrow readers and
    writers of the driver tiers."""
    return (
        "doc_id long, repo string, path string, commit string, lang string, "
        "content_sha256 string, is_binary boolean, doc_len int, "
        "tfm map<string,int>, posm map<string,array<int>>"
        + (", content string" if store_content else "") + ", seg int"
    )


def snapshot_sha_expr(corpus: DataFrame):
    """Per-row sha256 for the update snapshot diff. A corpus that already
    carries a materialized `content_sha256` column (the ingest invariant
    of the north-star Iceberg table) is TRUSTED — the diff job then reads
    only the key + hash columns (parquet column pruning) instead of
    hashing every content byte, the same fast-path contract as ck's
    manifest mtime/size gate (ck-index/src/lib.rs:851-906). Without the
    column, sha2(content) is computed on the fly (one full content
    pass). Index-internal hashes (doc_map rows, the xor corpus
    fingerprint) are always computed from the actual content."""
    if "content_sha256" in corpus.columns:
        return F.col("content_sha256")
    return F.sha2("content", 256)


@dataclass
class IndexPaths:
    root: str

    @property
    def doc_map(self) -> str:
        return os.path.join(self.root, "doc_map")

    @property
    def corpus_stats(self) -> str:
        return os.path.join(self.root, "corpus_stats")

    @property
    def postings(self) -> str:
        return os.path.join(self.root, "postings")

    @property
    def term_stats(self) -> str:
        return os.path.join(self.root, "term_stats")


def doc_id_expr():
    """Deterministic, parallelism-independent doc id.

    xxhash64(repo, path, commit) masked non-negative. Collisions are
    detected (count vs countDistinct) and abort the build; at 10^12 docs a
    production deployment would fall back to a salted rehash of colliding
    keys — the detection hook is where that plugs in.
    """
    return F.xxhash64("repo", "path", "commit").bitwiseAND(F.lit(DOC_ID_MASK))


def seg_expr(n_segments: int):
    return F.pmod(F.xxhash64("doc_id"), F.lit(n_segments)).cast("int")


def _with_doc_columns(corpus: DataFrame, mode: str, n_segments: int,
                      range_width: int = 0) -> DataFrame:
    """The single tokenize pass. Positions are produced ARROW-NATIVELY
    via mapInArrow (tokenizer.positions_map_arrow): pandas_udf map
    returns pay a per-row Python ``convert_map`` in the serializer that
    measured ~2.5 s of a 4.75 s 48k-doc stage — mapInArrow ships the
    numpy-built MapArray buffers straight through. Binary docs are
    excluded from the index: null maps (no posting storage), doc_len 0
    (matches corpus_stats' ~is_binary filter). tf and doc_len are
    derived JVM-side (tf == number of positions by construction).

    range_width > 0 partitions by (seg, doc_id-range) BEFORE the
    mapInArrow: the exchange then happens below the opaque Python node,
    and the caller's partitionBy('seg') write needs NO further exchange
    — tokenize, sort and write fuse into one full-width stage. With
    width = n_segments the old post-tokenize repartition left
    (cores - n_segments) cores idle through the sort+zstd-compress
    write (measured 8 writer tasks on 32 cores at sf1.0). Placement is
    EXACT (ck_spark.partitioning — no range-sampling job, no hash
    balls-in-bins): p = seg * fps + top-bits(doc_id), fps a power of
    two, so each seg splits into fps files with DISJOINT doc_id ranges
    — row-group min/max pruning for point fetches stays as sharp as the
    one-file-per-seg layout, and hash-uniform doc ids make the split
    even."""
    from pyspark.sql.types import (
        ArrayType, IntegerType, MapType, StringType, StructField, StructType,
    )

    from ck_spark.tokenizer import positions_map_arrow

    base = (
        corpus.withColumn("doc_id", doc_id_expr())
        .withColumn("seg", seg_expr(n_segments))
        .withColumn("is_binary", F.contains("content", F.lit("\x00")))
        .withColumn("content_sha256", F.sha2("content", 256))
    )
    if range_width > 0:
        from ck_spark.partitioning import exact_repartition

        fps = 1  # files per seg: smallest power of two reaching the width
        while n_segments * fps < range_width:
            fps *= 2
        # doc ids are uniform in [0, 2^62): the top log2(fps) bits index
        # a doc_id-disjoint range within the seg
        p_expr = (F.col("seg").cast("int") * F.lit(fps)
                  + F.shiftright(F.col("doc_id"), 62 - fps.bit_length() + 1)
                  .cast("int"))
        base = exact_repartition(base, n_segments * fps, p_expr)
    out_type = StructType(
        base.schema.fields
        + [StructField("posm", MapType(StringType(), ArrayType(IntegerType())))]
    )

    def add_posm(batches):
        import pyarrow as pa

        for b in batches:
            posm = positions_map_arrow(
                b.column(b.schema.get_field_index("content")), mode
            )
            yield pa.RecordBatch.from_arrays(
                list(b.columns) + [posm],
                names=list(b.schema.names) + ["posm"],
            )

    return (
        base.mapInArrow(add_posm, out_type)
        .withColumn("posm", F.when(~F.col("is_binary"), F.col("posm")))
        .withColumn("tfm", F.transform_values("posm", lambda _, v: F.size(v)))
        .withColumn(
            "doc_len",
            F.coalesce(
                F.aggregate(F.map_values("tfm"), F.lit(0), lambda a, x: a + x), F.lit(0)
            ),
        )
    )



def _local_input_bytes(files: list[str]) -> int:
    """Sum sizes of file:/-scheme inputs (0 for object stores — there the
    cluster is wide enough that default split planning already packs)."""
    total = 0
    for f in files:
        p = f
        for pre in ("file://", "file:"):
            if p.startswith(pre):
                p = p[len(pre):]
                break
        else:
            return 0
        try:
            total += os.path.getsize(p)
        except OSError:
            return 0
    return total


def _dir_bytes(path: str) -> int:
    total = 0
    try:
        for dirpath, _dirs, names in os.walk(path):
            for n in names:
                if n.endswith(".parquet"):
                    total += os.path.getsize(os.path.join(dirpath, n))
    except OSError:
        return 0
    return total


class _scan_splits:
    """Scale `spark.sql.files.maxPartitionBytes` to the job's input size
    for the duration of one build job, then restore it.

    Why: split planning counts FULL file bytes, but the build's scans
    prune the widest column (stored content), so a 480k-doc corpus plans
    as 4-6 splits under the 128m default — at 8 cores the tokenize stage
    then runs half-idle and the pairs-explode stage packs 1.5 waves
    (measured: 4x10.3 s corpus-scan tasks, 6 pairs tasks). Targeting
    ~3 splits per core rebalances those stages; the [16m, 128m] clamp
    means a narrow driver (defaultParallelism<=2) or a real multi-
    executor cluster (ample splits at any setting) keeps the default,
    and per-task overhead never dominates (the measured 8m floor
    regression)."""

    KEY = "spark.sql.files.maxPartitionBytes"

    def __init__(self, spark: SparkSession, total_bytes: int,
                 per_core: int = 3):
        self.spark = spark
        self.total = total_bytes
        self.per_core = per_core
        self.old: str | None = None

    def __enter__(self):
        if self.total <= 0:
            return self
        par = self.spark.sparkContext.defaultParallelism
        target = self.total // max(par * self.per_core, 1)
        target = min(128 << 20, max(16 << 20, target))
        self.old = self.spark.conf.get(self.KEY)
        self.spark.conf.set(self.KEY, str(target))
        return self

    def __exit__(self, *exc):
        if self.old is not None:
            self.spark.conf.set(self.KEY, self.old)
        return False


def _summarize_doc_map(dm: DataFrame, build_groups: int = 0) -> dict:
    """ONE doc_map scan for both the identity summary (row count n,
    distinct ids nd, corpus fingerprint `snapshot`) and the BM25 corpus
    stats (n_docs/avgdl/total_tokens over non-binary docs; avgdl None
    when no doc is indexed). Collapsing the two aggregation jobs matters
    for scaling efficiency: fixed per-job dispatch is the part of the
    build that does NOT shrink with more executors. A plain dict, so
    compaction can record it in its marker.

    build_groups > 0 adds "group_tokens": per-group non-binary token
    sums (group g = segs with seg % build_groups == g). group_tokens[g]
    > 0 is the exact non-emptiness witness for group g's exploded pairs
    frame (a doc yields posm rows iff doc_len > 0), which lets the
    postings encoder skip its isEmpty probe job — and unlike the old
    `row count > 0` shortcut it is correct for all-binary / zero-token
    corpora, whose pairs frame is empty despite n > 0."""
    nb = ~F.col("is_binary")
    group_aggs = [
        F.sum(F.when(nb & (F.col("seg") % build_groups == g),
                     F.col("doc_len"))).alias(f"gt{g}")
        for g in range(build_groups)
    ]
    row = (
        dm.agg(
            F.count("*").alias("n"),
            F.countDistinct("doc_id").alias("nd"),
            F.bit_xor(F.xxhash64("repo", "path", "commit", "content_sha256")).alias("h"),
            F.count(F.when(nb, 1)).alias("n_docs"),
            F.avg(F.when(nb, F.col("doc_len"))).alias("avgdl"),
            F.sum(F.when(nb, F.col("doc_len"))).alias("total_tokens"),
            *group_aggs,
        )
        .collect()[0]
    )
    out = {
        "n": int(row["n"]), "nd": int(row["nd"]),
        "snapshot": f"n{row['n']}-h{row['h']}",
        "n_docs": int(row["n_docs"]),
        "avgdl": None if row["avgdl"] is None else float(row["avgdl"]),
        "total_tokens": int(row["total_tokens"] or 0),
    }
    if build_groups > 0:
        out["group_tokens"] = [int(row[f"gt{g}"] or 0) for g in range(build_groups)]
    return out


CORPUS_STATS_SCHEMA = "n_docs long, avgdl double, total_tokens long"


def _write_corpus_stats(paths: IndexPaths, n_docs: int, avgdl: float | None,
                        total_tokens: int) -> None:
    """The 1-row corpus_stats side table (avgdl None: no indexed doc),
    written on the driver with pyarrow — a Spark write of one row costs
    a job (~0.2 s). The file is staged under a hidden name and renamed
    over the table's one file, so a reader never sees two rows or
    none."""
    import pyarrow as pa

    from ck_spark.plans.schemas import write_parquet

    tmp = write_parquet(pa.table({
        "n_docs": pa.array([n_docs], pa.int64()),
        "avgdl": pa.array([avgdl], pa.float64()),
        "total_tokens": pa.array([total_tokens], pa.int64()),
    }), os.path.join(paths.corpus_stats, "_staging"), CORPUS_STATS_SCHEMA)
    final = os.path.join(paths.corpus_stats, "part-00000.zstd.parquet")
    os.replace(tmp, final)
    shutil.rmtree(os.path.dirname(tmp))
    for name in os.listdir(paths.corpus_stats):
        if os.path.join(paths.corpus_stats, name) != final:
            # a Spark-written table's part, .crc and _SUCCESS files
            os.remove(os.path.join(paths.corpus_stats, name))


def _pairs_df(docs: DataFrame, term_buckets: int) -> DataFrame:
    """Explode the per-doc positions map into (term, doc, positions) rows —
    the postings shuffle input. Runs off the stored doc_map (or a fresh
    tokenize), never re-tokenizing. tf is derived (size of the positions
    list), so the shuffle carries each token occurrence exactly once."""
    return (
        docs.where(~F.col("is_binary"))
        .select(
            "doc_id", "seg", F.col("doc_len").alias("dl"),
            F.explode("posm").alias("term", "poss"),
        )
        .withColumn("tf", F.size("poss"))
        .withColumn("bucket", F.pmod(F.xxhash64("term"), F.lit(term_buckets)).cast("int"))
    )


def _make_bucket_encoder(avgdl: float, k1: float, b: float, block: int):
    """applyInArrow encoder: one call per (seg, bucket) group, whose rows
    are FLAT (term, doc_id, tf, dl, poss) pairs straight off the shuffle.

    Why grouped-flat instead of JVM collect_list: aggregating nested
    (doc_id, tf, dl, positions) structs per term materializes every
    in-flight group's object graph on the JVM heap — that design hit an
    execution-memory cliff once segments carried tens of thousands of
    docs (480k docs × 16 segments OOMed an 8g heap). Here the shuffle
    carries compact UnsafeRows (sort-based, spillable), and the whole
    bucket arrives as Arrow buffers which are consumed DIRECTLY
    (applyInArrow, not applyInPandas): the positions list column is
    permuted with Arrow take + flatten (measured 33x faster than the
    per-row numpy-object concatenate the pandas path paid, and it skips
    the Arrow->pandas conversion of every column), term codes come from
    Arrow dictionary_encode + a sorted remap of the (small) unique array
    (identical codes to np.unique(return_inverse=True), but only the
    uniques get sorted — hashing replaces n object-string comparisons),
    and the per-term output lists are assembled as Arrow ListArrays from
    the codec's flat outputs + block-offset cumsum with zero per-term
    Python. Group count = segments × buckets (thousands), so per-group
    overhead is noise while per-task memory stays bounded by one bucket
    regardless of corpus size."""
    import pyarrow as pa
    import pyarrow.compute as pc

    out_schema = pa.schema([
        ("term", pa.string()), ("n_docs", pa.int32()),
        ("ids_blocks", pa.list_(pa.binary())),
        ("tfs_blocks", pa.list_(pa.binary())),
        ("dls_blocks", pa.list_(pa.binary())),
        ("pos_blocks", pa.list_(pa.binary())),
        ("block_max", pa.list_(pa.float32())),
        ("block_last", pa.list_(pa.int64())),
        ("avgdl_enc", pa.float64()), ("seg", pa.int32()),
        ("bucket", pa.int32()),
    ])

    def encode_bucket(tbl: "pa.Table") -> "pa.Table":
        n = tbl.num_rows
        if n == 0:
            return out_schema.empty_table()
        denc = pc.dictionary_encode(tbl.column("term").combine_chunks())
        raw_codes = denc.indices.to_numpy().astype(np.int64)
        raw_uniq = denc.dictionary.to_numpy(zero_copy_only=False)
        su = np.argsort(raw_uniq, kind="stable")
        inv = np.empty_like(su)
        inv[su] = np.arange(len(su))
        uniq, codes = raw_uniq[su], inv[raw_codes]
        doc_ids = tbl.column("doc_id").to_numpy()
        tfs = tbl.column("tf").to_numpy()
        dls = tbl.column("dl").to_numpy()
        order = np.lexsort((doc_ids, codes))  # (term, doc_id) ascending
        codes_s = codes[order]
        bounds = np.concatenate(
            [[0], np.flatnonzero(np.diff(codes_s)) + 1, [n]]
        )
        lens = np.diff(bounds)
        # positions, permuted into sorted row order entirely in Arrow:
        # take on the list array, then flatten to ONE int64 buffer
        flat_pos = pc.take(
            tbl.column("poss").combine_chunks(), pa.array(order)
        ).flatten().to_numpy()
        f = encode_posting_blocks_flat(
            doc_ids[order], tfs[order], dls[order], flat_pos, lens,
            avgdl, k1, b, block,
        )
        blk_off = pa.array(f["blk_off"], type=pa.int32())
        T = lens.size

        def blocks(flat_bytes):
            return pa.ListArray.from_arrays(
                blk_off, pa.array(flat_bytes, type=pa.binary())
            )

        return pa.Table.from_arrays([
            pa.array(uniq, type=pa.string()),
            pa.array(lens.astype(np.int32)),
            blocks(f["ids_blocks"]), blocks(f["tfs_blocks"]),
            blocks(f["dls_blocks"]), blocks(f["pos_blocks"]),
            pa.ListArray.from_arrays(blk_off, pa.array(f["block_max"])),
            pa.ListArray.from_arrays(blk_off, pa.array(f["block_last"])),
            pa.array(np.full(T, avgdl, dtype=np.float64)),
            pa.array(np.full(T, tbl.column("seg")[0].as_py(), dtype=np.int32)),
            pa.array(np.full(T, tbl.column("bucket")[0].as_py(), dtype=np.int32)),
        ], schema=out_schema)

    return encode_bucket


def _make_partition_encoder(avgdl: float, k1: float, b: float, block: int):
    """mapInArrow wrapper over _make_bucket_encoder for EXACT-placed
    partitions: with one (seg, bucket) group per partition (the full
    build) the whole partition encodes in one call; a partition carrying
    several groups (the width-capped LSM delta path) is split by a numpy
    sort over the two small key columns. Memory stays bounded by one
    partition's rows — identical to the former applyInArrow bound, since
    placement puts exactly the old group set in each partition."""
    encode_bucket = _make_bucket_encoder(avgdl, k1, b, block)

    def encode_partition(batches):
        import pyarrow as pa

        tbls = list(batches)
        if not tbls:
            return
        tbl = pa.Table.from_batches(tbls)
        if tbl.num_rows == 0:
            return
        segs = tbl.column("seg").to_numpy()
        buckets = tbl.column("bucket").to_numpy()
        key = (segs.astype(np.int64) << 32) | buckets.astype(np.int64)
        if key.size and (key == key[0]).all():
            yield from encode_bucket(tbl).to_batches()
            return
        order = np.argsort(key, kind="stable")
        sk = key[order]
        bounds = np.concatenate(
            [[0], np.flatnonzero(np.diff(sk)) + 1, [sk.size]])
        otbl = tbl.take(pa.array(order))
        for i in range(bounds.size - 1):
            sub = otbl.slice(int(bounds[i]), int(bounds[i + 1] - bounds[i]))
            yield from encode_bucket(sub.combine_chunks()).to_batches()

    return encode_partition


def _encode_and_write_postings(
    spark: SparkSession, pairs: DataFrame, out_dir: str,
    avgdl: float, k1: float, b: float, block_size: int,
    n_groups: int = 0, bucket_dirs: bool = True,
    check_empty: bool = True, seg_list: list[int] | None = None,
    term_buckets: int = 0,
) -> tuple[int, int]:
    """Shuffle by (term, seg), block-encode, write seg=/bucket= partitions
    with dynamic partition overwrite. Returns (rows, ~terms).

    bucket_dirs=False (LSM delta generations) writes seg=-only partition
    dirs with bucket kept as a SORTED data column: the base table's
    bucket dirs give partition pruning on corpus-scale data, but a small
    generation would pay one dynamic-partition dir commit per (seg,
    bucket) — ~2048 of them at production geometry — while a pushed
    bucket filter over sorted row groups prunes a delta-sized scan just
    as well."""
    if check_empty and pairs.isEmpty():
        # nothing to encode (empty segment group / all docs removed from
        # the affected segments) — Observation.get would hang/assert on a
        # plan that never runs tasks. Callers that can PROVE the input is
        # non-empty (full build, one group, doc_map row count > 0) pass
        # check_empty=False: the probe is a whole extra driver round-trip
        # (plan + one-partition job) on the build's critical path.
        return 0, 0
    enc_schema = POSTINGS_SCHEMA + ", seg int, bucket int"
    # ONE exchange, one (seg, bucket) group per partition: the shuffle
    # carries compact flat UnsafeRows and the Arrow encoder materializes
    # ONE partition at a time per task, so executor memory is bounded by
    # a single bucket's rows regardless of corpus size (a width fixed by
    # core count alone exhausted execution memory at 480k docs × 16
    # partitions — observed UNABLE_TO_ACQUIRE).
    #
    # Placement is EXACT (ck_spark.partitioning): group index
    # seg_pos * term_buckets + bucket, taken modulo the target width.
    # The former repartition(width, seg, bucket) + groupBy + applyInArrow
    # hashed ~n_groups keys into ~n_groups partitions — balls-in-bins
    # leaves ~1/e of the encode slots empty and stacks 2-3 groups on
    # others, making the stage wall 2-3 group-times instead of one; it
    # also paid a JVM-side sort of every flat row to form the groups
    # (the numpy kernel re-sorts anyway). mapInArrow over exact-placed
    # partitions removes both. The explicit width survives AQE (never
    # coalesced), so small inputs keep their parallelism.
    #
    # Width scales with the GEOMETRY (#segs in this pass × term_buckets);
    # the LSM delta path passes a smaller n_groups cap — scheduling
    # 2×cores Arrow tasks for a 100-doc generation costs more than the
    # encode — and capped partitions then carry several (small) groups,
    # which the partition encoder splits in numpy.
    if seg_list is not None and term_buckets > 0:
        total_groups = len(seg_list) * term_buckets
        enc_width = max(1, min(n_groups, total_groups)
                        if n_groups > 0 else total_groups)
        seg_arr = F.array(*[F.lit(int(s)) for s in sorted(seg_list)])
        gidx = (
            (F.array_position(seg_arr, F.col("seg").cast("int")) - 1)
            .cast("int") * F.lit(term_buckets) + F.col("bucket")
        )
        enc = exact_repartition(
            pairs, enc_width, F.pmod(gidx, F.lit(enc_width))
        ).mapInArrow(
            _make_partition_encoder(float(avgdl), k1, b, block_size),
            enc_schema,
        )
    else:
        # fallback for callers without the segment list: the pre-exact
        # hash-grouped path
        par_floor = max(spark.sparkContext.defaultParallelism * 2, 16)
        enc_width = max(16, n_groups) if 0 < n_groups < par_floor \
            else max(par_floor, n_groups)
        enc = (
            pairs.repartition(enc_width, "seg", "bucket")
            .groupBy("seg", "bucket")
            .applyInArrow(
                _make_bucket_encoder(float(avgdl), k1, b, block_size),
                enc_schema,
            )
        )
    obs = Observation()
    observed = enc.observe(
        obs,
        F.count(F.lit(1)).alias("rows"),
        F.approx_count_distinct("term").alias("terms"),
    )
    if bucket_dirs:
        # EXACTLY 1 writer task per (seg, bucket) dir when the seg list
        # is known (hash placement collides ~n_groups keys into the
        # default shuffle width); encoded rows are compact so this extra
        # exchange is tiny relative to the encode UDF stage
        if seg_list is not None and term_buckets > 0:
            seg_arr_w = F.array(*[F.lit(int(s)) for s in sorted(seg_list)])
            gidx_w = (
                (F.array_position(seg_arr_w, F.col("seg").cast("int")) - 1)
                .cast("int") * F.lit(term_buckets) + F.col("bucket")
            )
            writer_in = exact_repartition(
                observed, len(seg_list) * term_buckets, gidx_w)
        else:
            writer_in = observed.repartition("seg", "bucket")
        (
            writer_in
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("seg", "bucket")
            .parquet(out_dir)
        )
    else:
        # delta layout: one dir per seg; (bucket, term)-sorted rows
        # give row-group skipping for the query's bucket/term filters
        if seg_list is not None:
            seg_arr_w = F.array(*[F.lit(int(s)) for s in sorted(seg_list)])
            writer_in = exact_repartition(
                observed, max(len(seg_list), 1),
                (F.array_position(seg_arr_w, F.col("seg").cast("int")) - 1)
                .cast("int"),
            )
        else:
            writer_in = observed.repartition("seg")
        (
            writer_in
            .sortWithinPartitions("seg", "bucket", "term")
            .write.mode("overwrite")
            .partitionBy("seg")
            .parquet(out_dir)
        )
    return int(obs.get["rows"]), int(obs.get["terms"])


def _write_term_stats(spark: SparkSession, paths: IndexPaths) -> int:
    if not os.path.isdir(paths.postings):
        # every group was empty (all-binary / zero-token corpus): no
        # postings dir was ever created — the term dictionary is empty,
        # write it as such instead of failing the read
        empty = spark.createDataFrame([], TERM_STATS_SCHEMA)
        empty.coalesce(1).write.mode("overwrite").parquet(paths.term_stats)
        return 0
    post = spark.read.parquet(paths.postings)
    ts = post.groupBy("bucket", "term").agg(
        F.sum("n_docs").alias("df"), F.count("*").alias("n_segments")
    )
    obs = Observation()
    ts.observe(obs, F.count(F.lit(1)).alias("rows")).write.mode(
        "overwrite"
    ).parquet(paths.term_stats)
    return int(obs.get["rows"])


def repair_index(spark: SparkSession, out_dir: str,
                 store: "SegmentStore | None" = None) -> bool:
    """Crash recovery for the brackets an update can leave open:
    an interrupted compaction (compact_inprogress — the folded doc_map
    staged completely before the marker was written, so the SegmentStore
    heal always rolls the swap forward, then postings and the term
    dictionary are re-derived from the folded doc_map) and an interrupted
    content-store pointer commit (cs_refresh_pending — re-derives the
    flagged segments from the live view). An interrupted delta APPEND
    needs no repair at all: the generation only becomes visible at the
    atomic meta commit, and its orphan directories are GC'd by the next
    update.

    An update_inprogress marker can only be left by a crashed
    segment-rewrite update of older code, which this code cannot finish:
    raises ValueError asking for a rebuild with build_index.

    Returns True if a repair ran."""
    man = Manifest(out_dir)
    if man.load_marker("update_inprogress") is not None:
        raise ValueError(
            f"index at {out_dir} holds the marker of a crashed "
            "segment-rewrite update (update_inprogress) that this version "
            "cannot repair; rebuild with build_index"
        )
    ran = False
    cs_marker = man.load_marker("cs_refresh_pending")
    if cs_marker is not None:
        from ck_spark.index.content_store import refresh_content_store_segments

        refresh_content_store_segments(spark, out_dir, cs_marker["segs"])
        man.clear_marker("cs_refresh_pending")
        ran = True
    cmarker = man.load_marker("compact_inprogress")
    if cmarker is not None:
        if store is None:
            from ck_spark.index.format import ParquetDirStore

            store = ParquetDirStore()
        _finish_compact(
            spark, out_dir, store, man, man.load_meta(), cmarker["tmp"],
            heal=True, summary=cmarker.get("summary"),
        )
        ran = True
    return ran


def build_index(
    spark: SparkSession,
    corpus: DataFrame,
    out_dir: str,
    mode: str = "code",
    n_segments: int | None = None,
    term_buckets: int = DEFAULT_TERM_BUCKETS,
    build_groups: int = 4,
    resume: bool = True,
    k1: float = BM25_K1,
    b: float = BM25_B,
    block_size: int = BLOCK_SIZE,
    snapshot_id: str = "input",
    store_content: bool = True,
) -> IndexPaths:
    """Build (or resume building) the inverted index under out_dir.

    snapshot_id gates the resume of the tokenize stage (doc_map): pass the
    input's Iceberg snapshot id / mtime+size token so a rerun over
    DIFFERENT data into the same out_dir rebuilds instead of reusing stale
    tokenization (ck's mtime/size fast path analogue,
    ck-index/src/lib.rs:851-906). The default constant keeps same-corpus
    resume (kill/rerun) working when no snapshot token is available.

    store_content=True (v6 default) stores the raw content in doc_map —
    Zoekt's stored-content trade: index size grows by ~1× source (still
    within the reference's ≤2× budget), and in exchange every grep/section
    fetch is a seg-pruned, doc_id-sorted narrow read of the index instead
    of a join against a full corpus scan, trigram refresh after updates is
    segment-local, and the query service needs no caller-held corpus."""
    if build_groups < 1:
        raise ValueError(
            "build_groups must be >= 1 (postings are encoded in that many "
            f"segment groups), got {build_groups!r}"
        )
    paths = IndexPaths(out_dir)
    os.makedirs(out_dir, exist_ok=True)
    man = Manifest(out_dir)

    if n_segments is None:
        n_docs_est = corpus.count()
        n_segments = max(1, int(np.ceil(n_docs_est / DEFAULT_DOCS_PER_SEGMENT)))

    # ---- stage: doc_map (the ONLY corpus scan / tokenize pass) -------------
    t0 = time.time()
    fresh_doc_map = not (resume and man.is_complete("doc_map", 0, snapshot_id))
    if fresh_doc_map:
        in_bytes = _local_input_bytes(corpus.inputFiles())
        # write shape is input-size-adaptive:
        # - FUSED full width (exchange BELOW the tokenize mapInArrow, see
        #   _with_doc_columns): when each segment carries enough bytes
        #   that the old n_segments-task sort+zstd write tail left most
        #   cores idle (measured 2.1 s of a 6 s build at sf1.0 / 32
        #   cores). Unknown input size (object stores) also takes this
        #   path — corpus-scale inputs are the case it exists for.
        # - NARROW (exchange above the tokenize, exactly one partition
        #   per seg): small corpora, where the fused path's extra files
        #   (width per seg instead of 1) cost downstream scans more than
        #   the write tail ever cost — measured +0.56 s on the content
        #   store build at sf0.1 against a write tail worth ~0.1 s.
        width = max(n_segments, spark.sparkContext.defaultParallelism)
        # threshold on COMPRESSED input bytes per segment (~400 KB zstd
        # ≈ 2.5 MB raw text): below it the old write tail costs ~0.1 s
        # and the narrow shape wins; above it the tail serializes real
        # compression work and the fused shape wins (sf1.0 sits at
        # ~0.73 MB/seg — fused; sf0.1 at ~0.07 MB/seg — narrow)
        fused = in_bytes <= 0 or in_bytes // max(n_segments, 1) >= (400 << 10)
        docs = _with_doc_columns(corpus, mode, n_segments,
                                 range_width=width if fused else 0)
        dm = docs.select(*doc_map_cols(store_content))
        if not fused:
            dm = exact_repartition(dm, n_segments, F.col("seg"))
        # per_core=2: the tokenize scan's tasks are uniform, so two even
        # waves pack perfectly while per-task Python-UDF setup (~0.4 s)
        # stays amortized; the pairs scan below keeps 3/core (its tasks
        # are cheaper and benefit from finer packing — measured).
        with _scan_splits(spark, in_bytes, per_core=2):
            (
                # doc_id-sorted rows per file: parquet row-group/page
                # min-max stats make candidate fetches (literal doc_id
                # IN (...) after trigram intersection) skip row groups
                # instead of scanning
                dm.sortWithinPartitions("seg", "doc_id")
                .write.mode("overwrite")
                .partitionBy("seg")
                .parquet(paths.doc_map)
            )
    summary = _summarize_doc_map(spark.read.parquet(paths.doc_map),
                                 build_groups=build_groups)
    _write_corpus_stats(paths, summary["n_docs"], summary["avgdl"],
                        summary["total_tokens"])
    n, nd, snapshot = summary["n"], summary["nd"], summary["snapshot"]
    avgdl = float(summary["avgdl"] or 0.0)
    group_tokens = summary["group_tokens"]
    if n != nd:
        raise RuntimeError(
            f"doc_id collision: {n} rows but {nd} distinct ids — "
            "rehash with a salt or widen the id space"
        )
    if fresh_doc_map:
        man.complete("doc_map", 0, snapshot_id, n, 0, int((time.time() - t0) * 1000),
                     lineage="corpus->doc_map(tokenized)")
        # a fresh tokenize over a CHANGED corpus must not inherit postings
        # partitions from the old corpus: dynamic partition overwrite only
        # replaces (seg,bucket) dirs that have rows under the new corpus,
        # so terms that vanished would survive as stale postings. Wipe —
        # and invalidate the stage records too: if the new corpus happens
        # to produce the SAME content fingerprint (e.g. only the
        # snapshot_id token changed), resume must still re-encode rather
        # than skip over directories that no longer exist.
        man.invalidate("postings", "term_stats")
        for stale in (paths.postings, paths.term_stats):
            shutil.rmtree(stale, ignore_errors=True)
        # derived stores beside this root (trigram candidates, content
        # blobs) are pure functions of the OLD doc_map: a fresh tokenize
        # over changed content would leave them silently stale (missed
        # grep matches / wrong fetched bytes). Drop their completion
        # markers — readers fall back to the always-correct scan/parquet
        # paths until the caller rebuilds them.
        from ck_spark.index.content_store import (
            invalidate_content_store_marker,
        )
        from ck_spark.query.trigram import invalidate_trigram_marker

        invalidate_trigram_marker(out_dir)
        invalidate_content_store_marker(out_dir)

    # ---- stage: corpus_stats (computed in the SAME scan as the summary
    # above — the stage record remains for lineage/compat) ------------------
    t0 = time.time()
    if not (resume and man.is_complete("corpus_stats", 0, snapshot)):
        man.complete("corpus_stats", 0, snapshot, 1, 0,
                     int((time.time() - t0) * 1000), lineage="doc_map->corpus_stats")

    # ---- stage: postings, per segment-group (resumable unit) ---------------
    groups = [
        [s for s in range(n_segments) if s % build_groups == g]
        for g in range(min(build_groups, n_segments))
    ]
    doc_map_bytes = _dir_bytes(paths.doc_map)
    pending: list[tuple[int, list[int]]] = []
    for g, segs in enumerate(groups):
        if not segs:
            continue
        if resume and man.is_complete("postings", g, snapshot):
            continue
        if group_tokens[g] == 0:
            # the summary's per-group token sum is the exact witness that
            # this group's pairs frame is empty (all its docs binary or
            # zero-token) — skip the encode, no probe job needed
            man.complete(
                "postings", g, snapshot, 0, 0, 0,
                lineage=f"doc_map[segs={segs}]->postings(empty)",
            )
            continue
        pending.append((g, segs))

    def _encode_group(g: int, segs: list[int]) -> None:
        t0 = time.time()
        docs_g = spark.read.parquet(paths.doc_map).where(F.col("seg").isin(segs))
        pairs = _pairs_df(docs_g, term_buckets)
        nrows, nterms = _encode_and_write_postings(
            spark, pairs, paths.postings, avgdl, k1, b, block_size,
            n_groups=len(segs) * term_buckets,
            # group_tokens[g] > 0 proves the pairs frame is non-empty
            # (a doc yields posm rows iff doc_len > 0) — the encoder
            # can skip its isEmpty probe job outright
            check_empty=False,
            seg_list=list(segs), term_buckets=term_buckets,
        )
        man.complete(
            "postings", g, snapshot, nrows, nterms,
            int((time.time() - t0) * 1000),
            lineage=f"doc_map[segs={segs}]->postings",
        )

    if pending:
        # the groups are independent resumable units writing DISJOINT
        # seg= partitions; a dynamic-partition-overwrite write stages
        # under a per-job .spark-staging-<uuid> dir, so concurrent group
        # jobs never share commit state. Run them concurrently (guide
        # §2.6): each group's pairs-scan and writer tails leave most
        # cores idle, and the other group's encode tasks back-fill them.
        # The scan-split sizing is session-global conf — set once around
        # the pool (same value for every group) instead of per group.
        with _scan_splits(spark, doc_map_bytes * len(pending[0][1])
                          // n_segments):
            if len(pending) == 1:
                _encode_group(*pending[0])
            else:
                from concurrent.futures import ThreadPoolExecutor

                with ThreadPoolExecutor(max_workers=len(pending)) as pool:
                    futs = [pool.submit(_encode_group, g, segs)
                            for g, segs in pending]
                    for f in futs:
                        f.result()

    # ---- stage: term_stats --------------------------------------------------
    t0 = time.time()
    if not (resume and man.is_complete("term_stats", 0, snapshot)):
        nterms = _write_term_stats(spark, paths)
        man.complete("term_stats", 0, snapshot, nterms, nterms,
                     int((time.time() - t0) * 1000), lineage="postings->term_stats")
    else:
        nterms = next(
            (r["terms"] for r in man.records()
             if r["stage"] == "term_stats" and r["input_snapshot"] == snapshot),
            None,
        )

    man.save_meta(
        {
            "version": INDEX_VERSION,
            "with_positions": True,
            "store_content": store_content,
            "tokenizer_mode": mode,
            "n_segments": n_segments,
            "term_buckets": term_buckets,
            "build_groups": build_groups,
            "k1": k1,
            "b": b,
            "block_size": block_size,
            "avgdl": avgdl,
            "n_docs": summary["n_docs"],
            "n_terms": int(nterms) if nterms is not None else None,
            "input_snapshot": snapshot,
            "total_tokens": summary["total_tokens"],
        }
    )
    return paths


def update_index(
    spark: SparkSession,
    corpus: DataFrame,
    out_dir: str,
    full_snapshot: bool = True,
    store: "SegmentStore | None" = None,
) -> dict:
    """Incrementally update an existing index.

    Change detection is hash-gated like ck's manifest diff
    (ck-index/src/lib.rs:841-906): sha256 mismatch / new doc_id = changed,
    missing doc_id = removed (removal applies only when full_snapshot=True;
    with full_snapshot=False `corpus` is an upsert batch — the streaming
    ingestion mode — and absent docs are left alone). ONLY added/modified
    docs are re-tokenized; the updated index stays result-identical to a
    from-scratch build (asserted in tests).

    The update is an LSM append (the tantivy/Lucene segment model,
    index/lsm.py): the changed docs are written as a NEW generation
    (doc_map + postings), dead versions become tombstone rows, and the
    global stats (n_docs, avgdl, per-term df, even the manifest's
    bit_xor corpus fingerprint) are maintained ARITHMETICALLY EXACTLY —
    write volume is proportional to the CHANGE. The generation becomes
    visible in one atomic meta commit, so a crash anywhere mid-append
    leaves the index at its exact prior state (orphan dirs are GC'd on
    the next update). Compaction folds generations back into the base
    through `store` (index/format.py) when lsm.needs_compaction trips.
    A crashed compaction or content-store commit is healed first
    (repair_index).

    A small update (input, live doc set and term dictionary under the
    LOCAL_UPDATE_* caps) runs on the driver: in no Spark job when its
    input is a local relation (createDataFrame) or a bare scan of local
    parquet files, in one (the chunked collect of its input) for any
    other input plan; a larger one runs as distributed Spark jobs. Both
    tiers write the same generation and share one commit
    (_update_delta).

    Returns UpdateStats-style counters (SURVEY §2.4 A6):
    {added, removed, modified, unchanged, affected_segments, build_ms,
    repaired, gen?, compacted?}.
    """
    if store is None:
        from ck_spark.index.format import ParquetDirStore

        store = ParquetDirStore()
    from ck_spark.index import lsm

    man = Manifest(out_dir)
    repaired = repair_index(spark, out_dir, store=store)
    meta = man.load_meta()
    if int(meta.get("version", 0)) < 5 or not meta.get("with_positions"):
        # pre-v5 layouts have no posm column: the merge below would die in
        # an opaque AnalysisException — fail with the actionable message
        raise ValueError(
            f"index at {out_dir} is v{meta.get('version')} and predates the "
            "positions layout (v5) — incremental update cannot migrate it; "
            "rebuild with build_index"
        )
    lsm.gc_orphan_gens(out_dir, meta)
    return _update_delta(
        spark, corpus, out_dir, full_snapshot, store, man, meta, repaired
    )


# ---- the driver-local write tier -------------------------------------------
# An update runs on the driver — Arrow/numpy kernels the Spark tier runs
# inside its tasks — when its input, the stored doc_map rows its diff
# reads and the term dictionary it merges are all under these caps; each
# cap is one predicate below. Its input read (_collect_input) runs no
# Spark job for a local relation or a bare local parquet scan, and one
# (the chunked collect) for any other plan.
# The caps are NOT a measured wall-time crossover: none was found. On a
# warm local[4] session (4-vCPU host; CHANGES.md has the table) the
# driver tier staged faster at every point measured — upserts of 15 to
# 30k docs on a 40k-doc, 4-segment index (30k docs: 11.0 s against
# 25.0 s) and of 15 to 15k docs on a 1.1M-doc, 1.1M-term, 8-segment
# index (15k docs: 8.5 s against 30.8 s). They are a driver-memory
# bound: the driver's python process grew ~73 MB per MB of input
# content (0.74 GB at 10.3 MB, 1.51 GB at 20.7 MB) and ~0.6 GB for the
# diff read and dictionary merge of the 1.1M-row, 1.1M-term index, so
# at the caps the driver tier holds ~1.2 GB for its input plus ~0.6 GB
# for the index; above them the Spark tier keeps the work off the
# driver. Unmeasured past 30k input docs and 1.1M rows or terms.
LOCAL_UPDATE_MAX_DOCS = 20_000
# input content bytes: the plan's size estimate before the read; then
# the parquet footers (direct read) or the per-doc byte counts (local
# relation) before the content moves, or the chunk-row limit and the
# collected bytes (chunked collect)
LOCAL_UPDATE_MAX_BYTES = 16 << 20
# stored doc_map rows (live rows, binary docs included, plus tombstoned
# versions): the driver diff reads every one's (doc_id, content_sha256)
# — hash-spread ids defeat row-group pruning, so its cost grows with
# the index, not the delta
LOCAL_UPDATE_MAX_LIVE_ROWS = 1_000_000
# the term dictionary the driver reads, merges and rewrites whole
LOCAL_UPDATE_MAX_TERMS = 1_000_000


def _live_rows_fit(meta: dict) -> bool:
    """The stored doc_map rows the driver diff reads — every live row,
    binary docs included (the row count of the arithmetic fingerprint),
    plus the tombstoned versions — are under the cap."""
    from ck_spark.index import lsm

    try:
        n_rows = lsm.parse_snapshot(meta.get("input_snapshot"))[0]
    except ValueError:
        return False
    return n_rows + int(meta.get("n_tombstones") or 0) <= LOCAL_UPDATE_MAX_LIVE_ROWS


def _terms_fit(meta: dict) -> bool:
    """The term dictionary is under the cap (unknown size does not fit)."""
    n_terms = meta.get("n_terms")
    return n_terms is not None and int(n_terms) <= LOCAL_UPDATE_MAX_TERMS


def _input_plan_fits(corpus: DataFrame) -> bool:
    """The optimizer's statistics of the input — no Spark job — are under
    the caps: its size estimate (bytes on disk for a file scan, a
    per-row default for a local relation, unbounded for an RDD) and,
    where the plan knows it, its row count (exact for a local relation).
    A cheap pre-check that keeps an input known to be large off the
    read; it is not a bound on content bytes — a compressed file or a
    local relation can pass it with any amount — so _collect_input
    bounds what each of its three input cases moves."""
    stats = corpus._jdf.queryExecution().optimizedPlan().stats()
    if int(str(stats.sizeInBytes())) > LOCAL_UPDATE_MAX_BYTES:
        return False
    rows = stats.rowCount()
    return not rows.isDefined() or int(str(rows.get())) <= LOCAL_UPDATE_MAX_DOCS


def _input_fits(inp) -> bool:
    """The collected input (at most LOCAL_UPDATE_MAX_DOCS + 1 rows) is
    under the doc and content-byte caps."""
    import pyarrow.compute as pc

    if inp.num_rows > LOCAL_UPDATE_MAX_DOCS:
        return False
    nbytes = pc.sum(pc.binary_length(inp.column("content"))).as_py() or 0
    return nbytes <= LOCAL_UPDATE_MAX_BYTES


# the input columns an update reads (a trusted content_sha256 rides along)
_INPUT_COLS = ["repo", "path", "commit", "lang", "content"]
# content crosses the chunked collect in chunks of at most this many
# bytes, one row each, so a row limit bounds the bytes moved
_COLLECT_CHUNK = 1024
# parquet page encodings whose decoded bytes the footers bound
# (_footers_fit): PLAIN values, dictionary indices and the
# RLE/bit-packed levels
_BOUNDED_ENCODINGS = {"PLAIN", "PLAIN_DICTIONARY", "RLE_DICTIONARY", "RLE",
                      "BIT_PACKED"}


def _collect_limit() -> int:
    """Chunk rows of an input at the doc and byte caps: each doc ships
    max(1, ceil(bytes / chunk)) chunks, at most one doc + bytes / chunk."""
    return LOCAL_UPDATE_MAX_DOCS + LOCAL_UPDATE_MAX_BYTES // _COLLECT_CHUNK + 1


def _with_ids(corpus: DataFrame, n_segments: int, *cols) -> DataFrame:
    """The input with every id and fingerprint the Spark tier computes,
    by the same expressions — doc_id, seg, the diff sha (trusted column
    or sha2), the doc_map sha2, the row hash of the xor fingerprint and
    the NUL test — followed by `cols`."""
    sha = F.sha2("content", 256)
    return corpus.withColumn("doc_id", doc_id_expr()).select(
        "doc_id",
        seg_expr(n_segments).alias("seg"),
        snapshot_sha_expr(corpus).alias("new_sha"),
        sha.alias("content_sha256"),
        F.xxhash64("repo", "path", "commit", sha).alias("row_hash"),
        F.contains("content", F.lit("\x00")).alias("is_binary"),
        *cols,
    )


def _plan_kind(df: DataFrame):
    """(class name, plan) of the optimized logical plan of `df`."""
    plan = df._jdf.queryExecution().optimizedPlan()
    return plan.getClass().getSimpleName(), plan


def _collect_input(corpus: DataFrame, n_segments: int):
    """The driver tier's input as an Arrow table: _with_ids' columns,
    then repo, path, commit, lang and content. None when the input is
    over a cap. Three cases, by the input's optimized plan:

    - a LocalRelation (createDataFrame of pandas or Arrow):
      _collect_local, ZERO Spark jobs;
    - a bare scan of local parquet files whose footers bound what the
      read decodes under the caps (_footers_fit; a landed batch, as
      sources/corpus_io.read_corpus reads it): read with pyarrow
      (_read_parquet_input), then _collect_local over the Arrow
      LocalRelation, ZERO Spark jobs;
    - anything else (a filter or projection the optimizer keeps, a
      partitioned, bucketed or non-parquet source, a non-local
      filesystem, an RDD, or a streaming micro-batch, which
      streaming.ingest deduplicates): _collect_chunked, ONE Spark job."""
    kind, plan = _plan_kind(corpus)
    if kind == "LocalRelation":
        return _collect_local(corpus, n_segments)
    files = _bare_parquet_files(corpus, plan) if kind == "LogicalRelation" else None
    names = _INPUT_COLS + [c for c in ["content_sha256"] if c in corpus.columns]
    if files is not None and _footers_fit(files, names):
        held = _read_parquet_input(files, names)
        df = corpus.sparkSession.createDataFrame(held)
        # over spark.sql.execution.arrow.localRelationThreshold the frame
        # is an RDD scan, whose collect would be a job
        if _plan_kind(df)[0] == "LocalRelation":
            return _collect_local(df, n_segments, held)
    return _collect_chunked(corpus, n_segments)


def _collect_local(df: DataFrame, n_segments: int, held=None):
    """_collect_input of a LocalRelation in ZERO Spark jobs: Spark's
    ConvertToLocalRelation folds _with_ids into the relation in the
    driver JVM, and collect() of a local relation runs no job (toArrow
    would: it collects through a job). The ids and hashes come first,
    with each doc's content bytes; the input columns follow only when
    the docs and bytes are under the caps — from `held` (the Arrow
    table `df` was made from) or a second collect."""
    from pyspark.sql.pandas.types import to_arrow_schema

    ids = _with_ids(df, n_segments, F.octet_length("content").alias("nbytes"))
    rows = ids.collect()
    if (len(rows) > LOCAL_UPDATE_MAX_DOCS
            or sum(r.nbytes or 0 for r in rows) > LOCAL_UPDATE_MAX_BYTES):
        return None
    if held is None:
        inputs = df.select(_INPUT_COLS)
        held = _rows_table(inputs.collect(), to_arrow_schema(inputs.schema))
    out = _rows_table(rows, to_arrow_schema(ids.schema)).drop_columns(["nbytes"])
    for c in _INPUT_COLS:
        out = out.append_column(c, held.column(c))
    return out


def _rows_table(rows: list, schema):
    """collect()ed Rows as an Arrow table of `schema`."""
    import pyarrow as pa

    cols = list(zip(*rows)) if rows else [()] * len(schema)
    return pa.Table.from_arrays(
        [pa.array(c, f.type) for c, f in zip(cols, schema)], schema=schema)


def _bare_parquet_files(corpus: DataFrame, plan) -> list | None:
    """The local paths of a LogicalRelation that is a bare parquet scan —
    no partition columns, no buckets, only file: URIs — in Spark's own
    listing (inputFiles: hidden and _ files, glob and path filters
    applied as the scan applies them); else None — also for an empty
    listing, whose schema comes from the plan alone."""
    from urllib.parse import unquote, urlparse

    rel = plan.relation()
    if (rel.getClass().getSimpleName() != "HadoopFsRelation"
            or rel.fileFormat().getClass().getSimpleName() != "ParquetFileFormat"
            or not rel.partitionSchema().isEmpty()
            or rel.bucketSpec().isDefined()):
        return None
    uris = corpus.inputFiles()
    if not uris or not all(u.startswith("file:") for u in uris):
        return None
    return [unquote(urlparse(u).path) for u in uris]


def _footers_fit(files: list, names: list) -> bool:
    """The parquet footers alone, before any page is read, bound what
    reading `names` of `files` decodes under the caps: every file has
    every column as a string, stored in PLAIN or dictionary pages; at
    most LOCAL_UPDATE_MAX_DOCS rows in all; and per column at most
    LOCAL_UPDATE_MAX_BYTES by this bound — a column chunk's uncompressed
    page bytes bound its PLAIN values, and a value taken from its
    dictionary is no longer than the whole chunk, so a chunk with
    dictionary pages counts its uncompressed bytes once per value. That
    bound grows with the square of a dictionary-encoded batch (pyarrow's
    default for strings): a batch of ~0.7 KB docs passes it up to about
    150 docs; a larger one takes the chunked collect, whose bytes are
    counted exactly."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    n_rows, nbytes = 0, dict.fromkeys(names, 0)
    for f in files:
        md = pq.read_metadata(f)
        schema = md.schema.to_arrow_schema()
        if not all(c in schema.names
                   and schema.field(c).type in (pa.string(), pa.large_string())
                   for c in names):
            return False
        leaf = {md.schema.column(i).path: i for i in range(md.num_columns)}
        n_rows += md.num_rows
        for g in range(md.num_row_groups):
            for c in names:
                col = md.row_group(g).column(leaf[c])
                if not set(col.encodings) <= _BOUNDED_ENCODINGS:
                    return False
                per_value = any(e.endswith("_DICTIONARY") for e in col.encodings)
                nbytes[c] += col.total_uncompressed_size * (col.num_values if per_value else 1)
    return n_rows <= LOCAL_UPDATE_MAX_DOCS and max(nbytes.values()) <= LOCAL_UPDATE_MAX_BYTES


def _read_parquet_input(files: list, names: list):
    """The `names` columns of `files` (which _footers_fit admitted) as
    one Arrow table of strings."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    schema = pa.schema([(c, pa.string()) for c in names])
    parts = []
    for f in files:
        with pq.ParquetFile(f) as pf:
            parts.append(pf.read(columns=names).cast(schema))
    return pa.concat_tables(parts)


def _collect_chunked(corpus: DataFrame, n_segments: int):
    """_collect_input of any plan, in ONE Spark job: the content is
    exploded into _COLLECT_CHUNK-byte chunks, one row each, under a
    limit of _collect_limit() rows, so the collect moves at most about
    LOCAL_UPDATE_MAX_DOCS * _COLLECT_CHUNK + LOCAL_UPDATE_MAX_BYTES
    content bytes (plus the other columns once per chunk) however small
    the input is on disk; the driver joins the chunks back. None when
    the input reaches the limit or its collected docs and bytes
    (_input_fits) are over a cap."""
    import pyarrow as pa
    import pyarrow.compute as pc

    chunk = _COLLECT_CHUNK
    limit = _collect_limit()
    body = F.col("content").cast("binary")
    n_chunks = F.greatest(F.ceil(F.octet_length(body) / chunk), F.lit(1))
    chunks = F.when(body.isNull(), F.array(F.lit(None).cast("binary"))).otherwise(
        F.transform(F.sequence(F.lit(0), n_chunks.cast("int") - 1),
                    lambda i: body.substr(i * chunk + 1, F.lit(chunk))))
    t = (
        _with_ids(corpus, n_segments, *_INPUT_COLS[:-1],
                  F.posexplode(chunks).alias("pos", "chunk"))
        .limit(limit)
        .toArrow()
    )
    if t.num_rows >= limit:
        return None
    starts = np.flatnonzero(t.column("pos").to_numpy() == 0)
    offsets = pa.array(np.append(starts, t.num_rows), pa.int32())
    content = pc.binary_join(
        pa.ListArray.from_arrays(offsets, t.column("chunk").combine_chunks()), b"")
    heads = t.drop_columns(["pos", "chunk"]).take(pa.array(starts))
    inp = heads.append_column("content", content.view(pa.string()))
    return inp if _input_fits(inp) else None


class _StageClock:
    """Per-stage wall clock, returned as stats["stage_ms"]: at small
    deltas the breakdown (not the data volume) explains the latency; at
    scale it shows which stage grew. Both tiers mark the same four
    stages: diff, tombstones_and_fresh_doc_map, postings_terms_trigram_cs
    and commit."""

    def __init__(self):
        self.t0 = self._t = time.time()
        self.ms: dict[str, int] = {}

    def mark(self, name: str) -> None:
        now = time.time()
        self.ms[name] = self.ms.get(name, 0) + int((now - self._t) * 1000)
        self._t = now


@dataclass
class _Generation:
    """A staged (written, not yet committed) LSM generation — what either
    tier hands the shared commit."""

    gen: int
    stats: dict        # diff counts, repaired, gen, affected_segments
    affected: list
    n_fresh: int
    ndist: int         # distinct fresh doc ids (collision check)
    dead: dict         # n_dead, dead_nb, dead_dl, dead_xor
    new: dict          # n_new, new_nb, new_dl, new_xor
    totals: dict       # n_docs, avgdl, total_tokens, input_snapshot
    n_terms: int
    tri_refresh: bool
    cs_stage: object   # content_store stage result (None / COMPACT / tuple)


def _update_delta(
    spark: SparkSession,
    corpus: DataFrame,
    out_dir: str,
    full_snapshot: bool,
    store: "SegmentStore",
    man: Manifest,
    meta: dict,
    repaired: bool,
) -> dict:
    """The LSM append path of update_index (index/lsm.py), in two tiers.

    Write volume ∝ the change: one new generation's doc_map + postings
    for the added/modified docs, tombstone rows for the superseded/
    removed versions, a full rewrite of the (small) term dictionary, and
    the content-store/trigram delta hooks. No segment of the base table
    is touched. Global stats are maintained arithmetically exactly —
    total_tokens is an exact integer, so avgdl' = total'/n_docs' is the
    same float64 a full rebuild computes, and the manifest fingerprint
    updates by XOR self-inversion (lsm.merge_snapshot).

    Tiers: when the live doc set (_live_rows_fit), the term dictionary
    (_terms_fit) and the input (_input_plan_fits before its read,
    _collect_input's bounds while it reads) are under the
    LOCAL_UPDATE_* caps, the driver tier (_stage_local) computes the
    diff, tombstones, fresh doc_map, postings, term-dictionary merge,
    trigram append and content-store delta with pyarrow and the
    Arrow/numpy kernels of the Spark tier's tasks — in no Spark job for
    a local-relation or bare local parquet input, one (the chunked
    collect) for any other; otherwise the Spark tier (_stage_spark) runs
    them as distributed jobs. Both write the same generation directories
    and hand them to ONE commit (_commit_generation), whose single commit
    point is the atomic meta write adding the generation to
    meta['gens'].

    doc_id collisions: the base build aborts on countDistinct(doc_id)
    mismatch; here a colliding NEW key is indistinguishable from a
    modification of the colliding doc (the diff is id-keyed), so the
    within-batch check of the commit is the detection surface — at 2^62
    id space the cross-batch risk is the same ~n²/2^63 the reference
    accepts."""
    from ck_spark.index import lsm

    clock = _StageClock()
    gen = lsm.next_gen(meta)
    stats: dict = {"repaired": repaired}
    inp = None
    if _live_rows_fit(meta) and _terms_fit(meta) and _input_plan_fits(corpus):
        inp = _collect_input(corpus, int(meta["n_segments"]))
    if inp is not None:
        g = _stage_local(spark, inp, out_dir, full_snapshot, meta, gen,
                         clock, stats)
    else:
        g = _stage_spark(spark, corpus, out_dir, full_snapshot, meta, gen,
                         clock, stats)
    if g is None:  # nothing changed: no generation
        stats["affected_segments"] = []
        stats["build_ms"] = int((time.time() - clock.t0) * 1000)
        return stats
    return _commit_generation(spark, out_dir, store, man, meta, g, clock)


def _arith_stats(out_dir: str, meta: dict, dead: dict, new: dict) -> dict:
    """The exact arithmetic stats of the new generation (index/lsm.py
    module docstring): n_docs, total_tokens, avgdl, input_snapshot."""
    from ck_spark.index import lsm

    n_docs_nb = int(meta["n_docs"]) - dead["dead_nb"] + new["new_nb"]
    total_old = meta.get("total_tokens")
    if total_old is None:
        # pre-LSM meta: one narrow doc_len read upgrades it (then never
        # again)
        import pyarrow.compute as pc

        t = lsm.live_rows(out_dir, {**meta, "gens": []},
                          ["doc_len", "is_binary"])
        total_old = pc.sum(pc.filter(t.column("doc_len"),
                                     pc.invert(t.column("is_binary")))).as_py() or 0
    total_tokens = int(total_old) - dead["dead_dl"] + new["new_dl"]
    return {
        "n_docs": n_docs_nb,
        "avgdl": (total_tokens / n_docs_nb) if n_docs_nb > 0 else 0.0,
        "total_tokens": total_tokens,
        "input_snapshot": lsm.merge_snapshot(
            meta["input_snapshot"], dead["n_dead"], dead["dead_xor"],
            new["n_new"], new["new_xor"],
        ),
    }


def _trigram_refresh(out_dir: str, store_content: bool) -> bool:
    """True if the update must append to a trigram index. An index
    without stored content cannot keep one current: it is dropped."""
    from ck_spark.query.trigram import TRIGRAM_DIR

    tri_dir = os.path.join(out_dir, TRIGRAM_DIR)
    if os.path.exists(tri_dir) and not store_content:
        shutil.rmtree(tri_dir, ignore_errors=True)
    return os.path.exists(tri_dir) and store_content


def _commit_generation(spark: SparkSession, out_dir: str,
                       store: "SegmentStore", man: Manifest, meta: dict,
                       g: _Generation, clock: _StageClock) -> dict:
    """THE commit of a staged generation, shared by both tiers: the
    within-batch collision check, the cs_refresh_pending bracket, the one
    atomic meta write that makes the generation live, corpus_stats, the
    trigram and content-store commits, the manifest record and the
    compaction trigger."""
    from ck_spark.index import lsm
    from ck_spark.index.content_store import (
        COMPACT, build_content_store, commit_content_store_delta,
    )
    from ck_spark.query.trigram import maybe_compact_trigram

    stats = g.stats
    if g.n_fresh > 0 and g.new["n_new"] != g.ndist:
        # nothing is committed yet (the meta write below is the single
        # commit point); drop the staged generation dirs — any remainder
        # is orphan-GC'd by the next update
        shutil.rmtree(lsm.delta_doc_map_dir(out_dir, g.gen), ignore_errors=True)
        shutil.rmtree(lsm.delta_postings_dir(out_dir, g.gen), ignore_errors=True)
        raise RuntimeError(
            "doc_id collision inside the update batch — rehash with a salt"
        )
    if g.cs_stage is not None:
        # bracket the pointer-table commit: it lands AFTER the meta commit
        # below, so a crash between the two would otherwise leave the new
        # generation's docs permanently missing from the pointer table
        # (readers are safe meanwhile — the store's completion marker is
        # already invalidated, so fetches use the parquet live view);
        # repair_index re-derives the flagged segments and clears this.
        man.save_marker("cs_refresh_pending", {"segs": g.affected})

    # ---- THE commit point: one atomic meta write makes gen live
    meta.update({
        "gens": lsm.live_gens(meta) + [g.gen],
        **g.totals,
        "n_terms": g.n_terms,
        "term_stats_dir": os.path.relpath(
            lsm.term_stats_gen_dir(out_dir, g.gen), out_dir),
        "n_tombstones": int(meta.get("n_tombstones") or 0) + g.dead["n_dead"],
    })
    man.save_meta(meta)
    # the corpus_stats side table mirrors the COMMITTED meta, so it is
    # written only after the commit: a crash before it leaves the table
    # at the prior generation's values, equal to the prior meta
    n_docs = g.totals["n_docs"]
    _write_corpus_stats(IndexPaths(out_dir), n_docs,
                        g.totals["avgdl"] if n_docs > 0 else None,
                        g.totals["total_tokens"])

    if g.tri_refresh:
        maybe_compact_trigram(spark, out_dir)
    if g.cs_stage == COMPACT:
        build_content_store(spark, out_dir)
        man.clear_marker("cs_refresh_pending")
    elif g.cs_stage is not None:
        commit_content_store_delta(
            spark, out_dir, g.affected, *g.cs_stage,
            n_change=stats["added"] - stats["removed"],
        )
        man.clear_marker("cs_refresh_pending")

    clock.mark("commit")
    stats["stage_ms"] = clock.ms
    stats["build_ms"] = int((time.time() - clock.t0) * 1000)
    man.complete(
        "update", int(time.time()), g.totals["input_snapshot"],
        stats["added"] + stats["modified"], g.n_terms, stats["build_ms"],
        lineage=f"delta gen={g.gen} +{stats['added']} ~{stats['modified']} "
                f"-{stats['removed']}",
    )
    # the Spark tier's diff staging outlived its use
    shutil.rmtree(lsm.diff_staging_dir(out_dir, g.gen), ignore_errors=True)
    if lsm.needs_compaction(meta):
        compact_index(spark, out_dir, store=store)
        stats["compacted"] = True
    return stats


def _row_hash(repo, path, commit, sha) -> int:
    """xxhash64(repo, path, commit, content_sha256) as Spark computes it:
    each non-null column's UTF-8 bytes hashed with the previous hash as
    the seed (42 first), signed. Parity with F.xxhash64 is asserted in
    tests/test_update_local_tier.py."""
    from ck_spark.codec import xxhash64

    h = 42
    for v in (repo, path, commit, sha):
        if v is not None:
            h = xxhash64(v.encode("utf-8"), h)
    return h - (1 << 64) if h >= (1 << 63) else h


def _xor(values) -> int:
    """bit_xor of signed 64-bit values (0 for none, as the Spark tier's
    `or 0` reads an empty bit_xor)."""
    return int(np.bitwise_xor.reduce(np.asarray(values, dtype=np.int64))) \
        if len(values) else 0


def _tokenized(contents, is_binary: np.ndarray, mode: str) -> tuple:
    """(posm, tfm, doc_len) Arrow arrays for fresh docs — the driver twin
    of _with_doc_columns' tokenize: positions_map_arrow, binary docs null
    maps and doc_len 0, tf = the number of positions."""
    import pyarrow as pa
    import pyarrow.compute as pc

    from ck_spark.tokenizer import positions_map_arrow

    # binary docs tokenize as empty, so their null maps own no entries
    posm = positions_map_arrow(
        pc.if_else(pa.array(is_binary), pa.scalar("", pa.string()), contents),
        mode)
    offs = posm.offsets.to_numpy()
    tfs = pc.list_value_length(posm.items).to_numpy().astype(np.int32)
    cum = np.concatenate([[0], np.cumsum(tfs, dtype=np.int64)])
    doc_len = (cum[offs[1:]] - cum[offs[:-1]]).astype(np.int32)
    null_offs = pa.array(offs.astype(np.int32), mask=np.r_[is_binary, False])
    return (pa.MapArray.from_arrays(null_offs, posm.keys, posm.items),
            pa.MapArray.from_arrays(null_offs, posm.keys, pa.array(tfs)),
            doc_len)


def _map_entries(maps) -> tuple:
    """(keys, values) of every map of a MapArray, flattened, honouring a
    slice offset (null maps own no entries in these arrays)."""
    offs = maps.offsets
    lo, hi = offs[0].as_py(), offs[-1].as_py()
    return maps.keys.slice(lo, hi - lo), maps.items.slice(lo, hi - lo)


def _map_keys(maps) -> np.ndarray:
    return _map_entries(maps)[0].to_numpy(zero_copy_only=False)


def _dead_terms(out_dir: str, dead, mode: str) -> np.ndarray:
    """Each dead non-binary version's distinct terms, concatenated (one
    entry per (doc, term)): re-tokenized from the content store's point
    reads when it exists, else the stored tfm keys — the same sources
    the Spark tier reads."""
    import pyarrow as pa

    from ck_spark.index.content_store import content_store_exists, fetch_local
    from ck_spark.tokenizer import positions_map_arrow

    nb = dead.filter(pa.array(~dead.column("is_binary").to_numpy(
        zero_copy_only=False)))
    if nb.num_rows == 0:
        return np.empty(0, dtype=object)
    if "tfm" in nb.column_names:
        return _map_keys(nb.column("tfm").combine_chunks())
    assert content_store_exists(out_dir)
    old = fetch_local(out_dir, nb.column("seg").to_pylist(),
                      nb.column("doc_id").to_pylist())
    return _map_keys(positions_map_arrow(pa.array(old["content"], pa.string()),
                                         mode))


def _merge_term_stats(ts, delta: pd.Series, term_buckets: int) -> tuple:
    """Add the signed per-term doc counts `delta` (indexed by term) to
    the term dictionary `ts` (a TERM_STATS_SCHEMA Arrow table), keyed on
    the delta's terms only: an old term's row is updated in place and
    keeps its stored bucket, a new term gets n_segments 1 and
    pmod(xxhash64(term)), and terms left at df <= 0 are dropped. The rows
    come out sorted by (bucket, term). Returns (the merged table, the
    delta terms' buckets as a Series indexed by term)."""
    import pyarrow as pa
    import pyarrow.compute as pc

    from ck_spark.codec import xxhash64_signed

    term = ts.column("term").combine_chunks()
    bucket = ts.column("bucket").to_numpy()
    dterms = delta.index.to_numpy()
    pos = pc.index_in(pa.array(dterms, pa.string()), value_set=term)
    pos = pos.fill_null(-1).to_numpy()
    hit = pos >= 0
    dfs = delta.to_numpy()
    df = ts.column("df").to_numpy().copy()
    df[pos[hit]] += dfs[hit]
    new_terms = dterms[~hit]
    new_bucket = np.array([xxhash64_signed(t) % term_buckets for t in new_terms],
                          np.int32)
    merged = pa.table({
        "bucket": pa.array(np.r_[bucket, new_bucket].astype(np.int32)),
        "term": pa.concat_arrays([term, pa.array(new_terms, pa.string())]),
        "df": pa.array(np.r_[df, dfs[~hit]]),
        "n_segments": pa.array(np.r_[ts.column("n_segments").to_numpy(),
                                     np.ones(new_terms.size, np.int64)]),
    })
    merged = merged.filter(pc.greater(merged.column("df"), 0))
    merged = merged.take(pc.sort_indices(
        merged, sort_keys=[("bucket", "ascending"), ("term", "ascending")]))
    delta_bucket = np.empty(dterms.size, np.int32)
    delta_bucket[hit] = bucket[pos[hit]]
    delta_bucket[~hit] = new_bucket
    return merged, pd.Series(delta_bucket, index=delta.index)


def _stage_local(spark: SparkSession, inp, out_dir: str, full_snapshot: bool,
                 meta: dict, gen: int, clock: _StageClock,
                 stats: dict) -> "_Generation | None":
    """The driver tier: stage generation `gen` from the collected input
    `inp` (_collect_input) with pyarrow and the Spark tier's kernels —
    no Spark job. Writes the same files as _stage_spark, one per
    partition directory. Returns None when nothing changed."""
    import pyarrow as pa
    import pyarrow.compute as pc

    from ck_spark.index import lsm
    from ck_spark.index.content_store import (
        content_store_exists, stage_content_store_delta,
    )
    from ck_spark.plans.schemas import (
        arrow_dataset, write_parquet, write_partitioned,
    )
    from ck_spark.query.trigram import refresh_trigram_append

    store_content = bool(meta.get("store_content", False))
    term_buckets = int(meta["term_buckets"])

    # ---- diff: the input against the live view's (doc_id, sha) — every
    # live row for a full snapshot, the input's ids for an upsert batch
    ids = inp.column("doc_id").to_numpy()
    old = lsm.live_rows(out_dir, meta, ["content_sha256", "seg"],
                        None if full_snapshot else ids)
    d = pd.DataFrame({
        "doc_id": ids, "new_sha": inp.column("new_sha").to_pandas(),
        "seg": inp.column("seg").to_numpy(),
    }).merge(
        pd.DataFrame({
            "doc_id": old.column("doc_id").to_numpy(),
            "old_sha": old.column("content_sha256").to_pandas(),
            "old_seg": old.column("seg").to_numpy(),
        }),
        on="doc_id", how="outer" if full_snapshot else "left",
    )
    has_old = d["old_sha"].notna().to_numpy()
    has_new = d["new_sha"].notna().to_numpy()
    same = has_old & has_new & (d["old_sha"] == d["new_sha"]).to_numpy()
    differ = has_old & has_new & ~same
    changed = ~has_old | ~has_new | differ
    stats.update(added=int((~has_old).sum()), removed=int((~has_new).sum()),
                 modified=int(differ.sum()), unchanged=int(same.sum()))
    clock.mark("diff")
    if not changed.any():
        return None
    stats["gen"] = gen
    seg = d["seg"].fillna(d["old_seg"]).to_numpy().astype(np.int64)
    affected = sorted({int(s) for s in seg[changed]})
    stats["affected_segments"] = affected
    dead_ids = d["doc_id"].to_numpy()[changed & has_old]
    fresh_ids = d["doc_id"].to_numpy()[changed & has_new]

    # ---- dead versions: tombstones and the exact stat corrections
    dead = lsm.live_rows(
        out_dir, meta,
        ["seg", "repo", "path", "commit", "content_sha256", "is_binary",
         "doc_len"] + ([] if content_store_exists(out_dir) else ["tfm"]),
        dead_ids,
    )
    dnb = ~dead.column("is_binary").to_numpy(zero_copy_only=False)
    dead_stats = {
        "n_dead": dead.num_rows,
        "dead_nb": int(dnb.sum()),
        "dead_dl": int(dead.column("doc_len").to_numpy()[dnb].sum()),
        "dead_xor": _xor([_row_hash(*r) for r in zip(
            *(dead.column(c).to_pylist()
              for c in ("repo", "path", "commit", "content_sha256")))]),
    }
    if dead.num_rows:
        write_parquet(dead.select(["gen", "seg", "doc_id"]),
                      lsm.tombstones_dir(out_dir, gen), lsm._TOMBSTONE_SCHEMA,
                      ("created",), stats_cols=("gen", "seg", "doc_id"))

    # ---- fresh docs: tokenize ONLY them, write the generation's doc_map
    fresh = inp.filter(pa.array(np.isin(ids, fresh_ids)))
    n_fresh = stats["added"] + stats["modified"]
    is_bin = pc.fill_null(fresh.column("is_binary"), False).to_numpy()
    posm, tfm, doc_len = _tokenized(fresh.column("content"), is_bin,
                                    meta["tokenizer_mode"])
    dm = fresh.select(["doc_id", "repo", "path", "commit", "lang",
                       "content_sha256", "seg", "content"])
    dm = (dm.append_column("is_binary", pa.array(is_bin))
          .append_column("doc_len", pa.array(doc_len))
          .append_column("tfm", tfm).append_column("posm", posm))
    gen_dm_dir = lsm.delta_doc_map_dir(out_dir, gen)
    # the generation dir must exist even when empty: live_doc_map reads
    # the delta parent with an explicit schema, which tolerates empty
    # dirs but not missing ones
    os.makedirs(gen_dm_dir, exist_ok=True)
    write_partitioned(dm, gen_dm_dir, doc_map_schema(store_content), ("seg",),
                      ("doc_id",))
    nb = ~is_bin
    new_stats = {
        "n_new": fresh.num_rows,
        "new_nb": int(nb.sum()),
        "new_dl": int(doc_len[nb].sum()),
        "new_xor": _xor(fresh.column("row_hash").to_numpy()),
    }
    clock.mark("tombstones_and_fresh_doc_map")
    totals = _arith_stats(out_dir, meta, dead_stats, new_stats)

    # ---- term dictionary: the Spark tier's signed-count merge
    nb_idx = np.flatnonzero(nb)
    posm_nb = posm.take(pa.array(nb_idx))
    terms, poss = _map_entries(posm_nb)
    terms = terms.to_numpy(zero_copy_only=False).astype(str)
    dead_terms = _dead_terms(out_dir, dead, meta["tokenizer_mode"]).astype(str)
    delta = pd.Series(np.r_[np.ones(terms.size, np.int64),
                            -np.ones(dead_terms.size, np.int64)]).groupby(
        np.r_[terms, dead_terms]).sum()
    merged, delta_bucket = _merge_term_stats(
        arrow_dataset(lsm.term_stats_path(out_dir, meta),
                      TERM_STATS_SCHEMA).to_table(), delta, term_buckets)
    write_parquet(merged, lsm.term_stats_gen_dir(out_dir, gen), TERM_STATS_SCHEMA,
                  stats_cols=("bucket", "term"))

    # ---- postings of the non-binary fresh docs under the NEW avgdl
    # (every fresh term is in the merged dictionary: df' >= its new docs)
    gen_post_dir = lsm.delta_postings_dir(out_dir, gen)
    os.makedirs(gen_post_dir, exist_ok=True)
    if terms.size:
        di = nb_idx[np.repeat(np.arange(nb_idx.size),
                              np.diff(posm_nb.offsets.to_numpy()))]
        pairs = pa.table({
            "doc_id": pa.array(fresh.column("doc_id").to_numpy()[di]),
            "seg": pa.array(fresh.column("seg").to_numpy()[di]),
            "dl": pa.array(doc_len[di]),
            "term": pa.array(terms, pa.string()),
            "poss": poss,
            "tf": pc.list_value_length(poss),
            "bucket": pa.array(delta_bucket.reindex(terms).to_numpy(np.int32)),
        })
        enc = pa.Table.from_batches(list(_make_partition_encoder(
            totals["avgdl"], float(meta["k1"]), float(meta["b"]),
            int(meta["block_size"]))(iter(pairs.to_batches()))))
        part = ("seg", "bucket") if lsm.delta_bucket_dirs(out_dir, meta) \
            else ("seg",)
        write_partitioned(enc, gen_post_dir, POSTINGS_SCHEMA + ", seg int, bucket int",
                          part, ("bucket", "term"))

    # ---- derived-store delta hooks (each with its own crash fallback)
    tri_refresh = _trigram_refresh(out_dir, store_content)
    fresh_pdf = dm.select(["seg", "doc_id", "repo", "path", "lang", "content",
                           "is_binary"]).to_pandas()
    if tri_refresh and n_fresh > 0:
        refresh_trigram_append(spark, out_dir, fresh_pdf[nb][["doc_id", "seg", "content"]],
                               n_fresh=n_fresh, allow_compact=False)
    cs_stage = stage_content_store_delta(
        spark, out_dir, affected, fresh_pdf,
        np.union1d(dead_ids, fresh_ids), n_fresh,
    )
    clock.mark("postings_terms_trigram_cs")
    return _Generation(
        gen=gen, stats=stats, affected=affected, n_fresh=n_fresh,
        ndist=int(np.unique(fresh.column("doc_id").to_numpy()).size),
        dead=dead_stats, new=new_stats, totals=totals, n_terms=merged.num_rows,
        tri_refresh=tri_refresh, cs_stage=cs_stage,
    )


def _stage_spark(spark: SparkSession, corpus: DataFrame, out_dir: str,
                 full_snapshot: bool, meta: dict, gen: int,
                 clock: _StageClock, stats: dict) -> "_Generation | None":
    """The Spark tier: stage generation `gen` as distributed jobs — a
    fixed chain of small jobs at delta scale, parallel at corpus scale.
    Returns None when nothing changed."""
    from ck_spark.index import lsm

    store_content = bool(meta.get("store_content", False))
    n_segments = int(meta["n_segments"])
    mode = meta["tokenizer_mode"]
    term_buckets = int(meta["term_buckets"])

    live = lsm.live_doc_map(spark, out_dir, meta)
    live_g = live if "gen" in live.columns else live.withColumn("gen", F.lit(0))

    new_min = corpus.select(
        doc_id_expr().alias("doc_id"),
        snapshot_sha_expr(corpus).alias("content_sha256"),
    ).withColumn("seg", seg_expr(n_segments))
    old_min = live_g.select(
        "doc_id", F.col("content_sha256").alias("old_sha"), "seg",
        F.col("gen").alias("old_gen"),
    )
    join_type = "full_outer" if full_snapshot else "left_outer"
    diff = new_min.alias("n").join(old_min.alias("o"), "doc_id", join_type).select(
        "doc_id",
        F.col("n.content_sha256").alias("new_sha"),
        F.col("o.old_sha").alias("old_sha"),
        F.coalesce(F.col("n.seg"), F.col("o.seg")).alias("seg"),
        F.col("o.old_gen").alias("old_gen"),
    )
    # ---- ONE diff pass. The sha2 hash of every corpus row is the
    # expensive input here (at 1M files it reads and hashes ~0.7 GB);
    # the change counts ride the write job as observed metrics and the
    # (small, change-sized) id set is MATERIALIZED, so the downstream
    # consumers — affected segs, tombstones, fresh tokenize, trigram and
    # content-store hooks — broadcast-read it instead of each re-deriving
    # the full corpus hash join (the pre-materialization path hashed the
    # corpus up to 5× per update). The staging dir is generation-keyed
    # and GC'd with the other orphans on crash, deleted after commit.
    obs_diff = Observation()
    diff_o = diff.observe(
        obs_diff,
        F.sum(F.when(F.col("old_sha").isNull(), 1).otherwise(0)).alias("added"),
        F.sum(F.when(F.col("new_sha").isNull(), 1).otherwise(0)).alias("removed"),
        F.sum(
            F.when(
                F.col("old_sha").isNotNull()
                & F.col("new_sha").isNotNull()
                & (F.col("old_sha") != F.col("new_sha")),
                1,
            ).otherwise(0)
        ).alias("modified"),
        F.sum(
            F.when(
                F.col("old_sha").isNotNull() & (F.col("new_sha") == F.col("old_sha")), 1
            ).otherwise(0)
        ).alias("unchanged"),
        # affected segments ride the same job (collect_set ignores the
        # nulls of unchanged rows); bounded by n_segments driver-side
        F.collect_set(
            F.when(
                F.col("old_sha").isNull()
                | F.col("new_sha").isNull()
                | (F.col("old_sha") != F.col("new_sha")),
                F.col("seg"),
            )
        ).alias("affected"),
    )
    diff_dir = lsm.diff_staging_dir(out_dir, gen)
    (
        diff_o.where(
            F.col("old_sha").isNull()
            | F.col("new_sha").isNull()
            | (F.col("old_sha") != F.col("new_sha"))
        )
        .select(
            "doc_id",
            F.col("seg").cast("int").alias("seg"),
            F.col("old_sha").isNotNull().alias("is_dead"),
            F.col("new_sha").isNotNull().alias("is_fresh"),
        )
        .write.mode("overwrite")
        .parquet(diff_dir)
    )
    counts = obs_diff.get
    clock.mark("diff")
    stats.update({k: int(counts[k] or 0)
                  for k in ("added", "removed", "modified", "unchanged")})
    if stats["added"] + stats["removed"] + stats["modified"] == 0:
        shutil.rmtree(diff_dir, ignore_errors=True)
        return None
    stats["gen"] = gen

    changed = spark.read.parquet(diff_dir)
    affected = sorted(int(s) for s in (counts["affected"] or []))
    stats["affected_segments"] = affected
    dead_ids = changed.where("is_dead").select("doc_id")
    fresh_ids = changed.where("is_fresh").select("doc_id")

    # ---- dead versions: ONE narrow pass over their stored rows gives the
    # tombstones (written), the exact stat corrections (observed on that
    # same write job), and — lazily, for the term_stats merge below — the
    # per-term doc counts from the stored tfm maps (never a re-tokenize)
    dead_rows = live_g.join(F.broadcast(dead_ids), "doc_id", "left_semi")
    nb = ~F.col("is_binary")

    def _run_tombstones() -> dict:
        obs_dead = Observation()
        (
            dead_rows.observe(
                obs_dead,
                F.count(F.lit(1)).alias("n_dead"),
                F.count(F.when(nb, 1)).alias("dead_nb"),
                F.sum(F.when(nb, F.col("doc_len"))).alias("dead_dl"),
                F.bit_xor(
                    F.xxhash64("repo", "path", "commit", "content_sha256")
                ).alias("dead_xor"),
            )
            .select(
                F.col("gen").cast("int").alias("gen"),
                F.col("seg").cast("int").alias("seg"),
                "doc_id",
            )
            .coalesce(1)
            .write.mode("overwrite")
            .parquet(lsm.tombstones_dir(out_dir, gen))
        )
        return {k: int(v or 0) for k, v in obs_dead.get.items()}
    # term-stats correction needs each dead NONBINARY doc's distinct term
    # set. map_keys(tfm) from doc_map point-scatters into the tfm column:
    # hash-spread ids touch every row group, so a 1% update reads ~the
    # whole column (measured ~40% of the index at 1M docs). With the
    # point-read content store present, fetch exactly the dead docs' OLD
    # content bytes (pointer join + ranged blob reads — IO ∝ the change)
    # and re-tokenize: the tokenizer is deterministic, so the term set
    # equals the stored tfm keys by construction (the tfm path remains
    # the fallback for store-less indexes).
    from ck_spark.index.content_store import content_store_exists

    if content_store_exists(out_dir):
        from ck_spark.index.content_store import ContentStore

        cs_handle = ContentStore.load(spark, out_dir)
        dead_nb_ids = dead_rows.where(nb).select("doc_id")
        dead_ptr = cs_handle.ptr.join(dead_nb_ids, "doc_id", "left_semi")
        dead_content = cs_handle.fetch_rows(dead_ptr).withColumn(
            "commit", F.lit("")
        )
        dead_terms = (
            _with_doc_columns(dead_content, mode, 1)
            .where(~F.col("is_binary"))
            .select(F.explode(F.map_keys("posm")).alias("term"))
            .groupBy("term")
            .agg(F.count(F.lit(1)).alias("ddf"))
        )
    else:
        dead_terms = (
            dead_rows.where(nb)
            .select(F.explode(F.map_keys("tfm")).alias("term"))
            .groupBy("term")
            .agg(F.count(F.lit(1)).alias("ddf"))
        )

    # ---- fresh docs: tokenize ONLY them, write the new generation's
    # doc_map (stats observed on the same job). A pure-removal update has
    # no fresh docs — skip the whole stage (observing a zero-task plan
    # asserts) and the generation is tombstones-only.
    n_fresh = stats["added"] + stats["modified"]
    fresh_corpus = (
        corpus.withColumn("doc_id", doc_id_expr())
        .join(F.broadcast(fresh_ids), "doc_id", "left_semi")
        .drop("doc_id")
    )
    gen_dm_dir = lsm.delta_doc_map_dir(out_dir, gen)

    def _run_fresh_doc_map() -> dict:
        if n_fresh == 0:
            # the generation dir must still exist: live_doc_map reads the
            # delta parent with an explicit schema, which tolerates empty
            # dirs but not missing ones
            os.makedirs(gen_dm_dir, exist_ok=True)
            return {"n_new": 0, "new_nb": 0, "new_dl": 0, "new_xor": 0}
        docs_new = _with_doc_columns(fresh_corpus, mode, n_segments)
        obs_new = Observation()
        (
            docs_new.select(*doc_map_cols(store_content))
            .observe(
                obs_new,
                F.count(F.lit(1)).alias("n_new"),
                F.count(F.when(nb, 1)).alias("new_nb"),
                F.sum(F.when(nb, F.col("doc_len"))).alias("new_dl"),
                F.bit_xor(
                    F.xxhash64("repo", "path", "commit", "content_sha256")
                ).alias("new_xor"),
            )
            # exact one-partition-per-affected-seg placement (a plain
            # hash repartition on seg collides segs balls-in-bins style:
            # some writer tasks idle, others carry 2-3 segs)
            .transform(lambda d: exact_repartition(
                d, max(len(affected), 1),
                F.array_position(
                    F.array(*[F.lit(int(s)) for s in sorted(affected)]),
                    F.col("seg").cast("int"),
                ).cast("int") - 1,
            ))
            .sortWithinPartitions("seg", "doc_id")
            .write.mode("overwrite")
            .partitionBy("seg")
            .parquet(gen_dm_dir)
        )
        return {k: int(v or 0) for k, v in obs_new.get.items()}

    # tombstone write and fresh tokenize+write are independent small jobs
    # on a fixed-dispatch-heavy chain: run them concurrently (guide §2.6 —
    # the scheduler back-fills one job's stragglers with the other's
    # tasks; each observes only its own write job). Neither touches
    # session conf or markers.
    from concurrent.futures import ThreadPoolExecutor

    with ThreadPoolExecutor(max_workers=2) as _pool:
        _f_dead = _pool.submit(_run_tombstones)
        _f_new = _pool.submit(_run_fresh_doc_map)
        dead_stats = _f_dead.result()
        new_stats = _f_new.result()

    clock.mark("tombstones_and_fresh_doc_map")
    totals = _arith_stats(out_dir, meta, dead_stats, new_stats)

    # ---- new generation's postings, encoded under the NEW avgdl (the
    # per-row avgdl_enc + WAND bound scaling keep older generations sound)
    gen_post_dir = lsm.delta_postings_dir(out_dir, gen)
    docs_delta = spark.read.parquet(gen_dm_dir) if n_fresh > 0 else None

    def _run_postings() -> None:
        if n_fresh > 0:
            pairs = _pairs_df(docs_delta, term_buckets)
            # delta-sized width: ~64 docs' pairs per task keeps tasks busy
            # without scheduling the full seg×bucket geometry for a small
            # generation; bounded above by the geometry rule (memory: one
            # group's rows per task) for corpus-scale deltas
            _encode_and_write_postings(
                spark, pairs, gen_post_dir, totals["avgdl"],
                float(meta["k1"]), float(meta["b"]), int(meta["block_size"]),
                n_groups=min(max(len(affected), 1) * term_buckets,
                             max(16, n_fresh // 64 + 1)),
                bucket_dirs=lsm.delta_bucket_dirs(out_dir, meta),
                seg_list=list(affected), term_buckets=term_buckets,
            )
        os.makedirs(gen_post_dir, exist_ok=True)  # all-binary/empty/removal-only

    # ---- term dictionary: exact arithmetic merge, written whole (the
    # dict is tiny next to the corpus), committed via the meta pointer.
    # The merge is a UNION + one hash aggregation, not a chain of
    # full-outer sort-merge joins: old df rows, fresh +1-per-doc rows and
    # dead -1-per-doc rows all contribute a signed count per term, and
    # bucket is re-derived (it is pmod(xxhash64(term)) by construction
    # everywhere, so recomputing equals coalescing the stored column).
    old_ts = spark.read.parquet(lsm.term_stats_path(out_dir, meta))
    contrib = old_ts.select(
        "term", F.col("df").cast("long").alias("d"),
        F.col("n_segments").cast("long").alias("ns"),
    ).unionByName(
        dead_terms.select(
            "term", (-F.col("ddf")).cast("long").alias("d"),
            F.lit(None).cast("long").alias("ns"),
        )
    )
    if n_fresh > 0:
        new_terms = (
            docs_delta.where(nb)
            .select(F.explode(F.map_keys("tfm")).alias("term"))
            .groupBy("term")
            .agg(F.count(F.lit(1)).alias("ndf"))
        )
        contrib = contrib.unionByName(
            new_terms.select(
                "term", F.col("ndf").cast("long").alias("d"),
                F.lit(None).cast("long").alias("ns"),
            )
        )
    merged_ts = (
        contrib.groupBy("term")
        .agg(F.sum("d").alias("df"), F.max("ns").alias("ns"))
        .select(
            F.pmod(F.xxhash64("term"), F.lit(term_buckets)).cast("int")
            .alias("bucket"),
            "term",
            F.col("df").cast("long").alias("df"),
            F.coalesce("ns", F.lit(1)).cast("long").alias("n_segments"),
        )
        .where(F.col("df") > 0)
    )
    ts_dir = lsm.term_stats_gen_dir(out_dir, gen)

    def _run_term_stats() -> int:
        obs_ts = Observation()
        merged_ts.observe(obs_ts, F.count(F.lit(1)).alias("rows")).write.mode(
            "overwrite"
        ).parquet(ts_dir)
        return int(obs_ts.get["rows"])

    # ---- derived-store delta hooks (each with its own crash fallback)
    from ck_spark.query.trigram import refresh_trigram_append

    tri_refresh = _trigram_refresh(out_dir, store_content)

    def _run_trigram() -> None:
        if tri_refresh and n_fresh > 0:
            # grams for only the fresh docs; extra entries for dead versions
            # are dropped by the live-view fetch/verify (over-approximation
            # soundness — trigram.py module docstring). A crash mid-append
            # leaves the completion marker absent => full-scan fallback.
            refresh_trigram_append(
                spark, out_dir,
                docs_delta.where(nb).select(
                    "doc_id", F.col("seg").cast("int").alias("seg"), "content"
                ),
                n_fresh=n_fresh,
                allow_compact=False,
            )
        # removal-only updates (n_fresh == 0) need NO trigram mutation: the
        # index is an over-approximation and dead docs drop out of the live
        # doc_map that the candidate fetch joins — the marker stays valid

    from ck_spark.index.content_store import stage_content_store_delta

    # the blob append needs (seg, doc_id, repo, path, lang, content,
    # is_binary) for the fresh docs — with stored content the written
    # generation doc_map already carries all of them, so reuse it instead
    # of a second corpus scan (the store only exists on v6 stored-content
    # indexes, and a removal-only update stages nothing fresh)
    if store_content and n_fresh > 0:
        fresh_light = docs_delta
    else:
        fresh_light = (
            fresh_corpus.withColumn("doc_id", doc_id_expr())
            .withColumn("seg", seg_expr(n_segments))
            .withColumn("is_binary", F.contains("content", F.lit("\x00")))
        )

    def _run_cs_stage():
        return stage_content_store_delta(
            spark, out_dir, affected, fresh_light,
            dead_ids.unionByName(fresh_ids).distinct(), n_fresh,
        )

    def _run_collision_check() -> int:
        # within-batch collision check (countDistinct is not allowed
        # inside observed metrics) — one narrow doc_id-only scan of the
        # small generation, rides the concurrent phase; its verdict is
        # consumed by the commit, BEFORE the meta write
        if n_fresh == 0:
            return 0
        return int(
            spark.read.parquet(gen_dm_dir)
            .agg(F.countDistinct("doc_id")).collect()[0][0] or 0
        )

    # the post-diff producers — postings encode, term-dict merge,
    # trigram append, content-store staging and the collision-check scan
    # — write disjoint directories, mutate only their own marker files,
    # and never touch session conf: run them concurrently so the chain
    # pays ~max() of their walls instead of the sum (guide §2.6; each is
    # a small dispatch-heavy job at delta scale, and at corpus scale the
    # scheduler back-fills tails).
    with ThreadPoolExecutor(max_workers=5) as _pool:
        _f_post = _pool.submit(_run_postings)
        _f_ts = _pool.submit(_run_term_stats)
        _f_tri = _pool.submit(_run_trigram)
        _f_cs = _pool.submit(_run_cs_stage)
        _f_nd = _pool.submit(_run_collision_check)
        _f_post.result()
        n_terms = _f_ts.result()
        _f_tri.result()
        cs_stage = _f_cs.result()
        ndist = _f_nd.result()
    clock.mark("postings_terms_trigram_cs")
    return _Generation(
        gen=gen, stats=stats, affected=affected, n_fresh=n_fresh,
        ndist=ndist, dead=dead_stats, new=new_stats, totals=totals,
        n_terms=n_terms, tri_refresh=tri_refresh, cs_stage=cs_stage,
    )


def compact_index(spark: SparkSession, out_dir: str,
                  store: "SegmentStore | None" = None) -> bool:
    """Fold every LSM delta generation back into the base (generation 0)
    — the Lucene merge analogue, and the amortized cost the delta path
    defers. The folded doc_map stages COMPLETELY and is verified before
    the compact-in-progress marker is written: its row count, distinct
    ids and fingerprint must match the arithmetic stats (a mismatch
    means an exactness bug — the staged fold is dropped, the index keeps
    its generations, and this raises). So the rename-aside heal always
    rolls FORWARD a verified fold: a crash anywhere in the window
    converges to the compacted index on the next repair. Returns True if
    a compaction ran."""
    if store is None:
        from ck_spark.index.format import ParquetDirStore

        store = ParquetDirStore()
    from ck_spark.index import lsm

    man = Manifest(out_dir)
    meta = man.load_meta()
    if not lsm.live_gens(meta):
        return False
    paths = IndexPaths(out_dir)
    live = lsm.live_doc_map(spark, out_dir, meta)
    cols = doc_map_cols(bool(meta.get("store_content", False)))
    tmp = store.stage(live.select(*cols), paths.root, int(meta["n_segments"]))
    summary = _summarize_doc_map(spark.read.parquet(tmp))
    try:
        _verify_fold(summary, meta.get("input_snapshot"))
    except RuntimeError:
        store.cleanup(tmp)
        raise
    man.save_marker("compact_inprogress",
                    {"tmp": tmp, "ts": time.time(), "summary": summary})
    _finish_compact(spark, out_dir, store, man, meta, tmp, heal=False,
                    summary=summary)
    return True


def _verify_fold(summary: dict, arith_snapshot: str | None) -> None:
    """A folded doc_map must hold distinct ids and the fingerprint the
    updates maintained arithmetically."""
    if summary["n"] != summary["nd"]:
        raise RuntimeError(
            f"doc_id collision surfaced by compaction: {summary['n']} rows, "
            f"{summary['nd']} ids"
        )
    if arith_snapshot is not None and summary["snapshot"] != arith_snapshot:
        raise RuntimeError(
            "LSM arithmetic-stats drift: compacted fingerprint "
            f"{summary['snapshot']} != maintained {arith_snapshot} — "
            "exactness bug"
        )


def _finish_compact(spark: SparkSession, out_dir: str, store: "SegmentStore",
                    man: Manifest, meta: dict, tmp: str, heal: bool,
                    summary: dict | None = None) -> None:
    """Swap (or heal) the verified folded base in, then restore the
    gen-less single-table layout: postings re-encoded from the new base,
    term dictionary recomputed to the base path, deltas GC'd. Shared by
    compact_index and repair_index (crash recovery). `summary` is the
    staged fold's, verified before the marker was written; a marker
    without one (older code) is summarized and verified after the heal."""
    from ck_spark.index import lsm

    paths = IndexPaths(out_dir)
    all_segs = list(range(int(meta["n_segments"])))
    if heal:
        store.heal(paths.doc_map, all_segs, tmp)
    else:
        store.swap(paths.doc_map, all_segs, tmp)
    store.cleanup(tmp)
    if summary is None:
        summary = _summarize_doc_map(spark.read.parquet(paths.doc_map))
        _verify_fold(summary, meta.get("input_snapshot"))
    # base now IS the live view: retire generations/tombstones FIRST so no
    # reader anti-joins an old gen-0 tombstone against a freshly folded
    # row (queries inside the remaining window are bracketed by the
    # compact-in-progress marker, which load warns on)
    meta.update({"gens": [], "n_tombstones": 0})
    man.save_meta(meta)
    _write_corpus_stats(paths, summary["n_docs"], summary["avgdl"],
                        summary["total_tokens"])
    for s in all_segs:
        shutil.rmtree(os.path.join(paths.postings, f"seg={s}"), ignore_errors=True)
    term_buckets = int(meta["term_buckets"])
    avgdl = float(summary["avgdl"] or 0.0)
    _encode_and_write_postings(
        spark, _pairs_df(spark.read.parquet(paths.doc_map), term_buckets),
        paths.postings, avgdl,
        float(meta["k1"]), float(meta["b"]), int(meta["block_size"]),
        n_groups=len(all_segs) * term_buckets,
        seg_list=all_segs, term_buckets=term_buckets,
    )
    n_terms = _write_term_stats(spark, paths)
    meta.update({
        "avgdl": avgdl, "n_docs": summary["n_docs"], "n_terms": int(n_terms),
        "input_snapshot": summary["snapshot"], "term_stats_dir": "term_stats",
        "total_tokens": summary["total_tokens"],
    })
    man.save_meta(meta)
    man.clear_marker("compact_inprogress")
    lsm.clear_deltas(out_dir)
    man.complete(
        "compact", int(time.time()), summary["snapshot"], summary["n"],
        n_terms, 0, lineage="lsm-compaction: generations folded into base",
    )
