"""LSM delta generations for the main index (doc_map + postings).

The tantivy/Lucene segment model re-expressed for a partitioned parquet
layout — the reference writes each commit as a new immutable segment
and merges later (tantivy SegmentMeta / merge policy; ck rides on it
via ck-index/src/lib.rs:841-906). Spark analogue:

  root/doc_map/seg=S/                 base (generation 0)
  root/postings/seg=S/bucket=B/       base postings
  root/delta/doc_map/gen=K/seg=S/     docs added/modified by update K
  root/delta/postings/gen=K/seg=S/bucket=B/
  root/delta/term_stats_gen_K/        full (small) term dict after K
  root/tombstones/created=K/          (gen, seg, doc_id) of versions
                                      superseded/removed by update K

Why: doc ids hash across ALL segments, so a spread-out 2% update marks
every segment affected — replacing affected segments wholesale would
re-write the whole doc_map (with stored content, the whole corpus'
bytes) and re-encode every posting. At 100 TB that is a full-corpus
write per update. This path, update_index's only one, writes data
proportional to the CHANGE: new docs land in a fresh generation, dead
versions become tombstone rows, and global statistics are maintained
ARITHMETICALLY EXACTLY (see below), so query results stay bit-identical
to a from-scratch build — asserted in tests/test_lsm.py.

Exactness (what a full recompute would give, without its cost):
  n_docs'      = n_docs − dead_nonbinary + new_nonbinary
  total_tokens'= total  − Σ dead doc_len + Σ new doc_len   (exact ints)
  avgdl'       = total'/n_docs'          (same float64 division Spark does)
  df'(t)       = df(t) − #dead docs containing t + #new docs containing t
  fingerprint' = fingerprint ⊕ xor(dead row hashes) ⊕ xor(new row hashes)
                 (bit_xor is self-inverse, so the manifest's corpus
                  fingerprint needs no full scan either)
Dead docs' term sets come from their stored tfm maps, or, when the
content store exists, from re-tokenizing their old content fetched by
ranged blob reads (IO ∝ the change; builder._update_delta).

Visibility/commit: a generation is LIVE iff its number is in
meta["gens"]; meta writes are atomic (tmp+rename), so a crash anywhere
mid-append leaves the half-written generation invisible and the index
exactly at its prior state. Orphan generation dirs are GC'd at the next
update. Readers resolve the live view through live_doc_map /
live_postings below; tombstoned postings are dropped inside the segment
scorers via a cogrouped per-(gen, seg) banned set — executor-side, no
driver state, no broadcast of corpus-scale bitsets.

Compaction (deferred merge): when generations or tombstones exceed the
thresholds, fold everything back into generation 0 through the
SegmentStore stage/swap protocol (builder.compact_index,
index/format.py; a crash inside it is rolled forward by
builder.repair_index). Until then a query pays one extra parquet
partition per generation — bounded by MAX_GENS.
"""

from __future__ import annotations

import os
import re
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

DELTA_DIR = "delta"
TOMBSTONES_DIR = "tombstones"

# compaction policy: fold when either trips. Generations add one parquet
# partition per query scan; tombstones add banned-set rows per (gen, seg)
# group. Both costs are linear in what these caps bound.
MAX_GENS = 8
MAX_TOMBSTONE_FRACTION = 0.2


def delta_doc_map_dir(root: str, gen: int | None = None) -> str:
    d = os.path.join(root, DELTA_DIR, "doc_map")
    return d if gen is None else os.path.join(d, f"gen={int(gen)}")


def delta_postings_dir(root: str, gen: int | None = None) -> str:
    d = os.path.join(root, DELTA_DIR, "postings")
    return d if gen is None else os.path.join(d, f"gen={int(gen)}")


def diff_staging_dir(root: str, gen: int) -> str:
    """Materialized change-id set of an in-flight update (doc_id, seg,
    is_dead, is_fresh) — written once by the single diff pass, broadcast-
    read by every downstream stage, deleted after the meta commit.
    Generation-keyed so a crashed update's staging is GC'd as an orphan."""
    return os.path.join(root, DELTA_DIR, "diff", f"gen={int(gen)}")


def delta_bucket_dirs(root: str, meta: dict) -> bool:
    """True if any LIVE delta generation still uses the legacy
    seg=/bucket= directory layout. New generations write seg=-only dirs
    with bucket as a sorted DATA column (a 15k-doc generation into a
    64-seg x 32-bucket geometry paid ~2048 dynamic-partition dir commits
    — the dominant update cost at 1M files), but one parquet read spans
    every generation, and Spark partition discovery rejects mixed leaf
    depths — so while a legacy generation is live, new ones must match
    it (compaction retires them all)."""
    for g in live_gens(meta):
        gd = delta_postings_dir(root, g)
        if not os.path.isdir(gd):
            continue
        for seg in os.listdir(gd):
            sp = os.path.join(gd, seg)
            if seg.startswith("seg=") and os.path.isdir(sp):
                if any(n.startswith("bucket=") for n in os.listdir(sp)):
                    return True
                break  # layout is uniform within a generation
    return False


def term_stats_gen_dir(root: str, gen: int) -> str:
    return os.path.join(root, DELTA_DIR, f"term_stats_gen_{int(gen)}")


def tombstones_dir(root: str, gen: int | None = None) -> str:
    d = os.path.join(root, TOMBSTONES_DIR)
    return d if gen is None else os.path.join(d, f"created={int(gen)}")


def live_gens(meta: dict) -> list[int]:
    return [int(g) for g in (meta.get("gens") or [])]


def term_stats_path(root: str, meta: dict) -> str:
    """The live term dictionary: the base table for gen-less indexes,
    else the full (small) rewrite the newest generation committed."""
    return os.path.join(root, meta.get("term_stats_dir") or "term_stats")


def live_doc_map(spark: SparkSession, root: str, meta: dict | None = None) -> DataFrame:
    """The index's current document set: base ∪ committed delta
    generations, minus tombstoned versions. For a gen-less index this is
    exactly the plain base read (identical plan to the pre-LSM engine —
    indexes that never update pay nothing). With generations, the view
    carries a `gen` column (0 = base) and the tombstone anti-join; the
    tombstone table is delta-sized, so Spark broadcasts it."""
    if meta is None:
        from ck_spark.index.manifest import Manifest

        meta = Manifest(root).load_meta()
    base = spark.read.parquet(os.path.join(root, "doc_map"))
    gens = live_gens(meta)
    if not gens:
        return base
    delta = (
        _read_with_gen(spark, base, delta_doc_map_dir(root))
        .where(F.col("gen").isin(gens))
    )
    allc = base.withColumn("gen", F.lit(0)).unionByName(
        delta.select(*(c for c in base.columns), "gen")
    )
    tombs = read_tombstones(spark, root, meta).select("gen", "doc_id")
    return allc.join(tombs, ["gen", "doc_id"], "left_anti")


def _read_with_gen(spark: SparkSession, base: DataFrame, path: str) -> DataFrame:
    """Read a delta table with the base table's schema plus the gen=K
    partition column. The EXPLICIT schema matters: a generation that
    changed nothing on one side (e.g. a pure-removal update writes no
    postings) leaves an empty partition dir, and schema inference over
    zero footers would fail."""
    from pyspark.sql.types import IntegerType, StructField, StructType

    sch = StructType(
        list(base.schema.fields) + [StructField("gen", IntegerType())]
    )
    return spark.read.schema(sch).parquet(path)


def live_postings(spark: SparkSession, root: str, meta: dict) -> DataFrame:
    """Base ∪ delta postings. With generations the frame carries `gen`
    (0 = base); bucket/term partition+predicate pruning applies to every
    generation's scan identically. Tombstoned doc ids are NOT removed
    here — they are excluded inside the segment scorers via the
    per-(gen, seg) banned set (bm25._seg_grouped), keeping this a pure
    metadata union."""
    base = spark.read.parquet(os.path.join(root, "postings"))
    gens = live_gens(meta)
    if not gens:
        return base
    delta = (
        _read_with_gen(spark, base, delta_postings_dir(root))
        .where(F.col("gen").isin(gens))
    )
    return base.withColumn("gen", F.lit(0)).unionByName(
        delta.select(*(c for c in base.columns), "gen")
    )


def postings_datasets(root: str, meta: dict) -> list:
    """Driver-side twin of live_postings for small reads: one pyarrow
    dataset per live generation as (gen, dataset), 0 = base, each
    hive-partitioned over seg (and bucket where bucket is a directory)
    and read with the Spark table's schema. Listing happens here, so a
    caller that keeps the list sees one snapshot, like postings_df."""
    from ck_spark.index.builder import POSTINGS_SCHEMA
    from ck_spark.plans.schemas import arrow_dataset

    ddl = POSTINGS_SCHEMA + ", seg int, bucket int"

    out = []
    base = os.path.join(root, "postings")
    if os.path.isdir(base):
        out.append((0, arrow_dataset(base, ddl, ("seg", "bucket"))))
    delta_part = ("seg", "bucket") if delta_bucket_dirs(root, meta) else ("seg",)
    for g in live_gens(meta):
        d = delta_postings_dir(root, g)
        if os.path.isdir(d):  # a pure-removal update writes no postings
            out.append((g, arrow_dataset(d, ddl, delta_part)))
    return out


_TOMBSTONE_SCHEMA = "gen int, seg int, doc_id long, created int"


def tombstone_sets(root: str, meta: dict) -> dict:
    """Driver-side twin of read_tombstones: (gen, seg) -> sorted dead doc
    ids, the banned set _seg_grouped's cogroup hands each segment
    scorer. Empty for an index without generations."""
    import numpy as np
    import pyarrow.dataset as pads

    from ck_spark.plans.schemas import arrow_dataset

    gens = live_gens(meta)
    d = tombstones_dir(root)
    if not gens or not os.path.isdir(d):
        return {}
    pdf = arrow_dataset(d, _TOMBSTONE_SCHEMA, ("created",)).to_table(
        columns=["gen", "seg", "doc_id"], filter=pads.field("created").isin(gens),
    ).to_pandas()
    return {
        (int(g), int(s)): np.sort(grp["doc_id"].to_numpy(dtype=np.int64))
        for (g, s), grp in pdf.groupby(["gen", "seg"])
    }


def read_tombstones(spark: SparkSession, root: str, meta: dict) -> DataFrame:
    """(gen, seg, doc_id) of dead document VERSIONS: gen/seg locate the
    generation+segment whose stored rows (doc_map and postings alike)
    must be ignored for that id. Only tombstones created by committed
    generations are visible (created= partition filter) — a crashed
    append's tombstones die with its orphan directory."""
    gens = live_gens(meta)
    d = tombstones_dir(root)
    if not gens or not os.path.isdir(d):
        return spark.range(0).select(
            F.lit(0).alias("gen"), F.lit(0).alias("seg"),
            F.col("id").alias("doc_id"),
        )
    return (
        spark.read.schema(_TOMBSTONE_SCHEMA)
        .parquet(d)
        .where(F.col("created").isin(gens))
        .select("gen", "seg", "doc_id")
    )


_SNAPSHOT_RE = re.compile(r"^n(\d+)-h(-?\d+)$")
_U64 = (1 << 64) - 1


def parse_snapshot(snapshot: str) -> tuple[int, int]:
    """(row count, xor fingerprint) from the manifest's snapshot token."""
    m = _SNAPSHOT_RE.match(snapshot or "")
    if not m:
        raise ValueError(
            f"snapshot token {snapshot!r} is not arithmetic-updatable "
            "(expected 'n<count>-h<xor>')"
        )
    return int(m.group(1)), int(m.group(2))


def merge_snapshot(snapshot: str, n_dead: int, dead_xor: int,
                   n_new: int, new_xor: int) -> str:
    """Exact fingerprint maintenance: bit_xor is self-inverse, so
    removing a row set XORs its hash back out. Produces the IDENTICAL
    token a full doc_map scan would (asserted in tests)."""
    n, h = parse_snapshot(snapshot)
    hu = (h & _U64) ^ (int(dead_xor) & _U64) ^ (int(new_xor) & _U64)
    h2 = hu - (1 << 64) if hu >= (1 << 63) else hu  # back to int64
    return f"n{n - n_dead + n_new}-h{h2}"


def next_gen(meta: dict) -> int:
    return (max(live_gens(meta)) if live_gens(meta) else 0) + 1


def needs_compaction(meta: dict) -> bool:
    gens = live_gens(meta)
    if not gens:
        return False
    if len(gens) >= MAX_GENS:
        return True
    n_docs = max(int(meta.get("n_docs") or 0), 1)
    return int(meta.get("n_tombstones") or 0) >= MAX_TOMBSTONE_FRACTION * n_docs


def gc_orphan_gens(root: str, meta: dict) -> list[int]:
    """Remove generation directories not committed in meta — leftovers of
    a crash between the delta write and the meta commit. Single-writer
    discipline (same as the swap protocol): only the index owner calls
    this. Returns the GC'd generation numbers."""
    live = set(live_gens(meta))
    dropped: set[int] = set()
    # diff staging is transient even for committed generations (deleted
    # after the meta commit; a crash in between leaves it) — single-writer
    # discipline makes any staging present at update start stale
    shutil.rmtree(os.path.join(root, DELTA_DIR, "diff"), ignore_errors=True)
    for parent, prefix in (
        (delta_doc_map_dir(root), "gen="),
        (delta_postings_dir(root), "gen="),
        (tombstones_dir(root), "created="),
    ):
        if not os.path.isdir(parent):
            continue
        for name in os.listdir(parent):
            if not name.startswith(prefix):
                continue
            try:
                g = int(name[len(prefix):])
            except ValueError:
                continue
            if g not in live:
                shutil.rmtree(os.path.join(parent, name), ignore_errors=True)
                dropped.add(g)
    # orphan term_stats rewrites (the live one is meta-pointed)
    dd = os.path.join(root, DELTA_DIR)
    live_ts = os.path.basename(term_stats_path(root, meta))
    if os.path.isdir(dd):
        for name in os.listdir(dd):
            if not name.startswith("term_stats_gen_") or name == live_ts:
                continue
            try:
                g = int(name[len("term_stats_gen_"):])
            except ValueError:
                continue
            if g not in live:
                shutil.rmtree(os.path.join(dd, name), ignore_errors=True)
                dropped.add(g)
    return sorted(dropped)


def clear_deltas(root: str) -> None:
    """Remove every delta artifact (post-compaction GC — caller has
    already committed meta with gens=[] and a base that contains the
    folded view)."""
    shutil.rmtree(os.path.join(root, DELTA_DIR), ignore_errors=True)
    shutil.rmtree(tombstones_dir(root), ignore_errors=True)
