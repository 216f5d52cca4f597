"""Canonical schemas (SURVEY §7 target schemas). Fixed and code-defined —
the reference has no schema inference anywhere (SURVEY §1.3) and neither
does this engine."""

from __future__ import annotations

import functools

from pyspark.sql.types import (
    ArrayType,
    BinaryType,
    BooleanType,
    DoubleType,
    FloatType,
    IntegerType,
    LongType,
    MapType,
    StringType,
    StructField,
    StructType,
)


def _f(name, t, nullable=True):
    return StructField(name, t, nullable)


CORPUS = StructType([
    _f("repo", StringType()),
    _f("path", StringType()),
    _f("commit", StringType()),
    _f("lang", StringType()),
    _f("content", StringType()),
])

DOC_MAP = StructType([
    _f("doc_id", LongType()),
    _f("repo", StringType()),
    _f("path", StringType()),
    _f("commit", StringType()),
    _f("lang", StringType()),
    _f("content_sha256", StringType()),
    _f("doc_len", IntegerType()),
    _f("is_binary", BooleanType()),
    _f("seg", IntegerType()),
    # the per-doc tf and positions maps ride in doc_map (single tokenize
    # artifact); narrow readers column-prune both at the parquet scan.
    # tf == size(positions) by construction (tfm derived JVM-side).
    _f("tfm", MapType(StringType(), IntegerType())),
    _f("posm", MapType(StringType(), ArrayType(IntegerType()))),
    # v6 stored content (build_index(store_content=True), the default):
    # Zoekt-style — candidate fetch and service scans read the index's
    # own seg-partitioned, doc_id-sorted copy instead of a corpus pass.
    # Narrow readers prune it like tfm/posm; store_content=False builds
    # omit the column entirely.
    _f("content", StringType()),
])

POSTINGS = StructType([
    _f("term", StringType()),
    _f("n_docs", IntegerType()),
    _f("ids_blocks", ArrayType(BinaryType())),
    _f("tfs_blocks", ArrayType(BinaryType())),
    _f("dls_blocks", ArrayType(BinaryType())),
    # per-block varint positions stream (phrase queries); pruned by every
    # non-phrase query's explicit column projection
    _f("pos_blocks", ArrayType(BinaryType())),
    _f("block_max", ArrayType(FloatType())),
    _f("block_last", ArrayType(LongType())),
    _f("avgdl_enc", DoubleType()),
    _f("seg", IntegerType()),
    _f("bucket", IntegerType()),
])

TERM_STATS = StructType([
    _f("bucket", IntegerType()),
    _f("term", StringType()),
    _f("df", LongType()),
    _f("n_segments", LongType()),
])

CORPUS_STATS = StructType([
    _f("n_docs", LongType()),
    _f("avgdl", DoubleType()),
    _f("total_tokens", LongType()),
])

SEARCH_RESULT = StructType([
    _f("doc_id", LongType()),
    _f("score", DoubleType()),
])

# SURVEY §1.1 Span — every grep/chunk result carries one
SPAN = StructType([
    _f("byte_start", LongType()),
    _f("byte_end", LongType()),
    _f("line_start", IntegerType()),
    _f("line_end", IntegerType()),
])


def empty_df(spark, schema: str):
    """Empty DataFrame for a flat 'name type, …' schema string that runs
    no Spark job.

    spark.createDataFrame([], schema) (and an EMPTY pandas frame, which
    skips the Arrow path) goes through the python-object RDD path — one
    job of defaultParallelism tasks, each spinning a Python worker (~4 s
    cold, ~0.3 s warm, for ZERO rows); range(0)+casts still runs one job.
    A constant-false filter over a one-row SELECT optimizes to an empty
    local relation: collecting it, or any plan over it, is job-free."""
    cols = []
    for part in schema.split(","):
        name, typ = part.strip().rsplit(" ", 1)
        cols.append(f"CAST(NULL AS {typ}) AS `{name}`")
    return spark.sql(f"SELECT {', '.join(cols)} WHERE false")


@functools.lru_cache(maxsize=None)
def _arrow_schema(ddl: str):
    # pyspark parses the DDL through the JVM (~5-10 ms a call): cache it,
    # fetch_pred_local builds a dataset on every small result fetch
    from pyspark.sql.pandas.types import to_arrow_schema

    return to_arrow_schema(StructType.fromDDL(ddl))


def arrow_dataset(path: str, ddl: str, partition_cols: tuple = ()):
    """pyarrow dataset over a Spark-written parquet table, read with the
    schema of the DDL string `ddl` — the same string the Spark reader
    uses, converted by pyspark itself, so the two cannot drift —
    hive-partitioned over the `partition_cols` directory levels. The
    schema is explicit because pyarrow's dataset discovery infers from
    ONE file: a column missing there (an older layout) would be dropped
    for every file instead of read as null. Listing happens here, so a
    caller that keeps the dataset reads one snapshot of the table."""
    import pyarrow as pa
    import pyarrow.dataset as pads

    schema = _arrow_schema(ddl)
    part = pads.partitioning(
        pa.schema([schema.field(c) for c in partition_cols]), flavor="hive"
    ) if partition_cols else None
    return pads.dataset(path, format="parquet", schema=schema,
                        partitioning=part)
