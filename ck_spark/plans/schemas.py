"""Canonical schemas (SURVEY §7 target schemas). Fixed and code-defined —
the reference has no schema inference anywhere (SURVEY §1.3) and neither
does this engine."""

from __future__ import annotations

import functools
import os

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


def write_parquet(table, directory: str, ddl: str, partition_cols: tuple = (),
                  stats_cols: tuple = (), **write_opts) -> str:
    """Write ``table`` as ONE parquet file in ``directory`` — the
    driver-side writer of the tables Spark also writes. The file carries
    the Arrow schema of the DDL string ``ddl`` minus ``partition_cols``
    (they are directory levels), zstd at parquet-mr's default level 3
    (the session's codec) and no Arrow/pandas schema metadata, so Spark
    and the pyarrow readers cannot tell it from a Spark-written file.
    Min/max statistics are kept for ``stats_cols`` only, the columns
    readers prune row groups by: pyarrow writes them into every page
    header as well as the footer, and for wide columns (content, posting
    blocks) they cost more bytes than the data. No dictionary pages:
    parquet-mr drops a dictionary that does not pay, pyarrow keeps it,
    and on these delta-sized files plain pages came out smaller (a
    15-doc upsert's files: 10-20% fewer bytes). ``write_opts`` go to
    pyarrow.parquet.write_table. Returns the file path."""
    import uuid

    import pyarrow as pa
    import pyarrow.parquet as pq

    schema = _arrow_schema(ddl)
    schema = pa.schema([f for f in schema if f.name not in partition_cols])
    os.makedirs(directory, exist_ok=True)
    path = os.path.join(directory, f"part-00000-{uuid.uuid4()}.zstd.parquet")
    pq.write_table(table.select(schema.names).cast(schema), path,
                   compression="zstd", compression_level=3, store_schema=False,
                   write_statistics=list(stats_cols), use_dictionary=False,
                   **write_opts)
    return path


def write_partitioned(table, root: str, ddl: str, partition_cols: tuple,
                      sort_by: tuple, **write_opts) -> None:
    """Driver-side twin of Spark's ``sortWithinPartitions(...).write
    .partitionBy(*partition_cols)`` for a small table: one file per hive
    partition directory under ``root``, rows sorted by ``sort_by``, with
    statistics on the sort columns."""
    import numpy as np

    n = table.num_rows
    if n == 0:
        return
    table = table.sort_by([(c, "ascending") for c in (*partition_cols, *sort_by)])
    keys = [table.column(c).to_numpy() for c in partition_cols]
    starts = np.zeros(n, dtype=bool)
    starts[0] = True
    for k in keys:
        starts[1:] |= k[1:] != k[:-1]
    bounds = np.r_[np.flatnonzero(starts), n]
    for s, e in zip(bounds[:-1], bounds[1:]):
        part = [f"{c}={k[s]}" for c, k in zip(partition_cols, keys)]
        write_parquet(table.slice(s, e - s), os.path.join(root, *part), ddl,
                      partition_cols, sort_by, **write_opts)


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
