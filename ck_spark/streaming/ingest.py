"""Structured-Streaming ingestion: a corpus stream continuously upserted
into the inverted index.

The reference has no streaming surface — its "incremental" story is the
hash-gated batch re-index (ck-index/src/lib.rs:841-906, SURVEY §1.3). At
100 TB the natural generalization is a streaming source (new/changed
files landing in object storage or a CDC feed) micro-batched into the
same LSM upsert path:

  readStream(corpus schema) → foreachBatch(update_index(full_snapshot=False))

Each micro-batch re-tokenizes only its own docs into a new delta
generation; unchanged docs are never rewritten. Exactly-once across
restarts comes from the checkpointLocation + the idempotence of the
upsert (same sha256 ⇒ no-op), mirroring how the batch build is resumable
from its manifest.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from ck_spark.index.builder import update_index

CORPUS_SCHEMA = "repo string, path string, commit string, lang string, content string"


def stream_corpus_dir(spark: SparkSession, input_dir: str, fmt: str = "parquet") -> DataFrame:
    """File-source corpus stream: every new file dropped into input_dir
    becomes part of the next micro-batch."""
    return (
        spark.readStream.format(fmt)
        .schema(CORPUS_SCHEMA)
        .option("maxFilesPerTrigger", 64)
        .load(input_dir)
    )


def index_upsert_sink(index_root: str, stats_log: list | None = None):
    """foreachBatch sink: upsert the micro-batch into the index.

    Within-batch dedup on the (repo, path, commit) doc key: two files in
    one trigger window can carry the same doc (re-dropped dump, overlap
    between feeds). Without the dedup, update_index's doc_id-collision
    check would fail the batch — and checkpoint replay re-delivers the
    identical batch, wedging the stream permanently. The kept row is
    arbitrary among key-duplicates (a micro-batch has no intra-batch
    order); feeds that need last-wins must carry a version column and
    pre-aggregate upstream."""

    def handle(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        batch_df = batch_df.dropDuplicates(["repo", "path", "commit"])
        stats = update_index(
            batch_df.sparkSession, batch_df, index_root, full_snapshot=False
        )
        stats["batch_id"] = batch_id
        if stats_log is not None:
            stats_log.append(stats)

    return handle


def start_index_stream(
    spark: SparkSession,
    input_dir: str,
    index_root: str,
    checkpoint_dir: str,
    available_now: bool = True,
    stats_log: list | None = None,
):
    """Wire the stream. available_now=True drains what is currently in
    input_dir and stops (test/batch-catchup mode); False runs continuously.
    """
    stream = stream_corpus_dir(spark, input_dir)
    writer = (
        stream.writeStream.foreachBatch(index_upsert_sink(index_root, stats_log))
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("update")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def stream_event_stats(
    events: DataFrame,
    window: str = "1 hour",
    watermark: str = "2 hours",
    ts_col: str = "ts",
    type_col: str = "event_type",
    value_col: str = "value",
) -> DataFrame:
    """Watermarked tumbling-window event aggregation — the late-data-aware
    streaming form of the batch `events_hourly` query.

    The watermark bounds state: windows older than (max event time −
    watermark) are finalized and evicted, so state size is
    O(active windows × types) regardless of stream length; events arriving
    later than the watermark are dropped (the documented late-data
    contract). In batch mode the same expression degrades to a plain
    groupBy — asserted equal in tests."""
    from pyspark.sql import functions as F

    return (
        events.withWatermark(ts_col, watermark)
        .groupBy(F.window(F.col(ts_col), window).alias("w"), F.col(type_col))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col(value_col).cast("decimal(18,4)"))
            .cast("double")
            .alias("sum_value"),
        )
        .select(
            F.unix_micros(F.col("w.start").cast("timestamp")).alias("window_start_us"),
            F.col(type_col),
            F.col("n_events").cast("long").alias("n_events"),
            "sum_value",
        )
    )


def stream_sessionize(
    events: DataFrame,
    gap: str = "30 minutes",
    watermark: str = "2 hours",
    user_col: str = "user_id",
    ts_col: str = "ts",
    value_col: str = "value",
) -> DataFrame:
    """Streaming per-user sessionization: literally the batch operator
    applied to a watermarked stream — ops/events.sessionize's
    session_window expression becomes stateful session aggregation
    (sessions close when the watermark passes their end). Delegating
    keeps batch/stream equivalence true by construction."""
    from ck_spark.ops.events import sessionize

    return sessionize(
        events.withWatermark(ts_col, watermark),
        gap=gap, user_col=user_col, ts_col=ts_col, value_col=value_col,
    )
