"""Structured Streaming form of the parse → enrich → route → aggregate
pipeline — SURVEY.md §2.9.

The batch pipeline (pipeline.py) implements the reference's actual
batch-incremental semantics (watermark state, capped batches). This module
is the `readStream` shape for continuous sources:

  T1 watermark      → checkpointLocation offsets + withWatermark for
                      event-time completeness
  T2 bounded batch  → maxFilesPerTrigger / availableNow trigger
  T4 atomic commit  → the batch commit per epoch: foreachBatch hands each
                      micro-batch to `Pipeline.run_epoch`
  T5 late windows   → withWatermark gating on the windowed aggregate

An epoch is committed by the batch pipeline's own code: the wide pass,
the staged write, the sink, quarantine, observation, aggregate and
lineage commits, dim growth and the state commit, which also records the
stream's query id and epoch id so a replayed epoch commits nothing. A
stream and a batch run over the same pages leave the same warehouse
tables; only source wiring differs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from eventanalysis_spark import datagen
from eventanalysis_spark.operators.route import DEFAULT_SINK
from eventanalysis_spark.pipeline import Pipeline, PipelineConfig

PAGES_SCHEMA_DDL = datagen.PAGES_DDL


def read_pages_stream(
    spark: SparkSession,
    path: str,
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    r = spark.readStream.schema(PAGES_SCHEMA_DDL)
    if max_files_per_trigger:
        r = r.option("maxFilesPerTrigger", max_files_per_trigger)
    return r.parquet(path)


def start_routing_stream(
    spark: SparkSession,
    source_path: str,
    warehouse: str,
    checkpoint: str,
    available_now: bool = True,
    max_files_per_trigger: int | None = None,
    default_sink: str = DEFAULT_SINK,
):
    """foreachBatch router: each epoch is committed by
    `Pipeline.run_epoch` into `warehouse` — exactly-once via the
    checkpoint offsets + the (query id, epoch id) in the pipeline state.
    The query id is stable across restarts of one checkpoint, so streams
    with different checkpoints can share a warehouse.

    Epochs enrich with the warehouse's dims as of that epoch (a host or
    lang an epoch discovers gets its id from the next epoch on) and route
    with its route_rules, validated (and bootstrapped in a fresh
    warehouse) when the stream starts. Classes without a rule go to
    `default_sink`, which the warehouse does not store: pass the batch
    pipeline's `PipelineConfig.default_sink`."""
    pipe = Pipeline(spark, PipelineConfig(warehouse=warehouse, default_sink=default_sink))
    sc = spark.sparkContext

    def commit_epoch(epoch: DataFrame, epoch_id: int) -> None:
        # Spark sets the query id on the thread that runs the epoch
        pipe.run_epoch(epoch, epoch_id, sc.getLocalProperty("sql.streaming.queryId"))

    writer = (
        read_pages_stream(spark, source_path, max_files_per_trigger)
        .writeStream.option("checkpointLocation", checkpoint)
        .foreachBatch(commit_epoch)
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def exact_dedup_stream(
    stream: DataFrame,
    text_col: str = "html",
    ts_col: str = "warc_ts",
    delay: str = "10 minutes",
) -> DataFrame:
    """Streaming exact dedup: first occurrence of each content hash wins
    within the event-time watermark horizon.

    Scale shape: `dropDuplicatesWithinWatermark` expires its hash state as
    the watermark advances — bounded state at any corpus size, unlike a
    plain streaming dropDuplicates whose state grows forever. The batch
    twin is dedup.drop_exact_duplicates (min-id canonical instead of
    first-seen; both keep exactly one row per distinct content)."""
    return (
        stream.withWatermark(ts_col, delay)
        .withColumn("__th", F.md5(F.col(text_col)))
        .dropDuplicatesWithinWatermark(["__th"])
        .drop("__th")
    )


def windowed_counts_stream(
    spark: SparkSession,
    source_path: str,
    window: str = "1 day",
    late_threshold: str = "2 days",
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """A5 as a streaming windowed aggregate with late-data gating (T5):
    counts per (event-time window, lang) finalized once the watermark
    passes window end + threshold."""
    stream = read_pages_stream(spark, source_path, max_files_per_trigger)
    return (
        stream.withWatermark("warc_ts", late_threshold)
        .groupBy(F.window("warc_ts", window).alias("w"), "lang")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(
            F.col("w.start").alias("w_start"),
            F.col("w.end").alias("w_end"),
            "lang",
            "n",
        )
    )


def run_windowed_counts_to_memory(
    spark: SparkSession,
    source_path: str,
    query_name: str = "windowed_counts",
    window: str = "1 day",
) -> DataFrame:
    """Drive the windowed aggregate to completion on the available data
    (smoke/test harness shape: memory sink + availableNow)."""
    agg = windowed_counts_stream(spark, source_path, window)
    q = (
        agg.writeStream.outputMode("complete")
        .format("memory")
        .queryName(query_name)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.sql(f"SELECT * FROM {query_name}")
