"""Structured Streaming form of the parse → enrich → route → aggregate
pipeline — SURVEY.md §2.9.

The batch pipeline (pipeline.py) implements the reference's actual
batch-incremental semantics (watermark state, capped batches). This module
is the `readStream` shape for continuous sources:

  T1 watermark      → checkpointLocation offsets + withWatermark for
                      event-time completeness
  T2 bounded batch  → maxFilesPerTrigger / availableNow trigger
  T4 atomic commit  → foreachBatch + warehouse snapshot commit per epoch
  T5 late windows   → withWatermark gating on the windowed aggregate

The transformation graph is the batch path's own function,
`pipeline.wide_pass` (mapInPandas parse with text features → enrich →
route, dropped rows marked QUARANTINE), with the target warehouse's dims
and rules through `Pipeline.routed`; it composes into a streaming plan
unchanged. Each epoch writes the non-quarantined rows minus drop_reason,
so a `stream_sink_<s>` table has the columns of the batch `sink_<s>`.
Only source/sink wiring differs.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from eventanalysis_spark import datagen
from eventanalysis_spark.pipeline import QUARANTINE, Pipeline, PipelineConfig

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
    default_sink: str = datagen.DEFAULT_SINK,
):
    """foreachBatch router: each epoch commits one snapshot per sink —
    exactly-once via (epoch_id dedup in table state) + checkpoint offsets.

    Enriches and routes with the target warehouse's dim_host, dim_lang
    and route_rules as of the stream's start, validated by the batch
    `Pipeline` (which bootstraps them in a fresh warehouse). Classes
    without a rule go to `default_sink`, which the warehouse does not
    store: pass the batch pipeline's `PipelineConfig.default_sink`."""
    pipe = Pipeline(spark, PipelineConfig(warehouse=warehouse, default_sink=default_sink))
    wh = pipe.wh
    routed = pipe.routed(read_pages_stream(spark, source_path, max_files_per_trigger))

    def sink_batch(df: DataFrame, epoch_id: int) -> None:
        # persist the transformed micro-batch: foreachBatch re-executes the
        # full plan (incl. the parse UDF) for EVERY action otherwise — the
        # sink-discovery collect plus one write per sink would re-parse the
        # epoch n_sinks+1 times at cluster scale
        df = df.where(F.col("sink") != QUARANTINE).drop("drop_reason").persist()
        try:
            sinks = [r["sink"] for r in df.select("sink").distinct().collect()]
            for s in sorted(sinks):
                tbl = wh.table(f"stream_sink_{s}")
                if tbl.state().get("last_epoch") == epoch_id:
                    continue  # exactly-once on restart
                tbl.append(
                    df.where(F.col("sink") == s).drop("sink"),
                    meta={"epoch": epoch_id},
                    state_update={"last_epoch": epoch_id},
                )
        finally:
            df.unpersist()

    writer = (
        routed.writeStream.outputMode("update")
        .option("checkpointLocation", checkpoint)
        .foreachBatch(sink_batch)
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
