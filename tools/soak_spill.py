"""Soak the SPILLED dims path at bench scale: run the same multi-batch
run_until_exhausted drain twice — once with the default driver-side dim
cache, once with pipeline.DIM_CACHE_LIMIT=0 (host dim forced to the
warehouse-table path from batch 1) — and report throughput for both plus
the ratio. Each arm also reports, per batch, its write tasks and their
largest and mean rows (from the `lineage` table), so the spread of the
round-robin batch partitioning is checked at caps that give several tasks.

The spilled path is what a REAL 100 TB run would exercise (10^8 hosts
don't fit in a driver dict), so "within ~10% of the cached-dim drain" is
the pass bar that proves the scale path isn't a hidden 2x regression.

Usage: python tools/soak_spill.py [docs] [cap]   (defaults 800000 200000)
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

BENCH_ROOT = os.environ.get("SPARK_GRAFT_BENCH_ROOT", "/tmp/ea-bench")


def task_rows(spark, wh) -> list[dict]:
    """Per batch: write tasks and their largest and mean rows, summed over
    sinks from the lineage table."""
    from pyspark.sql import functions as F

    per_task = (
        wh.table("lineage").read(spark)
        .groupBy("batch_id", "part_id").agg(F.sum("rows").alias("n"))
    )
    return [
        {"batch": r["batch_id"], "tasks": r["tasks"], "max": r["max"],
         "mean": round(r["mean"], 1)}
        for r in per_task.groupBy("batch_id").agg(
            F.count(F.lit(1)).alias("tasks"), F.max("n").alias("max"),
            F.avg("n").alias("mean"),
        ).orderBy("batch_id").collect()
    ]


def drain(spark, pages: str, docs: int, cap: int, cache_limit: int | None = None) -> dict:
    from eventanalysis_spark import pipeline
    from eventanalysis_spark.pipeline import Pipeline, PipelineConfig

    wh = os.path.join(BENCH_ROOT, f"soak-wh-{time.time_ns()}")
    src = spark.read.parquet(pages)
    default_limit = pipeline.DIM_CACHE_LIMIT
    if cache_limit is not None:
        pipeline.DIM_CACHE_LIMIT = cache_limit
    try:
        pipe = Pipeline(spark, PipelineConfig(warehouse=wh, cap=cap))
        t0 = time.perf_counter()
        n_batches, n_docs = 0, 0
        for r in pipe.run_until_exhausted(src):
            n_batches += 1
            n_docs += r.n_input
        dt = time.perf_counter() - t0
    finally:
        pipeline.DIM_CACHE_LIMIT = default_limit
    tasks = task_rows(spark, pipe.wh)
    shutil.rmtree(wh, ignore_errors=True)
    return {
        "seconds": round(dt, 2),
        "batches": n_batches,
        "docs": n_docs,
        "docs_per_sec": round(n_docs / dt, 1),
        "task_rows": tasks,
    }


def main() -> None:
    docs = int(sys.argv[1]) if len(sys.argv) > 1 else 800_000
    cap = int(sys.argv[2]) if len(sys.argv) > 2 else 200_000
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))

    from bench import SMALL_INPUT_CONF, ensure_pages, warmup
    from eventanalysis_spark.session import get_spark

    spark = get_spark(
        "soak-spill", master=f"local[{cpus}]",
        shuffle_partitions=max(cpus, 8), extra_conf=SMALL_INPUT_CONF,
    )
    os.makedirs(BENCH_ROOT, exist_ok=True)
    pages = ensure_pages(spark, docs)
    warmup(spark)
    # untimed warm drain at 1/8 scale: JIT + plan cache hot for both arms
    drain(spark, ensure_pages(spark, max(docs // 8, 100_000)), docs // 8, cap)

    # interleave the two arms so a steal window cannot own either config
    cached = {"seconds": None}
    spilled = {"seconds": None}
    rounds = int(os.environ.get("SPARK_GRAFT_SOAK_ROUNDS", "2"))
    for _ in range(rounds):
        c = drain(spark, pages, docs, cap)
        s = drain(spark, pages, docs, cap, cache_limit=0)
        if cached["seconds"] is None or c["seconds"] < cached["seconds"]:
            cached = c
        if spilled["seconds"] is None or s["seconds"] < spilled["seconds"]:
            spilled = s
    out = {
        "docs": docs, "cap": cap, "cpus": cpus,
        "cached_dim": cached,
        "spilled_dim": spilled,
        "spill_over_cached_ratio": round(
            spilled["seconds"] / cached["seconds"], 3
        ),
    }
    print(json.dumps(out))
    spark.stop()


if __name__ == "__main__":
    main()
