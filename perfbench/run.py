"""Benchmark of the eventanalysis_spark ingest pipeline and warehouse.

Run from the root of a checkout:

    python3 perfbench/run.py --workload ingest_bulk --seed 1 --seconds 15 --trace 0

`--trace 0` prints the end-to-end metrics; `--trace 1` runs the same
workload with Spark's event log on and prints the per-layer table instead.
The last line of standard output is one JSON object:
{"correct", "attempted", "failed", "metrics": {name: {"value", "unit"}}}.
Everything the run writes stays under perfbench/_work/.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import tempfile
import time

import eventlog
import layers
import procstat
import reference
import stats
from spans import Tracer

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
WORKLOADS = ("ingest_bulk", "updater_cycle")

# name -> unit, in the order BENCHMARK.json lists them
END_TO_END = {
    "setup_s": "s",
    "op_p50_s": "s",
    "docs_per_s": "docs/s",
    "cpu_s_per_kdoc": "s/kdoc",
    "peak_rss_mb": "MB",
}


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def session_conf(tmp: str, mem_gb: int, eventlog_dir: str | None) -> dict[str, str]:
    conf = {
        "spark.driver.memory": f"{mem_gb}g",
        "spark.local.dir": tmp,
        # no hsperfdata file: the JVM writes it under /tmp whatever tmpdir is
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        "spark.ui.showConsoleProgress": "false",
    }
    if eventlog_dir is None:
        # a session restarted in the same JVM inherits the first one's conf
        conf["spark.eventLog.enabled"] = "false"
    else:
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + eventlog_dir,
            # zstandard is not installed, so the log must stay uncompressed
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    return conf


def stop_spark(spark) -> None:
    """Stop the session, then the JVM and every process under it, and wait
    for them to end."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None) if gw is not None else None
    children = procstat.tree_pids(proc.pid) if proc is not None else []
    try:
        spark.stop()
    except Exception as e:  # the JVM may already be gone; still reap below
        print(f"spark.stop: {e!r}", file=sys.stderr)
    if gw is not None:
        gw.shutdown()
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout=30)
            except Exception:
                proc.kill()
                proc.wait(timeout=30)
        SparkContext._gateway = None
        SparkContext._jvm = None
    deadline = time.time() + 30
    while time.time() < deadline and any(_alive(p) for p in children):
        time.sleep(0.1)
    for p in children:
        if _alive(p):
            try:
                os.kill(p, 9)
            except OSError:
                pass


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            state = f.read().rsplit(")", 1)[1].split()[0]
    except OSError:
        return False
    return state != "Z"


def tracing_overhead_pct(work: str, workload: str, e2e: dict) -> float:
    """Traced op_p50_s against the last untraced run of the workload in
    this checkout; 0 when there is none."""
    base = os.path.join(work, f"last-{workload}.json")
    if not os.path.exists(base):
        return 0.0
    with open(base) as f:
        untraced = json.load(f)["op_p50_s"]
    return 100.0 * (e2e["op_p50_s"] / untraced - 1.0)


def main(argv=None) -> int:
    args = parse_args(argv)
    sys.path.insert(0, os.getcwd())  # the package under test, from the checkout

    import inputs
    import workloads as wl

    work = os.path.join(BENCH_DIR, "_work")
    run_dir = os.path.join(work, f"run-{os.getpid()}")
    tmp = os.path.join(run_dir, "tmp")
    eventlog_dir = os.path.join(run_dir, "eventlog") if args.trace else None
    for d in (tmp, eventlog_dir):
        if d:
            os.makedirs(d, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    # spark-submit's launcher JVM would otherwise write an hsperfdata file
    # under /tmp (the session JVM gets the same flag in session_conf)
    os.environ["SPARK_LAUNCHER_OPTS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    os.environ["PYSPARK_PYTHON"] = sys.executable
    tempfile.tempdir = None

    import pandas
    import pyarrow
    import pyspark

    from eventanalysis_spark import datagen
    from eventanalysis_spark.session import get_spark

    host = procstat.host_facts()
    cores = host["nproc"]
    # a small heap: the inputs are tens of MB, and a heap the run fills
    # keeps the JVM's resident size steady from run to run
    mem_gb = max(1, min(2, int(host["ram_gb"] // 8)))
    spark = run = None
    try:
        t0 = time.perf_counter()
        spark = get_spark(f"perfbench-{args.workload}", master=f"local[{cores}]",
                          shuffle_partitions=cores,
                          extra_conf=session_conf(tmp, mem_gb, eventlog_dir))
        phases = {"session": time.perf_counter() - t0}

        # ---- inputs and their reference (outside every timing)
        t0 = time.perf_counter()
        n_docs = wl.BULK_DOCS if args.workload == "ingest_bulk" else wl.UPDATER_DOCS
        pages_dir = inputs.pages_input(os.path.join(work, "inputs"), args.seed,
                                       n_docs, parts=cores)
        con = reference.connect()
        ref = reference.IngestReference(con, pages_dir, datagen.route_rules_rows())
        src = spark.read.parquet(pages_dir)
        phases["inputs"] = time.perf_counter() - t0

        run = wl.Run(spark, con, Tracer(bool(args.trace)), run_dir, args.seed, args.seconds)
        template = os.path.join(run_dir, "template")
        t0 = time.perf_counter()
        wl.bootstrap_template(spark, template)
        phases["template"] = time.perf_counter() - t0
        t0 = time.perf_counter()
        if args.workload == "ingest_bulk":
            wl.bulk_warmup(run, src, template)
        else:
            wl.updater_warmup(run, src, template)
        phases["warmup"] = time.perf_counter() - t0

        # ---- the timed phase
        ticks0 = procstat.cpu_ticks()
        w0 = time.time()
        if args.workload == "ingest_bulk":
            wl.ingest_bulk(run, src, template, ref)
        else:
            wl.updater_cycle(run, src, template, ref)
        run.timed_window = (w0, time.time())
        phases["timed"] = time.time() - w0
        dt = [b - a for a, b in zip(ticks0, procstat.cpu_ticks())]
        host_load = {"busy": 1 - dt[3] / max(sum(dt), 1), "steal": dt[7] / max(sum(dt), 1)}

        ingest = [o for o in run.ops if o.kind == "batch"]
        docs = sum(o.docs for o in ingest)
        e2e = {
            "setup_s": (phases["session"] + phases["template"] + phases["warmup"]
                        + stats.median(run.setup_samples)),
            "op_p50_s": stats.median([o.seconds for o in run.ops]),
            "docs_per_s": docs / sum(o.seconds for o in ingest),
            "cpu_s_per_kdoc": sum(o.cpu_s for o in ingest) / (docs / 1000),
            "peak_rss_mb": procstat.tree_peak_rss_mb(),
        }
        rss_parts = procstat.tree_rss_breakdown()
        layer = None
        if args.trace:
            # stop the traced session so its event log is complete
            run.spark.stop()
            layer = layers.per_layer(run, eventlog.read_event_log(eventlog_dir),
                                     os.path.basename(pages_dir))
            if args.workload == "ingest_bulk":
                run.spark = get_spark("perfbench-1core", master="local[1]",
                                      shuffle_partitions=1,
                                      extra_conf=session_conf(tmp, mem_gb, None))
                rate = wl.one_core_docs_per_s(run, run.spark.read.parquet(pages_dir),
                                              template)
                layer["scaling.docs_per_s_1core"] = rate
                layer["scaling.eff_1_to_n"] = e2e["docs_per_s"] / rate / cores
            layer["trace.overhead_pct"] = tracing_overhead_pct(work, args.workload, e2e)
        else:
            with open(os.path.join(work, f"last-{args.workload}.json"), "w") as f:
                json.dump(e2e, f)
    finally:
        current = run.spark if run is not None else spark
        if current is not None:
            stop_spark(current)

    failed = sum(1 for o in run.ops if not o.ok)
    facts = {**host, "spark": pyspark.__version__, "pandas": pandas.__version__,
             "pyarrow": pyarrow.__version__, "master": f"local[{cores}]",
             "driver_memory": f"{mem_gb}g", "workload": args.workload,
             "seed": args.seed, "docs_input": n_docs,
             "phases_s": ",".join(f"{k}:{v:.1f}" for k, v in phases.items()),
             "rss_mb": ",".join(f"{k}:{v:.0f}" for k, v in rss_parts.items()),
             "timed_cpu": ",".join(f"{k}:{v:.2f}" for k, v in host_load.items())}
    report(run, e2e, layer, facts, failed)
    shutil.rmtree(run_dir, ignore_errors=True)
    metrics, units = (e2e, END_TO_END) if layer is None else (layer, layers.PER_LAYER)
    print(json.dumps({
        "correct": failed == 0,
        "attempted": len(run.ops),
        "failed": failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
    }))
    return 0


def report(run, e2e, layer, facts, failed) -> None:
    """Human-readable table on stdout, ahead of the JSON line."""
    print("# " + " ".join(f"{k}={v}" for k, v in facts.items()))
    by_kind: dict[str, list[float]] = {}
    for o in run.ops:
        by_kind.setdefault(o.kind, []).append(o.seconds)
    batches = [o.seconds for o in run.ops if o.kind == "batch" and o.docs]
    reads = [o.seconds for o in layers.read_ops(run.ops)]
    maint = sum(o.seconds for o in run.ops if o.maintenance)
    rows = [(k, v, END_TO_END[k], "") for k, v in e2e.items()]
    rows.append(("fail_ratio", failed / len(run.ops), "ratio",
                 f"{failed}/{len(run.ops)} ops"))
    if batches:
        rows.append(("batch_p50_s", stats.median(batches), "s", f"n={len(batches)}"))
    if reads:
        s = stats.summarize(reads)
        rows.append(("query_p50_s", s["p50"], "s", f"n={s['n']}"))
        if "tail" in s:
            rows.append((f"query_p{s['tail_p']:g}_s", s["tail"], "s",
                         f"n={s['n']}, >=10 samples beyond"))
    if maint:
        rows.append(("maintain_s", maint, "s", "archive + purge + maintain"))
    for name, value, unit, note in rows:
        print(f"{name:<34} {value:>14.4f} {unit:<8} {note}")
    for kind, xs in sorted(by_kind.items()):
        seq = " ".join(f"{x:.2f}" for x in xs) if len(xs) <= 20 else ""
        print(f"  op {kind:<30} p50={stats.median(xs):.4f}s n={len(xs)} "
              f"min={min(xs):.4f}s max={max(xs):.4f}s {seq}")
    for name, value in (layer or {}).items():
        print(f"{name:<42} {value:>16.4f} {layers.PER_LAYER[name]}")
    for p in run.problems[:20]:
        print(f"! {p}")


if __name__ == "__main__":
    sys.exit(main())
