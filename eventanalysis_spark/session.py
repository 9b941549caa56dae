"""SparkSession factory tuned for this engine.

Local-mode defaults fit the host: one task slot per core this process
may run on and a driver heap of a quarter of its usable RAM (1-48 GB),
both lowered to the container's cgroup CPU quota and memory limit when
one is set, and overridable with SPARK_GRAFT_CPUS / SPARK_DRIVER_MEM; on
a real cluster the same builder is driven by spark-submit conf instead.
UTC session timezone is pinned so period keys (day / ISO-week / month)
and the DuckDB oracle agree byte-for-byte.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# cgroup mount as a container sees its own group (v2 unified, or the v1
# per-controller dirs)
CGROUP_ROOT = "/sys/fs/cgroup"


def _cgroup_value(*names: str) -> list[str] | None:
    """Fields of the first of the cgroup interface files `names` that
    exists, None when none does."""
    for name in names:
        try:
            with open(os.path.join(CGROUP_ROOT, name)) as f:
                return f.read().split()
        except OSError:
            continue
    return None


def usable_cpus() -> int:
    """Cores this process may run on (its CPU affinity; os.cpu_count()
    where the OS has no affinity call), lowered to a cgroup CPU quota."""
    if hasattr(os, "sched_getaffinity"):
        n = len(os.sched_getaffinity(0))
    else:
        n = os.cpu_count() or 1
    quota = _cgroup_value("cpu.max")  # v2: "<quota> <period>" or "max ..."
    if quota is None:  # v1: quota -1 = none
        q, p = _cgroup_value("cpu/cpu.cfs_quota_us"), _cgroup_value("cpu/cpu.cfs_period_us")
        quota = q + p if q and p else None
    if quota and quota[0] not in ("max", "-1"):
        n = min(n, max(1, -(-int(quota[0]) // int(quota[1]))))
    return n


def usable_ram() -> int:
    """Physical RAM in bytes, lowered to a cgroup memory limit."""
    ram = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    limit = _cgroup_value("memory.max", "memory/memory.limit_in_bytes")
    if limit and limit[0] != "max":
        ram = min(ram, int(limit[0]))
    return ram


def host_defaults() -> tuple[str, str]:
    """(local-mode cores, driver heap) for this host, unless
    SPARK_GRAFT_CPUS / SPARK_DRIVER_MEM override them."""
    cpus = os.environ.get("SPARK_GRAFT_CPUS") or str(usable_cpus())
    ram_gb = usable_ram() >> 30
    mem = os.environ.get("SPARK_DRIVER_MEM") or f"{min(48, max(1, ram_gb // 4))}g"
    return cpus, mem


def get_spark(
    app_name: str = "eventanalysis_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or get) a SparkSession with engine defaults.

    Parameters are overridable so bench.py can run the identical job at
    two parallelism levels (the in-sandbox stand-in for N vs 4N
    executors, per BASELINE.md).
    """
    cpus, driver_mem = host_defaults()
    master = master or f"local[{cpus}]"
    # Shuffle partitions ~ cores in local mode; on a cluster AQE coalesces.
    if shuffle_partitions is None:
        n = master[master.find("[") + 1 : master.find("]")] if "[" in master else cpus
        shuffle_partitions = 32 if n == "*" else max(8, int(n))

    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # default 10k-record Arrow batches starve the pandas UDF on small
        # rows (~30% of wide-pass wall time in py4j/Arrow round-trips,
        # measured at 1.6M docs / 32c). 64Ki records ≈ 16 MB for ~250 B
        # synthetic docs; real ~100 KB pages are bounded first by
        # spark.sql.execution.arrow.maxBytesPerBatch (64 MB default), so
        # raising the record cap is safe at both extremes.
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "65536")
        .config("spark.sql.parquet.compression.codec", "zstd")
        .config("spark.driver.memory", driver_mem)
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # generated-class cache (default 100 entries): a driver running
        # many distinct plans (the 50+ registry queries, or any real
        # multi-tenant job server) evicts and re-compiles codegen units
        # every pass; entries are a few KB of bytecode each, so 10k is
        # still tiny next to the driver heap at ANY cluster size
        .config("spark.sql.codegen.cache.maxEntries", "10000")
        # v2 committer: task-side file moves — v1's serial driver-side
        # rename is a real bottleneck for partitioned fan-out writes
        .config("spark.hadoop.mapreduce.fileoutputcommitter.algorithm.version", "2")
        .config("spark.sql.execution.pyspark.udf.faulthandler.enabled", "false")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    ship_package(spark)
    return spark


def build_pyfiles_zip(out_dir: str | None = None) -> str:
    """Zip the package for spark-submit --py-files (north-rule packaging).
    Idempotent per content; returns the zip path."""
    import hashlib
    import pathlib
    import tempfile
    import zipfile

    pkg_root = pathlib.Path(__file__).resolve().parent
    files = sorted(p for p in pkg_root.rglob("*.py") if "__pycache__" not in str(p))
    digest = hashlib.sha256()
    for p in files:
        digest.update(str(p.relative_to(pkg_root)).encode())
        digest.update(p.read_bytes())
    out_dir = out_dir or tempfile.gettempdir()
    zpath = pathlib.Path(out_dir) / f"eventanalysis_spark-{digest.hexdigest()[:12]}.zip"
    if not zpath.exists():
        tmp = zpath.with_suffix(".tmp.zip")
        with zipfile.ZipFile(tmp, "w", zipfile.ZIP_DEFLATED) as z:
            for p in files:
                z.write(p, f"eventanalysis_spark/{p.relative_to(pkg_root)}")
        os.replace(tmp, zpath)
    return str(zpath)


def ship_package(spark: SparkSession) -> None:
    """Make the package importable on executors regardless of driver cwd —
    the local-mode equivalent of `spark-submit --py-files pkg.zip`."""
    try:
        spark.sparkContext.addPyFile(build_pyfiles_zip())
    except Exception:
        pass  # already added with same name, or non-filesystem deploy
