"""SparkSession factory with scale-appropriate defaults.

Local-mode sandbox stand-in for a multi-executor cluster; every setting is a
cluster-valid default (AQE, Arrow, shuffle-partition sizing) rather than a
local hack.
"""

from __future__ import annotations

import os
import zipfile

from pyspark.sql import SparkSession


def package_zip() -> str:
    """Zip this package for worker distribution (the --py-files artifact).

    Local mode spawns Python workers that do not inherit the driver's
    sys.path hacks; on a real cluster executors need the code shipped.  Both
    are served by sc.addPyFile of this archive."""
    pkg_dir = os.path.dirname(os.path.abspath(__file__))
    root = os.path.dirname(pkg_dir)
    out = os.path.join("/tmp", "searchengine_spark_pkg.zip")
    with zipfile.ZipFile(out, "w", zipfile.ZIP_DEFLATED) as zf:
        for dirpath, _dirnames, filenames in os.walk(pkg_dir):
            for fn in filenames:
                if fn.endswith(".py"):
                    full = os.path.join(dirpath, fn)
                    zf.write(full, os.path.relpath(full, root))
    return out


def get_spark(
    app_name: str = "searchengine_spark",
    cpus: int | None = None,
    shuffle_partitions: int | None = None,
    master: str | None = None,
    executor_memory: str | None = None,
) -> SparkSession:
    """``master`` overrides the default ``local[cpus]`` — used by the
    scaling harness to run ``local-cluster[N,cores,mem]``, the faithful
    stand-in for an N-executor cluster (separate executor JVMs of constant
    size, real serialized shuffle between them, scaling = adding executors
    rather than growing one JVM's thread count)."""
    if cpus is None:
        cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    if shuffle_partitions is None:
        shuffle_partitions = max(cpus, 8)
    builder = (
        SparkSession.builder.master(master or f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        # partition counts are explicitly managed (repartitionByRange sized
        # to the core count); AQE's byte-based coalescing would squeeze the
        # small-by-bytes but CPU-heavy shuffle stages (tokenize aggregations)
        # down to 1-3 tasks and serialize the build — parallelismFirst
        # protects explicit repartitions but not groupBy shuffles
        .config("spark.sql.adaptive.coalescePartitions.enabled", "false")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "24g"))
        .config(
            "spark.executor.memory",
            executor_memory or os.environ.get("SPARK_EXECUTOR_MEMORY", "16g"),
        )
        # UI off by default (driver-memory + port noise); SPARK_GRAFT_UI=1
        # turns it on so tools/stage_profile.py can scrape per-stage
        # metrics from the REST API
        .config(
            "spark.ui.enabled",
            "true" if os.environ.get("SPARK_GRAFT_UI", "").lower() in ("1", "true", "yes") else "false",
        )
        # progress bars write \r-heavy noise to stderr; with bench.py's fd-2
        # capture the megabytes of bars drowned the result JSON in round 3
        .config("spark.ui.showConsoleProgress", "false")
        # 16 MB splits: transcript text compresses hard, so a 128 MB split
        # holds millions of rows and leaves early (pre-shuffle) stages
        # running on a handful of tasks; finer splits keep scans as wide as
        # the core count.  At 100 TB with many files this matters less — any
        # value yields enough splits — but it never hurts correctness.
        .config("spark.sql.files.maxPartitionBytes", "16777216")
    )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    ensure_package_on_workers(spark)
    return spark


def ensure_package_on_workers(spark: SparkSession) -> None:
    """Ship this package to Python workers (idempotent per session).  Needed
    whenever the session wasn't created by get_spark (e.g. the driver's
    harness) — equivalent to spark-submit --py-files.  On the worker side,
    every kernel the engine hands to Spark is wrapped by
    ``worker.engine_kernel``, which drops the worker's zip import finders
    when the kernel ends, so the next task does not re-read this archive's
    (and pyspark's) zip directories."""
    if getattr(spark, "_searchengine_pkg_added", False):
        return
    try:
        spark.sparkContext.addPyFile(package_zip())
    except Exception:
        pass  # already added to this context
    spark._searchengine_pkg_added = True
