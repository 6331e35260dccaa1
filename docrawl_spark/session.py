"""SparkSession factory tuned for the crawl engine.

Local-mode defaults mirror what a 1000-executor cluster deployment
would set per-executor: AQE on (runtime re-plan + skew-join), Arrow on
(every pandas UDF is Arrow-batched), shuffle partitions sized to the
actual parallelism instead of the 200 default.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "docrawl_spark",
    cpus: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
    master: str | None = "local",
) -> SparkSession:
    """Build (or reuse) a SparkSession.

    ``cpus`` controls ``local[N]`` parallelism; default from
    ``$SPARK_GRAFT_CPUS`` else all cores. ``shuffle_partitions``
    defaults to the same N — at cluster scale this is instead set to
    ~2-3x total cores and AQE coalesces down.

    ``master=None`` leaves the master to spark-submit (the cluster
    launch path, scripts/submit_crawl.py); the default builds a
    ``local[cpus]`` session for tests and perfbench.
    """
    if cpus is None:
        cpus = int(os.environ.get("SPARK_GRAFT_CPUS") or os.cpu_count() or 8)
    if shuffle_partitions is None:
        shuffle_partitions = max(cpus, 8)

    # Python workers must be able to import this package: UDF closures
    # (canonicalization, bloom probe) reference docrawl_spark, and a
    # driver launched outside the repo (sys.path.insert only) leaves
    # workers without it. PYTHONPATH is inherited by local-mode workers
    # and forwarded to executors; set it before the JVM starts.
    pkg_root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    existing = os.environ.get("PYTHONPATH", "")
    if pkg_root not in existing.split(os.pathsep):
        os.environ["PYTHONPATH"] = (
            pkg_root + (os.pathsep + existing if existing else "")
        )

    builder = SparkSession.builder
    if master is not None:
        builder = builder.master(f"local[{cpus}]")
    builder = (
        builder.appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "16g"))
        .config("spark.sql.files.maxPartitionBytes", "134217728")
        # subset co-partitioning: a join whose children are hash-
        # partitioned on a SUBSET of the join keys reuses that layout
        # instead of re-exchanging on the full key set — the wave
        # partitions ONCE on (host_hash, _salt) and runs dedup, the
        # 3-key seen anti-join, and the phase-1 politeness window on
        # that single exchange (plans/wave.schedule_wave_stages)
        .config("spark.sql.requireAllClusterKeysForCoPartition", "false")
        .config("spark.executorEnv.PYTHONPATH", os.environ["PYTHONPATH"])
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def stop_spark() -> None:
    """Fully stop the active session so a new master can be used
    (perfbench's fresh-session set-ups)."""
    active = SparkSession.getActiveSession()
    if active is not None:
        active.stop()
    # Clear the cached builder session so the next getOrCreate honors a
    # new master.
    try:  # pragma: no cover - defensive across pyspark versions
        SparkSession._instantiatedSession = None
        SparkSession._activeSession = None
    except Exception:
        pass
