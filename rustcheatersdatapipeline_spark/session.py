"""SparkSession factory.

Engine-wide session invariants (SURVEY.md §7.3 hard part 5):

- ``spark.sql.session.timeZone = UTC`` — the reference normalizes every
  timestamp to UTC (pandas ``utc=True`` at
  reference ``dags/scripts/rust_twitter_steam_facts.py:31-33``); the DuckDB
  oracle is likewise UTC, so formatted-timestamp comparisons are stable.
- AQE on — runtime coalescing/skew handling stands in for hand-tuned
  shuffle partitioning at arbitrary scale factors.
- Arrow on — any Pandas-UDF path transfers columnar batches, not rows.

At 100 TB these settings matter more than locally: AQE rewrites sort-merge
joins to broadcast when a dimension turns out small, splits skewed shuffle
partitions, and coalesces tiny ones, so one static ``shuffle.partitions``
value does not have to fit every stage.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def _default_driver_memory() -> str:
    """Half of physical memory, capped at 24g: a fixed 24g heap lets the
    JVM outgrow a smaller host and get OOM-killed."""
    try:
        phys = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    except (AttributeError, OSError, ValueError):
        return "24g"
    return f"{max(1, min(24, phys // 2 >> 30))}g"


def get_spark(
    app_name: str = "rustcheaters-spark-engine",
    cpus: str | int | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession:
    """Build (or fetch) the engine SparkSession.

    ``cpus`` defaults to ``$SPARK_GRAFT_CPUS`` (driver contract), else all
    cores. ``shuffle_partitions`` defaults to the core count — at local
    test scale a 200-partition shuffle is pure overhead; on a real cluster
    AQE coalescing makes the static value a ceiling, not a target.
    ``spark.driver.memory`` is ``$SPARK_DRIVER_MEM`` when set, else
    ``_default_driver_memory()``.
    """
    cpus = cpus or os.environ.get("SPARK_GRAFT_CPUS") or "*"
    if shuffle_partitions is None:
        shuffle_partitions = 32 if cpus in ("*", "") else max(int(cpus), 4)
    builder = (
        SparkSession.builder.appName(app_name)
        .master(f"local[{cpus}]")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        # zstd over snappy for parquet at rest: ~25-35% smaller files at
        # comparable decode cost (codec ships with Spark). At 100 TB the
        # ratio IS the scan time — fewer bytes per row group beats
        # snappy's marginally faster decompress on every cold read.
        .config("spark.sql.parquet.compression.codec", "zstd")
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_DRIVER_MEM") or _default_driver_memory(),
        )
        .config("spark.ui.enabled", "false")
        # Compile-time auto-broadcast OFF, runtime (AQE) auto-broadcast ON.
        # Catalyst's static size estimates are unreliable downstream of
        # explode/aggregate (an exploded shingle table inherits its
        # parquet leaf's size stat): at a 100x replica the planner
        # happily compile-time-broadcast ~1 GiB aggregate sides and
        # crashed the driver (scripts/bench_scale.py --replicas 100
        # caught it). AQE instead promotes a join side to broadcast from
        # the TRUE size of its materialized shuffle stage, which cannot
        # mis-estimate; explicit F.broadcast() hints on catalog-sized
        # dims are unaffected by the static threshold and keep their
        # zero-shuffle plans.
        .config("spark.sql.autoBroadcastJoinThreshold", "-1")
        .config(
            "spark.sql.adaptive.autoBroadcastJoinThreshold",
            str(64 * 1024 * 1024),
        )
    )
    return builder.getOrCreate()
