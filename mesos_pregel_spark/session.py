"""SparkSession factory with the engine's pinned config baseline.

SURVEY.md §4.4: AQE on (skew-join backstop to explicit salting),
Arrow-enabled pandas UDFs, shuffle partitions sized to cores.  All
engine behavior is pure DataFrame-API + driver-level control, so the
whole engine ships as ``spark-submit --py-files`` with no custom jars.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "mesos-pregel-spark",
    cores: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with the engine config baseline.

    ``cores=None`` uses ``local[*]``.  ``shuffle_partitions`` defaults
    to max(2*cores, 8) — small enough that tiny test graphs don't pay
    per-partition overhead, proportional to cores so the bench scales.
    """
    master = f"local[{cores}]" if cores else "local[*]"
    ncores = cores if cores else (os.cpu_count() or 8)
    nshuffle = shuffle_partitions if shuffle_partitions else max(2 * ncores, 8)

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(nshuffle))
        .config("spark.default.parallelism", str(ncores))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # Iterative-superstep join strategy (A/B-measured on an 8M-edge
        # graph, 800k-vertex state, local[8]): shuffled-HASH join 3.6
        # s/superstep vs sort-merge 6.0 vs forced-broadcast 8.6 — a
        # large state funneled through the driver every superstep is
        # the worst option, and re-sorting the static edge table every
        # superstep (SMJ) is pure waste.  So: never prefer SMJ.  The
        # Pregel loop's scatter join does not depend on this or on the
        # broadcast threshold: its truncated state carries no size
        # estimate, is co-partitioned with the edges and is named the
        # build side by a shuffle_hash hint (operators/scatter.py).
        .config("spark.sql.join.preferSortMergeJoin", "false")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "65536")
        # Iterative loops re-register short-lived shuffle files; keep the
        # cleaner quiet and the UI off for bench determinism.
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.sql.session.timeZone", "UTC")
        # Checkpoint/shuffle compression: zstd (SURVEY §4.4).
        .config("spark.io.compression.codec", "zstd")
        .config("spark.sql.parquet.compression.codec", "zstd")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
