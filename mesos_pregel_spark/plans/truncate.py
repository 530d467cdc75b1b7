"""Plan truncation WITHOUT Catalyst-stats compounding, keeping the
checkpoint's partitioning.

``Dataset.localCheckpoint`` truncates the logical plan (load-bearing
for iterative loops, see plans/pregel.py::materialize) but Spark's
``LogicalRDD.fromDataset`` copies the origin plan's ESTIMATED
statistics into the checkpoint node.  Inner-join size estimates are
PRODUCTS of their children's ``sizeInBytes``, so any loop whose per-
iteration plan references the previous state twice — one scatter join
plus one gather join, or a pointer-jumping label self-join — DOUBLES
the carried BigInt's bit-length every iteration, straight through the
checkpoint.  Measured on this Spark (4.1.2): a 10-row DataFrame
self-joined through eager localCheckpoints reaches a 7,608-DIGIT
sizeInBytes after 12 iterations; by ~25 iterations every stats
computation multiplies million-digit BigIntegers (Toom-Cook range) and
the driver spends MINUTES per superstep inside
``SizeInBytesOnlyStatsPlanVisitor`` — a 6-vertex SCC took 10+ minutes.
At 100× scale with hundreds of supersteps this is a hard engine
killer, independent of data size: the cost lives on the driver and
grows exponentially with iteration count.

Fix: after ``localCheckpoint``, rebuild the checkpoint's ``LogicalRDD``
node over the same checkpointed RDD with the same output attributes,
``outputPartitioning`` and ``outputOrdering`` but WITHOUT origin
statistics or constraints, and wrap it with ``classic.Dataset.ofRows``
(the constructor and ``ofRows`` are public in bytecode and callable
over py4j).  Its ``sizeInBytes`` falls back to
``spark.sql.defaultSizeInBytes`` — a constant — so per-iteration stats
stay O(plan width).  Values are bit-identical: the checkpoint already
materialized row COPIES, and the rebuild only re-wraps that RDD
(pinned by tests/test_truncate.py on a shuffled 20k-row round-trip and
by every iterative-algo oracle test in the suite).

Keeping the partitioning is what lets the Pregel loop hold its state
hash-partitioned by ``id`` across supersteps [P §4.1]: a join of the
truncated state with an edge table partitioned the same way needs no
exchange on either side.  Because the node carries no size estimate,
the optimizer never picks a broadcast for it on its own; join sides
that matter are named by hints (operators/scatter.py).

Falls back to plain ``localCheckpoint`` when the py4j internals are
unavailable (e.g. Spark Connect), where the classic compounding path
does not exist anyway.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def truncate_plan(df: DataFrame, eager: bool = True) -> DataFrame:
    """``localCheckpoint`` + carried-stats strip (module docstring).
    Laziness is preserved: for ``eager=False`` the checkpoint (and the
    one pass over the data) happens inside the caller's next action."""
    ck = df.localCheckpoint(eager=eager)
    try:
        spark = ck.sparkSession
        jvm = spark._jvm
        jsession = spark._jsparkSession
        node = ck._jdf.queryExecution().analyzed()
        none = jvm.scala.Option.empty()
        rel = jvm.org.apache.spark.sql.execution.LogicalRDD(
            node.output(), node.rdd(), node.outputPartitioning(),
            node.outputOrdering(), node.isStreaming(), node.stream(),
            jsession, none, none,
        ).newInstance()
        out = DataFrame(
            jvm.org.apache.spark.sql.classic.Dataset.ofRows(jsession, rel), spark
        )
        # Handle to the PERSISTED checkpoint RDD.  DataFrame.unpersist
        # is a no-op for localCheckpoint persistence (RDD-level, not
        # CacheManager), so without this handle superseded superstep
        # states linger until JVM GC + ContextCleaner — see
        # PregelRun.reap.
        out._ck_jrdd = node.rdd()
        return out
    except Exception:  # pragma: no cover - non-classic sessions
        return ck


def release_plan(df: DataFrame | None) -> None:
    """Drop a truncate_plan frame once nothing references it:
    ``DataFrame.unpersist`` alone is a no-op for localCheckpoint RDD
    persistence (plans/pregel.py::reap), so also free the checkpoint
    RDD captured by truncate_plan.  That goes through
    ``SparkContext.unpersistRDD`` rather than ``RDD.unpersist``, which
    would log a "locally checkpointed … cannot be recomputed" warning
    for every released superstep."""
    if df is None:
        return
    try:
        df.unpersist()
    except Exception:
        pass
    jrdd = getattr(df, "_ck_jrdd", None)
    if jrdd is not None:
        try:
            df.sparkSession.sparkContext._jsc.sc().unpersistRDD(jrdd.id(), False)
        except Exception:
            pass
