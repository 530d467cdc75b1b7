"""P6 — the superstep barrier loop, with S3 lineage truncation,
S4 metrics, and P8 checkpoint hooks (SURVEY §2.1, §2.4).

Pregel's scheduler loop [P §2, §4] maps to a plain Python driver loop:
each superstep builds ONE declarative DataFrame plan (scatter → combine
→ apply → halt), materializes it, and collects the global aggregators
(P5) that drive termination — the only driver boundary.

The classic iterative-DataFrame failure is lineage/plan blow-up: every
superstep's plan embeds the previous one, so analysis time grows
without bound.  ``PregelRun.materialize`` persists each new state,
unpersists the previous one, and hard-truncates the plan every
``truncate_every`` supersteps — via the durable checkpoint when one is
configured (doubling as fault tolerance), else ``localCheckpoint``.
"""

from __future__ import annotations

import time
from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.storagelevel import StorageLevel

from mesos_pregel_spark.plans.checkpoint import CheckpointManager
from mesos_pregel_spark.plans.truncate import release_plan, truncate_plan


class PregelRun:
    """Bookkeeping for one Pregel job: superstep counter, persisted-state
    rotation, per-superstep metrics, checkpoint/resume."""

    def __init__(
        self,
        spark: SparkSession,
        algorithm: str,
        checkpoint_dir: str | None = None,
        checkpoint_every: int = 10,
        params: dict | None = None,
    ):
        self.spark = spark
        self.algorithm = algorithm
        self.params = params or {}
        self.superstep = 0
        self.metrics: list[dict] = []
        self.checkpoint_every = checkpoint_every
        self.ckpt = CheckpointManager(spark, checkpoint_dir) if checkpoint_dir else None
        self.resumed_final = False
        self._live: DataFrame | None = None
        self._retired: list[DataFrame] = []
        # the loop-owned persisted edge table (program.py sets/clears
        # it) — released with the live state on the failure path
        self._edges_live: DataFrame | None = None
        self._t0 = time.monotonic()

    # ---- resume ------------------------------------------------------
    @classmethod
    def resume(
        cls, spark: SparkSession, algorithm: str, checkpoint_dir: str, **kwargs
    ) -> tuple["PregelRun", DataFrame | None]:
        """Reopen a checkpointed run.  Returns (run, vertices-or-None);
        vertices is None when no checkpoint exists yet (fresh start)."""
        run = cls(spark, algorithm, checkpoint_dir=checkpoint_dir, **kwargs)
        latest = run.ckpt.latest(include_final=True)
        if latest is None:
            return run, None
        step, meta = latest
        if meta.get("algorithm") not in (None, algorithm):
            raise ValueError(
                f"checkpoint at {checkpoint_dir} belongs to {meta.get('algorithm')!r}, "
                f"not {algorithm!r}"
            )
        stored_params = meta.get("params")
        if stored_params is not None and stored_params != run.params:
            # Resuming under different damping/tol/source would silently
            # continue (or return a stored final) for the wrong job.
            raise ValueError(
                f"checkpoint at {checkpoint_dir} was written with params "
                f"{stored_params!r}, but resume requested {run.params!r}"
            )
        if meta.get("final"):
            # The run already converged — hand back the stored result.
            run.resumed_final = True
            run.superstep = step
            return run, run.ckpt.read(step)
        run.superstep = step + 1
        vertices = run.ckpt.read(step)
        run._live = vertices
        return run, vertices

    # ---- state rotation / lineage (S3) -------------------------------
    def materialize(
        self, vertices: DataFrame, meta: dict | None = None,
        durable: bool = True,
    ) -> DataFrame:
        """Materialize the new state with a HARD plan truncation and
        checkpoint on schedule.  Returns the DataFrame the next
        superstep must build on.

        Truncation every superstep is load-bearing: ``persist()`` alone
        leaves the full logical plan in place and Catalyst re-analyzes
        the deepening chain each superstep — measured on a 100k-edge
        graph, per-superstep wall time grew 7s → 45s by superstep 5 and
        fell back to <1s right after a truncation.  ``localCheckpoint``
        (eager) replaces the plan with an O(1) scan of the materialized
        partitions; on checkpoint supersteps the durable parquet
        write/read-back does the same job and doubles as fault
        tolerance.  Superseded state RDDs are dropped by Spark's
        ContextCleaner once unreferenced."""
        s = self.superstep
        if durable and self.ckpt is not None and s % self.checkpoint_every == 0:
            new = self.ckpt.write(
                vertices, s,
                {"algorithm": self.algorithm, "params": self.params, **(meta or {})},
            )
            new = new.persist(StorageLevel.MEMORY_AND_DISK)
        else:
            # Lazy: the checkpoint materializes inside the caller's next
            # action (the P5 aggregator collect), so each superstep runs
            # ONE Spark job instead of two — measured ~1.7s/superstep of
            # fixed latency, and this removes a full job's worth.
            # truncate_plan (NOT bare localCheckpoint): a superstep's
            # plan references the previous state twice (scatter +
            # gather), and localCheckpoint carries the origin plan's
            # ESTIMATED stats, so sizeInBytes doubles its bit-length
            # every superstep — exponential driver-side BigInt grind by
            # ~25 supersteps (see plans/truncate.py for the measured
            # pathology).
            new = truncate_plan(vertices, eager=False)
        if self._live is not None:
            # retire, don't unpersist yet: the NEW state's checkpoint is
            # LAZY — its first action still reads the previous state's
            # checkpoint RDD.  reap() (called from aggregators(), i.e.
            # right after that action) does the actual release.
            self._retired.append(self._live)
        self._live = new
        return new

    def reap(self) -> None:
        """Release superseded state caches.  Safe only AFTER an action
        has materialized the current state (the per-superstep aggregator
        collect): then the previous checkpoint RDD is truly
        unreferenced.  ``DataFrame.unpersist`` alone is a no-op for
        localCheckpoint RDDs (RDD-level persistence, not CacheManager
        entries), so superseded supersteps otherwise accumulate until
        JVM GC + ContextCleaner — at hundreds of supersteps that is
        real executor storage memory."""
        for df in self._retired:
            release_plan(df)
        self._retired = []

    # ---- aggregators (P5) --------------------------------------------
    def aggregators(self, df: DataFrame, exprs: Sequence[Column]) -> dict:
        """Global commutative/associative reductions for this superstep
        [P §3.3] — one agg job, one driver collect."""
        row = df.agg(*exprs).collect()[0]
        # this collect materialized the current (lazily checkpointed)
        # state — the superseded one can now be dropped
        self.reap()
        return row.asDict()

    def record(self, **metrics) -> dict:
        entry = {
            "superstep": self.superstep,
            "elapsed_sec": round(time.monotonic() - self._t0, 3),
            **metrics,
        }
        self.metrics.append(entry)
        return entry

    def next_superstep(self) -> None:
        self.superstep += 1

    def release(self) -> None:
        """Failure-path cache hygiene (r4 ADVICE): a raising halt/apply
        hook (e.g. ColorMaskSaturated) aborts the loop mid-superstep —
        drop the persisted live state so the MEMORY_AND_DISK copy does
        not leak for the rest of the Spark session."""
        self.reap()
        for attr in ("_live", "_edges_live"):
            release_plan(getattr(self, attr))
            setattr(self, attr, None)

    def finish(
        self, vertices: DataFrame, converged: bool = True, meta: dict | None = None
    ) -> DataFrame:
        """Durable final checkpoint — only when the run actually
        converged; a superstep-capped (interrupted) run keeps only its
        periodic checkpoints so a later resume continues mid-iteration."""
        if self.ckpt is not None and converged and not self.resumed_final:
            vertices = self.ckpt.write(
                vertices,
                self.superstep,
                {
                    "algorithm": self.algorithm,
                    "params": self.params,
                    "final": True,
                    "metrics": self.metrics[-5:],
                    **(meta or {}),
                },
            )
        return vertices
