"""The physical plan of one superstep: the vertex state stays hash-
partitioned by ``id`` alongside the ``src``-partitioned edge table
[P §4.1], so the scatter join and apply's join need no exchange, the
messages are reduced by a map-side partial aggregate (Pregel's
combiner [P §3.2]), and their exchange by ``dst`` is the superstep's
only shuffle.  The operator tree is the same at 100× the edges."""

import pytest
from pyspark.sql import functions as F

from mesos_pregel_spark.algos.cc import connected_components
from mesos_pregel_spark.algos.pagerank import pagerank
from mesos_pregel_spark.plans.pregel import PregelRun


def _edges(spark, rows):
    vertices = max(rows // 10, 10)
    return spark.range(rows).select(
        (F.col("id") % vertices).alias("src"),
        ((F.col("id") * 7919 + 13) % vertices).alias("dst"),
        F.lit(1.0).alias("weight"),
    )


def _nodes(plan):
    out = [plan]
    children = plan.children()
    for i in range(children.size()):
        out += _nodes(children.apply(i))
    return out


def _last_superstep_plan(spark, monkeypatch, algo, rows):
    """Executed plan of the state the loop materializes in its last
    superstep, built under the loop's own settings."""
    plans = []
    orig = PregelRun.materialize

    def capture(self, vertices, meta=None, durable=True):
        if durable:
            plans.append(vertices._jdf.queryExecution().executedPlan())
        return orig(self, vertices, meta, durable)

    with monkeypatch.context() as m:
        m.setattr(PregelRun, "materialize", capture)
        algo(spark, _edges(spark, rows), max_supersteps=2)
    return plans[-1]


@pytest.mark.parametrize(
    "algo,partial",
    [(pagerank, "partial_sum"), (connected_components, "partial_min")],
    ids=["pagerank", "cc"],
)
def test_one_shuffle_per_superstep_at_any_scale(spark, monkeypatch, algo, partial):
    n = spark.sparkContext.defaultParallelism
    shapes = []
    for rows in (2_000, 200_000):
        plan = _last_superstep_plan(spark, monkeypatch, algo, rows)
        nodes = _nodes(plan)
        names = [p.nodeName() for p in nodes]
        assert "BroadcastExchange" not in names, plan.toString()
        exchanges = [p for p in nodes if p.nodeName() == "Exchange"]
        assert len(exchanges) == 1, plan.toString()
        part = exchanges[0].outputPartitioning()
        assert part.toString().startswith("hashpartitioning(dst#")
        assert part.numPartitions() == n
        below = [p.simpleString(100) for p in _nodes(exchanges[0])[1:]]
        assert any(
            s.startswith("HashAggregate") and partial in s for s in below
        ), plan.toString()
        shapes.append(names)
    assert shapes[0] == shapes[1]
