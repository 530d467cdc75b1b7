"""P2 — combine: Pregel message combiner as partial aggregation.

Pregel combiners [P §3.2] reduce messages per destination *before*
network transfer; Spark's HashAggregateExec does exactly this
automatically (map-side partial aggregation) for commutative +
associative aggregates — sum / min / max / bit_or / bit_and.

S1 — hub skew: transcript graphs are pathologically skewed
(``role:assistant`` touches ~half of all edge endpoints).  The map-side
partial aggregate bounds a hub destination to one row per map partition
in the exchange by ``dst``, so the combine needs no salting stage;
``tests/test_superstep_plan.py`` pins the partial aggregate below that
exchange.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# Aggregates that are commutative+associative and therefore legal as
# Pregel combiners (partial-aggregate-safe: agg(agg(x)) == agg(x)).
# bit_or / bit_and serve bit-packed states (multi-source BFS
# reachability masks); count is deliberately absent — count∘count ≠
# count, so it is NOT mergeable (send 1s and sum instead).
_MERGEABLE = {"sum", "min", "max", "bit_or", "bit_and"}


def combine(
    messages: DataFrame,
    keys: Sequence[str],
    aggs: dict[str, tuple[str, str]],
) -> DataFrame:
    """Combine messages per destination key(s).

    ``aggs`` maps output column name → (input column, fn) with fn one
    of the mergeable aggregates above.
    """
    for out, (col, fn) in aggs.items():
        if fn not in _MERGEABLE:
            raise ValueError(f"{fn} is not a valid Pregel combiner (not mergeable)")
    return messages.groupBy(*keys).agg(
        *[getattr(F, fn)(col).alias(out) for out, (col, fn) in aggs.items()]
    )
