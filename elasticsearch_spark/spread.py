"""Input re-spread for compute-heavy operators over few-split sources,
and collision-free placement of keyed groups (``place_groups``).

Parquet scan parallelism is bounded by row-group count: the round-6
measurement found every test table is written as 1-6 row groups, so a
scan feeding a CPU-heavy projection (regex tokenization, per-row
vector folds) runs on 1-6 cores no matter how many the session has —
guide §2.5's "one huge unsplittable file" input-skew case, with the
guide's fix: "repartition immediately after the read".

``spread_input`` round-robin repartitions ONLY when the input has
fewer partitions than the cluster's default parallelism, so at real
scale (inputs with >= parallelism splits) it is a no-op and costs
nothing.  Round-robin, not keyed: callers may carry constant or skewed
columns that a hash re-spread would concentrate onto one partition.
(The same guard has lived in ops/dedup.py word_shingles since round 4;
this hoists it for the other operators.)
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def spread_input(df: DataFrame) -> DataFrame:
    """Repartition ``df`` to defaultParallelism iff it has fewer
    partitions (scale-adaptive: a no-op on well-split inputs)."""
    sc = df.sparkSession.sparkContext
    if df.rdd.getNumPartitions() < sc.defaultParallelism:
        return df.repartition(sc.defaultParallelism)
    return df


def place_groups(df: DataFrame, key: str, groups: int) -> DataFrame:
    """Exchange ``df`` so that group ``g`` of the int column ``key``
    (``0 <= g < groups``) lands on task ``g mod T``, with
    ``T = min(groups, defaultParallelism)``: each task is assigned
    ``floor`` or ``ceil(groups / T)`` groups, so a CPU-bound per-group
    pandas stage runs in one wave of tasks with no idle core.

    ``repartition(n, key)`` places rows by ``pmod(murmur3(key), n)``,
    which collides: 8 shard ids over 8 partitions fill only 5 tasks,
    one of them with 3 shards (BENCH/BASELINE.md). ``repartitionById``
    takes the id itself. Pass a plain column, not an expression: only
    then does the exchange satisfy a following ``groupBy``/``cogroup``
    on ``key`` and stay the plan's ONE exchange. Like every
    ``REPARTITION_BY_NUM`` exchange it is exempt from AQE's
    byte-targeted partition coalescing."""
    sc = df.sparkSession.sparkContext
    return df.repartitionById(max(1, min(groups, sc.defaultParallelism)), key)


def materialize_fence(df: DataFrame) -> DataFrame:
    """Arrow-identity pass-through that pins the frame's columns as
    MATERIALIZED values at this point in the plan.

    Catalyst pushes filters below projections by inlining the aliased
    expression into the predicate, so `withColumn(c, BIG).filter(
    f(c))` evaluates BIG twice per row (guide §4.4 shows the UDF
    variant; the same duplication hits big interpreted higher-order
    expressions). Expressions cannot cross a mapInArrow boundary, so
    everything below the fence runs exactly once. Costs one Arrow
    round-trip of the fenced columns — use it only when the fenced
    expression is far more expensive than serializing its result
    (measured on the text-embedding knn at sf1.0: 12.7 s -> 4.4 s)."""
    schema = df.schema

    def _identity(batches):
        yield from batches

    return df.mapInArrow(_identity, schema)
