"""Skew-resilient aggregation: two-phase salted groupBy.

At 100 TB a hot key (one subject carrying half the stream) turns a single
reducer into the job's critical path. Salting splits each key into
``n_salts`` shards for the partial aggregate, then merges shards in a second
(tiny) aggregation. AQE's skew-join handling covers joins; this covers
aggregations whose partials are algebraic.

The decimal-exact sum pattern (``functions.exact``) makes the two-phase
result *identical* to a direct aggregate — so the oracle for a salted query
is simply the plain GROUP BY.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

from duckdb_nats_jetstream_spark import materialize


def salted_agg(
    df: DataFrame,
    keys: list[str],
    partial_aggs: list[Column],
    final_aggs: list[Column],
    n_salts: int = 16,
    salt_source: str | None = None,
) -> DataFrame:
    """Aggregate with per-key sharding.

    ``partial_aggs`` run per (keys, salt); ``final_aggs`` merge the shards
    per key. The salt is a deterministic function of ROW CONTENT (xxhash64
    of a named high-cardinality column, or of every column when
    ``salt_source`` is None): a positional salt like
    ``monotonically_increasing_id`` feeding a shuffle key is the
    SPARK-23207 retry hazard — a re-run map task can re-salt rows that
    reducers already fetched, losing or double-counting partials.
    ``pmod`` (not ``abs % n``) keeps the shard index total: under ANSI,
    ``abs(MIN_VALUE)`` overflows — at 100 TB row counts a 2^-32 per-row
    hash event is an expected occurrence, not a curiosity.

    Caveat of the all-columns default: byte-identical duplicate rows land
    in one shard, so a hot key made of EXACT duplicates still skews —
    name a varying ``salt_source`` for that shape.
    """
    salt_col = F.pmod(
        F.xxhash64(F.col(salt_source))
        if salt_source
        else F.xxhash64(*[F.col(c) for c in df.columns]),
        F.lit(n_salts),
    )
    partial = (
        df.withColumn("__salt", salt_col)
        .groupBy(*keys, "__salt")
        .agg(*partial_aggs)
    )
    return partial.groupBy(*keys).agg(*final_aggs)


def skew_join_ready(df: DataFrame, eager: bool = True) -> DataFrame:
    """Materialize an aggregate-topped relation so a downstream skewed
    sort-merge join stays rescuable by AQE.

    ``OptimizeSkewedJoin`` pattern-matches ONLY
    ``SMJ(Sort(ShuffleRead), Sort(ShuffleRead))``. If a join child still
    carries its aggregate (``distinct()``, a groupBy result, a window)
    above the shuffle, the rule silently no-ops — measured at 100× data
    with a 90% hot key (SCALING.md Round-6, batch 5): the straggler
    survives ``skewJoin=on`` at 11.3×, while the same join over a
    materialized side flattens to 1.1× and runs 3× faster end-to-end.

    Call this on the aggregate side BEFORE joining it against a
    potentially skewed fact; it is a :func:`materialize.checkpoint`.
    Only needed when the other side is a skew-prone FACT — aggregate ⋈
    aggregate joins have one row per key per side and cannot skew.
    """
    return materialize.checkpoint(df, eager=eager)
