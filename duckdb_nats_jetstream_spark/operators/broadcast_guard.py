"""Runtime-sized broadcast hint — the guard between "map-side join" and
"driver OOM" for relations whose size scales with the DATA, not the schema.

The package hints ``F.broadcast`` in two distinct situations that deserve
different treatment at 100 TB:

1. **Structurally bounded sides** — TPC-H dimension tables, sketch grids
   (d x w cells), chunk-boundary rows, global min/max singletons. Their
   size is fixed by schema or config, independent of input volume. The
   unconditional hint is correct forever; these sites keep ``F.broadcast``.
2. **Statistics-shaped sides** — per-group aggregates (group counts,
   per-key quantile bounds), whose row count equals the GROUP CARDINALITY
   of the input. At test scale that is dozens of rows; on a 100 TB corpus
   keyed by URL domain or user id it can be 10^8+. An unconditional hint
   then forces Spark to collect the whole relation to the driver and
   OOMs it — measured in SCALING.md batch 8: the hinted join dies on a
   constrained heap at 10M x 88-byte rows while the unhinted join
   degrades to a working sort-merge join.

Why a hint is needed at all: Catalyst's STATIC size estimate for an
aggregate output is derived from the child relation, so a tiny
groups-of-a-huge-table relation is estimated huge and never auto-broadcast;
AQE fixes the estimate at runtime but only after planning shuffles on BOTH
sides, so the 100 TB fact side pays a shuffle write the hint would have
avoided entirely.

``sized_broadcast`` closes the gap with a RUNTIME-sized hint:
materialize the relation once (a lazy :func:`materialize.checkpoint` that
the count realizes — it also truncates the agg lineage so later consumers
don't recompute it), count
the stored rows (a cheap job over the checkpointed partitions), and hint
only when the realized count is under the cap. Above the cap the hint
must be actively INVERTED, not merely dropped: Catalyst's size estimate
for the checkpointed relation can still come in under
``autoBroadcastJoinThreshold`` and auto-broadcast the very relation the
count just proved huge (observed in-plan), so the over-cap path pins the
spill-safe sort-merge strategy with ``hint("merge")`` — the measured
degrade-don't-die path (SCALING.md batches 7 and 8).

The cost of the guard is one small eager job; callers on a hot lazy path
where the side is structurally bounded should keep a bare ``F.broadcast``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from duckdb_nats_jetstream_spark import materialize

#: default cap: 5M rows x ~100 B/row ≈ 500 MB broadcast — near the
#: practical ceiling for a comfortable executor/driver heap, well under
#: Spark's hard 8 GB / 512M-row broadcast limits.
DEFAULT_MAX_BROADCAST_ROWS = 5_000_000


def _lazy_checkpoint(df: DataFrame) -> DataFrame:
    return materialize.checkpoint(df, eager=False)


def sized_broadcast(
    df: DataFrame,
    max_rows: int | None = DEFAULT_MAX_BROADCAST_ROWS,
    materializer=None,
) -> DataFrame:
    """Materialize ``df`` and return it wrapped in ``F.broadcast`` iff its
    realized row count is ``<= max_rows``; otherwise return the
    materialized relation pinned to the sort-merge strategy
    (``hint("merge")`` — see module docstring for why dropping the hint
    alone is not enough).

    ``max_rows=None`` asserts the side is structurally bounded: no
    materialization, no count job, unconditional hint (identical to a bare
    ``F.broadcast``). Note the guarded path is EAGER — it runs the
    relation's plan once at call time.

    The default materializer is a lazy :func:`materialize.checkpoint`
    (see its module docstring for the ``localCheckpoint`` caveat), so the
    count computes, stores and counts in ONE job. ``materializer=``
    replaces it, e.g. with a write to reliable storage and a read back;
    it must return a DataFrame whose ``count()`` realizes the data
    exactly once.
    """
    from pyspark.sql import functions as F

    if max_rows is None:
        return F.broadcast(df)
    if max_rows < 0:
        raise ValueError(f"max_rows must be >= 0 or None, got {max_rows}")
    small = (materializer or _lazy_checkpoint)(df)
    if small.count() <= max_rows:
        return F.broadcast(small)
    return small.hint("merge")
