"""Distributed Lloyd's k-means over an embedding column — the iterative
algorithm done Spark-shaped, with a fully SQL-expressible (unrolled) oracle.

This complements :func:`operators.similarity.ivf_topk`: IVF trains its
codebook on a bounded *driver-side sample* (the production pattern for index
builds); this operator runs the textbook Lloyd iteration *distributed* — every
assignment pass is a map over the full corpus, every centroid update is one
hash aggregation — which is what you want when the clustering itself is the
product (SemDeDup-style curation, domain discovery) and the corpus is 100 TB.

Per iteration at scale:
  - assignment: map-only (centroids broadcast; k×dim doubles), fuses into the
    scan stage; no shuffle.
  - update: one groupBy(cluster) aggregation producing k×(dim+1) numbers; the
    map-side partial agg means the shuffle moves k rows per input partition,
    not the corpus.
  - the only driver materialization is the k×dim centroid matrix between
    iterations — bytes, not data.

Cross-engine exactness (the interesting part — k-means assignments flip on a
1-ULP distance difference, so "approximately equal" is not good enough):

  1. Inputs are quantized to integers: ``q_i = floor(double(x_i) * 100)``.
     float→double widening is exact; ×100 and floor are single correctly
     rounded IEEE ops — deterministic in both engines.
  2. Iteration-1 distances are sums of products of integers ≤ ~10^3, far
     below 2^53, so every intermediate is exactly representable in float64
     and *summation order cannot matter*. Any vectorized kernel agrees with
     any SQL fold.
  3. Updated centroids are ``sum/count`` of exact integer sums — one
     correctly-rounded division each; bit-identical everywhere.
  4. Iteration-2 distances mix true doubles, so order matters again: both
     sides compute ``(q·q − 2·(q·c)) + c·c`` with the engine's canonical
     left-fold dot (`functions.vector.dot` / numpy `fold_d2` / DuckDB
     ``list_reduce``) — the same trick the IVF oracle uses.
  5. Ties (equidistant centroids) break on the smaller cluster index in both
     engines (stable argsort / ``ORDER BY d2, j``).

Reference scope note: clustering is beyond the reference extension (it stops
at scan + extraction, ref:src/nats_scan.cpp:700-790); this belongs to the
north-star training-data-pipeline surface (SURVEY.md "beyond the reference").
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame, functions as F
from pyspark.sql.functions import pandas_udf

from duckdb_nats_jetstream_spark import materialize
from duckdb_nats_jetstream_spark.functions.vector_np import fold_d2
from duckdb_nats_jetstream_spark.tables import spread

#: global quantization scale — embeddings are O(1)-valued, so ×100 keeps
#: 2 decimal digits and the squared-distance sums around 10^7 ≪ 2^53
QUANT = 100.0


def _quantize(vec_col: str) -> F.Column:
    return F.transform(
        F.col(vec_col),
        lambda x: F.floor(x.cast("double") * F.lit(QUANT)).cast("long"),
    )


def _assign_udf(centroids: list[list[float]]):
    """argmin_j fold_d2(q, C)[j], stable tie-break on j (kind='stable')."""

    @pandas_udf("int")
    def nearest(vs: pd.Series) -> pd.Series:
        C = np.asarray(centroids, dtype=np.float64)
        X = np.stack(vs.to_numpy()).astype(np.float64)
        d2 = fold_d2(X, C)
        a = np.argsort(d2, axis=1, kind="stable")[:, 0]
        return pd.Series(a.astype("int32"))

    return nearest


def kmeans_assignments(
    df: DataFrame,
    k: int = 8,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    dim: int = 64,
) -> DataFrame:
    """Two Lloyd iterations; returns per-row ``(id, cluster_iter1,
    cluster_iter2)``.

    Init = the quantized vectors of the ``k`` smallest ids (deterministic,
    mirrorable; k-means++ would need engine-matched RNG). Driver
    materializations are k rows (init) and k×dim partial sums (update) —
    both O(k·dim), independent of corpus size.
    """
    q = spread(df).select(
        F.col(id_col), _quantize(vec_col).alias("qv")
    )
    # --- init: k smallest ids (TakeOrderedAndProject, not a full sort) ---
    seed_rows = q.sort(id_col).limit(k).collect()
    C1 = [[float(v) for v in r.qv] for r in seed_rows]
    if not C1:  # empty corpus → empty assignments (mirror: no seeds, no rows)
        return df.sparkSession.createDataFrame(
            [], f"{id_col} long, cluster_iter1 long, cluster_iter2 long"
        )
    # fewer rows than k: only the seeded clusters exist (the SQL mirror's
    # seeds CTE is naturally bounded by the corpus; match it)
    k = len(C1)

    # NO persist on a1: the only action before the caller's own is the
    # sums collect below — a cache written for one read is pure memory
    # overhead, and the old unpersist-before-return meant the caller's
    # action never saw the cache anyway (r09 review; the recompute
    # tradeoff below still holds and is documented there).
    a1 = q.withColumn("c1", _assign_udf(C1)(F.col("qv").cast("array<double>")))

    # --- centroid update: one hash agg; k×dim numbers to the driver ---
    sums = (
        a1.select("c1", F.posexplode("qv").alias("pos", "val"))
        .groupBy("c1", "pos")
        .agg(F.sum("val").alias("s"), F.count("*").alias("n"))
        .collect()
    )
    by_cluster: dict[int, dict[int, tuple[int, int]]] = {}
    for r in sums:
        by_cluster.setdefault(r.c1, {})[r.pos] = (r.s, r.n)
    C2 = []
    for j in range(k):
        dims = by_cluster.get(j)
        if dims is None:  # empty cluster keeps its seed centroid
            C2.append(C1[j])
        else:
            C2.append([dims[i][0] / dims[i][1] for i in range(dim)])

    a2 = a1.withColumn("c2", _assign_udf(C2)(F.col("qv").cast("array<double>")))
    # The centroids are already driver-side literals, so the caller's
    # eventual action recomputes the scan + two assignment maps (one
    # extra Arrow pass) — measured cheaper than an eager localCheckpoint
    # materialization here; callers that branch over the result several
    # times checkpoint it themselves (kmeans_cluster_sizes does).
    return a2.select(
        F.col(id_col),
        F.col("c1").cast("long").alias("cluster_iter1"),
        F.col("c2").cast("long").alias("cluster_iter2"),
    )


def kmeans_cluster_sizes(
    df: DataFrame,
    k: int = 8,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    dim: int = 64,
) -> DataFrame:
    """Per-cluster movement summary after two Lloyd iterations:
    ``(cluster, n_iter1, n_iter2, n_stayed)`` — integers only, so the
    driver's value-hash is byte-stable by construction."""
    # checkpoint the narrow (id, c1, c2) relation: the i1/i2 branches of
    # the self-join below would otherwise EACH re-run the quantize + two
    # Arrow assignment passes — the dominant cost, doubled for nothing
    # (r09 review)
    a = materialize.checkpoint(
        kmeans_assignments(df, k, vec_col, id_col, dim), eager=True
    )
    i1 = a.groupBy(F.col("cluster_iter1").alias("cluster")).agg(
        F.count("*").alias("n_iter1")
    )
    i2 = a.groupBy(F.col("cluster_iter2").alias("cluster")).agg(
        F.count("*").alias("n_iter2"),
        F.sum(
            (F.col("cluster_iter1") == F.col("cluster_iter2")).cast("long")
        ).alias("n_stayed"),
    )
    return (
        i1.join(i2, "cluster", "full_outer")
        .select(
            "cluster",
            F.coalesce("n_iter1", F.lit(0)).alias("n_iter1"),
            F.coalesce("n_iter2", F.lit(0)).alias("n_iter2"),
            F.coalesce("n_stayed", F.lit(0)).alias("n_stayed"),
        )
    )


def sql_kmeans_assignment_ctes(
    k: int = 8, dim: int = 64, table: str = "embeddings", id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> str:
    """The two unrolled Lloyd iterations as a CTE chain ending in
    ``joined(id, c1, c2)`` — shared by the cluster-sizes mirror and the
    k-means-blocked SemDeDup mirror.

    Iteration-1 distance is all-integer (list_sum over BIGINT — order-free);
    iteration-2 uses the canonical left-fold double dot via ``list_reduce``
    in index order, matching numpy ``fold_d2``'s ``(qq − 2·qc) + cc``."""
    # fold-ordered dot of two DOUBLE lists (same shape as functions.vector.sql_dot)
    def fdot(a: str, b: str) -> str:
        return (
            f"list_reduce(list_prepend(CAST(0 AS DOUBLE), "
            f"list_transform(generate_series(1, {dim}), "
            f"i -> CAST(({a})[i] AS DOUBLE) * CAST(({b})[i] AS DOUBLE))), "
            f"(acc, x) -> acc + x)"
        )

    d2_fold = f"(({fdot('q.qv', 'q.qv')}) - 2.0 * ({fdot('q.qv', 'c.cv')})) + ({fdot('c.cv', 'c.cv')})"
    return f"""q AS (
  SELECT {id_col} AS id,
         list_transform({vec_col},
                        x -> CAST(floor(CAST(x AS DOUBLE) * {QUANT}) AS BIGINT)) AS qv
  FROM {table}
),
seeds AS (
  SELECT CAST(row_number() OVER (ORDER BY id) - 1 AS INT) AS j, qv AS cv
  FROM (SELECT * FROM q ORDER BY id LIMIT {k})
),
d1 AS (
  SELECT q.id, q.qv, seeds.j,
         list_sum(list_transform(generate_series(1, {dim}),
                  i -> (q.qv[i] - seeds.cv[i]) * (q.qv[i] - seeds.cv[i]))) AS d2
  FROM q CROSS JOIN seeds
),
a1 AS (
  SELECT id, qv, j AS c1
  FROM (SELECT *, row_number() OVER (PARTITION BY id ORDER BY d2, j) AS rn FROM d1)
  WHERE rn = 1
),
upd AS (
  SELECT c1 AS j, i,
         SUM(qv[CAST(i AS INT)]) AS s, COUNT(*) AS n
  FROM a1 CROSS JOIN (SELECT unnest(generate_series(1, {dim})) AS i)
  GROUP BY c1, i
),
cent2 AS (
  SELECT seeds.j,
         CASE WHEN MIN(upd.j) IS NULL
              THEN list_transform(seeds.cv, x -> CAST(x AS DOUBLE))
              ELSE list(CAST(upd.s AS DOUBLE) / CAST(upd.n AS DOUBLE)
                        ORDER BY upd.i)
         END AS cv
  FROM seeds LEFT JOIN upd ON upd.j = seeds.j
  GROUP BY seeds.j, seeds.cv
),
d2s AS (
  SELECT q.id, c.j, {d2_fold} AS d2
  FROM (SELECT id, list_transform(qv, x -> CAST(x AS DOUBLE)) AS qv FROM a1) q
  CROSS JOIN cent2 c
),
a2 AS (
  SELECT id, j AS c2
  FROM (SELECT *, row_number() OVER (PARTITION BY id ORDER BY d2, j) AS rn FROM d2s)
  WHERE rn = 1
),
joined AS (
  SELECT a1.id, a1.c1, a2.c2 FROM a1 JOIN a2 USING (id)
)"""


def sql_kmeans_cluster_sizes(
    k: int = 8, dim: int = 64, table: str = "embeddings", id_col: str = "vec_id"
) -> str:
    """DuckDB mirror of :func:`kmeans_cluster_sizes` (see the CTE builder
    for the exactness argument)."""
    return f"""
WITH {sql_kmeans_assignment_ctes(k, dim, table, id_col)},
i1 AS (SELECT c1 AS cluster, COUNT(*) AS n_iter1 FROM joined GROUP BY 1),
i2 AS (SELECT c2 AS cluster, COUNT(*) AS n_iter2,
              SUM(CASE WHEN c1 = c2 THEN 1 ELSE 0 END) AS n_stayed
       FROM joined GROUP BY 1)
SELECT CAST(COALESCE(i1.cluster, i2.cluster) AS BIGINT) AS cluster,
       COALESCE(n_iter1, 0) AS n_iter1,
       COALESCE(n_iter2, 0) AS n_iter2,
       CAST(COALESCE(n_stayed, 0) AS BIGINT) AS n_stayed
FROM i1 FULL OUTER JOIN i2 ON i1.cluster = i2.cluster
"""
