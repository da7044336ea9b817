"""Training-data pipeline queries, batch 7 (round 13): learned quality
scoring + the selection-layer capstone.

- ``text_quality_classifier`` — fastText-style linear classifier inference
  (:mod:`functions.classifier`): hashed unigram+bigram features → bucket
  weights → raw margin, map-only and transcendental-free; the query
  surfaces the top-10 and bottom-10 documents by margin (the
  keep/drop extremes a CCNet-class filter acts on).
- ``docs_curation_v4`` — the r12-verdict capstone (ask #4): compose the
  round-12 selection layer end-to-end — quota-capped quality top-k →
  mixture-aware token budgeting → leakage-safe component-atomic split —
  as ONE oracle-checked plan. Each stage is verified alone
  (``docs_quota_topk``, ``docs_token_budget_mix``,
  ``docs_leakage_safe_split``); the composition is what a real pipeline
  runs, and composition is where interface drift hides (the
  curation-v2/v3 lesson).

The reference engine has no curation surface (its host would run these
through SQL); both extend SURVEY §2's LLM-pipeline block.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from duckdb_nats_jetstream_spark import materialize
from duckdb_nats_jetstream_spark.functions import classifier as C
from duckdb_nats_jetstream_spark.tables import read_table

#: Distilled-model dials for the registered classifier query: 64 hashed
#: buckets (well under the literal-weights bound), zero bias (margin sign
#: = prose-vs-junk by construction of the seeded weights).
_CLF_BUCKETS = 64
_CLF_BIAS = 0.0
_CLF_TOPK = 10


def text_quality_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-wide linear-classifier scoring, surfacing the margin-ranked
    top-10 (keep) and bottom-10 (drop) documents. Both extremes plan as
    TakeOrderedAndProject over the same map-only scoring scan — no global
    sort, no shuffle beyond the two k-row driver merges; at 100 TB the
    realistic downstream is a margin threshold filter, which is the same
    single scan minus the top-k."""
    w = C.quality_classifier_weights(_CLF_BUCKETS)
    scored = read_table(spark, sf_dir, "documents").select(
        "doc_id",
        C.linear_margin(F.col("text"), w, _CLF_BIAS).alias("margin"),
    )
    top = (
        scored.orderBy(F.col("margin").desc_nulls_last(), "doc_id")
        .limit(_CLF_TOPK)
        .withColumn("side", F.lit("top"))
    )
    bottom = (
        scored.orderBy(F.col("margin").asc_nulls_last(), "doc_id")
        .limit(_CLF_TOPK)
        .withColumn("side", F.lit("bottom"))
    )
    return top.unionAll(bottom)


def _quality_classifier_sql() -> str:
    w = C.quality_classifier_weights(_CLF_BUCKETS)
    margin = C.sql_linear_margin("text", w, _CLF_BIAS)
    return f"""
WITH scored AS (
  SELECT doc_id, {margin} AS margin FROM documents
),
top AS (
  SELECT doc_id, margin, 'top' AS side
  FROM scored ORDER BY margin DESC NULLS LAST, doc_id LIMIT {_CLF_TOPK}
),
bottom AS (
  SELECT doc_id, margin, 'bottom' AS side
  FROM scored ORDER BY margin ASC NULLS LAST, doc_id LIMIT {_CLF_TOPK}
)
SELECT * FROM top UNION ALL SELECT * FROM bottom
"""


#: Capstone dials. Stage 1 caps any language at 60 of the global
#: length-ranked top-200; stage 2 gives each language its own token
#: allocation ('zh' deliberately unlisted → default 800); measured at
#: sf0.01: every stratum keeps a nonzero strict subset (the cut binds).
_V4_PER_GROUP = 60
_V4_TOPK = 200
_V4_BUDGETS = {"en": 3000, "de": 1200, "es": 1200, "fr": 1000}
_V4_DEFAULT_BUDGET = 800


def docs_curation_v4(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Selection-layer capstone: quota-capped quality top-k (no language
    monopolizes the ranked slice) → mixture-aware token budgeting (each
    language fills its own allocation in quality order, group-restarted
    distributed prefix sum) → leakage-safe split of the SELECTED set
    (near-dup LSH components computed over the kept documents, split
    assignment component-atomic via the salted-md5 hex-threshold trick).

    Scale shape: stage 1 is one group-keyed window + TakeOrderedAndProject;
    stage 2 is the range-chunked prefix sum (no single-partition window)
    — both run over SLIM columns only (doc_id, lang, n_chars, n_tokens):
    shuffling full text bytes through the window and range exchanges
    would dominate at 100 TB, and the kept set is top-k-BOUNDED by
    construction, so stage 3 late-materializes text with a broadcast
    semi-join of the kept ids against the scan (zero text shuffle);
    stage 3's pair join then runs over the already-selected subset — the
    banded self-join shrinks quadratically with the selection, which is
    the right order (split keys are only needed for documents that
    survive selection). Output: (doc_id, lang, n_tokens, cum_tokens,
    grp, split)."""
    from duckdb_nats_jetstream_spark.functions.text import token_count
    from duckdb_nats_jetstream_spark.operators import dedup as D
    from duckdb_nats_jetstream_spark.operators.components import (
        connected_components_bounded,
    )
    from duckdb_nats_jetstream_spark.operators.sampling import (
        quota_topk,
        select_token_budget_by_group,
    )

    raw = read_table(spark, sf_dir, "documents")
    docs = raw.select(
        "doc_id",
        "lang",
        "n_chars",
        token_count(F.col("text")).alias("n_tokens"),
    )
    sel = quota_topk(
        docs, "lang", "n_chars", per_group=_V4_PER_GROUP, topk=_V4_TOPK
    ).drop("grp_rank")
    kept = select_token_budget_by_group(
        sel,
        group_col="lang",
        score_col="n_chars",
        token_col="n_tokens",
        budgets=_V4_BUDGETS,
        default_budget=_V4_DEFAULT_BUDGET,
    )
    # kept is top-k-BOUNDED (≤ _V4_TOPK rows at any corpus size) with two
    # consumers (the text fetch's broadcast side + the final output
    # join): eager materialize.checkpoint so the quota+budget chain over
    # the corpus executes ONCE (without this each consumer re-ran both
    # corpus shuffles — measured 2× the stage-1/2 cost)
    kept = materialize.checkpoint(kept, eager=True)
    kept_text = raw.select("doc_id", "text").join(
        F.broadcast(kept.select("doc_id")), "doc_id"
    )
    pairs = D.minhash_lsh_pairs(kept_text, k=8, band_size=2, threshold=0.2)
    # kept is ≤ _V4_TOPK rows AT ANY CORPUS SCALE (quota_topk's limit), so
    # its near-dup pair list is ≤ C(_V4_TOPK, 2) by construction — the
    # bounded union-find fast path replaces the iterative checkpoint-per-
    # round lifecycle that ran corpus-scale machinery over ≤ 200 vertices
    # (r13 verdict ask #4; §1.2 pass elimination). max_edges pins the
    # construction bound fail-loud.
    comp = connected_components_bounded(
        pairs, "id_a", "id_b",
        max_edges=_V4_TOPK * (_V4_TOPK - 1) // 2,
    )
    grp = F.coalesce(F.col("component"), F.col("doc_id"))
    h = F.md5(F.concat(F.lit("split:"), grp.cast("string")))
    split = (
        F.when(h < F.lit("cc"), F.lit("train"))
        .when(h < F.lit("e6"), F.lit("val"))
        .otherwise(F.lit("test"))
    )
    return (
        kept.join(comp, "doc_id", "left")
        .select(
            "doc_id",
            "lang",
            "n_tokens",
            "cum_tokens",
            grp.alias("grp"),
            split.alias("split"),
        )
    )


def _curation_v4_sql() -> str:
    from duckdb_nats_jetstream_spark.functions.text import sql_token_count
    from duckdb_nats_jetstream_spark.operators.retrieval import _sql_str
    from duckdb_nats_jetstream_spark.queries.pipeline import (
        _dedup_components_sql,
    )

    cases = " ".join(
        f"WHEN {_sql_str(g)} THEN {b}" for g, b in sorted(_V4_BUDGETS.items())
    )
    # the pair/component chain is the VERIFIED oracle shape of
    # docs_leakage_safe_split, spliced over the kept subset via the
    # parametrized source (pipeline._dedup_components_sql(source=...))
    comp = _dedup_components_sql(source="kept").replace("ORDER BY doc_id", "")
    return f"""
WITH ranked AS (
  SELECT doc_id, lang, n_chars, text,
         CAST({sql_token_count('text')} AS BIGINT) AS n_tokens,
         CAST(row_number() OVER (PARTITION BY lang
                                 ORDER BY n_chars DESC NULLS LAST, doc_id)
              AS BIGINT) AS grp_rank
  FROM documents
),
sel AS (
  SELECT doc_id, lang, n_chars, text, n_tokens
  FROM ranked WHERE grp_rank <= {_V4_PER_GROUP}
  ORDER BY n_chars DESC NULLS LAST, doc_id LIMIT {_V4_TOPK}
),
cum AS (
  SELECT doc_id, lang, text, n_tokens,
         CAST(SUM(n_tokens) OVER (PARTITION BY lang
                                  ORDER BY n_chars DESC NULLS LAST, doc_id
                                  ROWS BETWEEN UNBOUNDED PRECEDING
                                           AND CURRENT ROW)
              AS BIGINT) AS cum_tokens
  FROM sel
),
kept AS (
  SELECT * FROM cum
  WHERE cum_tokens <= (CASE lang {cases} ELSE {_V4_DEFAULT_BUDGET} END)
),
comp AS (SELECT doc_id, component FROM ({comp}) t)
SELECT k.doc_id, k.lang, k.n_tokens, k.cum_tokens,
       coalesce(c.component, k.doc_id) AS grp,
       CASE WHEN md5('split:' || CAST(coalesce(c.component, k.doc_id) AS VARCHAR)) < 'cc'
              THEN 'train'
            WHEN md5('split:' || CAST(coalesce(c.component, k.doc_id) AS VARCHAR)) < 'e6'
              THEN 'val'
            ELSE 'test' END AS split
FROM kept k LEFT JOIN comp c USING (doc_id)
"""


#: DSIR dials: 'src0' is the curated target domain; 256 hashed buckets;
#: top-50 of the raw pool. Weight signal on the synthetic fixtures is
#: arbitrary — the fit-two-LMs → score-one-scan → top-k machinery is
#: what the query verifies.
_DSIR_TARGET_SRC = "src0"
_DSIR_BUCKETS = 256
_DSIR_TOPK = 50


def docs_dsir_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR-style domain-targeted selection: the 50 raw-pool documents
    whose hashed n-gram profile is most target-like under the whole-bit
    importance weight (target domain = source 'src0'; see
    :mod:`operators.dsir` for the integer formulation and scale shape)."""
    from duckdb_nats_jetstream_spark.operators.dsir import dsir_select

    docs = read_table(spark, sf_dir, "documents")
    return dsir_select(
        docs,
        is_target=F.col("source") == _DSIR_TARGET_SRC,
        topk=_DSIR_TOPK,
        n_buckets=_DSIR_BUCKETS,
        keep_cols=["source", "lang"],
    )


def _dsir_sql() -> str:
    from duckdb_nats_jetstream_spark.operators.dsir import sql_dsir_select
    from duckdb_nats_jetstream_spark.operators.retrieval import _sql_str

    return sql_dsir_select(
        f"source = {_sql_str(_DSIR_TARGET_SRC)}",
        topk=_DSIR_TOPK,
        n_buckets=_DSIR_BUCKETS,
        keep_cols=["source", "lang"],
    )


def text_bigram_bits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bigram-LM fluency scoring (KenLM-class perplexity filter,
    CCNet-style, in the package's whole-bit integer formulation): build a
    bigram model from the REFERENCE half of the corpus (even doc ids),
    score the held-out half token-by-token —

        seen bigram:   bits = floor(log2(c(w1) / c(w1 w2)))
        unseen bigram: bits = floor(log2(total / c(w2))) + 1   (backoff,
                       stupid-backoff α quantized to one whole bit;
                       unseen unigram scores against count 1)

    — and report per-doc totals + mean. A held-out split (unlike the
    self-scoring ``text_unigram_bits``) is what makes the backoff arm
    real: the scored half contains bigrams the model never saw, exactly
    the production shape (model from a reference corpus, score the
    candidate pool). All counts/bits are int64 (``length(bin(x)) - 1``);
    the mean is one IEEE division — bit-exact cross-engine.

    Scale shape: two model aggregations (unigram + bigram vocab,
    map-side combined), then the scoring joins run CO-KEYED on the
    token keys (w1,w2)/(w2) — the standard distributed LM-scoring
    shuffle — and one per-doc aggregation. No driver-side state; the
    model lives in shuffled relations, never in a broadcast (a bigram
    vocabulary scales with the corpus)."""
    from duckdb_nats_jetstream_spark.functions.text import tokens

    docs = read_table(spark, sf_dir, "documents")
    tok = docs.select("doc_id", tokens(F.col("text")).alias("t"))
    n = F.size(F.col("t"))
    bigrams = F.when(
        n >= 2,
        F.transform(
            F.sequence(F.lit(1), n - 1),
            lambda i: F.struct(
                F.element_at(F.col("t"), i).alias("w1"),
                F.element_at(F.col("t"), i + 1).alias("w2"),
            ),
        ),
    ).otherwise(F.array().cast("array<struct<w1:string,w2:string>>"))

    model_tok = tok.filter(F.col("doc_id") % 2 == 0)
    uni = (
        model_tok.select(F.explode("t").alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).cast("long").alias("c1"))
    )
    total = uni.agg(F.sum("c1").alias("total"))
    big = (
        model_tok.select(F.explode(bigrams).alias("bg"))
        .select("bg.w1", "bg.w2")
        .groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).cast("long").alias("c2"))
    )

    scored = (
        tok.filter(F.col("doc_id") % 2 == 1)
        .select("doc_id", F.explode(bigrams).alias("bg"))
        .select("doc_id", "bg.w1", "bg.w2")
        .join(big, ["w1", "w2"], "left")
        .join(uni.select(F.col("w").alias("w1"), F.col("c1").alias("c1w1")), "w1", "left")
        .join(uni.select(F.col("w").alias("w2"), F.col("c1").alias("c1w2")), "w2", "left")
        .crossJoin(F.broadcast(total))
        .select(
            "doc_id",
            F.when(
                F.col("c2").isNotNull(),
                F.length(F.bin(F.expr("c1w1 div c2"))) - 1,
            )
            .otherwise(
                F.length(F.bin(F.expr("total div coalesce(c1w2, 1L)"))) - 1 + F.lit(1)
            )
            .cast("long")
            .alias("bits"),
        )
    )
    return (
        scored.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_bigrams"),
            F.sum("bits").cast("long").alias("bits_total"),
        )
        .select(
            "doc_id",
            "n_bigrams",
            "bits_total",
            (
                F.col("bits_total").cast("double")
                / F.col("n_bigrams").cast("double")
            ).alias("mean_bits"),
        )
    )


def _bigram_bits_sql() -> str:
    from duckdb_nats_jetstream_spark.functions.text import sql_tokens

    t = sql_tokens("text")
    return f"""
WITH tok AS (SELECT doc_id, {t} AS t FROM documents),
bg AS (
  SELECT doc_id,
         unnest(list_transform(range(1, len(t)),
                               i -> struct_pack(w1 := t[i], w2 := t[i + 1])))
           AS s
  FROM tok
),
pairs AS (SELECT doc_id, s.w1 AS w1, s.w2 AS w2 FROM bg),
uni AS (
  SELECT unnest(t) AS w FROM tok WHERE doc_id % 2 = 0
),
unic AS (SELECT w, CAST(count(*) AS BIGINT) AS c1 FROM uni GROUP BY w),
tot AS (SELECT CAST(sum(c1) AS BIGINT) AS total FROM unic),
bigc AS (
  SELECT w1, w2, CAST(count(*) AS BIGINT) AS c2
  FROM pairs WHERE doc_id % 2 = 0 GROUP BY w1, w2
),
scored AS (
  SELECT p.doc_id,
         CAST(CASE WHEN b.c2 IS NOT NULL
                   THEN length(bin(u1.c1 // b.c2)) - 1
                   ELSE length(bin(tot.total // coalesce(u2.c1, 1))) - 1 + 1
              END AS BIGINT) AS bits
  FROM pairs p
  LEFT JOIN bigc b USING (w1, w2)
  LEFT JOIN unic u1 ON u1.w = p.w1
  LEFT JOIN unic u2 ON u2.w = p.w2
  CROSS JOIN tot
  WHERE p.doc_id % 2 = 1
)
SELECT doc_id,
       CAST(count(*) AS BIGINT) AS n_bigrams,
       CAST(sum(bits) AS BIGINT) AS bits_total,
       CAST(sum(bits) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS mean_bits
FROM scored GROUP BY doc_id
"""


QUERIES = {
    "text_quality_classifier": (
        text_quality_classifier,
        _quality_classifier_sql,
    ),
    "docs_curation_v4": (docs_curation_v4, _curation_v4_sql),
    "docs_dsir_select": (docs_dsir_select, _dsir_sql),
    "text_bigram_bits": (text_bigram_bits, _bigram_bits_sql),
}
