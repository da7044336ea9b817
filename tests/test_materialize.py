"""materialize.scope: the checkpoint runs under the scope's name as its
Spark job description, the caller's description comes back afterwards,
and the scope's caches are released on exit."""

from __future__ import annotations

from duckdb_nats_jetstream_spark import materialize

_DESCRIPTION = "spark.job.description"


def test_scope_checkpoint_names_its_job(spark):
    sc = spark.sparkContext
    df = spark.range(10).selectExpr("id * 2 AS x")
    cls = type(df)
    orig = cls.localCheckpoint
    seen = []

    def spy(self, *args, **kwargs):
        seen.append(sc.getLocalProperty(_DESCRIPTION))
        return orig(self, *args, **kwargs)

    sc.setJobDescription("caller")
    cls.localCheckpoint = spy
    try:
        with materialize.scope("my_operator") as m:
            out = m.checkpoint(m.cache(df))
        assert seen == ["my_operator"]
        assert sc.getLocalProperty(_DESCRIPTION) == "caller"
    finally:
        cls.localCheckpoint = orig
        sc.setLocalProperty(_DESCRIPTION, None)
    assert sorted(r.x for r in out.collect()) == list(range(0, 20, 2))
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()
