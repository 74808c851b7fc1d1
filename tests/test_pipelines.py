"""End-to-end pipeline tests with deterministic fakes (SURVEY §5.2.4)."""

from pyspark.sql import functions as F

from vector_search_spark.llm.clients import FakeEmbeddingClient, FakeLLMClient
from vector_search_spark.pipelines.ingest import (
    build_campaign_vectors,
    build_condition_vectors,
)
from vector_search_spark.pipelines.nl_targeting import nl_targeting_conditions
from vector_search_spark.pipelines.recommend import recommend_similar_and_count
from vector_search_spark.plans.codegen import (
    Condition,
    audience_count_sql,
    clean_template,
    fill_template,
)


def test_fake_embedding_deterministic():
    c = FakeEmbeddingClient()
    a = c.embed_batch(["hello", "hello", "world"])
    assert a[0] == a[1] != a[2]
    assert len(a[0]) == 64
    assert abs(sum(x * x for x in a[0]) - 1.0) < 1e-9


def test_condition_vectors_shape(spark, sf_dir):
    df = build_condition_vectors(spark, sf_dir)
    rows = df.count()
    n_conds = df.select("cond_id").distinct().count()
    assert rows == n_conds * 3  # 3 paraphrases each
    dim = df.select(F.size("cond_vec").alias("d")).first().d
    assert dim == 64


def test_campaign_vectors_one_per_entity(spark, sf_dir):
    df = build_campaign_vectors(spark, sf_dir)
    assert df.count() == df.select("camp_id").distinct().count()


def test_nl_targeting_positive_and_negative(spark, sf_dir, tmp_path):
    cond_vec = build_condition_vectors(spark, sf_dir)
    out = nl_targeting_conditions(
        spark, sf_dir, "세그먼트=BUILDING 국가=NATION_5 not_국가=NATION_7",
        condition_vectors=cond_vec,
    ).collect()
    found = {(r.cond_nm, r.code_nm): r.max_score for r in out}
    assert found[("세그먼트", "BUILDING")] == 1.0  # exact sentence match
    assert found[("국가", "NATION_5")] == 1.0
    # negative subtraction removes a positive hit when attr+code collide
    out2 = nl_targeting_conditions(
        spark, sf_dir, "국가=NATION_5 not_국가=NATION_5",
        condition_vectors=cond_vec,
    ).collect()
    assert not any(r.code_nm == "NATION_5" for r in out2)
    # one warm call's budget over stored condition vectors, with the
    # caller's collect: the threshold aggregate runs once, for both
    # polarities, and the result is a local relation
    stored = build_condition_vectors(
        spark, sf_dir, out_path=str(tmp_path / "cond_vec")
    )

    def call():
        return nl_targeting_conditions(
            spark, sf_dir, "국가=NATION_5 not_국가=NATION_5",
            condition_vectors=stored,
        ).collect()

    assert sorted(call()) == sorted(out2)
    sc = spark.sparkContext
    sc.setJobGroup("targeting_budget", "targeting_budget")
    try:
        out3 = call()
    finally:
        sc.setJobGroup(None, None)
    assert sorted(out3) == sorted(out2)
    jobs = len(sc.statusTracker().getJobIdsForGroup("targeting_budget"))
    assert jobs <= 3, jobs


def test_recommend_end_to_end_deterministic(spark, sf_dir):
    camp = build_campaign_vectors(spark, sf_dir).cache()
    a = recommend_similar_and_count(spark, sf_dir, "프리미엄 고객", campaign_vectors=camp)
    cnt = a["audience_count"].collect()[0].audience_cnt
    # one warm call's budget: the KNN action, the two source loads, the
    # condition gather and the audience count, with the caller's collects
    sc = spark.sparkContext
    persisted = sc._jsc.getPersistentRDDs().size()
    sc.setJobGroup("recommend_budget", "recommend_budget")
    try:
        b = recommend_similar_and_count(spark, sf_dir, "프리미엄 고객", campaign_vectors=camp)
        recs = b["recommendations"].collect()
        cnt_b = b["audience_count"].collect()[0].audience_cnt
    finally:
        sc.setJobGroup(None, None)
    jobs = len(sc.statusTracker().getJobIdsForGroup("recommend_budget"))
    assert jobs <= 10, jobs
    assert sc._jsc.getPersistentRDDs().size() == persisted
    assert a["audience_sql"] == b["audience_sql"]
    assert "COUNT(DISTINCT cust_id)" in a["audience_sql"]
    assert len(recs) == 5
    assert b["recommendations"].dtypes == [
        ("camp_id", "bigint"), ("n_hits", "bigint"),
        ("fused_score", "double"), ("match_pct", "double"),
    ]
    assert cnt == cnt_b >= 0


def test_codegen_template_cleanup():
    sql = clean_template("SELECT a /* strip\nme */  FROM  t @@MARK@@ WHERE x=1")
    assert sql == "SELECT a FROM t WHERE x=1"
    filled = fill_template(
        "SELECT k FROM t WHERE [c1] AND [c2]", {"c1": "a = 1", "c2": "b = 2"}
    )
    assert filled == "SELECT k FROM t WHERE a = 1 AND b = 2"
    # removed placeholder leaves no dangling AND
    assert (
        fill_template("SELECT k FROM t WHERE [gone] AND x = 1", {})
        == "SELECT k FROM t WHERE x = 1"
    )


def test_codegen_audience_sql_runs_on_both_engines(spark, sf_dir):
    import duckdb

    sql = audience_count_sql(
        [
            ("orders", "o_custkey", [Condition("o_totalprice", "gte", (150000,))]),
            ("customer", "c_custkey",
             [Condition("c_mktsegment", "in", ("BUILDING", "MACHINERY"))]),
        ]
    )
    for t in ("orders", "customer"):
        spark.read.parquet(f"{sf_dir}/{t}.parquet").createOrReplaceTempView(t)
    got_spark = spark.sql(sql).collect()[0].audience_cnt
    con = duckdb.connect()
    for t in ("orders", "customer"):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    got_duck = con.execute(sql).fetchone()[0]
    assert got_spark == got_duck > 0
