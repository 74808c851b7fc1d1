"""Physical-plan regression guards: the scale-critical plan properties the
round audits verify by hand (broadcast-only dims on TPC-H shapes, no
CartesianProduct anywhere, whole-stage codegen present) asserted
mechanically, so a refactor that silently degrades a broadcast to a
sort-merge join or sneaks in an un-hinted cross product fails CI before it
fails at 100 TB."""

import re

import pytest

SF_DIR_DEFAULT = None  # resolved by conftest sf_dir fixture


def _executed_plan(df):
    df.collect()
    return df._jdf.queryExecution().executedPlan().toString()


JOIN_RE = re.compile(
    r"(BroadcastHashJoin|SortMergeJoin|ShuffledHashJoin|"
    r"BroadcastNestedLoopJoin|CartesianProduct)"
)

# dim-heavy TPC-H shapes: every join must be broadcast at fixture scale
ALL_BROADCAST = ["r_q3_shipping_priority", "r_q5_regional_volume", "r_q9_product_profit"]
# queries where an explicit small-side broadcast is part of the design
NO_CARTESIAN = ALL_BROADCAST + [
    "v_cosine_topk",
    "t_bm25_topk",
    "t_tfidf_terms",
    "w_cohort_retention",
    "j_asof_purchase_view",
    "d_minhash_lsh_pairs",
]


@pytest.mark.parametrize("name", ALL_BROADCAST)
def test_dim_joins_all_broadcast(spark, sf_dir, name):
    """Counts the AQE FINAL plan only (the CLAUDE.md Initial-Plan rule):
    after the round-11 broadcast-hint audit removed F.broadcast from
    SF-proportional relations (customer/part/supplier), these joins are
    broadcast at fixture scale because the RUNTIME sizes qualify (static
    plan may say SMJ; AQE converts) — which is the scale-correct shape:
    at 100x the same code degrades those joins to shuffle instead of
    force-broadcasting a 100x-grown relation."""
    from vector_search_spark.plans.queries import QUERIES

    plan = _final_plan(QUERIES[name].fn(spark, sf_dir))
    joins = JOIN_RE.findall(plan)
    assert joins, f"{name}: no joins found in executed plan"
    bad = [j for j in joins if j not in ("BroadcastHashJoin",)]
    assert not bad, f"{name}: non-broadcast joins {bad}"


@pytest.mark.parametrize("name", NO_CARTESIAN)
def test_no_cartesian_product_and_codegen(spark, sf_dir, name):
    from vector_search_spark.plans.queries import QUERIES

    plan = _executed_plan(QUERIES[name].fn(spark, sf_dir))
    assert "CartesianProduct" not in plan, f"{name}: CartesianProduct in plan"
    assert re.search(r"WholeStageCodegen|\*\(\d+\)", plan), (
        f"{name}: no whole-stage codegen span"
    )


# round-5 plan pins: the redundant-execution bugs this round fixed must not
# come back — each query's executed plan is held to its designed scan/join
# budget (counting only AQE's Final Plan section).
def _final_plan(df):
    return _executed_plan(df).split("== Initial Plan ==")[0]


def test_matryoshka_single_pass(spark, sf_dir):
    """v_matryoshka_knn must stay one scored pass: 1 broadcast cross join,
    <= 2 embeddings scans (corpus + probe filter) — it regressed to 7
    scans in round 4 when the coarse/full branches re-executed."""
    from vector_search_spark.plans.queries import QUERIES

    plan = _final_plan(QUERIES["v_matryoshka_knn"].fn(spark, sf_dir))
    assert plan.count("Scan parquet") <= 2, plan
    joins = JOIN_RE.findall(plan)
    assert joins == ["BroadcastNestedLoopJoin"], joins


def test_pq_adc_serves_from_codes(spark, sf_dir):
    """v_pq_adc_knn's returned plan must score from the checkpointed codes
    relation: zero joins, zero parquet scans (the encode ran at build
    time), one exchange for the per-probe top-10."""
    from vector_search_spark.plans.queries import QUERIES

    plan = _final_plan(QUERIES["v_pq_adc_knn"].fn(spark, sf_dir))
    assert JOIN_RE.findall(plan) == [], plan
    assert plan.count("Scan parquet") == 0, plan


def test_ivf_pq_serves_from_codes(spark, sf_dir):
    """v_ivf_pq_knn: same serve contract as PQ-ADC — codes-only scan, no
    joins; bucket membership is a literal predicate."""
    from vector_search_spark.plans.queries import QUERIES

    plan = _final_plan(QUERIES["v_ivf_pq_knn"].fn(spark, sf_dir))
    assert JOIN_RE.findall(plan) == [], plan
    assert plan.count("Scan parquet") == 0, plan


# round-6 plan pins


def test_temporal_bucket_join_no_nested_loop(spark, sf_dir):
    # the entire point of the bucketize rewrite: the band predicate must
    # ride an EQUI-join (hash/broadcast), never a BroadcastNestedLoopJoin
    from vector_search_spark.plans.queries import QUERIES

    plan = _executed_plan(QUERIES["j_temporal_bucket_join"].fn(spark, sf_dir))
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "CartesianProduct" not in plan
    assert re.search(r"BroadcastHashJoin|ShuffledHashJoin|SortMergeJoin", plan)


def test_hamming_knn_single_corpus_scan(spark, sf_dir):
    # signature pack + xor/popcount must run in one corpus scan with the
    # 3-row probe side broadcast; a second embeddings scan or an SMJ means
    # the packing got duplicated or the broadcast was lost
    from vector_search_spark.plans.queries import QUERIES

    plan = _executed_plan(QUERIES["v_hamming_binary_knn"].fn(spark, sf_dir))
    final = plan.split("== Initial Plan ==")[0]
    assert final.count("Scan parquet") <= 2, final
    assert "SortMergeJoin" not in final, final


def test_bloom_decontaminate_no_join_before_prefilter(spark, sf_dir):
    # the corpus side must reach the bloom bit-test as a map-side filter:
    # the only joins in the plan are the 1-row bloom broadcast and the
    # exact-verify broadcast join over candidates
    from vector_search_spark.plans.queries import QUERIES

    plan = _executed_plan(QUERIES["d_decontaminate_bloom"].fn(spark, sf_dir))
    final = plan.split("== Initial Plan ==")[0]
    joins = JOIN_RE.findall(final)
    bad = [
        j for j in joins
        if j not in ("BroadcastHashJoin", "BroadcastNestedLoopJoin")
    ]
    assert not bad, f"non-broadcast joins in bloom plan: {bad}"


def test_bucketed_join_no_shuffle(spark, sf_dir):
    # the bucketed tables' whole reason to exist: with broadcast disabled,
    # the custkey join must carry ZERO exchanges (bucket co-location) —
    # the only exchange in the full plan is the final segment aggregate
    from vector_search_spark.plans.queries import QUERIES

    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        df = QUERIES["j_bucketed_colocated"].fn(spark, sf_dir)
        plan = _executed_plan(df).split("== Initial Plan ==")[0]
        join_part = plan.split("HashAggregate")[-1]  # below the final agg
        assert "Exchange" not in join_part, join_part
        assert "SortMergeJoin" in plan
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)


def test_partition_prune_reads_one_day(spark, sf_dir):
    # the partitioned layout's contract: the single-day filter must reach
    # the scan as a PartitionFilter and prune to one directory
    from vector_search_spark.plans.queries import QUERIES

    df = QUERIES["pipe_partition_prune"].fn(spark, sf_dir)
    plan = _executed_plan(df).split("== Initial Plan ==")[0]
    m = re.search(r"PartitionFilters: \[([^\]]*)\]", plan)
    assert m and "event_date" in m.group(1), plan
    # pruning must CONSUME the predicate: if a post-scan Filter still
    # carries event_date, the scan read every partition and re-filtered
    assert not re.search(r"Filter [^\n]*event_date", plan), plan


def test_sorted_neighborhood_no_join_single_scan(spark, sf_dir):
    # SNM's entire value: neighbor pairing rides the in-block WINDOW, so
    # the plan must contain NO join operator of any kind and exactly one
    # documents scan — a join appearing means someone rewrote the pairing
    # as a self-join and reintroduced the shuffle SNM exists to avoid
    from vector_search_spark.plans.queries import QUERIES

    plan = _executed_plan(QUERIES["d_sorted_neighborhood"].fn(spark, sf_dir))
    final = plan.split("== Initial Plan ==")[0]
    assert not JOIN_RE.search(final), final
    assert final.count("Scan parquet") == 1, final


def test_skew_salted_join_stays_equi(spark, sf_dir):
    # the salted key (suppkey, salt) must remain a hash-joinable equi key:
    # no nested-loop or cartesian fallback, and the aggregate semantics
    # are oracle-pinned elsewhere — this guards the physical shape
    from vector_search_spark.plans.queries import QUERIES

    plan = _executed_plan(QUERIES["j_skew_salted_join"].fn(spark, sf_dir))
    final = plan.split("== Initial Plan ==")[0]
    assert "CartesianProduct" not in final, final
    assert "BroadcastNestedLoopJoin" not in final, final
    assert re.search(r"BroadcastHashJoin|ShuffledHashJoin|SortMergeJoin", final)


def test_gap_fill_no_self_join(spark, sf_dir):
    # the union+bidirectional-window formulation exists to avoid the naive
    # per-grid-point probe join; the executed plan must be join-free and
    # single-shuffle-per-side (a join means someone rewrote bracketing as
    # a range self-join, which is quadratic per user at scale)
    from vector_search_spark.plans.queries import QUERIES

    plan = _executed_plan(QUERIES["w_gap_fill_interpolate"].fn(spark, sf_dir))
    final = plan.split("== Initial Plan ==")[0]
    assert not JOIN_RE.search(final), final


def test_ohlc_bars_single_exchange(spark, sf_dir):
    # the docstring's load-bearing claim: both row_number windows AND the
    # following groupBy cluster on (user_id, day), so the executed plan
    # carries exactly ONE shuffle — a second Exchange means the aggregate
    # stopped reusing the window's partitioning
    from vector_search_spark.plans.queries import QUERIES

    plan = _executed_plan(QUERIES["w_ohlc_bars"].fn(spark, sf_dir))
    final = plan.split("== Initial Plan ==")[0]
    assert final.count("Exchange") == 1, final


def test_zorder_skipping_prunes_z_prefix_partitions(spark, sf_dir):
    # the z-order layout's contract: the zp superset range must reach the
    # scan as a PartitionFilter (directory pruning), not a post-scan
    # re-filter, and it must actually prune (box zp-range [2,3] out of
    # the ~27 directories the fixture's z domain produces)
    from vector_search_spark.plans.queries import QUERIES

    df = QUERIES["pipe_zorder_skipping"].fn(spark, sf_dir)
    plan = _executed_plan(df).split("== Initial Plan ==")[0]
    m = re.search(r"PartitionFilters: \[([^\]]*)\]", plan)
    assert m and "zp" in m.group(1), plan
    assert not re.search(r"Filter [^\n]*zp", plan), plan
    # the z row-group-skip predicate must reach the scan as a DataFilter
    # (and thence parquet PushedFilters, where the within-partition sort
    # makes min/max stats selective) — toString truncates PushedFilters,
    # so pin the untruncated DataFilters prefix
    assert re.search(r"DataFilters: \[[^\]]*\(z#\d+L? >= 128\)", plan), plan


def test_inverted_index_serve_prunes_term_buckets(spark, sf_dir):
    # the posting-list index's contract: the conjunctive serve must read
    # only the probe terms' hash-bucket directories — the bucket IN (...)
    # predicate has to land in PartitionFilters, not a post-scan Filter
    from vector_search_spark.plans.queries import QUERIES

    df = QUERIES["t_inverted_index_search"].fn(spark, sf_dir)
    plan = _executed_plan(df).split("== Initial Plan ==")[0]
    # don't assert the literal 'IN' spelling: when both probe terms hash
    # to one bucket, OptimizeIn rewrites `bucket IN (b)` to `bucket = b`
    # — pruning still happens, only the operator text changes
    m = re.search(r"PartitionFilters: \[([^\]]*bucket[^\]]*)\]", plan)
    assert m, plan
    assert not re.search(r"Filter [^\n]*bucket", plan), plan


def test_parquet_scan_units_counts_row_groups(spark, sf_dir, tmp_path):
    """parquet row groups ARE the max scan parallelism (a one-row-group
    file puts every row in one task regardless of plan — SCALING.md
    round 9); utils.parquet_scan_units must report them metadata-only
    for a file, a dir, and a glob."""
    from vector_search_spark.utils import parquet_scan_units

    # the base fixture table is one file
    nf, rg = parquet_scan_units(f"{sf_dir}/documents.parquet")
    assert nf == 1 and rg >= 1
    # a bounded-block-size write yields multiple row groups in one file
    out = str(tmp_path / "multi")
    spark.range(300_000).selectExpr(
        "id", "repeat('x', 64) as pad"
    ).coalesce(1).write.mode("overwrite").option(
        "parquet.block.size", 1024 * 1024
    ).parquet(out)
    nf_d, rg_d = parquet_scan_units(out)
    assert nf_d >= 1 and rg_d > nf_d  # dir form; bounded groups split it
    nf_g, rg_g = parquet_scan_units(out + "/*.parquet")
    assert (nf_g, rg_g) == (nf_d, rg_d)  # glob form agrees
    # partitioned layouts (shard=*/ subdirs, the graph_write_index shape)
    # keep data files one level down — the dir branch must recurse
    # (ADVICE r10: a top-level-only glob read as (0, 0))
    from pyspark.sql import functions as F

    part = str(tmp_path / "parted")
    spark.range(1000).withColumn(
        "shard", F.pmod("id", F.lit(4))
    ).write.mode("overwrite").partitionBy("shard").parquet(part)
    nf_p, rg_p = parquet_scan_units(part)
    assert nf_p >= 4 and rg_p >= 4
    # and an empty match is an ERROR, never a (0, 0) "layout fact"
    import pytest as _pytest

    with _pytest.raises(FileNotFoundError):
        parquet_scan_units(str(tmp_path / "nothing_here"))


@pytest.mark.parametrize("family", ["embedding", "minhash"])
def test_embedding_probe_all_broadcast_no_cartesian(spark, sf_dir, family):
    """The persisted-index probe's joins must all be broadcast with the
    HINTED side the delivery-sized one (banded batch, candidate list) —
    a corpus-sided broadcast would OOM at 100 TB where the degraded
    shape is a shuffle. Pin, for both index families (one shared probe):
    3 BroadcastHashJoins, no cartesian, no sort-merge at fixture scale
    (round-13 plan audit shape)."""
    from vector_search_spark.plans import queries

    build = getattr(queries, f"{family}_index_build")
    serve = getattr(queries, f"{family}_index_serve")
    path = build(spark, sf_dir)
    plan = _final_plan(serve(spark, sf_dir, path))
    joins = JOIN_RE.findall(plan)
    assert joins and set(joins) == {"BroadcastHashJoin"}, joins
    assert "CartesianProduct" not in plan
    assert re.search(r"WholeStageCodegen|\*\(\d+\)", plan), "no codegen span"


def test_knn_topk_single_exchange(spark, sf_dir):
    # row_number() <= k already gets a partial WindowGroupLimit before its
    # shuffle, so the per-probe top-k needs exactly ONE shuffle Exchange
    # below its Window; a second one is a redundant local pre-window
    from pyspark.sql import functions as F

    from vector_search_spark.operators.knn import knn
    from vector_search_spark.sources.catalog import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    probes = emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("probe_id"), F.col("embedding").alias("probe_vec")
    )
    final = _final_plan(knn(emb, probes, k=5))
    below = final.split("+- Window [row_number()", 1)[1]
    assert len(re.findall(r"(?<!Broadcast)Exchange ", below)) == 1, final
    assert "WindowGroupLimit" in below and "Partial" in below, final
