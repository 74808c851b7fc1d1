"""Similar-campaign recommendation → audience count (SURVEY §3.2,
camp_vec_rcmn.py end-to-end).

Stages, re-expressed Spark-first:
  L4 query expansion (5 probes)      → driver-side fake/LLM call
  per-probe KNN + score fusion (V5)  → one distributed plan (multiprobe_fusion)
  dynamic threshold (A8)             → mean + 0.5·stddev_samp window over the
                                       fused top-n, collected in the SAME
                                       action as the top-n rows
  condition fetch for top-5 (A4/J6)  → one gather: the top-n's orders and
                                       customer rows (IN-list filters, union)
  interval mining (A10)              → driver sweep (sweep_segments), int +
                                       date flavors, over the gathered rows
  SQL codegen (S7)                   → plans.codegen → ANSI SQL
  audience count (U1+A9)             → spark.sql COUNT(DISTINCT) over UNION

Every relation after the KNN is bounded by top_n × orders per customer, so
each crosses to the driver once and is mined there, as the reference does
(camp_vec_rcmn.py:94-186); the corpus-sized work stays in Spark.
"""

from __future__ import annotations

import datetime

import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..llm.clients import (
    EmbeddingClient,
    FakeEmbeddingClient,
    FakeLLMClient,
    LLMClient,
)
from ..operators.knn import multiprobe_fusion, probe_table
from ..operators.sweepline import sweep_segments
from ..plans.codegen import Condition, audience_count_sql
from ..sources.catalog import load_table
from .ingest import build_campaign_vectors


def _mined_bounds(starts, ends, weights, thr):
    """(lo, hi) over the sweep segments whose weight reaches ``thr``, or
    None when no segment does."""
    seg_start, seg_end, weight = sweep_segments(starts, ends, weights)
    hit = weight >= thr
    return (int(seg_start[hit].min()), int(seg_end[hit].max())) if hit.any() else None


def recommend_similar_and_count(
    spark: SparkSession,
    sf_dir: str,
    user_query: str,
    llm: LLMClient | None = None,
    embedder: EmbeddingClient | None = None,
    campaign_vectors: DataFrame | None = None,
    k: int = 10,
    top_n: int = 5,
) -> dict:
    """Returns {"recommendations": DataFrame, "conditions": list[Condition],
    "audience_sql": str, "audience_count": DataFrame}."""
    llm = llm or FakeLLMClient()
    embedder = embedder or FakeEmbeddingClient()
    camp = (
        campaign_vectors
        if campaign_vectors is not None
        else build_campaign_vectors(spark, sf_dir, embedder)
    )

    # L4 + V6: expand and embed driver-side (5 tiny rows), then one
    # distributed fusion plan (the reference loops 5 sequential KNN queries).
    probes = probe_table(spark, embedder.embed_batch(llm.expand_query(user_query, 5)))
    top = multiprobe_fusion(
        camp, probes, k=k, top_n=top_n, n_probes_norm=5, corpus_id="camp_id"
    )

    # A8 dynamic threshold over the fused scores (mean + 0.5σ, ddof=1),
    # computed by Spark's aggregates as a window over the single-partition
    # top-n, so the top-n and the threshold are ONE action.
    whole = Window.partitionBy()
    rows = top.withColumn(
        "thr",
        F.avg("fused_score").over(whole)
        + 0.5 * F.coalesce(F.stddev_samp("fused_score").over(whole), F.lit(0.0)),
    ).collect()
    thr = rows[0].thr if rows else 0.0
    score = {r.camp_id: r.fused_score for r in rows}
    recs = spark.createDataFrame(
        pd.DataFrame([r[:4] for r in rows], columns=top.columns),
        "camp_id long, n_hits long, fused_score double, match_pct double",
    )

    # J6: conditions of the recommended campaigns = their order history and
    # segment, gathered in one collect; the interval ends are computed by
    # Spark (the audience SQL compares against Spark's own casts).
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    ids = list(score)
    epoch = F.lit("1970-01-01").cast("date")
    gathered = (
        orders.filter(F.col("o_custkey").isin(ids))
        .select(
            F.col("o_custkey").alias("id"),
            (F.col("o_totalprice") * 0.9).cast("long").alias("lo"),
            (F.col("o_totalprice") * 1.1).cast("long").alias("hi"),
            F.datediff(F.col("o_orderdate").cast("date"), epoch).alias("day"),
        )
        .unionByName(
            cust.filter(F.col("c_custkey").isin(ids)).select(
                F.col("c_custkey").alias("id"), F.col("c_mktsegment").alias("seg")
            ),
            allowMissingColumns=True,
        )
        .collect()
    )
    ords = [r for r in gathered if r.seg is None]

    # A7: string conditions — segment scores summed over campaigns (a
    # sequential fold, as every sum compared with thr).
    seg_score: dict = {}
    for r in gathered:
        if r.seg is not None:
            seg_score[r.seg] = seg_score.get(r.seg, 0.0) + score[r.id]
    segments = sorted(s for s, v in seg_score.items() if v > thr * 0.2)

    # A10 integer sweep: totalprice bands weighted by campaign similarity;
    # date sweep: 30-day order-date windows (epoch days) weighted the same.
    w = [score[r.id] for r in ords]
    int_b = _mined_bounds([r.lo for r in ords], [r.hi for r in ords], w, thr)
    date_b = _mined_bounds([r.day for r in ords], [r.day + 30 for r in ords], w, thr)

    # S7 codegen → U1+A9 audience count, executed by spark.sql (and equally
    # valid DuckDB — the string is its own oracle).
    conds: list[Condition] = []
    slices: list[tuple[str, str, list[Condition]]] = []
    if int_b is not None:
        conds.append(Condition("o_totalprice", "between", int_b))
    if date_b is not None:
        lo, hi = (datetime.date(1970, 1, 1) + datetime.timedelta(days=d) for d in date_b)
        conds.append(
            Condition("o_orderdate", "between", (f"{lo} 00:00:00", f"{hi} 23:59:59"))
        )
    if conds:
        slices.append(("orders", "o_custkey", conds))
    if segments:
        slices.append(
            ("customer", "c_custkey", [Condition("c_mktsegment", "in", tuple(segments))])
        )

    sql = audience_count_sql(slices)
    orders.createOrReplaceTempView("orders")
    cust.createOrReplaceTempView("customer")
    count_df = spark.sql(sql)

    return {
        "recommendations": recs,
        "conditions": conds,
        "audience_sql": sql,
        "audience_count": count_df,
    }
