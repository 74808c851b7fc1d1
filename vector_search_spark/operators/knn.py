"""KNN / similarity-search operators.

Reference semantics re-expressed:

- V3 brute-force KNN:  ``ORDER BY 3 DESC LIMIT 10`` per probe
  (camp_vec_rcmn.py:44) → one distributed plan for ALL probes at once,
  broadcast probes × corpus, one-exchange top-k (no per-probe loop, no driver
  round-trips — the reference issues one SQL query per probe sequentially).
- V4 threshold search: ``WHERE SIMIL_SCORE >= 0.5`` + max-per-group
  (nl_targeting.py:55-56).
- V5 multi-probe fusion: 5 expanded probes → 5×KNN → sum score per id →
  top-5 → ``round(sum/5*100, 2)`` (camp_vec_rcmn.py:30-73).

Scale design
------------
``topk_per_key`` is a ``row_number() <= k`` filter over a per-key window.
Spark (3.5+) plans that filter with a partial ``WindowGroupLimit`` BEFORE the
per-key exchange, so every map task ships at most k rows per key: with P scan
partitions the global window sees at most k·P rows per key, never the whole
corpus funnelled through one reducer per probe. A hand-written local window
over (key, spark_partition_id()) would add a second exchange, sort and window
on top of that, not a pre-reduction. Ties broken deterministically by id.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions.vector import cosine_sim, l2_norm
from ..utils import local_frame


def probe_table(spark, vecs, **cols) -> DataFrame:
    """Driver-side probes as ``probe_id int, <cols> string, probe_vec
    array<float>``. Built from a pandas frame it plans as a LocalRelation
    (no Spark job, also for no probes; a list of tuples would be a Python
    RDD), and float32 rounds as an ``array<float>`` cast does."""
    pdf = pd.DataFrame({
        "probe_id": np.arange(len(vecs), dtype=np.int32),
        **cols,
        "probe_vec": [np.asarray(v, dtype=np.float32) for v in vecs],
    })
    strs = "".join(f"{c} string, " for c in cols)
    return local_frame(spark, pdf, f"probe_id int, {strs}probe_vec array<float>")


def topk_per_key(
    df: DataFrame,
    keys: list[str],
    order_col: str,
    k: int,
    tiebreak: list[str] | None = None,
    ascending: bool = False,
) -> DataFrame:
    """Top-k rows per key ordered by ``order_col`` (W2/T1) — DESC for
    similarity scores, ``ascending=True`` for distances.

    One exchange: Spark pre-reduces each map partition to k rows per key
    with a partial ``WindowGroupLimit`` before the shuffle, then the per-key
    window keeps the global k.
    """
    direction = F.asc(order_col) if ascending else F.desc(order_col)
    order = [direction] + [F.asc(c) for c in (tiebreak or [])]
    w = Window.partitionBy(*keys).orderBy(*order)
    return df.withColumn("_rn", F.row_number().over(w)).filter(F.col("_rn") <= k).drop("_rn")


def score_probes(
    corpus: DataFrame,
    probes: DataFrame,
    corpus_vec: str = "embedding",
    probe_vec: str = "probe_vec",
    score_col: str = "score",
) -> DataFrame:
    """Broadcast probes × corpus with cosine scores (J7 + V2).

    Corpus norms are computed once per corpus row; the probe side is tiny and
    broadcast, so the whole thing is a single map-side pass over the corpus —
    no shuffle until a downstream top-k/aggregation.
    """
    corpus = corpus.withColumn("_cnorm", l2_norm(corpus_vec))
    probes = probes.withColumn("_pnorm", l2_norm(probe_vec))
    joined = corpus.crossJoin(F.broadcast(probes))
    return (
        joined.withColumn(
            score_col,
            cosine_sim(corpus_vec, probe_vec, norm_a="_cnorm", norm_b="_pnorm"),
        )
        .drop("_cnorm", "_pnorm")
    )


def knn(
    corpus: DataFrame,
    probes: DataFrame,
    k: int = 10,
    corpus_id: str = "vec_id",
    corpus_vec: str = "embedding",
    probe_id: str = "probe_id",
    probe_vec: str = "probe_vec",
    score_col: str = "score",
) -> DataFrame:
    """Exact brute-force KNN for every probe in one plan (V3).

    Mirrors camp_vec_rcmn.py:42-47 (per-probe ``LIMIT 10`` loop) as a single
    distributed pass. Deterministic: ties broken by corpus id ascending.
    """
    scored = score_probes(corpus, probes, corpus_vec, probe_vec, score_col)
    return topk_per_key(scored, [probe_id], score_col, k, tiebreak=[corpus_id])


def threshold_search(
    corpus: DataFrame,
    probes: DataFrame,
    threshold: float = 0.5,
    group_cols: list[str] | None = None,
    corpus_vec: str = "embedding",
    probe_id: str = "probe_id",
    probe_vec: str = "probe_vec",
    score_col: str = "score",
) -> DataFrame:
    """Similarity range query + groupwise max (V4 = V2 + P3 + A1).

    nl_targeting.py:55-56: ``WHERE SIMIL_SCORE >= 0.5`` then
    ``max(simil_score) GROUP BY COND_NM, CODE_NM, COND_TYPE``.
    """
    scored = score_probes(corpus, probes, corpus_vec, probe_vec, score_col)
    filtered = scored.filter(F.col(score_col) >= F.lit(threshold))
    if not group_cols:
        return filtered
    return filtered.groupBy(probe_id, *group_cols).agg(
        F.max(score_col).alias(f"max_{score_col}")
    )


def multiprobe_fusion(
    corpus: DataFrame,
    probes: DataFrame,
    k: int = 10,
    top_n: int = 5,
    n_probes_norm: int | None = None,
    corpus_id: str = "vec_id",
    corpus_vec: str = "embedding",
    probe_id: str = "probe_id",
    probe_vec: str = "probe_vec",
) -> DataFrame:
    """Multi-probe KNN with score fusion (V5: A6 + T2 + F10).

    camp_vec_rcmn.py:30-73: expanded probes → per-probe top-k → sum of scores
    per corpus id → global top-n → ``round(sum/5*100, 2)``. The reference's
    sequential loop + dict accumulation becomes union-free: the per-probe
    top-k already carries probe_id, so fusion is one groupBy.

    Returns columns: ``vec_id, n_hits, fused_score, match_pct``.
    """
    if n_probes_norm is None:
        n_probes_norm = probes.count()
    hits = knn(corpus, probes, k, corpus_id, corpus_vec, probe_id, probe_vec)
    fused = hits.groupBy(corpus_id).agg(
        F.count("*").alias("n_hits"),
        F.sum("score").alias("fused_score"),
    )
    # Global top-n: orderBy().limit() compiles to TakeOrderedAndProject —
    # per-partition heaps merged on the driver, no full sort.
    top = fused.orderBy(F.desc("fused_score"), F.asc(corpus_id)).limit(top_n)
    return top.withColumn(
        "match_pct", F.round(F.col("fused_score") / F.lit(float(n_probes_norm)) * 100.0, 2)
    )
