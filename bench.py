"""Headline benchmark — one JSON line for the driver.

Runs the headline queries at $SPARK_GRAFT_SF_DIR (default sf0.1) on
local[$SPARK_GRAFT_CPUS] and prints
``{"metric": ..., "value": N, "unit": "sec", "queries": {...}, "sf": ...}``.
"""

from __future__ import annotations

import json
import os
import sys
import time

REPO = os.path.dirname(os.path.abspath(__file__))
if REPO not in sys.path:
    sys.path.insert(0, REPO)

# Rotated OUT round 8 for record headroom (CLAUDE.md: the final JSON line
# was at 1786/1800 chars): r_q3_shipping_priority, r_q5_regional_volume,
# r_q18_large_orders, j_groupwise_max, a_group_concat_ordered,
# a_count_distinct_union, w_running_sum — all sub-second and stable since
# rounds 1-2, all still oracle-gated in the registry and parity sweeps.
# Rotated OUT round 12 (VERDICT r11 #5, same headroom rule):
# a_shard_packing (0.20 s), t_tfidf_terms (0.31 s), w_time_weighted_avg
# (0.31 s) — permanently sub-second noise-class since they landed; all
# still oracle-gated in the registry and every parity sweep. Headline
# JSON measured 1575 chars at 55 rows after the retirement (~230 chars
# of headroom to the driver's ~1800-char tail capture; budget ~25 chars
# per added row).
HEADLINE = [
    "r_q1_pricing_summary",
    "v_cosine_topk",
    "v_multiprobe_fusion",
    "v_knn_join_docs",
    "t_sweepline_dates",
    "d_minhash_lsh_pairs",
    "d_jaccard_pairs",
    "d_simhash_groups",
    "t_quality_score",
    "r_q14_promo_revenue",
    "j_asof_purchase_view",
    "a_salted_group_sum",
    "v_knn_euclidean",
    # round-2 flagship additions (new keys; earlier keys keep their meaning
    # for round-over-round comparison)
    "d_decontaminate",
    "d_dup_clusters",
    # round-3 flagship additions
    "r_q8_market_share",
    "r_q9_product_profit",
    "w_sessionize_events",
    "d_span_dedup",
    "t_lm_bigram_score",
    "v_quantized_knn",
    # round-4 flagship additions
    "t_bm25_topk",
    "d_containment_pairs",
    "w_cohort_retention",
    "v_pq_adc_knn",
    "pipe_rag_retrieval",
    # round-5 flagship additions
    "v_ivf_persist",
    "pipe_dedup_twolevel",
    "v_ivf_pq_knn",
    "pipe_incremental_index",
    "v_filtered_knn",
    "v_mmr_rerank",
    "v_hybrid_rrf",
    "v_retrieval_ndcg",
    # a_percentiles_by_group retired round 10 (0.19 s, stable since r5 —
    # JSON-line headroom per the 1800-char cliff rule; still in the
    # registry/parity gate)
    "pipe_data_mixture",
    # round-6 flagship additions
    "d_decontaminate_bloom",
    "v_ivf_kmeans_knn",
    "v_pq_refine_knn",
    "w_session_window_native",
    "r_incr_agg_refresh",
    "d_minhash_persist_incr",
    "v_hamming_binary_knn",
    "t_dsir_weights",
    "j_temporal_bucket_join",
    "a_hll_sketch_union",
    "pipe_corpus_build",
    "d_sorted_neighborhood",
    # t_vocab_coverage retired round 10 (0.27 s, stable since r6 — same
    # headroom rule)
    "w_gap_fill_interpolate",
    # round-7 flagship additions
    "v_knn_graph_build",
    "t_bpe_train",
    "d_winnow_fingerprint_pairs",
    "j_asof_nearest_tolerance",
    "t_sequence_packing",
    # round-9 flagship additions: the graph-index mutation lifecycle
    # (delete with banded repair; streaming ingest + serve over the
    # grown graph). Both gate rows pay a full graph build inside —
    # steady-state per-op costs live in split["gr"] (i = insert,
    # d = delete).
    "v_knn_graph_del",
    "s_graph_ingest_serve",
    # round-13 flagship addition: ingestion-time semantic dedup against
    # the persisted embedding-LSH index (build+probe in the gate row;
    # the steady-state serve half lives in split["emb"])
    "d_embedding_persist_incr",
]


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    from vector_search_spark.plans.queries import QUERIES
    from vector_search_spark.session import get_spark

    spark = get_spark("bench")
    spark.sparkContext.setLogLevel("ERROR")

    # Warm the engine paths every query pays for once — parquet reader,
    # broadcast-join + window + HOF codegen, and the Python/Arrow worker —
    # so measured timings reflect the operators, not JVM startup.
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    spark.range(1000).selectExpr("sum(id)").collect()
    r = spark.read.parquet(f"{sf_dir}/region.parquet")
    n = spark.read.parquet(f"{sf_dir}/nation.parquet")
    w = Window.partitionBy("r_regionkey").orderBy("n_nationkey")
    warm = (
        n.join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .withColumn("rn", F.row_number().over(w))
        .withColumn("arr", F.transform(F.sequence(F.lit(1), F.lit(3)), lambda i: i * 2))
        .withColumn("s", F.aggregate("arr", F.lit(0), lambda a, b: a + b))
    )
    warm.collect()
    spark.createDataFrame([(1,)], ["x"]).mapInPandas(lambda it: it, "x long").collect()

    names = [n for n in HEADLINE if n in QUERIES]
    timings: dict[str, float] = {}
    loadavg: dict[str, float] = {}
    for name in names:
        fn = QUERIES[name].fn
        # min of three runs: ambient machine load on a shared box swings
        # single-run timings 2-3x; the min is a stable estimate of the
        # operator's actual cost (standard benchmarking practice). The
        # 1-minute load average at measurement time is emitted per query so
        # a later reader can adjudicate noise without re-running.
        best = float("inf")
        for _ in range(3):
            t0 = time.perf_counter()
            fn(spark, sf_dir).collect()
            best = min(best, time.perf_counter() - t0)
        timings[name] = round(best, 3)
        loadavg[name] = round(os.getloadavg()[0], 1)

    # Build-vs-serve split for the two persisted-index rows: the gate-row
    # timings above include the once-per-corpus index BUILD every run, so
    # they undersell the steady-state serve path a deployment actually
    # pays per query (VERDICT r6 item #2). Timed separately: build once,
    # serve = min of three warm probes against the built index. Keys:
    # minhash_index = d_minhash_persist_incr, ivf_index = v_ivf_persist.
    from vector_search_spark.plans.queries import (
        embedding_index_build,
        embedding_index_serve,
        ivf_index_build,
        ivf_index_serve,
        minhash_index_build,
        minhash_index_serve,
    )

    # Compact keys keep the final line inside the driver's ~2000-char tail
    # capture at 65 headline rows: mh = d_minhash_persist_incr's index,
    # ivf = v_ivf_persist's index; b = min-of-2 build, s = min-of-3 warm
    # serve, l = 1-min loadavg when the family was timed (VERDICT r13 #6:
    # single-shot builds made the split unusable exactly when a drift
    # needed adjudicating — r13's gr.b read 35.4 s at loadavg 12-15).
    def _min_of(n: int, f):
        best = float("inf")
        for _ in range(n):
            t0 = time.perf_counter()
            out = f()
            best = min(best, time.perf_counter() - t0)
        return out, best

    split: dict[str, dict[str, float]] = {}
    for key, build, serve in (
        ("mh", minhash_index_build, minhash_index_serve),
        ("ivf", ivf_index_build, ivf_index_serve),
        ("emb", embedding_index_build, embedding_index_serve),
    ):
        path, build_t = _min_of(2, lambda: build(spark, sf_dir))
        _, best = _min_of(3, lambda: serve(spark, sf_dir, path).collect())
        split[key] = {
            "b": round(build_t, 2),
            "s": round(best, 2),
            "l": round(os.getloadavg()[0], 1),
        }

    # gr = k-NN-graph build / beam-search serve (v_knn_graph_serve's two
    # halves, round 8): build once at the gate config, serve = min-of-3
    # one-plan batches of 3 probes over the prebuilt graph.
    from vector_search_spark.config import EMB_DIM
    from vector_search_spark.operators.ann import knn_graph_build, knn_graph_serve
    from vector_search_spark.plans.queries import _probes
    from vector_search_spark.sources.catalog import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    graph, build_t = _min_of(
        2,
        lambda: knn_graph_build(
            emb, k=6, n_planes=24, band_bits=6, rounds=2, seed=42,
            dim=EMB_DIM,
        ).localCheckpoint(eager=True),
    )
    _, best = _min_of(
        3,
        lambda: knn_graph_serve(
            graph, emb, _probes(emb, 3), k=10, beam=8, rounds=2
        ).collect(),
    )
    # i = steady-state INCREMENTAL insert against the prebuilt graph
    # (v_knn_graph_incr's op without the rebuild the gate row pays)
    from vector_search_spark.operators.ann import (
        corpus_band_keys,
        knn_graph_insert,
    )

    base = emb.filter(F.col("vec_id") >= 20).localCheckpoint(eager=True)
    base_graph = knn_graph_build(
        base, k=6, n_planes=24, band_bits=6, rounds=2, seed=42, dim=EMB_DIM
    ).localCheckpoint(eager=True)
    # steady state: the persisted (band, key) table is part of the index
    bands = corpus_band_keys(base, dim=EMB_DIM).localCheckpoint(eager=True)
    new_rows = emb.filter(F.col("vec_id") < 20)
    besti = float("inf")
    for _ in range(3):
        t0 = time.perf_counter()
        knn_graph_insert(
            base_graph, base, new_rows, k=6, n_planes=24, band_bits=6,
            seed=42, dim=EMB_DIM, corpus_bands=bands,
        ).count()
        besti = min(besti, time.perf_counter() - t0)
    # d = steady-state DELETE against the prebuilt full-corpus graph
    # (v_knn_graph_del's op without the rebuild the gate row pays),
    # with the persisted band table — the deployment shape.
    from vector_search_spark.operators.ann import knn_graph_delete

    full_bands = corpus_band_keys(emb, dim=EMB_DIM).localCheckpoint(
        eager=True
    )
    dels = emb.filter(F.col("vec_id") % 16 == 7).select("vec_id")
    bestd = float("inf")
    for _ in range(3):
        t0 = time.perf_counter()
        knn_graph_delete(
            graph, emb, dels, k=6, n_planes=24, band_bits=6,
            seed=42, dim=EMB_DIM, corpus_bands=full_bands,
        ).count()
        bestd = min(bestd, time.perf_counter() - t0)
    split["gr"] = {
        "b": round(build_t, 2), "s": round(best, 2),
        "i": round(besti, 2), "d": round(bestd, 2),
        "l": round(os.getloadavg()[0], 1),
    }
    sf = sf_dir.rstrip("/").split("sf")[-1]
    sf_val = float(sf) if sf.replace(".", "").isdigit() else sf
    # Diagnostics go on their OWN line, BEFORE the final JSON: the driver
    # captures only the last ~2000 chars of output, and round 5's combined
    # line (timings + loadavg) overflowed that, losing 15 of 45 timings
    # from the official record (BENCH_r05.json parsed=null). The final line
    # must stay compact — timings only.
    print(json.dumps({"diagnostic": "loadavg_per_query", "loadavg": loadavg}))
    # Per-query timings at 2 decimals: single-run noise is +-50% (min-of-3
    # narrows it, not to ms), so 3dp was false precision — and the driver's
    # tail capture budgets ~1800 chars for this line (64 rows at 2dp fit;
    # at 3dp they would not).
    rounded = {k: round(v, 2) for k, v in timings.items()}
    final = {
        "metric": "headline_queries_total",
        # total computed from the SAME 2dp values published per query, so
        # value == sum(queries) holds exactly for any record reader.
        "value": round(sum(rounded.values()), 2),
        "unit": "sec",
        "queries": rounded,
        "split": split,
        "sf": sf_val,
    }
    line = json.dumps(final, separators=(",", ":"))
    if len(line) > 1900:
        # Never expected: fall back to total-only so the record stays valid.
        final.pop("queries")
        line = json.dumps(final, separators=(",", ":"))
    print(line)
    spark.stop()


if __name__ == "__main__":
    main()
