"""Online-ANN-serving latency probe (north-star caveat, quantified).

BASELINE's north star notes that Spark builds indexes in batch while
ONLINE serving usually needs a specialized engine. This probe measures
what serving from Spark actually costs, so the claim is a number, not
folklore: repeated single-probe queries against (a) the PERSISTED
partition-pruned IVF index and (b) a brute-force full-corpus scan, on a
warm local session. Expect an ivf win on scan work but a hard floor of
tens of milliseconds per query from Spark's job scheduling — that floor,
not the scan, is why sub-10ms serving lives in a specialized engine
(or in the per-micro-batch amortized form, s_streaming_knn_serve).

Usage: python tools/serve_latency.py [n_queries]  (env SPARK_GRAFT_SF_DIR)
Prints one JSON line: {"op": "serve_latency", "ivf": {...}, "brute": {...}}
"""

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402


def _quantiles(xs):
    s = sorted(xs)
    n = len(s)
    return {
        "p50_ms": round(s[n // 2] * 1000, 1),
        "p95_ms": round(s[min(n - 1, int(n * 0.95))] * 1000, 1),
        "min_ms": round(s[0] * 1000, 1),
    }


def main():
    n_q = int(sys.argv[1]) if len(sys.argv) > 1 else 20
    from vector_search_spark.operators.index_select import (
        build_choice,
        choose_index,
    )
    from vector_search_spark.operators.knn import knn
    from vector_search_spark.session import get_spark
    from vector_search_spark.sources.catalog import load_table, sf_dir_from_env
    from vector_search_spark.utils import pid_scratch

    sf_dir = sf_dir_from_env()
    spark = get_spark("serve_latency")
    spark.sparkContext.setLogLevel("ERROR")
    emb = load_table(spark, sf_dir, "embeddings")
    probe_rows = emb.filter(F.col("vec_id") < n_q).select(
        "vec_id", "embedding"
    ).collect()
    dim = len(probe_rows[0]["embedding"])

    # once-per-corpus build job (NOT counted in serve latency), through
    # the shipped engine: the first 16 vectors as centroids, n_probe 4
    # (the v_ivf_knn convention)
    path = pid_scratch("serve_latency_ivf", sf_dir)
    choice = choose_index(10**7, dim, recall_target=0.85)
    choice.params.update(n_centroids=16, n_probe=4)
    t0 = time.perf_counter()
    ivf = build_choice(choice, emb, index_path=path)
    build_s = time.perf_counter() - t0

    def one_probe(row):
        return spark.createDataFrame(
            [(row["vec_id"], row["embedding"])],
            "probe_id long, probe_vec array<float>",
        )

    # warm both paths (JIT, parquet footers, broadcast machinery)
    ivf.serve(one_probe(probe_rows[0]), 10).collect()
    knn(emb, one_probe(probe_rows[0]), k=10).collect()

    ivf_t, brute_t = [], []
    for row in probe_rows:
        t0 = time.perf_counter()
        # fresh DF per trial: repeated .collect() on one DF reuses shuffle
        # files and lies about latency
        ivf.serve(one_probe(row), 10).collect()
        ivf_t.append(time.perf_counter() - t0)
    for row in probe_rows:
        t0 = time.perf_counter()
        knn(emb, one_probe(row), k=10).collect()
        brute_t.append(time.perf_counter() - t0)

    # the Spark-native serving form: amortize the scheduling floor by
    # batching probes into ONE plan (s_streaming_knn_serve's
    # per-micro-batch form matches)
    batch_probes = spark.createDataFrame(
        [(r["vec_id"], r["embedding"]) for r in probe_rows],
        "probe_id long, probe_vec array<float>",
    )
    t0 = time.perf_counter()
    ivf.serve(batch_probes, 10).collect()
    batch_s = time.perf_counter() - t0

    # graph-serve: LSH-entry beam search over the graph engine's k-NN
    # graph, same one-plan-per-batch form. Build (banding sized to the
    # corpus) not counted.
    t0 = time.perf_counter()
    graph = build_choice(
        choose_index(10**7, dim, recall_target=0.95), emb, dim=dim
    )
    graph_build_s = time.perf_counter() - t0
    t0 = time.perf_counter()
    graph.serve(batch_probes, 10).collect()
    graph_batch_s = time.perf_counter() - t0

    print(
        json.dumps(
            {
                "op": "serve_latency",
                "sf_dir": sf_dir,
                "n_queries": n_q,
                "index_build_s": round(build_s, 2),
                "ivf_single_probe": _quantiles(ivf_t),
                "brute_single_probe": _quantiles(brute_t),
                "ivf_batched": {
                    "total_ms": round(batch_s * 1000, 1),
                    "per_query_ms": round(batch_s * 1000 / n_q, 1),
                },
                "graph_build_s": round(graph_build_s, 2),
                "graph_batched": {
                    "total_ms": round(graph_batch_s * 1000, 1),
                    "per_query_ms": round(graph_batch_s * 1000 / n_q, 1),
                },
            }
        )
    )
    import shutil

    shutil.rmtree(path, ignore_errors=True)
    spark.stop()


if __name__ == "__main__":
    main()
