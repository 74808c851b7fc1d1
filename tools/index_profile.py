"""Per-family index profile at the fixture's embedding width (VERDICT
r9 next #4): measured build time, batched serve latency, and persisted
index footprint for each serving family, so choose_index's decision
table cites numbers measured at 64 AND 768 AND 1536 dims instead of
extrapolating from 64/768.

Families profiled:
- exact: no index; serve = one batched brute-force scan.
- ivf: first-16-centroid partitioned index (the v_ivf_knn convention,
  built and served by index_select.build_choice); footprint = persisted
  index dir.
- graph: the graph engine build_choice builds (GraphMaintainer: k-NN
  graph + LSH-entry beam serve); footprint = sharded adjacency + corpus
  band table (both are serving state).
- pq: 4-subquantizer codes (v_ivf_pq_knn convention); footprint = codes
  parquet (serve latency not re-measured — ADC scoring shares the IVF
  scan shape).
- hamming: 64-bit sign sketch; footprint = (vec_id, sig) parquet.

Serve latencies are min-of-two on FRESH DataFrames per trial (repeated
.collect() on one DF reuses shuffle files and lies).

Usage: SPARK_GRAFT_SF_DIR=<fixture> [SPARK_GRAFT_EMB_DIM=<d>] \
       python tools/index_profile.py [n_queries]
Prints one JSON line.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if REPO not in sys.path:
    sys.path.insert(0, REPO)

from pyspark.sql import functions as F  # noqa: E402


def du(path: str) -> int:
    total = 0
    for root, _, files in os.walk(path):
        for f in files:
            total += os.path.getsize(os.path.join(root, f))
    return total


def main() -> None:
    n_q = int(sys.argv[1]) if len(sys.argv) > 1 else 100
    from vector_search_spark.config import EMB_DIM
    from vector_search_spark.operators.ann import ivf_pq_encode, make_planes
    from vector_search_spark.operators.index_select import (
        build_choice,
        choose_index,
    )
    from vector_search_spark.operators.knn import knn
    from vector_search_spark.session import get_spark
    from vector_search_spark.sources.catalog import load_table, sf_dir_from_env
    from vector_search_spark.utils import fan_out, pid_scratch

    sf_dir = sf_dir_from_env()
    spark = get_spark("index_profile")
    spark.sparkContext.setLogLevel("ERROR")
    emb = load_table(spark, sf_dir, "embeddings").localCheckpoint(eager=True)
    n = emb.count()
    raw_path = os.path.join(sf_dir, "embeddings.parquet")
    out = {
        "op": "index_profile", "sf_dir": sf_dir, "dim": EMB_DIM, "n": n,
        "n_queries": n_q,
        "raw_bytes_per_vec": round(os.path.getsize(raw_path) / n, 1),
    }

    def probe_batch():
        # fresh DF per trial (CLAUDE.md: repeated .collect() on one DF
        # reuses shuffle files)
        return emb.filter(F.col("vec_id") < n_q).select(
            F.col("vec_id").alias("probe_id"),
            F.col("embedding").alias("probe_vec"),
        )

    def timed_min2(fn):
        ts = []
        for _ in range(2):
            t0 = time.perf_counter()
            fn()
            ts.append(time.perf_counter() - t0)
        return min(ts)

    # EXACT --------------------------------------------------------------
    knn(emb, probe_batch(), k=10).collect()  # warm
    t = timed_min2(lambda: knn(emb, probe_batch(), k=10).collect())
    out["exact"] = {"serve_ms_per_q": round(t * 1000 / n_q, 1),
                    "index_bytes_per_vec": 0.0}

    # IVF ----------------------------------------------------------------
    choice = choose_index(10**7, EMB_DIM, recall_target=0.85)
    choice.params.update(n_centroids=16, n_probe=4)
    ivf_path = pid_scratch("index_profile_ivf", sf_dir)
    t0 = time.perf_counter()
    ivf = build_choice(choice, emb, index_path=ivf_path)
    ivf_build = time.perf_counter() - t0
    ivf.serve(probe_batch(), 10).collect()  # warm
    t = timed_min2(lambda: ivf.serve(probe_batch(), 10).collect())
    out["ivf"] = {
        "build_s": round(ivf_build, 2),
        "serve_ms_per_q": round(t * 1000 / n_q, 1),
        "index_bytes_per_vec": round(du(ivf_path) / n, 1),
    }

    # GRAPH ----------------------------------------------------------------
    t0 = time.perf_counter()
    graph = build_choice(
        choose_index(10**7, EMB_DIM, recall_target=0.95), emb, dim=EMB_DIM
    )
    graph_build = time.perf_counter() - t0
    graph.serve(probe_batch(), 10).collect()  # warm
    t = timed_min2(lambda: graph.serve(probe_batch(), 10).collect())
    from vector_search_spark.operators.ann import graph_write_index

    gpath = pid_scratch("index_profile_graph", sf_dir)
    graph_write_index(graph.graph, gpath)
    bpath = pid_scratch("index_profile_gbands", sf_dir)
    graph.bands.write.mode("overwrite").parquet(bpath)
    out["graph"] = {
        "build_s": round(graph_build, 2),
        "serve_ms_per_q": round(t * 1000 / n_q, 1),
        "index_bytes_per_vec": round((du(gpath) + du(bpath)) / n, 1),
    }

    # PQ codes -------------------------------------------------------------
    embd = emb.select(
        "vec_id", F.col("embedding").cast("array<double>").alias("e")
    )
    aux = {
        r["vec_id"]: r["e"] for r in embd.filter(F.col("vec_id") < 16).collect()
    }
    sub = EMB_DIM // 4
    codebook = {
        s: {c: aux[c][s * sub:(s + 1) * sub] for c in sorted(aux)}
        for s in range(4)
    }
    ppath = pid_scratch("index_profile_pq", sf_dir)
    t0 = time.perf_counter()
    ivf_pq_encode(fan_out(embd), codebook, aux, corpus_vec="e").write.mode(
        "overwrite"
    ).parquet(ppath)
    out["pq"] = {
        "build_s": round(time.perf_counter() - t0, 2),
        "index_bytes_per_vec": round(du(ppath) / n, 1),
    }

    # HAMMING 64-bit sketch --------------------------------------------------
    import numpy as np
    import pandas as pd

    planes = make_planes(64, EMB_DIM, 42)
    P = np.asarray(planes, dtype=np.float64).T
    pw = 1 << np.arange(64, dtype=np.int64)

    def sig_stage(batches):
        for pdf in batches:
            if len(pdf) == 0:
                yield pd.DataFrame({"vec_id": pdf["vec_id"], "sig": []})
                continue
            V = np.stack(pdf["embedding"].to_numpy()).astype(np.float64)
            yield pd.DataFrame(
                {"vec_id": pdf["vec_id"], "sig": ((V @ P) > 0) @ pw}
            )

    hpath = pid_scratch("index_profile_ham", sf_dir)
    t0 = time.perf_counter()
    fan_out(emb.select("vec_id", "embedding")).mapInPandas(
        sig_stage, "vec_id long, sig long"
    ).write.mode("overwrite").parquet(hpath)
    out["hamming"] = {
        "build_s": round(time.perf_counter() - t0, 2),
        "index_bytes_per_vec": round(du(hpath) / n, 1),
    }

    for p in (ivf_path, gpath, bpath, ppath, hpath):
        shutil.rmtree(p, ignore_errors=True)
    print(json.dumps(out))
    spark.stop()


if __name__ == "__main__":
    main()
