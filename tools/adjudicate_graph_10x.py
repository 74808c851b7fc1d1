"""10×-sweep adjudication for the k-NN-graph trio (round-7 precedent,
extended to the serve rows in round 8).

The registry rows pin band_bits=6 so the tri-scale DuckDB oracle replay
is exact; at the 10× fixture (20k vectors) the band-6 pair-level cosine
replay needs >52 GB in DuckDB (list-typed operators pin per thread —
CLAUDE.md). The knob the operator documents for larger corpora is
raising band_bits, so the 10× verification runs the SAME generated
oracles at band_bits=8 against the SAME Spark operators at band_bits=8:
build edges, lowest-entry serve, and LSH-entry serve, each value-exact.

Usage: python tools/adjudicate_graph_10x.py [fixture_dir]
"""

from __future__ import annotations

import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if REPO not in sys.path:
    sys.path.insert(0, REPO)

from parity import canon_rows, duck_connect  # noqa: E402


def main() -> None:
    fixture = (
        sys.argv[1] if len(sys.argv) > 1 else os.path.join(REPO, ".scratch", "sfx10")
    )
    from pyspark.sql import functions as F

    from vector_search_spark.config import EMB_DIM
    from vector_search_spark.operators.ann import knn_graph_build, knn_graph_serve
    from vector_search_spark.plans.queries import (
        _knn_graph_oracle,
        _knn_graph_serve_oracle,
        _probes,
    )
    from vector_search_spark.session import get_spark
    from vector_search_spark.sources.catalog import load_table

    spark = get_spark("graph10x", cpus=32)
    spark.sparkContext.setLogLevel("ERROR")
    con = duck_connect(fixture)
    con.execute("SET threads=2")
    con.execute(f"SET temp_directory='{REPO}/.scratch/duck_tmp'")

    emb = load_table(spark, fixture, "embeddings")
    graph = knn_graph_build(
        emb, k=6, n_planes=24, band_bits=8, rounds=2, seed=42, dim=EMB_DIM
    ).localCheckpoint(eager=True)

    cases = {
        "build@8": (
            graph.select(
                "src_id", "nbr_id", "rank", F.col("score").alias("score")
            ),
            _knn_graph_oracle(6, 24, 8, 2),
        ),
        "serve@8": (
            knn_graph_serve(graph, emb, _probes(emb, 3), k=10, beam=8, rounds=2),
            _knn_graph_serve_oracle(6, 24, 8, 2, 10, 8, 2, 3),
        ),
        "serve_lsh@8": (
            knn_graph_serve(
                graph, emb, _probes(emb, 3), k=10, beam=8, rounds=2,
                entries="lsh", n_planes=24, band_bits=8, seed=42, dim=EMB_DIM,
            ),
            _knn_graph_serve_oracle(6, 24, 8, 2, 10, 8, 2, 3, entry_mode="lsh"),
        ),
        # persisted round-trip at 10x: cold-reloaded adjacency must serve
        # the identical answers (same oracle as serve_lsh@8)
        "persist_lsh@8": (
            None,  # filled below (needs the write side effect)
            _knn_graph_serve_oracle(6, 24, 8, 2, 10, 8, 2, 3, entry_mode="lsh"),
        ),
        # streaming delivery at 10x: availableNow micro-batches over the
        # same chain (batching-invariant => same oracle)
        "stream_lsh@8": (
            None,
            _knn_graph_serve_oracle(6, 24, 8, 2, 10, 8, 2, 3, entry_mode="lsh"),
        ),
    }
    from vector_search_spark.operators.ann import graph_read_index, graph_write_index
    from vector_search_spark.streaming.serving import (
        run_streaming_graph_serve_availablenow,
    )
    from vector_search_spark.utils import pid_scratch

    gpath = pid_scratch("graph10x_idx", fixture)
    graph_write_index(graph, gpath)
    cases["persist_lsh@8"] = (
        knn_graph_serve(
            graph_read_index(spark, gpath), emb, _probes(emb, 3),
            k=10, beam=8, rounds=2,
            entries="lsh", n_planes=24, band_bits=8, seed=42, dim=EMB_DIM,
        ),
        cases["persist_lsh@8"][1],
    )
    cases["stream_lsh@8"] = (
        run_streaming_graph_serve_availablenow(
            spark, fixture, band_bits=8
        ),
        cases["stream_lsh@8"][1],
    )
    # incremental insert at 10x: base graph on vec_id >= 20 at band 8,
    # 20 new vectors linked in (same oracle chain, filtered corpus)
    from vector_search_spark.plans.queries import _knn_graph_insert_oracle

    base = emb.filter(F.col("vec_id") >= 20)
    new_rows = emb.filter(F.col("vec_id") < 20)
    base_graph = knn_graph_build(
        base, k=6, n_planes=24, band_bits=8, rounds=2, seed=42, dim=EMB_DIM
    )
    from vector_search_spark.operators.ann import knn_graph_insert

    cases["incr@8"] = (
        knn_graph_insert(
            base_graph, base, new_rows, k=6, n_planes=24, band_bits=8,
            seed=42, dim=EMB_DIM,
        ),
        _knn_graph_insert_oracle(6, 24, 8, 2, 20),
    )
    # deletion at 10x (round 9): tombstone every 16th vector from the
    # full band-8 graph, banded repair of affected survivors
    from vector_search_spark.operators.ann import knn_graph_delete
    from vector_search_spark.plans.queries import _knn_graph_delete_oracle

    cases["del@8"] = (
        knn_graph_delete(
            graph, emb, emb.filter(F.col("vec_id") % 16 == 7).select("vec_id"),
            k=6, n_planes=24, band_bits=8, seed=42, dim=EMB_DIM,
        ),
        _knn_graph_delete_oracle(6, 24, 8, 2, 16, 7),
    )
    # streaming ingest+serve at 10x (round 9): the graph grows between
    # micro-batches; oracle = one insert replay per delivery + serve replay
    from vector_search_spark.plans.queries import _graph_ingest_serve_oracle
    from vector_search_spark.streaming.serving import (
        run_streaming_graph_ingest_availablenow,
    )

    cases["ingest_serve@8"] = (
        run_streaming_graph_ingest_availablenow(spark, fixture, band_bits=8),
        _graph_ingest_serve_oracle(6, 24, 8, 2, 20, 3, 10, 8, 2, 3),
    )
    only = set(sys.argv[2:])
    if only:
        cases = {k: v for k, v in cases.items() if k in only}
    failed = []
    for name, (df, sql) in cases.items():
        s_rows = [tuple(r) for r in df.collect()]
        res = con.execute(sql)
        d_cols = [d[0] for d in res.description]
        d_rows = res.fetchall()
        sc, sr = canon_rows(df.columns, s_rows)
        dc, dr = canon_rows(d_cols, d_rows)
        ok = sc == dc and sr == dr
        print(f"{'PASS' if ok else 'FAIL'}  {name}: {len(s_rows)} rows"
              + ("" if len(s_rows) == len(d_rows) else f" vs duck {len(d_rows)}"))
        if not ok:
            failed.append(name)
            for i, (a, b) in enumerate(zip(sr, dr)):
                if a != b:
                    print(f"  first diff row {i}: spark={a} duck={b}")
                    break
    sys.exit(1 if failed else 0)


if __name__ == "__main__":
    main()
