"""ANN recall tests: approximate results vs exact brute-force KNN."""

import pytest

from pyspark.sql import functions as F

from vector_search_spark.operators.ann import (
    hyperplane_lsh_knn,
    ivf_assign,
    ivf_knn,
    make_planes,
)
from vector_search_spark.operators.knn import knn
from vector_search_spark.sources.catalog import load_table


def _probes(emb, n):
    return emb.filter(F.col("vec_id") < n).select(
        F.col("vec_id").alias("probe_id"), F.col("embedding").alias("probe_vec")
    )


def _exact_topk(emb, probes, k):
    out = {}
    for r in knn(emb, probes, k=k).collect():
        out.setdefault(r.probe_id, []).append(r.vec_id)
    return out


def test_ivf_recall(spark, sf_dir):
    emb = load_table(spark, sf_dir, "embeddings")
    probes = _probes(emb, 5)
    cents = emb.filter(F.col("vec_id") < 16).select(
        F.col("vec_id").alias("centroid_id"), F.col("embedding").alias("centroid_vec")
    )
    assigned = ivf_assign(emb, cents)
    # every corpus row lands in exactly one bucket
    assert assigned.count() == emb.count()
    approx = {}
    for r in ivf_knn(assigned, cents, probes, k=10, n_probe=8).collect():
        approx.setdefault(r.probe_id, set()).add(r.vec_id)
    exact = _exact_topk(emb, probes, 10)
    # probing half the centroids must recover the probe itself (cos=1) and
    # a reasonable share of true neighbors
    recalls = []
    for pid, want in exact.items():
        got = approx.get(pid, set())
        assert pid in got  # self-hit always in its own centroid bucket
        recalls.append(len(got & set(want)) / len(want))
    assert sum(recalls) / len(recalls) >= 0.3


def test_lsh_self_hit_and_soundness(spark, sf_dir):
    emb = load_table(spark, sf_dir, "embeddings")
    probes = _probes(emb, 5)
    res = hyperplane_lsh_knn(emb, probes, k=10, n_planes=6, dim=64)
    rows = res.collect()
    by_probe = {}
    for r in rows:
        by_probe.setdefault(r.probe_id, []).append(r)
    for pid, rs in by_probe.items():
        ids = [r.vec_id for r in rs]
        assert pid in ids  # identical vector → identical bucket
        scores = [r.score for r in rs]
        assert scores == sorted(scores, reverse=True)


def test_planes_deterministic():
    assert make_planes(4, 8, 1) == make_planes(4, 8, 1)
    assert make_planes(4, 8, 1) != make_planes(4, 8, 2)


def test_ivf_persisted_index_prunes_partitions(spark, sf_dir, tmp_path):
    """The persisted IVF index must (a) return the same results as the
    in-memory assignment and (b) prune the probe scan to the probed
    centroid partitions (PartitionFilters present, dynamic or pushed)."""
    from vector_search_spark.operators.ann import ivf_build_index, ivf_probe_index

    emb = load_table(spark, sf_dir, "embeddings")
    cents = emb.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("centroid_id"), F.col("embedding").alias("centroid_vec")
    )
    probes = _probes(emb, 3)

    path = str(tmp_path / "ivf_index")
    ivf_build_index(emb, cents, path)

    got_df = ivf_probe_index(spark, path, cents, probes, k=5, n_probe=2)
    got_df.collect()
    plan = got_df._jdf.queryExecution().executedPlan().toString()
    assert "dynamicpruningexpression" in plan  # DPP prunes to probed buckets

    assigned = ivf_assign(emb, cents)
    want_df = ivf_knn(assigned, cents, probes, k=5, n_probe=2)
    got = {(r.probe_id, r.vec_id) for r in got_df.collect()}
    want = {(r.probe_id, r.vec_id) for r in want_df.collect()}
    assert got == want and len(got) == 15


def test_kmeans_trained_ivf_index(spark, sf_dir):
    """MLlib-KMeans-trained centroids drive a working IVF index: full
    corpus coverage, k populated buckets, and usable recall at n_probe=4.

    NB: on this fixture (uniform random unit vectors — no cluster
    structure) trained centroids do NOT beat sampled corpus vectors;
    KMeans' balance/recall advantage only exists when the data has
    clusters. The test therefore asserts functional correctness, not
    superiority."""
    from vector_search_spark.operators.ann import ivf_assign, ivf_knn
    from vector_search_spark.operators.ann_mllib import kmeans_centroids

    emb = load_table(spark, sf_dir, "embeddings")
    probes = _probes(emb, 5)
    exact = _exact_topk(emb, probes, 10)

    trained = kmeans_centroids(emb, k=16)
    assigned = ivf_assign(emb, trained)
    assert assigned.count() == emb.count()  # every row lands in a bucket
    assert assigned.select("centroid_id").distinct().count() == 16

    got = {}
    for r in ivf_knn(assigned, trained, probes, k=10, n_probe=4).collect():
        got.setdefault(r.probe_id, []).append(r.vec_id)
    hits = sum(len(set(got.get(p, [])) & set(exact[p])) for p in exact)
    recall = hits / sum(len(v) for v in exact.values())
    assert recall >= 0.4  # 4/16 buckets probed on structureless data


def test_pq_encode_arrow_matches_jvm(spark, sf_dir):
    """The Arrow/numpy pq_encode fast path must pick bit-identical codes
    to the dependency-free JVM fold path: same IEEE op sequence (see
    pq_encode docstring), same first-minimum tie-break."""
    from vector_search_spark.operators.ann import pq_encode
    from vector_search_spark.utils import fan_out

    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("e")
    )
    aux = {r["vec_id"]: r["e"] for r in emb.filter(F.col("vec_id") < 16).collect()}
    codebook = {
        s: {c: aux[c][s * 16:(s + 1) * 16] for c in sorted(aux)} for s in range(4)
    }

    def as_map(df):
        return {
            r["vec_id"]: (r["code0"], r["code1"], r["code2"], r["code3"])
            for r in df.collect()
        }

    arrow = as_map(pq_encode(fan_out(emb), codebook, corpus_vec="e"))
    jvm = as_map(pq_encode(emb, codebook, corpus_vec="e", use_arrow=False))
    assert len(arrow) > 0
    assert arrow == jvm


def test_ivf_pq_encode_matches_jvm_composition(spark, sf_dir):
    """The fused Arrow IVF-PQ build must equal the composition of the two
    JVM reference paths: ivf_assign (cosine argmax, cid tie-break) for
    the centroid column, pq_encode(use_arrow=False) for the codes."""
    from vector_search_spark.operators.ann import (
        ivf_assign,
        ivf_pq_encode,
        pq_encode,
    )
    from vector_search_spark.utils import fan_out

    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("e")
    )
    aux = {r["vec_id"]: r["e"] for r in emb.filter(F.col("vec_id") < 16).collect()}
    codebook = {
        s: {c: aux[c][s * 16:(s + 1) * 16] for c in sorted(aux)} for s in range(4)
    }
    fused = {
        r["vec_id"]: (r["centroid_id"], r["code0"], r["code1"], r["code2"], r["code3"])
        for r in ivf_pq_encode(fan_out(emb), codebook, aux, corpus_vec="e").collect()
    }
    cents = spark.createDataFrame(
        [(c, aux[c]) for c in sorted(aux)], "centroid_id long, centroid_vec array<double>"
    )
    assign = {
        r["vec_id"]: r["centroid_id"]
        for r in ivf_assign(emb, cents, corpus_vec="e").collect()
    }
    codes = {
        r["vec_id"]: (r["code0"], r["code1"], r["code2"], r["code3"])
        for r in pq_encode(emb, codebook, corpus_vec="e", use_arrow=False).collect()
    }
    assert len(fused) > 0
    assert fused == {
        vid: (assign[vid], *codes[vid]) for vid in assign
    }


def test_knn_graph_build_quality_and_shape(spark, sf_dir):
    """Shape: per-node ranks are 1..m (m <= k), scores descend, no
    self-edges. Quality, on the UNIFORM fixture (the no-structure worst
    case for NN-descent — neighbors-of-neighbors carry no signal without
    a manifold): average recall vs the exact top-k graph must clear 0.25
    with the gate config (measured 0.37 at sf0.001; banding alone lands
    ~0.3). The structured-data quality claim lives in
    test_knn_graph_nn_descent_converges_on_clusters."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from vector_search_spark.functions.vector import cosine_sim
    from vector_search_spark.operators.ann import knn_graph_build
    from vector_search_spark.sources.catalog import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    k = 6
    g = knn_graph_build(
        emb, k=k, n_planes=24, band_bits=6, rounds=2, seed=42, dim=64
    )
    rows = g.collect()
    assert rows and all(r["src_id"] != r["nbr_id"] for r in rows)
    per_node: dict = {}
    for r in rows:
        per_node.setdefault(r["src_id"], []).append((r["rank"], r["score"]))
    for src, lst in per_node.items():
        lst.sort()
        assert [rk for rk, _ in lst] == list(range(1, len(lst) + 1))
        scores = [s for _, s in lst]
        assert scores == sorted(scores, reverse=True)
        assert len(lst) <= k

    a = emb.select(F.col("vec_id").alias("src_id"), F.col("embedding").alias("va"))
    b = emb.select(F.col("vec_id").alias("nbr_id"), F.col("embedding").alias("vb"))
    w = Window.partitionBy("src_id").orderBy(F.desc("cos"), F.asc("nbr_id"))
    exact = (
        a.join(b, F.col("src_id") != F.col("nbr_id"))
        .withColumn("cos", cosine_sim("va", "vb"))
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
        .select("src_id", "nbr_id")
        .collect()
    )
    want: dict = {}
    for r in exact:
        want.setdefault(r["src_id"], set()).add(r["nbr_id"])
    got: dict = {}
    for r in rows:
        got.setdefault(r["src_id"], set()).add(r["nbr_id"])
    recalls = [
        len(got.get(s, set()) & nb) / len(nb) for s, nb in want.items()
    ]
    assert sum(recalls) / len(recalls) >= 0.25, sum(recalls) / len(recalls)


def test_knn_graph_nn_descent_converges_on_clusters(spark):
    """On CLUSTERED embeddings (the data shape real corpora have) the
    NN-descent rounds must actually converge the graph: banded candidates
    alone give ~0.67 recall, round 1 ~0.93, round 2 ~0.99 (measured on
    this seeded fixture) — floor the 2-round build at 0.9 and require it
    to BEAT the 0-round build, certifying the refinement does the work."""
    import numpy as np
    from pyspark.sql import functions as F

    from vector_search_spark.operators.ann import knn_graph_build

    rng = np.random.RandomState(7)
    n, dim, ncl = 600, 64, 30
    cents = rng.randn(ncl, dim)
    X = np.stack([cents[i % ncl] + 0.35 * rng.randn(dim) for i in range(n)])
    V = (X / np.linalg.norm(X, axis=1)[:, None]).astype(np.float32)
    emb = spark.createDataFrame(
        [(i, [float(x) for x in V[i]]) for i in range(n)],
        "vec_id long, embedding array<float>",
    ).repartition(8)
    k = 6
    cos = (V.astype(np.float64) @ V.astype(np.float64).T)
    nrm = np.linalg.norm(V.astype(np.float64), axis=1)
    cos = cos / (nrm[:, None] * nrm[None, :])
    np.fill_diagonal(cos, -2)
    exact = {
        i: set(np.lexsort((np.arange(n), -cos[i]))[:k]) for i in range(n)
    }

    def recall(rounds):
        g = knn_graph_build(
            emb, k=k, n_planes=24, band_bits=8, rounds=rounds, seed=42, dim=64
        ).collect()
        got: dict = {}
        for r in g:
            got.setdefault(r["src_id"], set()).add(r["nbr_id"])
        return sum(
            len(got.get(i, set()) & exact[i]) / k for i in range(n)
        ) / n

    r0, r2 = recall(0), recall(2)
    assert r2 >= 0.9, (r0, r2)
    assert r2 > r0 + 0.1, (r0, r2)


def test_auto_band_bits_scaling():
    from vector_search_spark.operators.ann import auto_band_bits

    # bucket-size invariant: n / 2^bits stays <= target (within the clamp)
    for n in (100, 2_000, 20_000, 60_000, 600_000):
        bits = auto_band_bits(n, target_bucket=8)
        assert n / (1 << bits) <= 8.0 + 1e-9
    assert auto_band_bits(1) == 4          # clamp floor
    assert auto_band_bits(10**12) == 20    # clamp ceiling
    # monotone non-decreasing in n
    seq = [auto_band_bits(n) for n in (10, 100, 1000, 10**4, 10**6, 10**9)]
    assert seq == sorted(seq)


def test_knn_graph_build_auto_knob(spark, sf_dir):
    """band_bits=None derives the band width from the corpus count and
    still produces a well-formed, high-recall graph on clustered data."""
    import numpy as np
    from pyspark.sql import functions as F

    from vector_search_spark.operators.ann import knn_graph_build

    rng = np.random.RandomState(11)
    n, dim, ncl = 400, 64, 20
    cents = rng.randn(ncl, dim)
    X = np.stack([cents[i % ncl] + 0.3 * rng.randn(dim) for i in range(n)])
    X = X / np.linalg.norm(X, axis=1, keepdims=True)
    emb = spark.createDataFrame(
        [(i, [float(x) for x in X[i]]) for i in range(n)],
        "vec_id long, embedding array<float>",
    )
    k = 5
    g = knn_graph_build(emb, k=k, rounds=2, seed=42, dim=dim)  # AUTO bands
    rows = g.collect()
    per_src = {}
    for r in rows:
        per_src.setdefault(r.src_id, []).append(r)
    assert len(per_src) >= n * 0.95  # nearly every node has edges
    assert all(len(v) <= k for v in per_src.values())
    # recall vs exact top-k on a sample
    sims = X @ X.T
    hits = tot = 0
    for src in list(per_src)[:50]:
        order = [j for j in np.argsort(-sims[src]) if j != src][:k]
        got = {r.nbr_id for r in per_src[src]}
        hits += len(got & set(order))
        tot += k
    assert hits / tot >= 0.85, f"auto-knob recall {hits/tot:.2f}"


def test_knn_graph_serve_recall_and_batch_api(spark):
    """Beam search over the built graph must recover the exact top-k on
    clustered data (the HNSW contract), and the graph engine
    build_choice builds answers a whole probe batch in one plan."""
    import numpy as np
    from pyspark.sql import functions as F

    from vector_search_spark.operators.index_select import (
        build_choice,
        choose_index,
    )

    rng = np.random.RandomState(5)
    n, dim, ncl = 500, 32, 25
    cents = rng.randn(ncl, dim)
    X = np.stack([cents[i % ncl] + 0.3 * rng.randn(dim) for i in range(n)])
    X = X / np.linalg.norm(X, axis=1, keepdims=True)
    emb = spark.createDataFrame(
        [(i, [float(x) for x in X[i]]) for i in range(n)],
        "vec_id long, embedding array<float>",
    )
    choice = choose_index(10**7, dim, recall_target=0.95)
    assert choice.family == "graph"
    index = build_choice(choice, emb, dim=dim)
    probe_ids = [3, 57, 211, 402]
    probes = emb.filter(F.col("vec_id").isin(probe_ids)).select(
        F.col("vec_id").alias("probe_id"), F.col("embedding").alias("probe_vec")
    )
    got = index.serve(probes, k=5, beam=10).collect()
    per = {}
    for r in got:
        per.setdefault(r.probe_id, []).append(r.vec_id)
    sims = X @ X.T
    hits = tot = 0
    for p in probe_ids:
        exact = list(np.argsort(-sims[p])[:5])  # self included, as served
        hits += len(set(per[p]) & set(exact))
        tot += 5
    assert hits / tot >= 0.9, f"graph-serve recall {hits/tot:.2f}"
    # every probe answered with exactly k ranked rows
    assert all(len(v) == 5 for v in per.values())


def test_knn_graph_insert_matches_rebuild_quality(spark):
    """Incrementally inserted nodes must get edges of rebuild-quality on
    clustered data: each inserted node's edge set recalls >= 0.8 of the
    exact top-k among EXISTING nodes, and patched existing adjacencies
    stay valid top-k sets (ranks contiguous, scores non-increasing)."""
    import numpy as np
    from pyspark.sql import functions as F

    from vector_search_spark.operators.ann import (
        knn_graph_build,
        knn_graph_insert,
    )

    rng = np.random.RandomState(9)
    n, dim, ncl = 440, 32, 20
    cents = rng.randn(ncl, dim)
    X = np.stack([cents[i % ncl] + 0.3 * rng.randn(dim) for i in range(n)])
    X = X / np.linalg.norm(X, axis=1, keepdims=True)
    emb = spark.createDataFrame(
        [(i, [float(x) for x in X[i]]) for i in range(n)],
        "vec_id long, embedding array<float>",
    )
    k = 5
    base = emb.filter(F.col("vec_id") >= 40)
    new = emb.filter(F.col("vec_id") < 40)
    graph = knn_graph_build(
        base, k=k, n_planes=24, band_bits=6, rounds=2, seed=42, dim=dim
    )
    upd = knn_graph_insert(
        graph, base, new, k=k, n_planes=24, band_bits=6, seed=42, dim=dim
    ).collect()
    per = {}
    for r in upd:
        per.setdefault(r.src_id, []).append((r.rank, r.nbr_id, r.score))
    sims = X @ X.T
    hits = tot = 0
    for nid in range(40):
        exact = [
            j for j in np.argsort(-sims[nid]) if j >= 40
        ][:k]  # best existing neighbors
        got = {nbr for _, nbr, _ in per.get(nid, [])}
        hits += len(got & set(exact))
        tot += k
    assert hits / tot >= 0.8, f"insert recall {hits/tot:.2f}"
    # structural validity of every adjacency in the updated graph
    for src, rows in per.items():
        rows.sort()
        assert [r[0] for r in rows] == list(range(1, len(rows) + 1))
        scores = [r[2] for r in rows]
        assert scores == sorted(scores, reverse=True)
        assert len(rows) <= k


def test_knn_graph_build_driver_path_matches_distributed(
    spark, sf_dir, monkeypatch
):
    """r14: the small-corpus DRIVER fast path must produce the identical
    edge set (ranks, floored scores) AND the identical band table as the
    distributed build — same planes, same candidate semantics, same
    (src ASC, cos DESC, nbr ASC) total order; the numpy cosine rides the
    ulp-tolerant channels (rank selection, floored scores). A gate of
    DRIVER_MAX_CELLS=0 forces the distributed build on the same input."""
    from vector_search_spark.operators import ann
    from vector_search_spark.operators.ann import knn_graph_build
    from vector_search_spark.sources.catalog import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    kw = dict(
        k=6, n_planes=24, band_bits=6, rounds=2, seed=42, dim=64,
        return_bands=True,
    )
    g_drv, b_drv = knn_graph_build(emb, **kw)
    g_auto = knn_graph_build(emb, k=6, rounds=1, seed=42, dim=64)
    monkeypatch.setattr(ann, "DRIVER_MAX_CELLS", 0)
    g_dist, b_dist = knn_graph_build(emb, **kw)
    edges_drv = sorted(map(tuple, g_drv.collect()))
    edges_dist = sorted(map(tuple, g_dist.collect()))
    assert edges_drv == edges_dist and len(edges_drv) > 0
    bands_drv = sorted(map(tuple, b_drv.collect()))
    bands_dist = sorted(map(tuple, b_dist.collect()))
    assert bands_drv == bands_dist and len(bands_drv) > 0
    # the auto-band_bits form (a corpus count feeds the knob) must route
    # through the same gate without disturbing the knob math
    g_auto_dist = knn_graph_build(emb, k=6, rounds=1, seed=42, dim=64)
    assert sorted(map(tuple, g_auto.collect())) == sorted(
        map(tuple, g_auto_dist.collect())
    )


def test_knn_graph_insert_delete_driver_paths_match_distributed(
    spark, sf_dir, monkeypatch
):
    """The insert/delete kernels must produce identical row sets (ranks,
    floored scores, touched sets) on the whole row source (relations
    collected to the driver) and on the gather source (rows fetched by
    Spark semi-joins), with and without a supplied corpus band table.
    DRIVER_MAX_CELLS=0 forces the gather source on the same input."""
    import numpy as np
    from pyspark.sql import functions as F

    from vector_search_spark.operators import ann
    from vector_search_spark.operators.ann import (
        corpus_band_keys,
        knn_graph_build,
        knn_graph_delete,
        knn_graph_insert,
    )
    from vector_search_spark.sources.catalog import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    base = emb.filter(F.col("vec_id") >= 20)
    new = emb.filter(F.col("vec_id") < 20)
    kw = dict(k=6, n_planes=24, band_bits=6, seed=42, dim=64)
    graph = knn_graph_build(base, rounds=2, **kw).localCheckpoint(eager=True)
    bands = corpus_band_keys(base, dim=64).localCheckpoint(eager=True)

    def canon(df):
        return sorted(map(tuple, df.collect()))

    full_graph = knn_graph_build(emb, rounds=2, **kw).localCheckpoint(
        eager=True
    )
    full_bands = corpus_band_keys(emb, dim=64).localCheckpoint(eager=True)
    dels = emb.filter(F.col("vec_id") % 16 == 7).select("vec_id")

    nw = ann._np_columns(ann._id_vec(new, "vec_id", "embedding"))
    dl = np.array(sorted(r.vec_id for r in dels.collect()), np.int64)

    def touched(kernel, g, corpus, cb, batch):
        """The kernel's touched srcs on the source the gate picks."""
        src = ann._row_source(
            ann._id_vec(corpus, "vec_id", "embedding"),
            g.select(*ann._EDGE_COLS), cb, 64,
        )
        return sorted(kernel(src, batch, **kw)[0].tolist())

    def ops():
        out = []
        for cb in (None, bands):
            out += [
                canon(knn_graph_insert(graph, base, new, corpus_bands=cb,
                                       **kw)),
                touched(ann._insert_kernel, graph, base, cb, nw),
            ]
        for cb in (None, full_bands):
            out += [
                canon(knn_graph_delete(full_graph, emb, dels,
                                       corpus_bands=cb, **kw)),
                touched(ann._delete_kernel, full_graph, emb, cb, dl),
            ]
        return out

    whole = ops()
    monkeypatch.setattr(ann, "DRIVER_MAX_CELLS", 0)
    gather = ops()
    assert whole == gather
    assert all(len(rows) > 0 for rows in whole)


def test_knn_graph_serve_whole_and_gather_sources_agree(
    spark, sf_dir, monkeypatch
):
    """The serve kernel must answer identically on the whole and the
    gather row source in all three entry modes (lowest-id, explicit
    list, LSH with and without a supplied band table).
    DRIVER_MAX_CELLS=0 forces the gather source on the same input."""
    from pyspark.sql import functions as F

    from vector_search_spark.operators import ann
    from vector_search_spark.operators.ann import (
        corpus_band_keys,
        knn_graph_build,
        knn_graph_serve,
    )
    from vector_search_spark.sources.catalog import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    graph = knn_graph_build(
        emb, k=6, n_planes=24, band_bits=6, rounds=2, seed=42, dim=64
    ).localCheckpoint(eager=True)
    probes = emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("probe_id"),
        F.col("embedding").alias("probe_vec"),
    )
    bands = corpus_band_keys(emb, dim=64).localCheckpoint(eager=True)

    def canon(df):
        return sorted(map(tuple, df.collect()))

    modes = [
        dict(),
        dict(entries=[0, 5, 9]),
        dict(entries="lsh", n_planes=24, band_bits=6, seed=42, dim=64),
        dict(
            entries="lsh", n_planes=24, band_bits=6, seed=42, dim=64,
            corpus_bands=bands,
        ),
    ]
    def serve_all():
        return [
            canon(knn_graph_serve(
                graph, emb, probes, k=10, beam=8, rounds=2, **kw
            ))
            for kw in modes
        ]

    whole = serve_all()
    monkeypatch.setattr(ann, "DRIVER_MAX_CELLS", 0)
    assert serve_all() == whole
    assert all(len(rows) > 0 for rows in whole)


def test_knn_graph_driver_paths_exact_duplicate_vectors(
    spark, sf_dir, monkeypatch
):
    """r14: replicated fixtures carry bitwise-DUPLICATE vectors under
    different ids, whose cosine sits exactly on the 1e-6 floor boundary —
    the one place the numpy pairwise-sum fold visibly diverges from the
    JVM/DuckDB sequential fold. On such a corpus the build's driver path
    must still equal its distributed plan, and insert/delete/serve must
    answer alike on the whole and the gather row source."""
    from pyspark.sql import functions as F

    from vector_search_spark.operators import ann
    from vector_search_spark.operators.ann import (
        knn_graph_build,
        knn_graph_delete,
        knn_graph_insert,
        knn_graph_serve,
    )
    from vector_search_spark.sources.catalog import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    dup = emb.unionByName(
        emb.select(
            (F.col("vec_id") + 100000).alias("vec_id"),
            "embedding",
            *[c for c in emb.columns if c not in ("vec_id", "embedding")],
        ).select(*emb.columns)
    ).localCheckpoint(eager=True)
    kw = dict(k=6, n_planes=24, band_bits=6, seed=42, dim=64)

    def canon(df):
        return sorted(map(tuple, df.collect()))

    g_drv = knn_graph_build(dup, rounds=1, **kw).localCheckpoint(True)
    new = dup.filter(F.col("vec_id").between(100000, 100004))
    base = dup.filter(~F.col("vec_id").between(100000, 100004))
    bgraph = knn_graph_build(base, rounds=1, **kw).localCheckpoint(True)
    dels = dup.filter(F.col("vec_id") % 7 == 3).select("vec_id")
    probes = dup.filter(F.col("vec_id") < 2).select(
        F.col("vec_id").alias("probe_id"),
        F.col("embedding").alias("probe_vec"),
    )

    def ops():
        return [
            canon(knn_graph_insert(bgraph, base, new, **kw)),
            canon(knn_graph_delete(g_drv, dup, dels, **kw)),
            canon(knn_graph_serve(g_drv, dup, probes, k=10, beam=8,
                                  rounds=2)),
        ]

    whole = ops()
    monkeypatch.setattr(ann, "DRIVER_MAX_CELLS", 0)
    assert canon(knn_graph_build(dup, rounds=1, **kw)) == canon(g_drv)
    assert ops() == whole


def test_graph_server_band_config_consistent_off_default(spark):
    """ADVICE r8 high: the graph engine must resolve (n_planes,
    band_bits) ONCE, from the corpus it builds (not the 10**7 rows the
    choice was profiled at), and use the same values for the maintained
    corpus band table and every serve call. At n=1000 auto_band_bits=7
    != the maintainer's default 6 — the size class where the earlier
    code hashed probes and corpus under different configs and
    LSH-seeded recall silently collapsed."""
    import numpy as np

    from vector_search_spark.operators.ann import auto_band_bits
    from vector_search_spark.operators.index_select import (
        build_choice,
        choose_index,
    )

    rng = np.random.RandomState(13)
    n, dim, ncl = 1000, 32, 40
    cents = rng.randn(ncl, dim)
    X = np.stack([cents[i % ncl] + 0.3 * rng.randn(dim) for i in range(n)])
    X = X / np.linalg.norm(X, axis=1, keepdims=True)
    emb = spark.createDataFrame(
        [(i, [float(x) for x in X[i]]) for i in range(n)],
        "vec_id long, embedding array<float>",
    )
    index = build_choice(
        choose_index(10**7, dim, recall_target=0.95), emb, dim=dim
    )
    auto = auto_band_bits(n)
    assert auto != 6  # the regression is only visible off the old default
    assert index.band_bits == auto
    assert index.n_planes == auto * 4
    probe_ids = [7, 333, 911]
    probes = emb.filter(F.col("vec_id").isin(probe_ids)).select(
        F.col("vec_id").alias("probe_id"),
        F.col("embedding").alias("probe_vec"),
    )
    got = index.serve(probes, k=5, beam=10).collect()
    per = {}
    for r in got:
        per.setdefault(r.probe_id, []).append(r.vec_id)
    sims = X @ X.T
    hits = tot = 0
    for p in probe_ids:
        exact = list(np.argsort(-sims[p])[:5])
        hits += len(set(per[p]) & set(exact))
        tot += 5
    assert hits / tot >= 0.9, f"off-default serve recall {hits/tot:.2f}"


def test_graph_serve_refuses_bands_without_config(spark):
    """corpus_bands without explicit (n_planes, band_bits) is a config-
    mismatch trap (and a per-batch count job) — must raise, not guess;
    so must a non-integral id column."""
    import pytest as _pytest

    from vector_search_spark.operators.ann import (
        corpus_band_keys,
        knn_graph_serve,
    )

    emb = spark.createDataFrame(
        [(i, [float(i), 1.0, 0.5, -0.25]) for i in range(20)],
        "vec_id long, embedding array<float>",
    )
    graph = spark.createDataFrame(
        [(0, 1, 1, 0.5)], "src_id long, nbr_id long, rank long, score double"
    )
    probes = emb.limit(1).select(
        F.col("vec_id").alias("probe_id"), F.col("embedding").alias("probe_vec")
    )
    cb = corpus_band_keys(emb, n_planes=16, band_bits=4, dim=4)
    with _pytest.raises(ValueError, match="corpus_bands requires explicit"):
        knn_graph_serve(
            graph, emb, probes, entries="lsh", dim=4, corpus_bands=cb
        )
    # the kernels key every relation by int64 ids: a string id column is
    # refused by name and type, not answered
    str_probes = probes.select(
        F.col("probe_id").cast("string").alias("probe_id"), "probe_vec"
    )
    with _pytest.raises(ValueError, match="'probe_id' must be integral, got string"):
        knn_graph_serve(graph, emb, str_probes, dim=4)


def test_graph_build_auto_bands_snap_to_divisor(spark):
    """ADVICE r8 medium: explicit n_planes with band_bits=None must snap
    the auto band width to the nearest DIVISOR of n_planes instead of
    raising data-dependently (n=1000 -> auto 7, which does not divide
    24)."""
    import numpy as np

    from vector_search_spark.operators.ann import knn_graph_build

    rng = np.random.RandomState(17)
    n, dim = 1000, 16
    X = rng.randn(n, dim)
    X = X / np.linalg.norm(X, axis=1, keepdims=True)
    emb = spark.createDataFrame(
        [(i, [float(x) for x in X[i]]) for i in range(n)],
        "vec_id long, embedding array<float>",
    )
    g = knn_graph_build(emb, k=4, n_planes=24, rounds=1, seed=42, dim=dim)
    assert g.count() > 0  # previously: ValueError at plan-build time


def test_graph_build_auto_bands_never_snap_degenerate(spark):
    """ADVICE r9 medium: the divisor snap must never pick band_bits<4 —
    a prime n_planes=23 would otherwise snap to 1 (2 buckets/band,
    ~n^2/4 candidate pairs, a silent quadratic cliff). Now it takes the
    only >=4 divisor (23 itself, the conservative small-bucket side),
    and an n_planes with NO >=4 divisor raises a descriptive error."""
    import numpy as np
    import pytest as _pytest

    from vector_search_spark.operators.ann import knn_graph_build

    rng = np.random.RandomState(5)
    n, dim = 200, 16
    X = rng.randn(n, dim)
    X = X / np.linalg.norm(X, axis=1, keepdims=True)
    emb = spark.createDataFrame(
        [(i, [float(x) for x in X[i]]) for i in range(n)],
        "vec_id long, embedding array<float>",
    )
    # prime n_planes: only >=4 divisor is 23 -> one 23-bit band, no cliff
    g = knn_graph_build(emb, k=4, n_planes=23, rounds=0, seed=42, dim=dim)
    assert g.count() >= 0  # plan builds; bucket sizes bounded
    with _pytest.raises(ValueError, match="no divisor >= 4"):
        knn_graph_build(emb, k=4, n_planes=3, rounds=0, seed=42, dim=dim)


def _clustered(spark, seed, n, dim, ncl, spread=0.3):
    import numpy as np

    rng = np.random.RandomState(seed)
    cents = rng.randn(ncl, dim)
    X = np.stack([cents[i % ncl] + spread * rng.randn(dim) for i in range(n)])
    X = X / np.linalg.norm(X, axis=1, keepdims=True)
    emb = spark.createDataFrame(
        [(i, [float(x) for x in X[i]]) for i in range(n)],
        "vec_id long, embedding array<float>",
    )
    return X, emb


def test_knn_graph_delete_matches_rebuild_quality(spark):
    """Deleted-and-repaired graph vs a fresh rebuild on the survivor
    corpus: per-node edge recall >= 0.8 on clustered data (the insert
    twin's bar), no deleted id anywhere, ranks contiguous."""
    import numpy as np

    from vector_search_spark.operators.ann import (
        knn_graph_build,
        knn_graph_delete,
    )

    X, emb = _clustered(spark, 21, 360, 32, 18)
    kw = dict(k=5, n_planes=24, band_bits=6, seed=42, dim=32)
    g = knn_graph_build(emb, rounds=2, **kw).localCheckpoint(eager=True)
    dels = emb.filter(F.col("vec_id") % 9 == 2).select("vec_id")
    del_set = {r.vec_id for r in dels.collect()}
    got = knn_graph_delete(g, emb, dels, **kw).collect()
    assert all(
        r.src_id not in del_set and r.nbr_id not in del_set for r in got
    )
    survivors = emb.filter(~F.col("vec_id").isin(list(del_set)))
    rebuilt = knn_graph_build(survivors, rounds=2, **kw).collect()
    ga, gb = {}, {}
    for r in got:
        ga.setdefault(r.src_id, set()).add(r.nbr_id)
    for r in rebuilt:
        gb.setdefault(r.src_id, set()).add(r.nbr_id)
    assert set(ga) == set(gb)  # same surviving node set
    hits = tot = 0
    for s in gb:
        hits += len(ga.get(s, set()) & gb[s])
        tot += len(gb[s])
    assert hits / tot >= 0.8, f"delete-vs-rebuild recall {hits/tot:.2f}"
    per = {}
    for r in got:
        per.setdefault(r.src_id, []).append(r)
    for es in per.values():
        es.sort(key=lambda r: r.rank)
        assert [e.rank for e in es] == list(range(1, len(es) + 1))
        sc = [e.score for e in es]
        assert sc == sorted(sc, reverse=True)


def test_knn_graph_insert_then_delete_roundtrip(spark):
    """insert(new) followed by delete(same ids) must leave the original
    node set with the original edges on every node the insert never
    patched, and >= 0.9 edge recall overall (patched nodes may lose an
    NN-descent edge the banded repair pool cannot see — the documented
    compaction case)."""
    import numpy as np

    from vector_search_spark.operators.ann import (
        knn_graph_build,
        knn_graph_delete,
        knn_graph_insert,
    )

    X, emb = _clustered(spark, 33, 330, 32, 15)
    kw = dict(k=5, n_planes=24, band_bits=6, seed=42, dim=32)
    base = emb.filter(F.col("vec_id") >= 30)
    new = emb.filter(F.col("vec_id") < 30)
    g0 = knn_graph_build(base, rounds=2, **kw).localCheckpoint(eager=True)
    g1 = knn_graph_insert(g0, base, new, **kw).localCheckpoint(eager=True)
    g2 = knn_graph_delete(
        g1, emb, new.select("vec_id"), **kw
    ).collect()
    orig = {}
    for r in g0.collect():
        orig.setdefault(r.src_id, set()).add((r.nbr_id, r.rank, r.score))
    back = {}
    for r in g2:
        assert r.src_id >= 30 and r.nbr_id >= 30
        back.setdefault(r.src_id, set()).add((r.nbr_id, r.rank, r.score))
    assert set(back) == set(orig)
    patched = {
        r.src_id for r in g1.collect() if r.nbr_id < 30 or r.src_id < 30
    }
    hits = tot = 0
    for s in orig:
        if s not in patched:
            assert back[s] == orig[s]  # bit-identical round-trip
        hits += len({n for n, _, _ in back[s]} & {n for n, _, _ in orig[s]})
        tot += len(orig[s])
    assert hits / tot >= 0.9, f"round-trip edge recall {hits/tot:.2f}"


def test_ivf_assign_arrow_matches_jvm(spark, sf_dir):
    """The Arrow argmax assignment must agree with the interpreted JVM
    cosine-fold path row-for-row at fixture scale — the argmax-selection
    ulp channel in practice (a flip needs a ~1e-15 centroid tie)."""
    from vector_search_spark.operators.ann import ivf_assign
    from vector_search_spark.sources.catalog import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    cents = emb.filter(F.col("vec_id") < 16).select(
        F.col("vec_id").alias("centroid_id"),
        F.col("embedding").alias("centroid_vec"),
    )
    a = {
        (r.vec_id, r.centroid_id)
        for r in ivf_assign(emb, cents, arrow=False).collect()
    }
    b = {
        (r.vec_id, r.centroid_id)
        for r in ivf_assign(emb, cents, arrow=True).collect()
    }
    assert a == b and len(a) > 0


def test_graph_churn_compaction_policy(spark):
    """Tombstone-decay churn (VERDICT r9 next #2): under sustained
    insert/delete churn the incrementally-maintained graph decays —
    inserted nodes never receive NN-descent refinement and delete
    repair pools miss NN-descent edges — while GraphMaintainer's
    churn-fraction compaction policy (rebuild on survivors at 35%
    churned) holds quality at build level. Pinned against the measured
    decay curve (tools/graph_churn_probe.py, SCALING.md round 10):
    edge recall vs a fresh rebuild after 8 un-compacted rounds of 10%
    churn falls below the 0.95 floor; with the policy (compactions
    every ~2nd round) the post-churn state stays at/above it."""
    import numpy as np

    from vector_search_spark.operators.ann import knn_graph_build
    from vector_search_spark.operators.graph_lifecycle import GraphMaintainer

    n, dim, ncl, churn = 400, 32, 20, 40
    rng = np.random.RandomState(61)
    cents = rng.randn(ncl, dim)

    def clustered(r, m):
        X = np.stack([cents[i % ncl] + 0.3 * r.randn(dim) for i in range(m)])
        return X / np.linalg.norm(X, axis=1, keepdims=True)

    X0 = clustered(rng, n)

    def mkdf(ids, vecs):
        return spark.createDataFrame(
            [(int(i), [float(x) for x in v]) for i, v in zip(ids, vecs)],
            "vec_id long, embedding array<float>",
        )

    kw = dict(dim=dim, k=5, n_planes=24, band_bits=6, seed=42,
              build_rounds=2)

    def run_arm(thresh, n_rounds, use_policy):
        r = np.random.RandomState(63)
        live = {i: X0[i] for i in range(n)}
        next_id = n
        gm = GraphMaintainer(
            mkdf(sorted(live), [live[i] for i in sorted(live)]),
            compact_churn_frac=thresh, **kw,
        )
        for _ in range(n_rounds):
            dels = sorted(live)[:churn]
            newX = clustered(r, churn)
            new_ids = list(range(next_id, next_id + churn))
            next_id += churn
            gm.delete(mkdf(dels, [live[i] for i in dels]).select("vec_id"))
            for i in dels:
                del live[i]
            gm.insert(mkdf(new_ids, newX))
            for j, i in enumerate(new_ids):
                live[i] = newX[j]
            if use_policy:
                gm.maybe_compact()
        rebuilt = knn_graph_build(
            gm.corpus, rounds=2, k=5, n_planes=24, band_bits=6, seed=42,
            dim=dim,
        ).collect()
        fresh, cur = {}, {}
        for row in rebuilt:
            fresh.setdefault(row.src_id, set()).add(row.nbr_id)
        for row in gm.graph.collect():
            cur.setdefault(row.src_id, set()).add(row.nbr_id)
        hits = sum(len(cur.get(s, set()) & fresh[s]) for s in fresh)
        tot = sum(len(v) for v in fresh.values())
        return hits / tot, gm

    FLOOR = 0.95
    decayed, gm_a = run_arm(10.0, 8, use_policy=False)
    assert decayed < FLOOR, f"no-compaction recall {decayed:.3f} (no decay?)"
    assert gm_a.compactions == 0 and gm_a.churn_frac > 1.0
    # policy arm: 5 rounds, threshold 0.35 -> compactions at rounds 2 & 4,
    # measured post-round-5 state (NOT right after a compaction, so the
    # floor is not trivially 1.0)
    held, gm_b = run_arm(0.35, 5, use_policy=True)
    assert held >= FLOOR, f"with-compaction recall {held:.3f}"
    assert gm_b.compactions == 2
    assert gm_b.churn_frac < 0.35  # counter reset by the last compaction


@pytest.mark.parametrize("gate", ["whole", "gather"])
def test_graph_maintainer_durable_restart(spark, tmp_path, monkeypatch, gate):
    """VERDICT r10 next #4: the maintained (graph, bands, churn counter)
    must survive a restart. Kill AFTER a delete and BEFORE the pending
    compaction; GraphMaintainer.recover must reconstruct the EXACT
    maintained state — edge-set equality (ranks/scores included),
    corpus equality, churn counter and compaction count preserved —
    and the pending compaction must then run on the recovered state.
    Run on both row sources: ``gather`` (DRIVER_MAX_CELLS=0) takes the
    incremental band table, the touched sets and recovery through
    Spark semi-joins."""
    import numpy as np

    from vector_search_spark.operators import ann
    from vector_search_spark.operators.graph_lifecycle import GraphMaintainer

    if gate == "gather":
        monkeypatch.setattr(ann, "DRIVER_MAX_CELLS", 0)

    n, dim, ncl = 240, 32, 12
    rng = np.random.RandomState(71)
    cents = rng.randn(ncl, dim)
    X = np.stack([cents[i % ncl] + 0.3 * rng.randn(dim) for i in range(n + 30)])
    X = X / np.linalg.norm(X, axis=1, keepdims=True)

    def mkdf(ids):
        return spark.createDataFrame(
            [(int(i), [float(x) for x in X[i]]) for i in ids],
            "vec_id long, embedding array<float>",
        )

    state = str(tmp_path / "gm_state")
    gm = GraphMaintainer(
        mkdf(range(n)), dim=dim, k=5, n_planes=24, band_bits=6, seed=42,
        build_rounds=2, compact_churn_frac=0.3, state_dir=state,
    )
    # one compaction mid-history so the preserved count is non-trivial
    gm.insert(mkdf(range(n, n + 30)))
    gm.delete(mkdf(range(0, 40)).select("vec_id"))
    assert gm.maybe_compact()  # churn 70/230 >= 0.3
    assert gm.compactions == 1
    # the mid-churn window: a delete has committed, compaction is due
    # but has NOT run — then the process dies
    gm.delete(mkdf(range(40, 100)).select("vec_id"))
    assert gm.churn_frac >= gm.compact_churn_frac  # compaction pending
    want_edges = {(r.src_id, r.nbr_id, r.rank, r.score)
                  for r in gm.graph.collect()}
    want_corpus = {r.vec_id for r in gm.corpus.collect()}
    want_bands = {(r.id, r.band, r.key) for r in gm.bands.collect()}
    want = (gm._churned, gm._n, gm.compactions, gm._op_seq)
    del gm  # crash: driver memory gone, only state_dir survives

    gm2 = GraphMaintainer.recover(spark, state)
    assert {(r.src_id, r.nbr_id, r.rank, r.score)
            for r in gm2.graph.collect()} == want_edges
    assert {r.vec_id for r in gm2.corpus.collect()} == want_corpus
    assert {(r.id, r.band, r.key) for r in gm2.bands.collect()} == want_bands
    assert (gm2._churned, gm2._n, gm2.compactions, gm2._op_seq) == want
    # the pending compaction now runs on the RECOVERED state
    assert gm2.maybe_compact()
    assert gm2.compactions == 2 and gm2.churn_frac == 0.0
    # and survives another restart (base-commit path)
    gm3 = GraphMaintainer.recover(spark, state)
    assert {(r.src_id, r.nbr_id, r.rank, r.score)
            for r in gm3.graph.collect()} == {
        (r.src_id, r.nbr_id, r.rank, r.score) for r in gm2.graph.collect()
    }
    assert gm3.compactions == 2
    # serve works over the recovered state
    probes = mkdf(range(120, 123)).select(
        F.col("vec_id").alias("probe_id"),
        F.col("embedding").alias("probe_vec"),
    )
    assert gm3.serve(probes, k=5).count() == 15


@pytest.mark.parametrize("gate", ["whole", "gather", "crossing"])
def test_graph_maintainer_matches_one_shot_ops(spark, monkeypatch, gate):
    """The maintainer keeps its index in one row source for its lifetime
    and applies each op's result to it; the public one-shot functions
    rebuild a source from DataFrames per call. One insert / delete /
    compact / insert / serve sequence must give bitwise-equal edges,
    ranks, scores and serve rows both ways. ``gather`` forces the gather
    source (DRIVER_MAX_CELLS=0); ``crossing`` sets a gate the corpus fits
    at open and outgrows on the first insert, so the maintainer converts
    its state at that op. A warm serve on the whole source runs one
    Spark job (the probe collect)."""
    import numpy as np

    from vector_search_spark.operators import ann
    from vector_search_spark.operators.ann import (
        corpus_band_keys,
        knn_graph_build,
        knn_graph_delete,
        knn_graph_insert,
        knn_graph_serve,
    )
    from vector_search_spark.operators.graph_lifecycle import GraphMaintainer

    n, dim, ncl = 200, 32, 10
    rng = np.random.RandomState(83)
    cents = rng.randn(ncl, dim)
    X = np.stack([cents[i % ncl] + 0.3 * rng.randn(dim) for i in range(n + 40)])
    X = X / np.linalg.norm(X, axis=1, keepdims=True)
    if gate == "gather":
        monkeypatch.setattr(ann, "DRIVER_MAX_CELLS", 0)
    elif gate == "crossing":
        monkeypatch.setattr(ann, "DRIVER_MAX_CELLS", (n + 10) * dim)

    def mkdf(ids):
        return spark.createDataFrame(
            [(int(i), [float(x) for x in X[i]]) for i in ids],
            "vec_id long, embedding array<float>",
        )

    def edges(df):
        return sorted(map(tuple, df.select(*ann._EDGE_COLS).collect()))

    kw = dict(k=5, n_planes=24, band_bits=6, seed=42, dim=dim)
    ins_a, ins_b = mkdf(range(n, n + 20)), mkdf(range(n + 20, n + 40))
    dels = mkdf(range(0, 200, 7)).select("vec_id")
    probes = mkdf(range(3, 200, 29)).select(
        F.col("vec_id").alias("probe_id"),
        F.col("embedding").alias("probe_vec"),
    )

    gm = GraphMaintainer(mkdf(range(n)), build_rounds=2, **kw)
    assert isinstance(
        gm._src, ann._GatherSource if gate == "gather" else ann._WholeSource
    )
    corpus = mkdf(range(n))
    g, bands = knn_graph_build(corpus, rounds=2, return_bands=True, **kw)
    assert edges(gm.graph) == edges(g)

    gm.insert(ins_a)
    g = knn_graph_insert(g, corpus, ins_a, corpus_bands=bands, **kw)
    corpus = corpus.unionByName(ins_a)
    bands = bands.unionByName(corpus_band_keys(ins_a, dim=dim))
    assert edges(gm.graph) == edges(g)
    assert isinstance(
        gm._src, ann._WholeSource if gate == "whole" else ann._GatherSource
    )

    gm.delete(dels)
    g = knn_graph_delete(g, corpus, dels, corpus_bands=bands, **kw)
    corpus = corpus.join(dels, "vec_id", "left_anti")
    assert edges(gm.graph) == edges(g)
    assert sorted(r.vec_id for r in gm.corpus.collect()) == sorted(
        r.vec_id for r in corpus.collect()
    )

    gm.compact()
    g, bands = knn_graph_build(corpus, rounds=2, return_bands=True, **kw)
    assert edges(gm.graph) == edges(g)
    assert sorted(map(tuple, gm.bands.collect())) == sorted(
        map(tuple, bands.collect())
    )

    gm.insert(ins_b)
    g = knn_graph_insert(g, corpus, ins_b, corpus_bands=bands, **kw)
    corpus = corpus.unionByName(ins_b)
    bands = bands.unionByName(corpus_band_keys(ins_b, dim=dim))
    assert edges(gm.graph) == edges(g)

    got = sorted(map(tuple, gm.serve(probes, k=10).collect()))
    want = sorted(map(tuple, knn_graph_serve(
        g, corpus, probes, k=10, beam=8, rounds=2, entries="lsh",
        corpus_bands=bands, **{c: kw[c] for c in ("n_planes", "band_bits",
                                                  "seed", "dim")},
    ).collect()))
    assert got == want and len(got) == 10 * 7
    assert gm._n == n + 40 - len(range(0, 200, 7))

    if gate == "whole":
        sc = spark.sparkContext
        sc.setJobGroup("gm_serve", "gm_serve")
        try:
            gm.serve(probes, k=10).collect()
        finally:
            sc.setJobGroup(None, None)
        assert len(sc.statusTracker().getJobIdsForGroup("gm_serve")) <= 1
