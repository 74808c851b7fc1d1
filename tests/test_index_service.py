"""VectorIndexService — the composed facade (VERDICT r11 #8): one object
drives choose → build → serve for static corpora and choose → build →
serve → insert/delete → compact → recover for mutable ones, delegating
to the individually-certified parts."""

import numpy as np
import pytest
from pyspark.sql import functions as F


def _corpus(spark, n=120, dim=16, seed=3):
    rng = np.random.RandomState(seed)
    X = rng.randn(n, dim)
    X = X / np.linalg.norm(X, axis=1, keepdims=True)
    return spark.createDataFrame(
        [(i, [float(x) for x in X[i]]) for i in range(n)],
        "vec_id long, embedding array<float>",
    ).localCheckpoint(eager=True)


def _probes(corpus, n=3):
    return corpus.filter(F.col("vec_id") < n).select(
        F.col("vec_id").alias("probe_id"),
        F.col("embedding").alias("probe_vec"),
    )


def test_static_service_exact_family(spark):
    from vector_search_spark.operators.index_service import VectorIndexService

    corpus = _corpus(spark)
    svc = VectorIndexService.open(corpus, dim=16, recall_target=0.99, k=5)
    assert svc.family == "exact"
    res = svc.serve(_probes(corpus))
    assert set(res.columns) == {"probe_id", "vec_id", "score"}
    rows = res.collect()
    assert len(rows) == 15  # 3 probes x k=5
    # a static service refuses mutation with a clear error
    with pytest.raises(ValueError, match="static"):
        svc.insert(corpus.limit(1))
    svc.close()


def test_mutable_exact_in_memory(spark):
    """A small mutable corpus with no state_dir keeps the chooser's
    EXACT pick: serving scans the CURRENT corpus, so insert/delete are
    corpus maintenance and answers reflect them immediately."""
    from vector_search_spark.operators.index_service import VectorIndexService

    corpus = _corpus(spark, n=80)
    svc = VectorIndexService.open(corpus, dim=16, mutable=True, k=5)
    assert svc.family == "exact"
    probes = _probes(corpus, 1)
    before = {r.vec_id for r in svc.serve(probes).collect()}
    assert before
    svc.delete(spark.createDataFrame([(v,) for v in before], "vec_id long"))
    after = {r.vec_id for r in svc.serve(probes).collect()}
    assert after and not (after & before)
    extra = _corpus(spark, n=100).filter(F.col("vec_id") >= 80)
    svc.insert(extra)
    assert svc.serve(probes).count() == 5
    assert svc.churn_frac > 0
    svc.compact()  # documented no-op for the scan engine


def test_mutable_service_full_lifecycle_and_recover(spark, tmp_path):
    """open(mutable) → serve → insert → delete → serve; then recover
    from the state dir in a 'fresh process' and get the identical
    post-churn answers — the facade composes the maintainer's certified
    durable lifecycle."""
    from vector_search_spark.operators.index_service import VectorIndexService

    corpus = _corpus(spark, n=150)
    extra = _corpus(spark, n=200).filter(F.col("vec_id") >= 150)
    state = str(tmp_path / "svc")
    svc = VectorIndexService.open(
        corpus, dim=16, mutable=True, k=5, state_dir=state
    )
    assert svc.family == "graph"
    probes = _probes(corpus)
    assert len(svc.serve(probes).collect()) == 15

    svc.insert(extra)
    svc.delete(spark.createDataFrame([(7,), (8,)], "vec_id long"))
    after = {
        (r.probe_id, r.vec_id) for r in svc.serve(probes).collect()
    }
    assert after and all(v not in (7, 8) for _, v in after)
    churn = svc.churn_frac

    svc2 = VectorIndexService.recover(spark, state, k=5)
    assert svc2.family == "graph"
    recovered = {
        (r.probe_id, r.vec_id) for r in svc2.serve(probes).collect()
    }
    assert recovered == after
    assert svc2.churn_frac == pytest.approx(churn)


def test_mutable_service_compacts_on_churn(spark, tmp_path):
    from vector_search_spark.operators.index_service import VectorIndexService

    corpus = _corpus(spark, n=60)
    svc = VectorIndexService.open(
        corpus, dim=16, mutable=True, k=5,
        state_dir=str(tmp_path / "svc"),
    )
    before = svc._engine.compactions
    # churn > half the corpus through the facade -> policy fires
    extra = _corpus(spark, n=120).filter(F.col("vec_id") >= 60)
    svc.insert(extra)
    assert svc._engine.compactions >= before  # insert alone may not trip
    svc.delete(
        spark.createDataFrame([(i,) for i in range(40)], "vec_id long")
    )
    assert svc._engine.compactions > before
    assert svc.churn_frac == 0.0  # reset by compaction


def test_static_and_mutable_graph_services_serve_alike(spark, tmp_path):
    """One graph engine behind both: a static service and a durable
    mutable one, opened over the same corpus with the same pinned graph
    params, serve identical (probe_id, vec_id, score) rows; only the
    mutable one accepts mutation."""
    from vector_search_spark.operators.index_service import VectorIndexService

    corpus = _corpus(spark, n=150)
    params = {"k": 6, "n_planes": 16, "band_bits": 4, "rounds": 2}
    static = VectorIndexService.open(corpus, dim=16, k=5, graph_params=params)
    mutable = VectorIndexService.open(
        corpus, dim=16, k=5, mutable=True, state_dir=str(tmp_path / "svc"),
        graph_params=params,
    )
    assert static.family == mutable.family == "graph"
    probes = _probes(corpus, 5)

    def rows(svc):
        served = svc.serve(probes).collect()
        return sorted((r.probe_id, r.vec_id, r.score) for r in served)

    assert len(rows(static)) == 25
    assert rows(static) == rows(mutable)
    with pytest.raises(ValueError, match="static"):
        static.delete(corpus.limit(1).select("vec_id"))
    mutable.delete(corpus.limit(1).select("vec_id"))
    assert mutable.churn_frac > 0
