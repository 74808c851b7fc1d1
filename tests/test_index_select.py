"""choose_index decision-table tests: replay the recorded evidence
(SCALING.md rounds 6-8, v_ivf_recall_sweep, tests/test_ann.py recall
floors) and assert the chooser picks what the measurements support."""

import pytest

from vector_search_spark.operators.ann import auto_band_bits
from vector_search_spark.operators.index_select import (
    EXACT_MAX_N,
    IVF_RECALL,
    choose_index,
)


def test_small_corpus_exact():
    c = choose_index(50_000, 768, recall_target=0.99)
    assert c.family == "exact"


def test_mutable_corpus_graph_always():
    # the reference's condition_vec pattern: deletes + re-inserts
    c = choose_index(5_000_000, 768, recall_target=0.85, mutable=True)
    assert c.family == "graph"
    assert c.params["band_bits"] == auto_band_bits(5_000_000)
    assert c.params["n_planes"] == c.params["band_bits"] * 4


def test_recall_within_sweep_gets_ivf_with_measured_nprobe():
    # measured sweep: 0.83 / 0.87 / 0.87 at n_probe 1 / 2 / 4
    assert choose_index(10**7, 768, recall_target=0.8).params["n_probe"] == 1
    assert choose_index(10**7, 768, recall_target=0.85).params["n_probe"] == 2
    assert choose_index(10**7, 768, recall_target=0.87).params["n_probe"] == 2
    c = choose_index(10**7, 768, recall_target=0.85)
    assert c.family == "ivf"
    assert 16 <= c.params["n_centroids"] <= 65536


def test_recall_above_ivf_ceiling_gets_graph():
    c = choose_index(10**7, 768, recall_target=0.95)
    assert c.family == "graph"


def test_memory_pressure_pq_then_hamming():
    n, dim = 10**8, 768
    raw = n * dim * 4                      # ~307 GB
    c = choose_index(n, dim, recall_target=0.8,
                     memory_budget_bytes=raw // 10)   # ~31 GB: PQ fits
    assert c.family == "ivf_pq"
    c2 = choose_index(n, dim, recall_target=0.8,
                      memory_budget_bytes=n * 2)      # 0.2 GB: only sketches
    assert c2.family == "hamming"


def test_memory_pressure_with_unreachable_recall_carries_caveat():
    # ADVICE r9 low: the memory branch fires before the recall-ceiling
    # check — a tight budget + recall_target above the measured IVF
    # ceiling must say the target is unreachable, not silently accept it
    n, dim = 10**8, 768
    c = choose_index(n, dim, recall_target=0.95,
                     memory_budget_bytes=(n * dim * 4) // 10)
    assert c.family == "ivf_pq"
    assert any("unreachable" in cv for cv in c.caveats)
    ok = choose_index(n, dim, recall_target=0.85,
                      memory_budget_bytes=(n * dim * 4) // 10)
    assert not any("unreachable" in cv for cv in ok.caveats)


def test_single_qps_is_a_caveat_not_a_family_change():
    a = choose_index(10**7, 768, recall_target=0.85, qps_shape="batch")
    b = choose_index(10**7, 768, recall_target=0.85, qps_shape="single")
    assert a.family == b.family
    assert any("scheduling floor" in c for c in b.caveats)
    assert not any("scheduling floor" in c for c in a.caveats)


def test_bad_args_raise():
    with pytest.raises(ValueError):
        choose_index(1000, 64, recall_target=0.0)
    with pytest.raises(ValueError):
        choose_index(1000, 64, qps_shape="firehose")


def test_boundary_consistency_with_evidence_constants():
    # just above EXACT_MAX_N the exact path must close even at high recall
    c = choose_index(EXACT_MAX_N + 1, 64, recall_target=0.99)
    assert c.family == "graph"
    # at the measured ceiling exactly, IVF still qualifies
    c2 = choose_index(EXACT_MAX_N + 1, 64, recall_target=IVF_RECALL[4])
    assert c2.family == "ivf"


def test_build_choice_end_to_end(spark, tmp_path):
    """VERDICT r9 next #5: the IndexChoice is EXECUTED, not just
    returned — for five corpus profiles the chooser's pick is built and
    served end-to-end on a clustered corpus and must clear the measured
    recall floor of its family (exact = 1.0 by construction; the others
    vs exact brute force on the same probes)."""
    import numpy as np
    from pyspark.sql import functions as F

    from vector_search_spark.operators.index_select import build_choice
    from vector_search_spark.operators.knn import knn

    n, dim, ncl = 400, 32, 20
    rng = np.random.RandomState(71)
    cents = rng.randn(ncl, dim)
    X = np.stack([cents[i % ncl] + 0.3 * rng.randn(dim) for i in range(n)])
    X = X / np.linalg.norm(X, axis=1, keepdims=True)
    corpus = spark.createDataFrame(
        [(i, [float(x) for x in X[i]]) for i in range(n)],
        "vec_id long, embedding array<float>",
    ).localCheckpoint(eager=True)
    probes = corpus.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("probe_id"),
        F.col("embedding").alias("probe_vec"),
    )
    exact = {}
    for r in knn(corpus, probes, k=10).collect():
        exact.setdefault(r.probe_id, set()).add(r.vec_id)

    def execute(choice, **kw):
        # one-shot build + serve; an adhoc scratch index is reclaimed
        # after its answers materialize (serve checkpoints them)
        index = build_choice(choice, corpus, **kw)
        served = index.serve(probes, k=10)
        index.close()
        return served

    def recall(df):
        got = {}
        for r in df.collect():
            got.setdefault(r.probe_id, set()).add(r.vec_id)
        hits = sum(len(got.get(p, set()) & exact[p]) for p in exact)
        return hits / sum(len(v) for v in exact.values())

    # profile 1: small corpus, perfect recall -> exact -> recall 1.0
    c1 = choose_index(n, dim, recall_target=0.99)
    assert c1.family == "exact"
    r1 = execute(c1)
    assert set(r1.columns) == {"probe_id", "vec_id", "score"}
    assert recall(r1) == 1.0

    # profile 2: big static corpus, recall within the IVF sweep -> ivf
    c2 = choose_index(10**7, dim, recall_target=0.85)
    assert c2.family == "ivf"
    r2 = execute(c2, index_path=str(tmp_path / "ivf"))
    assert recall(r2) >= 0.5  # n_probe=2 of ~25 capped buckets, clustered

    # profile 3: mutable corpus -> graph; serve floor on clustered data
    c3 = choose_index(10**7, dim, recall_target=0.85, mutable=True)
    assert c3.family == "graph"
    r3 = execute(c3, dim=dim)
    assert recall(r3) >= 0.85

    # profile 4 (round 11, VERDICT r10 next #5): raw vectors blow the
    # memory budget, PQ codes fit -> ivf_pq through pq_adc_serve.
    # Measured on this capped-16-centroid clustered fixture: 0.49 at
    # n_probe 1 AND 4 (the 4-subq x 16-codeword ADC quantization is the
    # limiter here, not bucket pruning — 20 clusters vs 16 codewords is
    # deliberately adversarial; the near-uniform registry fixture ranks
    # higher). Gate the floor with margin + n_probe monotonicity.
    raw = 10**8 * dim * 4
    c4 = choose_index(10**8, dim, recall_target=0.8,
                      memory_budget_bytes=raw // 10)
    assert c4.family == "ivf_pq" and c4.params["n_probe"] == 1
    r4 = execute(c4)
    assert set(r4.columns) == {"probe_id", "vec_id", "score"}
    rec1 = recall(r4)
    assert rec1 >= 0.4
    c4.params["n_probe"] = 4  # the v_ivf_pq_knn registry convention
    assert recall(execute(c4)) >= rec1

    # profile 5: even PQ codes blow the budget -> hamming 64-bit sketch
    # (coarsest family; sign-bit recall on clustered 32-dim data
    # measured 0.54 — the "re-rank survivors" caveat is the contract)
    c5 = choose_index(10**8, dim, recall_target=0.8,
                      memory_budget_bytes=10**8 * 2)
    assert c5.family == "hamming"
    r5 = execute(c5)
    assert set(r5.columns) == {"probe_id", "vec_id", "score"}
    # scores are negated distances: top-1 must be the probe itself
    # (distance 0), and every probe answers k rows
    per = {}
    for r in r5.collect():
        per.setdefault(r.probe_id, []).append((r.score, r.vec_id))
    assert set(per) == set(exact)
    for p, rows in per.items():
        assert len(rows) == 10
        assert max(rows)[0] == 0.0  # self at hamming distance 0
    assert recall(r5) >= 0.35


def test_serving_index_shared_surface_all_families(spark, tmp_path):
    """VERDICT r11 #4: ONE serve path per family. build_choice returns
    one engine per family, and every engine's serve(probes, k) answers
    repeated batches off the SAME built index with the (probe_id,
    vec_id, score) contract; close() reclaims adhoc scratch."""
    import os

    import numpy as np
    from pyspark.sql import functions as F

    from vector_search_spark.operators.index_select import (
        build_choice,
        choose_index,
    )
    from vector_search_spark.utils import pid_scratch

    n, dim = 200, 16
    rng = np.random.RandomState(5)
    X = rng.randn(n, dim)
    X = X / np.linalg.norm(X, axis=1, keepdims=True)
    corpus = spark.createDataFrame(
        [(i, [float(x) for x in X[i]]) for i in range(n)],
        "vec_id long, embedding array<float>",
    ).localCheckpoint(eager=True)
    probes = corpus.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("probe_id"),
        F.col("embedding").alias("probe_vec"),
    )

    choices = {
        "exact": choose_index(n, dim, recall_target=0.99),
        "ivf": choose_index(10**7, dim, recall_target=0.85),
        "graph": choose_index(10**7, dim, recall_target=0.85, mutable=True),
        "ivf_pq": choose_index(
            # PQ codes are 8 B/vector: budget sits between codes (0.8 GB)
            # and raw 16-dim floats (6.4 GB)
            10**8, dim, recall_target=0.8, memory_budget_bytes=10**9,
        ),
        "hamming": choose_index(
            10**8, dim, recall_target=0.8, memory_budget_bytes=10**8 * 2
        ),
    }
    for family, choice in choices.items():
        assert choice.family == family
        idx = build_choice(choice, corpus, dim=dim)
        assert idx.family == family
        r1 = idx.serve(probes, k=5)
        # the graph engine also returns each answer's rank
        extra = {"rank"} if family == "graph" else set()
        assert set(r1.columns) == {"probe_id", "vec_id", "score"} | extra
        rows1 = {(r.probe_id, r.vec_id) for r in r1.collect()}
        assert {p for p, _ in rows1} == {0, 1, 2}
        # a second batch serves off the SAME built index (the build/serve
        # split is the point — no rebuild per batch)
        rows2 = {
            (r.probe_id, r.vec_id) for r in idx.serve(probes, k=5).collect()
        }
        assert rows2 == rows1
        idx.close()
        if family == "ivf":
            # adhoc scratch index reclaimed on close
            assert not os.path.exists(pid_scratch("choice_ivf", "adhoc"))


def test_profile_measured_evidence_replayed():
    """VERDICT r9 next #4: the decision table cites numbers MEASURED at
    dim=1536 (tools/index_profile.py), not extrapolated from 64/768 —
    replay the recorded structural facts and the per-choice wiring."""
    from vector_search_spark.operators.index_select import (
        PROFILE,
        profile_for,
    )

    assert set(PROFILE) == {64, 768, 1536}
    assert profile_for(1536)["width"] == 1536
    assert profile_for(1000)["width"] == 768
    assert profile_for(32)["width"] == 64
    # measured structural facts: graph serve scales with width, its
    # index bytes do not (k edges/vector); pq/hamming footprints are
    # width-independent by construction; ivf index stores full vectors
    assert (
        PROFILE[64]["graph_ms"]
        < PROFILE[768]["graph_ms"]
        < PROFILE[1536]["graph_ms"]
    )
    assert abs(PROFILE[64]["graph_b"] - PROFILE[1536]["graph_b"]) < 20
    for w in PROFILE:
        assert PROFILE[w]["ham_b"] == PROFILE[64]["ham_b"]
        assert PROFILE[w]["pq_b"] - PROFILE[64]["pq_b"] < 1
        assert PROFILE[w]["ivf_b"] > 0.5 * PROFILE[w]["raw_b"]
    # every choice carries the nearest-width measured profile, and at
    # real widths the graph-serve scaling caveat cites the 1536 number
    c = choose_index(10**7, 1536, recall_target=0.95)
    assert c.family == "graph"
    assert c.measured["width"] == 1536
    assert c.measured["graph_ms"] == PROFILE[1536]["graph_ms"]
    assert any("scales ~linearly with width" in cv for cv in c.caveats)
    c64 = choose_index(10**7, 64, recall_target=0.85)
    assert c64.measured["width"] == 64
    assert not any("scales ~linearly" in cv for cv in c64.caveats)
