"""Persisted embedding-LSH index + incremental probe
(``embedding_index_write`` / ``embedding_probe_pairs`` — the embedding
twin of the MinHash standing-asset pair, round 13).

The DuckDB gate row ``d_embedding_persist_incr`` certifies persisted ==
recompute CROSS-engine; these tests pin the in-Spark contracts the gate
can't see: planted near-dups are actually recalled through the on-disk
index, the persisted path equals an in-memory recompute of the same
banding bit-for-bit, and the dim guard fails loudly.
"""

import os

import numpy as np
import pytest
from pyspark.sql import functions as F

from vector_search_spark.functions.vector import cosine_sim, l2_norm
from vector_search_spark.operators.ann import corpus_band_keys
from vector_search_spark.operators.dedup import (
    embedding_index_write,
    embedding_probe_pairs,
)
from vector_search_spark.operators.index_log import IndexLog

DIM = 16
N_PLANES, BAND_BITS = 24, 6
THRESH = 0.6


def _vectors(spark):
    """40 corpus vectors + 12 batch vectors; batch ids 1000..1005 are
    tiny perturbations of corpus ids 0..5 (cos > 0.99 — true near-dups),
    the rest are independent gaussians (cos ~ 0 at dim=16)."""
    rng = np.random.default_rng(7)
    corpus = rng.normal(size=(40, DIM))
    batch = rng.normal(size=(12, DIM))
    batch[:6] = corpus[:6] + 0.01 * rng.normal(size=(6, DIM))
    c_rows = [(int(i), [float(x) for x in v]) for i, v in enumerate(corpus)]
    b_rows = [
        (int(1000 + i), [float(x) for x in v]) for i, v in enumerate(batch)
    ]
    schema = "vec_id long, embedding array<double>"
    return (
        spark.createDataFrame(c_rows, schema),
        spark.createDataFrame(b_rows, schema),
    )


def test_probe_recalls_planted_neardups_and_matches_recompute(
    spark, tmp_path
):
    corpus, batch = _vectors(spark)
    path = str(tmp_path / "emb_idx")
    embedding_index_write(
        corpus, "embedding", "vec_id", path,
        n_planes=N_PLANES, band_bits=BAND_BITS, dim=DIM,
    )
    got = {
        (r.new_id, r.corpus_id): r.cos
        for r in embedding_probe_pairs(
            spark, path, batch, "embedding", "vec_id",
            threshold=THRESH, n_planes=N_PLANES, band_bits=BAND_BITS,
            dim=DIM,
        ).collect()
    }

    # planted near-dups (cos > 0.99) survive the banded index: a true
    # pair misses only if ALL 4 six-bit band keys differ — at this cos
    # each band collides with p = (1-θ/π)^6 ≈ 0.93, so all six planted
    # pairs recall deterministically under the fixed seed
    for i in range(6):
        assert (1000 + i, i) in got, f"planted near-dup {i} not recalled"
        assert got[(1000 + i, i)] > 0.99

    # persisted path == in-memory recompute of the identical banding
    # (same seed/planes/slices), candidate-for-candidate and value-exact
    cb = corpus_band_keys(
        corpus, N_PLANES, BAND_BITS, 42, DIM, id_col="vec_id",
        vec_col="embedding",
    ).select(F.col("id").alias("corpus_id"), "band", "key")
    bb = corpus_band_keys(
        batch, N_PLANES, BAND_BITS, 42, DIM, id_col="vec_id",
        vec_col="embedding",
    ).select(F.col("id").alias("new_id"), "band", "key")
    cands = cb.join(bb, ["band", "key"]).select("new_id", "corpus_id").distinct()
    cv = corpus.select(
        F.col("vec_id").alias("corpus_id"),
        F.col("embedding").alias("v_c"),
        l2_norm("embedding").alias("nrm_c"),
    )
    bv = batch.select(
        F.col("vec_id").alias("new_id"),
        F.col("embedding").alias("v_n"),
        l2_norm("embedding").alias("nrm_n"),
    )
    want = {
        (r.new_id, r.corpus_id): r.cos
        for r in cands.join(cv, "corpus_id").join(bv, "new_id")
        .withColumn("cos", cosine_sim("v_n", "v_c", "nrm_n", "nrm_c"))
        .filter(F.col("cos") >= THRESH)
        .collect()
    }
    assert got == want  # same pairs, bit-identical JVM-fold cosines


def test_index_layout_band_partitioned(spark, tmp_path):
    corpus, _ = _vectors(spark)
    path = str(tmp_path / "emb_idx2")
    embedding_index_write(
        corpus, "embedding", "vec_id", path,
        n_planes=N_PLANES, band_bits=BAND_BITS, dim=DIM,
    )
    base = IndexLog(path)
    base = base.base(base.read())
    bands = spark.read.parquet(f"{base}/bands")
    assert sorted(
        r.band for r in bands.select("band").distinct().collect()
    ) == [0, 1, 2, 3]
    # one (band, key) row per (vector, band): probe cost is a key join
    assert bands.count() == 40 * (N_PLANES // BAND_BITS)
    vecs = spark.read.parquet(f"{base}/vecs")
    assert vecs.columns == ["id", "v", "nrm"]
    assert vecs.count() == 40


def test_dim_guard_fails_loudly(spark, tmp_path):
    corpus, batch = _vectors(spark)
    with pytest.raises(ValueError, match="requires dim="):
        embedding_index_write(corpus, "embedding", "vec_id", "/tmp/x")
    with pytest.raises(ValueError, match="requires dim="):
        embedding_probe_pairs(spark, "/tmp/x", batch, "embedding", "vec_id")


@pytest.mark.parametrize("family", ["embedding", "minhash"])
def test_settings_mismatch_fails_loudly(spark, tmp_path, family):
    """ADVICE r13: probing with other banding settings than the index
    was written with silently missed pairs (band keys never collide).
    Each index records its settings; its probe (and the embedding
    insert) must refuse, naming the caller's value and the recorded one."""
    from vector_search_spark.operators.dedup import embedding_index_insert

    path = str(tmp_path / "idx")
    if family == "minhash":
        from vector_search_spark.operators.dedup import (
            minhash_index_write,
            minhash_probe_pairs,
        )

        docs = spark.createDataFrame(
            [(i, f"the quick brown fox number {i} jumps") for i in range(6)],
            "doc_id long, text string",
        )
        minhash_index_write(docs, "text", "doc_id", path)
        with pytest.raises(ValueError, match="bands=2 .*bands=4"):
            minhash_probe_pairs(spark, path, docs, "text", "doc_id", bands=2)
        with pytest.raises(ValueError, match="n_hashes=32 .*n_hashes=16"):
            minhash_probe_pairs(
                spark, path, docs, "text", "doc_id", n_hashes=32
            )
        return
    corpus, batch = _vectors(spark)
    embedding_index_write(
        corpus, "embedding", "vec_id", path,
        n_planes=N_PLANES, band_bits=BAND_BITS, dim=DIM,
    )
    with pytest.raises(ValueError, match="band_bits=8 .*band_bits=6"):
        embedding_probe_pairs(
            spark, path, batch, "embedding", "vec_id",
            n_planes=N_PLANES, band_bits=8, dim=DIM,
        )
    with pytest.raises(ValueError, match="seed=7 .*seed=42"):
        embedding_index_insert(
            batch, "embedding", "vec_id", path,
            n_planes=N_PLANES, band_bits=BAND_BITS, dim=DIM, seed=7,
        )


def test_empty_index_takes_insert_probe_and_compact(spark, tmp_path):
    """An index written from an EMPTY corpus commits a ``bands/`` dir
    with no ``band=`` partitions, so nothing on disk carries a schema.
    Reads use the schemas the base commit recorded in the marker: an
    insert into the empty index is probed and folded like any other."""
    from vector_search_spark.operators.dedup import (
        embedding_index_compact,
        embedding_index_insert,
    )

    corpus, batch = _vectors(spark)
    path = str(tmp_path / "idx")
    embedding_index_write(
        corpus.limit(0), "embedding", "vec_id", path,
        n_planes=N_PLANES, band_bits=BAND_BITS, dim=DIM,
    )
    assert _probe_rows(spark, path, batch) == []
    embedding_index_insert(
        corpus.filter(F.col("vec_id") == 0), "embedding", "vec_id", path,
        n_planes=N_PLANES, band_bits=BAND_BITS, dim=DIM,
    )
    pairs = [(n, c) for n, c, _ in _probe_rows(spark, path, batch)]
    assert pairs == [(1000, 0)]
    assert embedding_index_compact(spark, path)["folded_batches"] == [0]
    assert [(n, c) for n, c, _ in _probe_rows(spark, path, batch)] == pairs


def test_streaming_chained_equals_oneshot(spark, sf_dir):
    """The streaming row's batching-invariance pin: draining the new
    rows through maxFilesPerTrigger=1 micro-batch probes equals the
    one-shot probe of all new rows against the same persisted index."""
    from vector_search_spark.config import EMB_DIM
    from vector_search_spark.plans.queries import _EPI_BITS, _EPI_PLANES
    from vector_search_spark.sources.catalog import load_table
    from vector_search_spark.streaming.serving import (
        run_streaming_semantic_dedup_availablenow,
    )

    streamed = {
        (r.new_id, r.corpus_id): r.cos
        for r in run_streaming_semantic_dedup_availablenow(
            spark, sf_dir, n_new=100, threshold=0.3,
            n_planes=_EPI_PLANES, band_bits=_EPI_BITS,
        ).collect()
    }
    emb = load_table(spark, sf_dir, "embeddings")
    import os

    from vector_search_spark.utils import pid_scratch

    idx_path = os.path.join(
        pid_scratch("semdedup_idx", sf_dir),
        f"idx_n100_p{_EPI_PLANES}b{_EPI_BITS}d{EMB_DIM}",
    )
    oneshot = {
        (r.new_id, r.corpus_id): r.cos
        for r in embedding_probe_pairs(
            spark, idx_path, emb.filter(F.col("vec_id") < 100),
            "embedding", "vec_id", threshold=0.3,
            n_planes=_EPI_PLANES, band_bits=_EPI_BITS, dim=EMB_DIM,
        ).collect()
    }
    assert streamed == oneshot
    assert streamed  # nonempty at the test fixture


def test_admit_loop_matches_sequential_batch_replay(spark, sf_dir, tmp_path):
    """Dedup-then-admit pin: the streamed loop equals a hand-driven
    sequential probe+insert replay in batch mode, every emitted pair's
    corpus row was admitted strictly before the probe's delivery, and
    the cross-delivery class is actually exercised at the test fixture."""
    from vector_search_spark.config import EMB_DIM
    from vector_search_spark.operators.dedup import (
        embedding_index_insert,
        embedding_index_write,
    )
    from vector_search_spark.plans.queries import _EPI_BITS, _EPI_PLANES
    from vector_search_spark.sources.catalog import load_table
    from vector_search_spark.streaming.serving import (
        run_streaming_semantic_dedup_admit_availablenow,
    )

    streamed = {
        (r.new_id, r.corpus_id): r.cos
        for r in run_streaming_semantic_dedup_admit_availablenow(
            spark, sf_dir, n_new=90, batch_rows=30, threshold=0.3,
            n_planes=_EPI_PLANES, band_bits=_EPI_BITS,
        ).collect()
    }
    emb = load_table(spark, sf_dir, "embeddings")
    path = str(tmp_path / "admit_idx")
    embedding_index_write(
        emb.filter(F.col("vec_id") >= 90), "embedding", "vec_id", path,
        n_planes=_EPI_PLANES, band_bits=_EPI_BITS, dim=EMB_DIM,
    )
    replay = {}
    for i in range(3):
        batch = emb.filter(F.expr("vec_id DIV 30") == i).filter(
            F.col("vec_id") < 90
        )
        replay.update(
            {
                (r.new_id, r.corpus_id): r.cos
                for r in embedding_probe_pairs(
                    spark, path, batch, "embedding", "vec_id",
                    threshold=0.3, n_planes=_EPI_PLANES,
                    band_bits=_EPI_BITS, dim=EMB_DIM,
                ).collect()
            }
        )
        embedding_index_insert(
            batch, "embedding", "vec_id", path,
            n_planes=_EPI_PLANES, band_bits=_EPI_BITS, dim=EMB_DIM,
        )
    assert streamed == replay
    assert all(
        c >= 90 or c // 30 < n // 30 for (n, c) in streamed
    )  # admitted-before-probe invariant
    assert any(c < 90 for (_, c) in streamed)  # cross-delivery exercised


def test_admit_loop_ships_partial_tail_delivery(spark, sf_dir, tmp_path):
    """ADVICE r13 pin: batch_rows that does NOT divide n_new must still
    deliver the tail rows (floor division silently dropped them). 70/30
    stages ceil(70/30)=3 deliveries (30, 30, 10); the loop must equal a
    hand replay that probes all three, and the tail rows must actually
    emit pairs so a re-dropped tail cannot pass vacuously."""
    from vector_search_spark.config import EMB_DIM
    from vector_search_spark.operators.dedup import (
        embedding_index_insert,
        embedding_index_write,
    )
    from vector_search_spark.plans.queries import _EPI_BITS, _EPI_PLANES
    from vector_search_spark.sources.catalog import load_table
    from vector_search_spark.streaming.serving import (
        run_streaming_semantic_dedup_admit_availablenow,
    )

    streamed = {
        (r.new_id, r.corpus_id): r.cos
        for r in run_streaming_semantic_dedup_admit_availablenow(
            spark, sf_dir, n_new=70, batch_rows=30, threshold=0.0,
            n_planes=_EPI_PLANES, band_bits=_EPI_BITS,
        ).collect()
    }
    emb = load_table(spark, sf_dir, "embeddings")
    path = str(tmp_path / "tail_idx")
    embedding_index_write(
        emb.filter(F.col("vec_id") >= 70), "embedding", "vec_id", path,
        n_planes=_EPI_PLANES, band_bits=_EPI_BITS, dim=EMB_DIM,
    )
    replay = {}
    for i in range(3):
        batch = emb.filter(F.expr("vec_id DIV 30") == i).filter(
            F.col("vec_id") < 70
        )
        replay.update(
            {
                (r.new_id, r.corpus_id): r.cos
                for r in embedding_probe_pairs(
                    spark, path, batch, "embedding", "vec_id",
                    threshold=0.0, n_planes=_EPI_PLANES,
                    band_bits=_EPI_BITS, dim=EMB_DIM,
                ).collect()
            }
        )
        embedding_index_insert(
            batch, "embedding", "vec_id", path,
            n_planes=_EPI_PLANES, band_bits=_EPI_BITS, dim=EMB_DIM,
        )
    assert streamed == replay
    assert any(60 <= n < 70 for (n, _) in streamed)  # tail rows probed


def _probe_rows(spark, path, batch, **kw):
    return sorted(
        (r.new_id, r.corpus_id, r.cos)
        for r in embedding_probe_pairs(
            spark, path, batch, "embedding", "vec_id",
            threshold=THRESH, n_planes=N_PLANES, band_bits=BAND_BITS,
            dim=DIM, **kw,
        ).collect()
    )


def test_admit_replay_after_committed_insert_is_idempotent(
    spark, tmp_path
):
    """Crash injection (VERDICT r13 #1, the round's top item): the
    process dies AFTER a delivery's insert committed but BEFORE the
    source checkpoint advanced, so on restart ``foreachBatch`` replays
    the SAME batch id — the at-least-once window every foreachBatch
    sink has. The replayed probe must emit the IDENTICAL pair list (it
    must not see its own admitted delta) and the replayed insert must
    REPLACE its delta, not append a second copy. Pre-r14 the insert was
    a plain ``vecs/`` append: the replay re-appended the batch's vec
    rows and every future probe emitted each matching pair twice."""
    from vector_search_spark.operators.dedup import embedding_index_insert

    corpus, batch = _vectors(spark)
    path = str(tmp_path / "idx")
    embedding_index_write(
        corpus, "embedding", "vec_id", path,
        n_planes=N_PLANES, band_bits=BAND_BITS, dim=DIM,
    )
    ins = dict(n_planes=N_PLANES, band_bits=BAND_BITS, dim=DIM)
    first = _probe_rows(spark, path, batch, max_batch_id=0)
    embedding_index_insert(
        batch, "embedding", "vec_id", path, batch_id=0, **ins
    )
    # -- crash window: insert committed, checkpoint did not; the stream
    # restarts and REPLAYS batch 0 -------------------------------------
    assert _probe_rows(spark, path, batch, max_batch_id=0) == first
    embedding_index_insert(
        batch, "embedding", "vec_id", path, batch_id=0, **ins
    )  # the replayed insert: overwrite, not a second copy
    log = IndexLog(path)
    [(bid, delta)] = log.deltas(log.read())
    assert bid == 0 and spark.read.parquet(f"{delta}/vecs").count() == 12
    # a LATER delivery (batch id 1) sees the admitted copy exactly once:
    # re-probing the same vectors yields each self-pair once at cos = 1 —
    # duplicated vec rows (the old append bug) would double every row
    rows = _probe_rows(spark, path, batch, max_batch_id=1)
    pairs = [(n, c) for (n, c, _) in rows]
    assert len(pairs) == len(set(pairs))
    for i in range(12):
        assert (1000 + i, 1000 + i) in pairs


def _insert_dies_before_commit(monkeypatch, *args, **kw):
    """Run an insert that writes its delta and then crashes before the
    marker swap (the torn insert)."""
    from vector_search_spark.operators.dedup import embedding_index_insert

    def die(src, dst):
        raise RuntimeError("injected crash before marker swap")

    with monkeypatch.context() as mp:
        mp.setattr(os, "replace", die)
        with pytest.raises(RuntimeError, match="injected"):
            embedding_index_insert(*args, **kw)


def test_crash_partial_delta_is_invisible_and_id_skipped(
    spark, tmp_path, monkeypatch
):
    """A torn insert (crash between writing the delta and the marker
    swap) is never read by the probe, and auto batch-id assignment skips
    past the torn id instead of reusing it."""
    from vector_search_spark.operators.dedup import embedding_index_insert

    corpus, batch = _vectors(spark)
    path = str(tmp_path / "idx")
    ins = dict(n_planes=N_PLANES, band_bits=BAND_BITS, dim=DIM)
    embedding_index_write(corpus, "embedding", "vec_id", path, **ins)
    embedding_index_insert(batch, "embedding", "vec_id", path, **ins)
    log = IndexLog(path)
    assert log.next_batch_id() == 1
    before = _probe_rows(spark, path, batch)
    _insert_dies_before_commit(
        monkeypatch, batch, "embedding", "vec_id", path, **ins
    )
    assert _probe_rows(spark, path, batch) == before  # torn dir unread
    assert log.next_batch_id() == 2  # and its id is never reused


def test_probe_broadcast_gate_unhinted_fallback(spark, tmp_path, monkeypatch):
    """Over the gate (VERDICT r13 #2) the probe emits NO forced
    broadcast hints — a corpus-scale delivery degrades to the AQE/shuffle
    plan instead of a guaranteed-honored hint OOMing an executor — and
    the unhinted plan returns the identical rows. The gate is the module
    constant, read at call time."""
    from vector_search_spark.operators import dedup

    corpus, batch = _vectors(spark)
    path = str(tmp_path / "idx")
    embedding_index_write(
        corpus, "embedding", "vec_id", path,
        n_planes=N_PLANES, band_bits=BAND_BITS, dim=DIM,
    )
    kw = dict(
        threshold=THRESH, n_planes=N_PLANES, band_bits=BAND_BITS, dim=DIM
    )
    hinted = embedding_probe_pairs(
        spark, path, batch, "embedding", "vec_id", **kw
    )
    monkeypatch.setattr(dedup, "PROBE_BROADCAST_MAX_BYTES", 0)
    gated = embedding_probe_pairs(
        spark, path, batch, "embedding", "vec_id", **kw
    )
    assert "ResolvedHint" in hinted._jdf.queryExecution().analyzed().toString()
    assert (
        "ResolvedHint"
        not in gated._jdf.queryExecution().analyzed().toString()
    )
    key = lambda r: (r.new_id, r.corpus_id, r.cos)  # noqa: E731
    assert sorted(map(key, gated.collect())) == sorted(
        map(key, hinted.collect())
    )


def test_staged_semdedup_index_keyed_by_knobs(spark, sf_dir, tmp_path):
    """ADVICE r13 (medium): the staged index dir was keyed by n_new
    alone, so a same-process call with different banding knobs silently
    probed a mismatched plane bank — band keys failed to collide and
    pairs went missing with no error. Now the key carries
    (n_planes, band_bits, dim): a second run at other knobs must equal a
    FRESH one-shot probe built at those knobs."""
    from vector_search_spark.config import EMB_DIM
    from vector_search_spark.sources.catalog import load_table
    from vector_search_spark.streaming.serving import (
        run_streaming_semantic_dedup_availablenow,
    )

    # first run stages the 32/8 index for this (pid, sf_dir)
    run_streaming_semantic_dedup_availablenow(
        spark, sf_dir, n_new=100, threshold=0.3, n_planes=32, band_bits=8
    ).collect()
    streamed = {
        (r.new_id, r.corpus_id): r.cos
        for r in run_streaming_semantic_dedup_availablenow(
            spark, sf_dir, n_new=100, threshold=0.3,
            n_planes=16, band_bits=8,
        ).collect()
    }
    emb = load_table(spark, sf_dir, "embeddings")
    path = str(tmp_path / "fresh16")
    embedding_index_write(
        emb.filter(F.col("vec_id") >= 100), "embedding", "vec_id", path,
        n_planes=16, band_bits=8, dim=EMB_DIM,
    )
    oneshot = {
        (r.new_id, r.corpus_id): r.cos
        for r in embedding_probe_pairs(
            spark, path, emb.filter(F.col("vec_id") < 100),
            "embedding", "vec_id", threshold=0.3,
            n_planes=16, band_bits=8, dim=EMB_DIM,
        ).collect()
    }
    assert streamed == oneshot
    assert streamed  # nonempty at the test fixture


def test_compact_folds_deltas_behind_atomic_marker(
    spark, tmp_path, monkeypatch
):
    """Lifecycle completion (round 14): compaction folds committed
    deltas into a new base GENERATION, probes are unchanged before vs
    after (same pairs, same multiplicity), the windowed probe still
    honors batch boundaries across the fold, a crash before the marker
    swap leaves readers on the old base, and folded batch ids are
    never reused by auto-assignment."""
    from vector_search_spark.operators import dedup as D

    corpus, batch = _vectors(spark)
    path = str(tmp_path / "idx")
    log = IndexLog(path)
    embedding_index_write(
        corpus, "embedding", "vec_id", path,
        n_planes=N_PLANES, band_bits=BAND_BITS, dim=DIM,
    )
    ins = dict(n_planes=N_PLANES, band_bits=BAND_BITS, dim=DIM)
    b0 = batch.filter(F.col("vec_id") < 1006)
    b1 = batch.filter(F.col("vec_id") >= 1006)
    D.embedding_index_insert(b0, "embedding", "vec_id", path, batch_id=0, **ins)
    D.embedding_index_insert(b1, "embedding", "vec_id", path, batch_id=1, **ins)
    before_all = _probe_rows(spark, path, batch)
    before_w1 = _probe_rows(spark, path, batch, max_batch_id=1)
    base0 = log.base(log.read())

    # crash injection: the new generation is written, the marker never
    # swapped
    def die(src, dst):
        raise RuntimeError("injected crash before marker swap")

    with monkeypatch.context() as mp:
        mp.setattr(os, "replace", die)
        with pytest.raises(RuntimeError, match="injected"):
            D.embedding_index_compact(spark, path, upto_batch_id=1)
    assert _probe_rows(spark, path, batch) == before_all  # old base read
    assert log.read()["gen"] == 0

    # the retry commits: fold batch 0 only (upto = last committed ckpt)
    out = D.embedding_index_compact(spark, path, upto_batch_id=1)
    assert out["gen"] == 1 and out["folded_batches"] == [0]
    assert out["folded_upto"] == 1
    assert _probe_rows(spark, path, batch) == before_all
    # windowed probe across the fold: batch 0 now lives in the base,
    # batch 1 is still a delta the window must exclude
    assert _probe_rows(spark, path, batch, max_batch_id=1) == before_w1
    # folded delta and the superseded base reaped
    m = log.read()
    assert [b for b, _ in log.deltas(m)] == [1]
    assert not os.path.exists(base0) and os.path.exists(log.base(m))
    # auto ids continue past the fold (never reuse a folded id)
    assert log.next_batch_id() == 2

    # fold the rest; a second compaction advances the generation
    out2 = D.embedding_index_compact(spark, path)
    assert out2["gen"] == 2 and out2["folded_batches"] == [1]
    assert _probe_rows(spark, path, batch) == before_all
    assert log.read()["deltas"] == []
    # idempotent no-op when nothing is committed below the bound
    assert D.embedding_index_compact(spark, path)["folded_batches"] == []


def test_compact_skips_half_committed_batch(spark, tmp_path, monkeypatch):
    """A torn insert (crash before its marker swap) must NOT be folded —
    its replay completes it; baking a torn batch in would be permanent."""
    from vector_search_spark.operators import dedup as D

    corpus, batch = _vectors(spark)
    path = str(tmp_path / "idx")
    ins = dict(n_planes=N_PLANES, band_bits=BAND_BITS, dim=DIM)
    embedding_index_write(corpus, "embedding", "vec_id", path, **ins)
    _insert_dies_before_commit(
        monkeypatch, batch, "embedding", "vec_id", path, batch_id=0, **ins
    )
    out = D.embedding_index_compact(spark, path)
    assert out["folded_batches"] == [] and out["gen"] == 0
    # the replay completes the batch; now it folds
    D.embedding_index_insert(
        batch, "embedding", "vec_id", path, batch_id=0, **ins
    )
    assert D.embedding_index_compact(spark, path)["folded_batches"] == [0]


def test_admit_loop_with_midstream_compaction_is_value_invisible(
    spark, sf_dir
):
    """compact_every folds deltas into a new base generation WHILE the
    stream runs; the emitted pair set must be identical to the
    compaction-free loop — compaction trades read fan-in for an O(index)
    rewrite, never values."""
    from vector_search_spark.plans.queries import _EPI_BITS, _EPI_PLANES
    from vector_search_spark.streaming.serving import (
        run_streaming_semantic_dedup_admit_availablenow,
    )

    kw = dict(
        n_new=90, batch_rows=30, threshold=0.3,
        n_planes=_EPI_PLANES, band_bits=_EPI_BITS,
    )
    plain = {
        (r.new_id, r.corpus_id): r.cos
        for r in run_streaming_semantic_dedup_admit_availablenow(
            spark, sf_dir, **kw
        ).collect()
    }
    compacted = {
        (r.new_id, r.corpus_id): r.cos
        for r in run_streaming_semantic_dedup_admit_availablenow(
            spark, sf_dir, compact_every=1, **kw
        ).collect()
    }
    assert compacted == plain
    assert plain  # nonempty at the fixture
