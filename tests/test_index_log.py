"""IndexLog — the one commit protocol behind every durable index (graph
delta log, graph maintainer state, persisted embedding index). The crash
and replay matrix is pinned here once, against the primitive, with plain
files as payload; the family tests only check their own layouts.
"""

import os

import pytest

from vector_search_spark.operators.index_log import IndexLog


def _put(text):
    """A write callback that stores ``text`` in the fresh directory."""

    def write(d):
        with open(os.path.join(d, "data"), "w") as fh:
            fh.write(text)

    return write


def _crashing(text):
    """A write callback that stores ``text`` and then dies before the
    marker swap (the crash after the data is written)."""

    def write(d):
        _put(text)(d)
        raise RuntimeError("injected crash before marker swap")

    return write


def _get(path):
    with open(os.path.join(path, "data")) as fh:
        return fh.read()


def _state(log):
    """(base payload, {batch id: delta payload}) as a reader sees it."""
    m = log.read()
    return _get(log.base(m)), {b: _get(d) for b, d in log.deltas(m)}


def _entries(root, prefix):
    return sorted(d for d in os.listdir(root) if d.startswith(prefix))


def test_crash_before_marker_swap_is_invisible_and_reaped(tmp_path):
    root = str(tmp_path / "idx")
    log = IndexLog(root)
    log.commit_base(_put("B0"))
    log.commit_delta(0, _put("D0"))
    before = _state(log)
    for crash in (
        lambda: log.commit_delta(1, _crashing("D1")),
        lambda: log.commit_base(_crashing("B1")),
    ):
        with pytest.raises(RuntimeError, match="injected"):
            crash()
        assert _state(log) == before  # nothing became visible
    assert len(_entries(root, "delta-")) == 2  # the torn delta is on disk
    assert len(_entries(root, "base-")) == 2  # and the torn base
    log.commit_delta(2, _put("D2"))
    assert _state(log) == ("B0", {0: "D0", 2: "D2"})
    # the next commit reaped both torn directories
    assert len(_entries(root, "delta-")) == 2
    assert len(_entries(root, "base-")) == 1


def test_crash_after_marker_swap_before_gc_holds(tmp_path, monkeypatch):
    root = str(tmp_path / "idx")
    log = IndexLog(root)
    log.commit_base(_put("B0"))
    log.commit_delta(0, _put("D0"))
    real_replace = os.replace

    def replace_then_die(src, dst):
        real_replace(src, dst)
        raise RuntimeError("injected crash after marker swap")

    monkeypatch.setattr(os, "replace", replace_then_die)
    with pytest.raises(RuntimeError, match="injected"):
        log.commit_base(_put("B1"))
    monkeypatch.setattr(os, "replace", real_replace)
    assert _state(log) == ("B1", {})  # the commit holds
    # the superseded base and the folded delta linger as garbage
    assert len(_entries(root, "base-")) == 2
    assert len(_entries(root, "delta-")) == 1
    log.commit_delta(1, _put("D1"))
    assert _state(log) == ("B1", {1: "D1"})
    assert len(_entries(root, "base-")) == 1
    assert len(_entries(root, "delta-")) == 1


def test_torn_batch_dir_never_read_and_id_never_reused(tmp_path):
    root = str(tmp_path / "idx")
    log = IndexLog(root)
    log.commit_base(_put("B0"))
    assert log.next_batch_id() == 0
    log.commit_delta(log.next_batch_id(), _put("D0"))
    with pytest.raises(RuntimeError, match="injected"):
        log.commit_delta(log.next_batch_id(), _crashing("torn"))
    assert _state(log) == ("B0", {0: "D0"})  # torn batch 1 unread
    assert log.next_batch_id() == 2  # and its id skipped
    # a replay of batch 0 reaps the torn dir; id 1 stays burnt
    log.commit_delta(0, _put("D0'"))
    assert len(_entries(root, "delta-")) == 1
    assert log.next_batch_id() == 2
    log.commit_delta(log.next_batch_id(), _put("D2"))
    assert _state(log) == ("B0", {0: "D0'", 2: "D2"})


def test_replay_of_committed_batch_swaps_in_one_copy(tmp_path):
    root = str(tmp_path / "idx")
    log = IndexLog(root)
    log.commit_base(_put("B0"))
    log.commit_delta(3, _put("old"))
    seen_during_write = []

    def replay(d):
        seen_during_write.append(_state(log))
        _put("new")(d)

    log.commit_delta(3, replay)
    # the old copy stayed visible while the replay was being written
    assert seen_during_write == [("B0", {3: "old"})]
    assert _state(log) == ("B0", {3: "new"})
    assert len(_entries(root, "delta-b3-")) == 1  # exactly one copy


def test_fold_bounded_by_upto_never_reuses_folded_ids(tmp_path):
    root = str(tmp_path / "idx")
    log = IndexLog(root)
    log.commit_base(_put("B0"))
    for b in range(3):
        log.commit_delta(b, _put(f"D{b}"))
    folded = []

    def fold(d):
        folded.extend(b for b, _ in log.deltas(log.read(), 2))
        _put("B0+D0+D1")(d)

    m = log.commit_base(fold, upto=2)
    assert folded == [0, 1]
    assert m["gen"] == 1 and m["folded_upto"] == 2
    assert _state(log) == ("B0+D0+D1", {2: "D2"})  # batch 2 stays a delta
    assert log.next_batch_id() == 3
    # folding everything keeps the id counter past every folded id
    m = log.commit_base(_put("all"))
    assert m["gen"] == 2 and m["deltas"] == [] and m["folded_upto"] == 3
    assert log.next_batch_id() == 3
    assert _entries(root, "delta-") == []


def test_meta_rides_the_commit(tmp_path):
    log = IndexLog(str(tmp_path / "idx"))
    assert log.read() is None and log.next_batch_id() == 0
    with pytest.raises(FileNotFoundError):
        log.commit_delta(0, _put("D0"))  # a delta needs a base

    def with_meta(meta):
        def write(d):
            _put("x")(d)
            return meta

        return write

    log.commit_base(with_meta({"dim": 8}))
    log.commit_delta(0, _put("D0"))  # None keeps the meta
    assert log.read()["meta"] == {"dim": 8}
    log.commit_delta(1, with_meta({"dim": 8, "rows": 3}))
    assert log.read()["meta"] == {"dim": 8, "rows": 3}


def test_maintainer_open_over_existing_state_survives_crash(
    spark, tmp_path, monkeypatch
):
    """Opening a GraphMaintainer on a state dir that already holds an
    index commits a new base. A crash inside that base write must leave
    the previous state recoverable: the new base goes to a fresh
    directory, never over the one the marker names."""
    import numpy as np

    from vector_search_spark.operators import ann
    from vector_search_spark.operators.graph_lifecycle import GraphMaintainer

    rng = np.random.RandomState(5)
    X = rng.randn(120, 8)

    def mkdf(ids):
        return spark.createDataFrame(
            [(int(i), [float(x) for x in X[i]]) for i in ids],
            "vec_id long, embedding array<float>",
        )

    state = str(tmp_path / "gm")
    kw = dict(dim=8, k=4, n_planes=8, band_bits=4, build_rounds=1)
    gm = GraphMaintainer(mkdf(range(60)), state_dir=state, **kw)
    gm.insert(mkdf(range(60, 70)))
    want_corpus = {r.vec_id for r in gm.corpus.collect()}
    want_edges = {tuple(r) for r in gm.graph.collect()}
    real_write = ann.graph_write_index

    def write_then_die(graph, path, *a, **k):
        real_write(graph, path, *a, **k)
        raise RuntimeError("injected crash inside the base write")

    monkeypatch.setattr(ann, "graph_write_index", write_then_die)
    with pytest.raises(RuntimeError, match="injected"):
        GraphMaintainer(mkdf(range(60, 120)), state_dir=state, **kw)
    monkeypatch.setattr(ann, "graph_write_index", real_write)

    back = GraphMaintainer.recover(spark, state)
    assert {r.vec_id for r in back.corpus.collect()} == want_corpus
    assert {tuple(r) for r in back.graph.collect()} == want_edges
