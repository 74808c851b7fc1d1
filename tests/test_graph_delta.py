"""GraphDeltaLog — the LSM-style durable publish for graph adjacency
(VERDICT r10 next #1). Pins: fold semantics (latest-delta-wins incl.
zero-row tombstones), a base publish replacing every delta, crash
injection around the marker swap, and that delta publishes write
O(touched) rows while base publishes write O(index). The commit protocol itself is pinned in
tests/test_index_log.py."""

import os

import pytest


def _df(spark, rows):
    return spark.createDataFrame(
        rows, "src_id long, nbr_id long, rank long, score double"
    )


def _ids(spark, ids):
    return spark.createDataFrame([(i,) for i in ids], "src_id long")


def _edges(df):
    return {(r.src_id, r.nbr_id, r.rank, r.score) for r in df.collect()}


def _delta(spark, g, ids):
    """(rows, touched) of a delta publish: the post-op graph's rows of
    the touched srcs, as the graph kernels return them."""
    from pyspark.sql import functions as F

    return g.filter(F.col("src_id").isin(ids)), _ids(spark, ids)


def _folded(log):
    """The committed adjacency."""
    return _edges(log.fold(log.read()))


def test_fold_latest_wins_and_tombstones(spark, tmp_path):
    from vector_search_spark.operators.graph_delta import GraphDeltaLog

    log = GraphDeltaLog(spark, str(tmp_path / "g"))
    g0 = _df(
        spark,
        [(1, 2, 1, 0.9), (1, 3, 2, 0.8), (2, 1, 1, 0.7), (3, 1, 1, 0.6)],
    )
    log.publish_base(g0)
    # batch 0 replaces src 1's rows and adds src 4
    g1 = _df(
        spark,
        [(1, 4, 1, 0.95), (2, 1, 1, 0.7), (3, 1, 1, 0.6), (4, 1, 1, 0.5)],
    )
    log.publish_delta(*_delta(spark, g1, [1, 4]), 0)
    # batch 1 tombstones src 2 (touched, zero rows in the graph) and
    # re-replaces src 1 — latest delta must win over batch 0's rows
    g2 = _df(spark, [(1, 5, 1, 0.99), (3, 1, 1, 0.6), (4, 1, 1, 0.5)])
    log.publish_delta(*_delta(spark, g2, [1, 2]), 1)
    assert _folded(log) == _edges(g2)
    assert [b for b, _ in log.deltas(log.read())] == [0, 1]


def test_auto_compaction_folds_deltas_into_base(spark, tmp_path):
    """The marker counts the rows of the base and of the live deltas, and
    a base publish (a compaction) replaces every delta."""
    from vector_search_spark.operators.graph_delta import GraphDeltaLog

    log = GraphDeltaLog(spark, str(tmp_path / "g"))
    g = _df(spark, [(i, i + 1, 1, 0.5) for i in range(10)])
    log.publish_base(g)
    for b in range(2):
        g = g.unionByName(_df(spark, [(100 + b, 0, 1, 0.4)]))
        log.publish_delta(*_delta(spark, g, [100 + b]), b)
    m = log.read()
    assert len(m["deltas"]) == 2 and m["meta"]["delta_rows"] == 2
    log.publish_base(g)
    m = log.read()
    assert m["deltas"] == [] and m["meta"]["delta_rows"] == 0
    assert m["meta"]["base_rows"] == 12
    assert _folded(log) == _edges(g)


def test_delta_write_is_bounded_by_touched_not_index(spark, tmp_path):
    """The whole point of the delta log: a publish touching 2 of 500
    srcs lands ~2·k rows on disk, not ~500·k."""
    from vector_search_spark.operators.graph_delta import (
        GraphDeltaLog,
        _parquet_num_rows,
    )

    log = GraphDeltaLog(spark, str(tmp_path / "g"))
    base = _df(
        spark,
        [(i, (i + 1) % 500, 1, 0.5) for i in range(500)]
        + [(i, (i + 2) % 500, 2, 0.4) for i in range(500)],
    )
    log.publish_base(base)
    g1 = base.unionByName(_df(spark, [(1000, 1, 1, 0.9), (1001, 2, 1, 0.8)]))
    m = log.publish_delta(*_delta(spark, g1, [1000, 1001]), 0)
    assert m["meta"]["base_rows"] == 1000
    assert m["meta"]["delta_rows"] == 2  # the two new srcs' rows ONLY
    [(_, dpath)] = log.deltas(m)
    assert _parquet_num_rows(os.path.join(dpath, "rows")) == 2
    assert _folded(log) == _edges(g1)


def test_crash_between_delta_write_and_marker_rename(
    spark, tmp_path, monkeypatch
):
    """Failure injection (VERDICT r11 #3, point 1): the process dies
    AFTER the delta lands on disk but BEFORE the marker swap. The commit
    must be invisible — recovery folds only marker-named dirs — and the
    next successful commit keeps recovering exactly."""
    from vector_search_spark.operators.graph_delta import GraphDeltaLog

    log = GraphDeltaLog(spark, str(tmp_path / "g"))
    g0 = _df(spark, [(1, 2, 1, 0.9), (2, 1, 1, 0.8)])
    log.publish_base(g0)

    def die(src, dst):
        raise RuntimeError("injected crash before marker swap")

    g1 = _df(spark, [(1, 9, 1, 0.99), (2, 1, 1, 0.8)])
    with monkeypatch.context() as mp:
        mp.setattr(os, "replace", die)
        with pytest.raises(RuntimeError, match="injected"):
            log.publish_delta(*_delta(spark, g1, [1]), 0)
    assert _folded(log) == _edges(g0)  # pre-crash state, exactly
    assert log.read()["deltas"] == []

    g2 = _df(spark, [(1, 2, 1, 0.9), (2, 1, 1, 0.8), (3, 1, 1, 0.7)])
    log.publish_delta(*_delta(spark, g2, [3]), 1)
    assert _folded(log) == _edges(g2)
    assert [b for b, _ in log.deltas(log.read())] == [1]


def test_crash_between_marker_rename_and_gc(spark, tmp_path, monkeypatch):
    """Failure injection (VERDICT r11 #3, point 2): the process dies
    AFTER the marker swap of a base publish but BEFORE GC. The commit is
    durable (recovery sees the new state), and the next commit still
    recovers exactly."""
    from vector_search_spark.operators.graph_delta import GraphDeltaLog

    log = GraphDeltaLog(spark, str(tmp_path / "g"))
    g0 = _df(spark, [(1, 2, 1, 0.9), (2, 1, 1, 0.8)])
    log.publish_base(g0)
    g1 = _df(spark, [(1, 9, 1, 0.99), (2, 1, 1, 0.8)])
    log.publish_delta(*_delta(spark, g1, [1]), 0)
    real_replace = os.replace

    def replace_then_die(src, dst):
        real_replace(src, dst)
        raise RuntimeError("injected crash before gc")

    with monkeypatch.context() as mp:
        mp.setattr(os, "replace", replace_then_die)
        with pytest.raises(RuntimeError, match="injected"):
            log.publish_base(g1)
    assert log.read()["deltas"] == []
    assert _folded(log) == _edges(g1)

    g2 = _df(spark, [(1, 9, 1, 0.99), (2, 1, 1, 0.8), (3, 1, 1, 0.7)])
    log.publish_delta(*_delta(spark, g2, [3]), 2)
    assert _folded(log) == _edges(g2)
