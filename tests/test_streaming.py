"""True Structured Streaming tests: the batch-mode queries rerun as a
bounded stream (availableNow) must produce identical results."""

import shutil
import tempfile

import pytest

try:  # transformWithState's driver worker imports protobuf at runtime
    from google.protobuf import descriptor  # noqa: F401

    _HAVE_PROTOBUF = True
except ImportError:
    _HAVE_PROTOBUF = False

from vector_search_spark.sources.catalog import load_table
from vector_search_spark.streaming.windows import (
    session_agg,
    stream_events,
    tumbling_agg,
)


@pytest.fixture(scope="module")
def events_dir(sf_dir):
    d = tempfile.mkdtemp(prefix="events_stream_")
    shutil.copy(f"{sf_dir}/events.parquet", f"{d}/events.parquet")
    yield d
    shutil.rmtree(d, ignore_errors=True)


def _drain(stream_df, spark, name):
    q = (
        stream_df.writeStream.format("memory")
        .queryName(name)
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    return spark.sql(f"SELECT * FROM {name}")


def test_tumbling_stream_equals_batch(spark, sf_dir, events_dir):
    batch = {
        (r.window_start, r.event_type): (r.n, r.sum_value)
        for r in tumbling_agg(load_table(spark, sf_dir, "events"), "1 hour").collect()
    }
    stream = stream_events(spark, events_dir)
    got = {
        (r.window_start, r.event_type): (r.n, r.sum_value)
        for r in _drain(
            tumbling_agg(stream, "1 hour", watermark="10 minutes"), spark, "t_tumble"
        ).collect()
    }
    assert got == batch


def test_session_stream_equals_batch(spark, sf_dir, events_dir):
    batch = {
        (r.session_start, r.user_id): r.n_events
        for r in session_agg(load_table(spark, sf_dir, "events"), "5 minutes").collect()
    }
    stream = stream_events(spark, events_dir)
    got = {
        (r.session_start, r.user_id): r.n_events
        for r in _drain(
            session_agg(stream, "5 minutes", watermark="10 minutes"),
            spark,
            "t_session",
        ).collect()
    }
    assert got == batch


def test_stateful_totals_accumulate_across_microbatches(spark, sf_dir, tmp_path):
    """applyInPandasWithState must carry per-user state across micro-batches:
    two files processed one per trigger, final emission = global totals."""
    from pyspark.sql import functions as F

    from vector_search_spark.streaming.stateful import stateful_user_totals
    from vector_search_spark.streaming.windows import stream_events

    events = load_table(spark, sf_dir, "events")
    half = events.filter(F.col("event_id") % 2 == 0)
    other = events.filter(F.col("event_id") % 2 == 1)
    d = str(tmp_path / "ev")
    half.coalesce(1).write.mode("overwrite").parquet(d)
    other.coalesce(1).write.mode("append").parquet(d)

    src = spark.readStream.option("maxFilesPerTrigger", "1").schema(
        events.schema
    ).parquet(d)
    q = (
        stateful_user_totals(src)
        .writeStream.format("memory")
        .queryName("t_stateful")
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    emitted = spark.table("t_stateful")
    # more than one batch ran, so users appearing in both emit twice
    assert emitted.groupBy("user_id").count().filter("count > 1").count() > 0
    final = (
        emitted.groupBy("user_id")
        .agg(
            F.max("n_events").alias("n_events"),
            F.round(F.max_by("sum_value", "n_events"), 4).alias("sum_value"),
        )
    )
    batch = events.groupBy("user_id").agg(
        F.count("*").alias("n_events"), F.round(F.sum("value"), 4).alias("sum_value")
    )
    got = {r.user_id: (r.n_events, r.sum_value) for r in final.collect()}
    want = {r.user_id: (r.n_events, r.sum_value) for r in batch.collect()}
    assert got == want


def test_stream_dedup_drops_repeats(spark, sf_dir, tmp_path):
    """dropDuplicatesWithinWatermark: a duplicated bounded stream dedups back
    to the distinct event set."""
    from pyspark.sql import functions as F

    from vector_search_spark.streaming.stateful import stream_dedup

    events = load_table(spark, sf_dir, "events").limit(500)
    d = str(tmp_path / "dup")
    events.coalesce(1).write.mode("overwrite").parquet(d)
    events.coalesce(1).write.mode("append").parquet(d)  # exact duplicates

    src = spark.readStream.schema(events.schema).parquet(d)
    deduped = stream_dedup(src.withColumn(
        "ts", F.col("ts")  # already timestamp in rewritten parquet
    ), ["event_id"], watermark="2 hours")
    q = (
        deduped.writeStream.format("memory")
        .queryName("t_dedup")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    assert spark.table("t_dedup").count() == 500


def test_streaming_fusion_equals_batch(spark, sf_dir, tmp_path):
    """A6 fusion as streaming aggregation: a vector stream scored against
    broadcast probes accumulates the same fused scores the batch plan
    computes — split into two micro-batches to prove state accumulation."""
    from pyspark.sql import functions as F

    from vector_search_spark.streaming.fusion import (
        fused_scores,
        run_fused_scores_availablenow,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    probes = emb.filter("vec_id < 3").select(
        F.col("vec_id").alias("probe_id"), F.col("embedding").alias("probe_vec")
    )
    d = str(tmp_path / "vecs")
    emb.filter("vec_id % 2 = 0").coalesce(1).write.mode("overwrite").parquet(d)
    emb.filter("vec_id % 2 = 1").coalesce(1).write.mode("append").parquet(d)

    src = spark.readStream.option("maxFilesPerTrigger", "1").schema(emb.schema).parquet(d)
    got_df = run_fused_scores_availablenow(spark, src, probes, "t_fusion", 0.2)
    got = {r.vec_id: (r.n_hits, round(r.fused_score, 6)) for r in got_df.collect()}
    want = {
        r.vec_id: (r.n_hits, round(r.fused_score, 6))
        for r in fused_scores(emb, probes, 0.2).collect()
    }
    assert got == want and len(got) > 0


def test_streaming_parquet_sink_with_checkpoint(spark, sf_dir, tmp_path):
    """writeStream to a parquet file sink with a checkpoint: the durable
    streaming sink surface (memory sink covers the rest of the tests).
    Restarting from the same checkpoint must not duplicate output."""
    from pyspark.sql import functions as F

    events = load_table(spark, sf_dir, "events")
    src_dir, out_dir, ckpt = (
        str(tmp_path / "src"), str(tmp_path / "out"), str(tmp_path / "ckpt")
    )
    events.limit(1000).coalesce(1).write.mode("overwrite").parquet(src_dir)

    def run_once():
        src = spark.readStream.schema(events.schema).parquet(src_dir)
        q = (
            src.withColumn("day", F.to_date("ts"))
            .writeStream.format("parquet")
            .option("path", out_dir)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    run_once()
    assert spark.read.parquet(out_dir).count() == 1000
    run_once()  # same checkpoint: no new input → no duplicates
    assert spark.read.parquet(out_dir).count() == 1000


def test_late_data_dropped_after_watermark_commits(spark, sf_dir):
    """Three-batch out-of-order delivery: the old backlog (batch 2) must
    be dropped by the watermark committed in batch 0 — and the final-hour
    rows (batch 1) must be counted. Asserts the DROP explicitly via the
    stateful operator's numRowsDroppedByWatermark metric, complementing
    the s_late_data_watermark value-oracle gate row."""
    import tempfile

    from pyspark.sql import functions as F

    from vector_search_spark.streaming.windows import (
        make_late_data_batches,
        stream_events,
        tumbling_agg,
    )

    out = tempfile.mkdtemp(prefix="late_test_")
    try:
        make_late_data_batches(spark, f"{sf_dir}/events*.parquet", out)
        ev = stream_events(spark, out, max_files_per_trigger=1)
        q = (
            tumbling_agg(ev, "1 hour", watermark="1 hour")
            .writeStream.format("memory")
            .queryName("late_unit")
            .outputMode("update")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        dropped = sum(
            op.get("numRowsDroppedByWatermark", 0)
            for p in q.recentProgress
            for op in p.get("stateOperators", [])
        )
        backlog = (
            spark.read.parquet(f"{out}/c.parquet").count()
        )
        assert backlog > 0
        # the stateful op meters most (not all) excluded rows — a portion
        # can be filtered before stateStoreSave; the VALUE equality below
        # is the authoritative check that every backlog row was excluded
        assert 0 < dropped <= backlog, (dropped, backlog)
        # kept set = the 4 final hours; oracle recomputed batch-side
        ev_b = load_table(spark, sf_dir, "events")
        fh = ev_b.agg(F.date_trunc("hour", F.max("ts")).alias("fh")).first()["fh"]
        import datetime as dt

        expected = ev_b.filter(
            F.col("ts") >= F.lit(fh - dt.timedelta(hours=3))
        ).count()
        got = (
            spark.table("late_unit")
            .groupBy("window_start", "event_type")
            .agg(F.max("n").alias("n"))
            .agg(F.sum("n"))
            .first()[0]
        )
        assert got == expected, (got, expected)
    finally:
        shutil.rmtree(out, ignore_errors=True)


def test_stream_stream_join_equals_batch(spark, sf_dir, events_dir):
    """The watermarked view→purchase interval join drained as a stream
    must equal the batch self-join exactly."""
    from pyspark.sql import functions as F

    from vector_search_spark.streaming.windows import (
        run_stream_stream_join_availablenow,
    )

    got = run_stream_stream_join_availablenow(
        spark, events_dir, "ssj_unit"
    ).count()
    ev = load_table(spark, sf_dir, "events")
    v = ev.filter(F.col("event_type") == "view").select(
        "user_id", F.col("ts").alias("v_ts")
    )
    p = ev.filter(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("p_user"), F.col("ts").alias("p_ts")
    )
    expected = v.join(
        p,
        (F.col("user_id") == F.col("p_user"))
        & (F.col("p_ts") >= F.col("v_ts"))
        & (F.col("p_ts") <= F.col("v_ts") + F.expr("INTERVAL 30 MINUTES")),
    ).count()
    assert got == expected and got > 0, (got, expected)


def test_stream_stream_left_outer_null_extension(spark):
    """Stream-stream LEFT OUTER join: unmatched left rows must emit
    null-extended once the join watermark (the MIN across both streams)
    passes their join window — and rows the watermark has not passed must
    stay withheld in state. Four micro-batches with ≥20-minute margins on
    every eviction boundary, so the assertion is exact:

    - view 1 matches purchase 10 inside the 30-min window (emits joined)
    - views 2, 3, 4: unmatched; the final watermark (18:00 - 10min delay)
      passes v_ts + 30min for all three → null-extended rows emit
    - view 5 (18:00): 18:30 > 17:50 → still in state, must NOT emit

    Both sides must keep advancing for anything to evict: the join
    watermark is min(v_wm, p_wm), so a stream that goes quiet freezes
    eviction — the scenario also documents that operational gotcha."""
    import datetime as dt
    import glob
    import os
    import shutil
    import tempfile

    from pyspark.sql import functions as F

    out = tempfile.mkdtemp(prefix="lsj_test_")
    try:
        def mk(name, rows, mtime):
            df = spark.createDataFrame(rows, "id long, u long, ts timestamp, k string")
            stage = out + "_s_" + name
            df.coalesce(1).write.mode("overwrite").parquet(stage)
            (part,) = glob.glob(stage + "/part-*.parquet")
            shutil.move(part, os.path.join(out, name + ".parquet"))
            os.utime(os.path.join(out, name + ".parquet"), (mtime, mtime))

        T = dt.datetime(2024, 1, 1, 10, 0)
        mk("a", [(1, 100, T, "v"), (2, 200, T + dt.timedelta(minutes=5), "v")], 1_000_000_000)
        mk("b", [(10, 100, T + dt.timedelta(minutes=10), "p"),
                 (11, 999, T + dt.timedelta(hours=6), "p"),
                 (3, 300, T + dt.timedelta(hours=6), "v")], 1_000_000_100)
        mk("c", [(12, 999, T + dt.timedelta(hours=7), "p"),
                 (4, 400, T + dt.timedelta(hours=7), "v")], 1_000_000_200)
        mk("d", [(13, 999, T + dt.timedelta(hours=8), "p"),
                 (5, 500, T + dt.timedelta(hours=8), "v")], 1_000_000_300)
        schema = "id long, u long, ts timestamp, k string"
        v = (
            spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(out)
            .filter(F.col("k") == "v")
            .selectExpr("id as view_id", "u as vu", "ts as v_ts")
            .withWatermark("v_ts", "10 minutes")
        )
        p = (
            spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(out)
            .filter(F.col("k") != "v")
            .selectExpr("id as p_id", "u as pu", "ts as p_ts")
            .withWatermark("p_ts", "10 minutes")
        )
        j = v.join(
            p,
            (F.col("vu") == F.col("pu"))
            & (F.col("p_ts") >= F.col("v_ts"))
            & (F.col("p_ts") <= F.col("v_ts") + F.expr("INTERVAL 30 MINUTES")),
            "left_outer",
        )
        q = (
            j.writeStream.format("memory").queryName("lsj_test")
            .outputMode("append").trigger(availableNow=True).start()
        )
        q.awaitTermination(120)
        got = {
            r.view_id: r.p_id for r in spark.table("lsj_test").collect()
        }
        assert got == {1: 10, 2: None, 3: None, 4: None}, got
    finally:
        shutil.rmtree(out, ignore_errors=True)


def test_foreachbatch_merge_sink_idempotent(spark, sf_dir, tmp_path):
    """foreachBatch as a keyed merge sink: each micro-batch upserts into a
    parquet store keyed by event_id (union + groupwise-latest — the SCD-1
    merge the batch surface exposes as r_merge_upsert). A duplicated
    source stream must land exactly the distinct key set, because the
    merge — not the source — enforces idempotence. This is the streaming
    half of exactly-once: checkpoint dedups redelivered BATCHES,
    foreachBatch-merge dedups redelivered KEYS."""
    from pyspark.sql import Window, functions as F

    events = load_table(spark, sf_dir, "events").limit(400)
    src_dir = str(tmp_path / "src")
    store = str(tmp_path / "store")
    # duplicated delivery: same 400 events land twice
    events.coalesce(1).write.mode("overwrite").parquet(src_dir)
    events.coalesce(1).write.mode("append").parquet(src_dir)

    def merge(batch_df, batch_id):
        import os

        b = batch_df.select("event_id", "user_id", "value")
        if os.path.isdir(store):
            cur = batch_df.sparkSession.read.parquet(store)
            all_rows = cur.unionByName(b)
        else:
            all_rows = b
        w = Window.partitionBy("event_id").orderBy(F.desc("value"))
        merged = (
            all_rows.withColumn("rn", F.row_number().over(w))
            .filter("rn = 1")
            .drop("rn")
        )
        # collect-then-rewrite: fixture-scale stand-in for MERGE INTO on a
        # lake table (reading the store while overwriting it would race)
        rows = merged.collect()
        batch_df.sparkSession.createDataFrame(
            rows, merged.schema
        ).coalesce(1).write.mode("overwrite").parquet(store)

    src = spark.readStream.schema(events.schema).parquet(src_dir)
    q = (
        src.writeStream.foreachBatch(merge)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    got = spark.read.parquet(store)
    assert got.count() == 400
    assert got.select("event_id").distinct().count() == 400


def test_stateful_agg_state_survives_restart(spark, sf_dir, tmp_path):
    """Checkpointed aggregation state must survive a query restart: run 1
    drains file A; file B lands; run 2 (same checkpoint, same query) must
    emit per-type totals that INCLUDE A's contribution — i.e. the state
    store was restored, not rebuilt from the new file alone. Final totals
    must equal the batch aggregate over A ∪ B."""
    from pyspark.sql import functions as F

    events = load_table(spark, sf_dir, "events")
    a = events.filter(F.col("event_id") % 2 == 0)
    b = events.filter(F.col("event_id") % 2 == 1)
    src_dir = str(tmp_path / "src")
    ckpt = str(tmp_path / "ckpt")
    out = str(tmp_path / "out")
    a.coalesce(1).write.mode("overwrite").parquet(src_dir)

    def run_once():
        src = spark.readStream.schema(events.schema).parquet(src_dir)
        agg = src.groupBy("event_type").agg(
            F.count("*").alias("n"), F.round(F.sum("value"), 4).alias("sum_value")
        )

        def sink(batch_df, batch_id):
            batch_df.write.mode("overwrite").parquet(out)

        q = (
            agg.writeStream.outputMode("complete")
            .foreachBatch(sink)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    run_once()
    first = {r.event_type: r.n for r in spark.read.parquet(out).collect()}
    b.coalesce(1).write.mode("append").parquet(src_dir)
    run_once()
    got = {
        (r.event_type): (r.n, r.sum_value)
        for r in spark.read.parquet(out).collect()
    }
    want = {
        r.event_type: (r.n, r.sum_value)
        for r in events.groupBy("event_type")
        .agg(F.count("*").alias("n"), F.round(F.sum("value"), 4).alias("sum_value"))
        .collect()
    }
    assert got == want
    # and run 1 really was partial (state restoration did the rest)
    assert any(first[k] < want[k][0] for k in first)


@pytest.mark.skipif(
    not _HAVE_PROTOBUF,
    reason="transformWithState driver worker requires google.protobuf, "
    "absent in this container (no installs); operator surface kept in "
    "streaming/stateful.py for protobuf-equipped deployments",
)
def test_transform_with_state_totals_equal_batch(spark, sf_dir, tmp_path):
    """transformWithStateInPandas (the Spark 4 successor to
    applyInPandasWithState): per-user running totals across two
    micro-batches must equal the batch aggregate — same contract the
    applyInPandasWithState test pins, through the new typed-state-handle
    API. Requires the RocksDB state store provider (also the provider a
    cluster deployment runs), so the test sets and restores it."""
    from pyspark.sql import functions as F

    from vector_search_spark.streaming.stateful import stateful_user_totals_tws

    events = load_table(spark, sf_dir, "events").limit(600)
    d = str(tmp_path / "ev")
    events.filter(F.col("event_id") % 2 == 0).coalesce(1).write.mode(
        "overwrite"
    ).parquet(d)
    events.filter(F.col("event_id") % 2 == 1).coalesce(1).write.mode(
        "append"
    ).parquet(d)

    prov_key = "spark.sql.streaming.stateStore.providerClass"
    old = spark.conf.get(prov_key, None)
    spark.conf.set(
        prov_key,
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
    )
    try:
        src = (
            spark.readStream.option("maxFilesPerTrigger", "1")
            .schema(events.schema)
            .parquet(d)
        )
        q = (
            stateful_user_totals_tws(src)
            .writeStream.format("memory")
            .queryName("tws_totals")
            .outputMode("update")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(180)
        emitted = spark.table("tws_totals")
        final = emitted.groupBy("user_id").agg(
            F.max("n_events").alias("n_events"),
            F.round(F.max_by("sum_value", "n_events"), 4).alias("sum_value"),
        )
        got = {r.user_id: (r.n_events, r.sum_value) for r in final.collect()}
        want = {
            r.user_id: (r.n_events, r.sum_value)
            for r in events.groupBy("user_id")
            .agg(
                F.count("*").alias("n_events"),
                F.round(F.sum("value"), 4).alias("sum_value"),
            )
            .collect()
        }
        assert got == want and len(got) > 0
    finally:
        if old is None:
            spark.conf.unset(prov_key)
        else:
            spark.conf.set(prov_key, old)


def test_streaming_knn_serve_multi_batch(spark, sf_dir, tmp_path):
    """The serving row's batching-invariance claim, actually exercised:
    split the probe set across THREE files, force one file per
    micro-batch, and assert the served union equals the batch KNN answer
    exactly. Each probe's top-k depends only on that probe and the static
    corpus, so HOW the stream batches the probes must not matter."""
    from pyspark.sql import functions as F

    from vector_search_spark.operators.knn import knn
    from vector_search_spark.sources.catalog import load_table

    corpus = load_table(spark, sf_dir, "embeddings")
    probes_src = corpus.filter(F.col("vec_id") < 3)
    pdir = str(tmp_path / "probes")
    # one probe per file -> 3 micro-batches under maxFilesPerTrigger=1
    for pid in range(3):
        probes_src.filter(F.col("vec_id") == pid).coalesce(1).write.mode(
            "append"
        ).parquet(pdir)

    served: list = []

    def _serve(batch_df, _bid):
        if batch_df.isEmpty():
            return
        res = knn(corpus, batch_df, k=5).select(
            "probe_id", "vec_id", F.round("score", 6).alias("score")
        )
        served.append((sorted(r["probe_id"] for r in batch_df.collect()),
                       res.collect()))

    stream = (
        spark.readStream.schema(corpus.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(pdir)
        .select(
            F.col("vec_id").alias("probe_id"),
            F.col("embedding").alias("probe_vec"),
        )
    )
    q = stream.writeStream.foreachBatch(_serve).trigger(availableNow=True).start()
    q.awaitTermination()

    assert len(served) == 3, f"expected 3 micro-batches, got {len(served)}"
    got = sorted(
        (r["probe_id"], r["vec_id"], r["score"])
        for _, rows in served
        for r in rows
    )
    expect = sorted(
        (r["probe_id"], r["vec_id"], r["score"])
        for r in knn(
            corpus,
            probes_src.select(
                F.col("vec_id").alias("probe_id"),
                F.col("embedding").alias("probe_vec"),
            ),
            k=5,
        )
        .select("probe_id", "vec_id", F.round("score", 6).alias("score"))
        .collect()
    )
    assert got == expect


def test_cdc_apply_tombstone_ordering(spark, tmp_path):
    """CDC merge must be arrival-order independent: an OLD delete landing
    a batch after a NEWER upsert cannot kill the key (change time wins,
    not arrival time), an old upsert cannot resurrect a newer delete, and
    a newer upsert overwrites. Three keys, two out-of-order batches."""
    import datetime as dt
    import glob
    import os

    from vector_search_spark.streaming.cdc import run_cdc_apply_availablenow

    def t(s):
        return dt.datetime(2024, 1, 1, 0, 0, s)

    schema = (
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string"
    )
    b1 = [
        (1, t(20), 1, "view", 10.00, "{}"),     # u1 upsert @20
        (2, t(10), 2, "view", 5.00, "{}"),      # u2 upsert @10
        (3, t(30), 3, "error", 0.00, "{}"),     # u3 delete @30
    ]
    b2 = [
        (4, t(15), 1, "error", 0.00, "{}"),     # u1 OLD delete @15 — loses
        (5, t(20), 2, "view", 7.00, "{}"),      # u2 newer upsert — wins
        (6, t(25), 3, "view", 9.00, "{}"),      # u3 OLD upsert — stays dead
    ]
    in_dir = str(tmp_path / "feed")
    os.makedirs(in_dir)
    for i, rows in enumerate((b1, b2)):
        part = str(tmp_path / f"stage{i}")
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(
            "overwrite"
        ).parquet(part)
        (f,) = glob.glob(os.path.join(part, "part-*.parquet"))
        dst = os.path.join(in_dir, f"{chr(97 + i)}.parquet")
        os.rename(f, dst)
        os.utime(dst, (1_000_000_000 + i * 100,) * 2)

    res = run_cdc_apply_availablenow(spark, in_dir, str(tmp_path / "work"))
    got = {r["user_id"]: (r["last_v100"], r["last_event_id"]) for r in res.collect()}
    assert got == {1: (1000, 1), 2: (700, 5)}

    # Restart over the SAME work_dir: the durable checkpoint skips the
    # already-committed batches, so the run must RECOVER the final state
    # from disk instead of crashing on spark.read.parquet(None) — and a
    # partially-committed restart (new file arrives) must fold the new
    # batch into the RECOVERED predecessor, not restart from empty.
    res2 = run_cdc_apply_availablenow(spark, in_dir, str(tmp_path / "work"))
    got2 = {r["user_id"]: (r["last_v100"], r["last_event_id"]) for r in res2.collect()}
    assert got2 == got

    b3 = [(7, t(40), 2, "view", 8.00, "{}")]    # u2 newest upsert @40
    part = str(tmp_path / "stage3")
    spark.createDataFrame(b3, schema).coalesce(1).write.mode(
        "overwrite"
    ).parquet(part)
    (f,) = glob.glob(os.path.join(part, "part-*.parquet"))
    dst = os.path.join(in_dir, "c.parquet")
    os.rename(f, dst)
    os.utime(dst, (1_000_000_300,) * 2)
    res3 = run_cdc_apply_availablenow(spark, in_dir, str(tmp_path / "work"))
    got3 = {r["user_id"]: (r["last_v100"], r["last_event_id"]) for r in res3.collect()}
    assert got3 == {1: (1000, 1), 2: (800, 7)}


@pytest.mark.parametrize("family", ["ivf", "graph"])
def test_engine_serve_single_plan(spark, sf_dir, tmp_path, family):
    """The engines ``build_choice`` returns must answer a whole probe
    batch in ONE DataFrame plan: the number of Spark JOBS a serve runs is
    a small constant INDEPENDENT of batch size (a per-probe loop would
    schedule >= one job per probe and pay Spark's measured ~0.5-1 s
    scheduling floor per query — tools/serve_latency.py; the graph's
    per-round row fetches cost a fixed number of jobs, the batch size
    costs none). Job counts come from job groups, so the pin is
    load-independent. The ivf answers are certified against the
    in-memory IVF twin (same algorithm, same index), probe-for-probe."""
    from pyspark.sql import functions as F

    from vector_search_spark.operators.ann import ivf_assign, ivf_knn
    from vector_search_spark.operators.index_select import (
        build_choice,
        choose_index,
    )
    from vector_search_spark.sources.catalog import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    if family == "ivf":
        choice = choose_index(10**7, 64, recall_target=0.85)
        # the first-16-centroid, n_probe=4 convention of v_ivf_knn
        choice.params.update(n_centroids=16, n_probe=4)
        index = build_choice(choice, emb, index_path=str(tmp_path / "ivf"))
    else:
        choice = choose_index(10**7, 64, recall_target=0.95)
        index = build_choice(choice, emb, dim=64)
    assert choice.family == family

    def probes(n):
        return emb.filter(F.col("vec_id") < n).select(
            F.col("vec_id").alias("probe_id"),
            F.col("embedding").alias("probe_vec"),
        )

    sc = spark.sparkContext

    def jobs_for(group, df):
        """Jobs of collecting ``df``; a callable is called inside the
        group, so the jobs its serve call runs count too."""
        sc.setJobGroup(group, group)
        try:
            rows = (df() if callable(df) else df).collect()
        finally:
            sc.setJobGroup(None, None)
        return rows, len(sc.statusTracker().getJobIdsForGroup(group))

    def served(n):
        # the graph kernel runs its jobs inside serve(), so its count
        # starts at the call; ivf counts the collect only (its index read
        # runs a parquet footer job at call time)
        call = lambda: index.serve(probes(n), k=5)  # noqa: E731
        return call if family == "graph" else call()

    # warm both shapes once (broadcast machinery, parquet footers)
    index.serve(probes(1), k=5).collect()
    rows1, jobs1 = jobs_for(f"{family}_one", served(1))
    rows20, jobs20 = jobs_for(f"{family}_twenty", served(20))
    assert {r["probe_id"] for r in rows20} == set(range(20))
    per_probe = {}
    for r in rows20:
        per_probe.setdefault(r["probe_id"], 0)
        per_probe[r["probe_id"]] += 1
    assert all(n == 5 for n in per_probe.values())
    # ONE plan per batch: job count is a small constant, NOT O(probes) —
    # and serving 20x the probes schedules no more jobs than serving 1.
    assert jobs20 <= jobs1 + 1, (jobs1, jobs20)
    if family == "graph":
        # the maintainer keeps its index on the driver: the probe collect
        # is the serve's one job
        assert jobs20 <= 1, jobs20
        return
    assert jobs20 <= 6, jobs20

    # value certification vs the in-memory twin over the same index data
    cents = emb.filter(F.col("vec_id") < 16).select(
        F.col("vec_id").alias("centroid_id"),
        F.col("embedding").alias("centroid_vec"),
    )
    assigned = ivf_assign(emb, cents)
    mem = {
        (r["probe_id"], r["vec_id"], round(r["score"], 6))
        for r in ivf_knn(assigned, cents, probes(20), k=5).collect()
    }
    got = {
        (r["probe_id"], r["vec_id"], round(r["score"], 6)) for r in rows20
    }
    assert got == mem


def test_graph_ingest_chained_insert_equals_oneshot(spark):
    """Batching-invariance of ``knn_graph_insert`` against a FIXED
    corpus: chaining it over any split of the new rows (each batch
    pairing against the base corpus only) equals the one-shot insert of
    all of them — per-node top-k is idempotent under staged candidate
    arrival. Edge sets, ranks, AND scores must be identical. (The
    streaming ingest grows its pool instead, so its result depends on
    the split; its pins are the durable-ingest tests below.)"""
    import numpy as np
    from pyspark.sql import functions as F

    from vector_search_spark.operators.ann import (
        knn_graph_build,
        knn_graph_insert,
    )

    rng = np.random.RandomState(44)
    n, dim, ncl, n_new = 260, 32, 13, 24
    cents = rng.randn(ncl, dim)
    X = np.stack([cents[i % ncl] + 0.3 * rng.randn(dim) for i in range(n)])
    X = X / np.linalg.norm(X, axis=1, keepdims=True)
    emb = spark.createDataFrame(
        [(i, [float(x) for x in X[i]]) for i in range(n)],
        "vec_id long, embedding array<float>",
    )
    base = emb.filter(F.col("vec_id") >= n_new)
    kw = dict(k=5, n_planes=24, band_bits=6, seed=42, dim=dim)
    g0 = knn_graph_build(base, rounds=2, **kw).localCheckpoint(eager=True)
    oneshot = knn_graph_insert(
        g0, base, emb.filter(F.col("vec_id") < n_new), **kw
    )
    # three uneven, non-contiguous splits (hash-ish: mod 3)
    chained = g0
    for m in range(3):
        batch = emb.filter(
            (F.col("vec_id") < n_new) & (F.col("vec_id") % 3 == m)
        )
        chained = (
            knn_graph_insert(chained, base, batch, **kw)
            .coalesce(8)
            .localCheckpoint(eager=True)
        )
    a = {(r.src_id, r.nbr_id, r.rank, r.score) for r in oneshot.collect()}
    b = {(r.src_id, r.nbr_id, r.rank, r.score) for r in chained.collect()}
    assert a == b and len(a) > 0


def _durable_fixture(spark, seed=46, n=240, dim=32, ncl=12, n_new=18):
    import numpy as np
    from pyspark.sql import functions as F

    rng = np.random.RandomState(seed)
    cents = rng.randn(ncl, dim)
    X = np.stack([cents[i % ncl] + 0.3 * rng.randn(dim) for i in range(n)])
    X = X / np.linalg.norm(X, axis=1, keepdims=True)
    emb = spark.createDataFrame(
        [(i, [float(x) for x in X[i]]) for i in range(n)],
        "vec_id long, embedding array<float>",
    )
    base = emb.filter(F.col("vec_id") >= n_new)
    new = emb.filter(F.col("vec_id") < n_new)
    return emb, base, new


_GRAPH = dict(dim=32, k=5, n_planes=24, band_bits=6, seed=42, build_rounds=2)


def _edges(df):
    return {(r.src_id, r.nbr_id, r.rank, r.score) for r in df.collect()}


def _land(rows, src, name, i):
    """Write delivery ``name`` as one parquet file whose mtime is pinned
    to ordinal ``i``: the file source takes files in mtime order, and the
    growing graph depends on the order."""
    import os

    path = os.path.join(src, name)
    rows.coalesce(1).write.mode("overwrite").parquet(path)
    for f in os.listdir(path):
        if f.endswith(".parquet"):
            os.utime(os.path.join(path, f), (1700000000 + 60 * i,) * 2)


def _uninterrupted(base, parts):
    """The reference state: one maintainer inserting every delivery in
    order, no stream and no restart."""
    from vector_search_spark.operators.graph_lifecycle import GraphMaintainer

    index = GraphMaintainer(base, **_GRAPH)
    for rows in parts:
        index.insert(rows)
    return index


@pytest.fixture(scope="module")
def restarted_ingest(spark, tmp_path_factory):
    """Drain delivery A into a fresh state dir, then drop the driver
    (only the state dir survives); land B and C and drain again. The
    restart recovers from the log, so the base it is handed is never
    read — an empty one proves it."""
    from pyspark.sql import functions as F

    from vector_search_spark.operators.graph_lifecycle import GraphMaintainer
    from vector_search_spark.streaming.serving import ingest_graph_stream

    emb, base, new = _durable_fixture(spark)
    root = tmp_path_factory.mktemp("graph_ingest_restart")
    src, state = str(root / "src"), str(root / "state")
    glob = src + "/f*/*.parquet"
    parts = [new.filter(F.col("vec_id") % 3 == m) for m in range(3)]
    _land(parts[0], src, "fA", 0)
    after_a = _edges(ingest_graph_stream(base, state, glob, **_GRAPH).graph)
    _land(parts[1], src, "fB", 1)
    _land(parts[2], src, "fC", 2)
    recovered = _edges(GraphMaintainer.recover(spark, state + "/graph").graph)
    index = ingest_graph_stream(base.limit(0), state, glob, **_GRAPH)
    return emb, base, parts, after_a, recovered, index


def test_durable_graph_ingest_restart_recovery(restarted_ingest):
    """Restart == uninterrupted: a drain of A, a crash, and a restarted
    drain of B and C end in exactly the state of one maintainer that
    inserts A, B and C in order — edges, ranks and scores. The restart
    recovered the post-A commit (it did not rebuild or re-insert A), and
    the first run really was partial."""
    _, base, parts, after_a, recovered, index = restarted_ingest
    assert recovered == after_a
    want = _edges(_uninterrupted(base, parts).graph)
    assert _edges(index.graph) == want and len(want) > 0
    assert after_a != want


def test_durable_graph_ingest_bands_complete_after_restart(restarted_ingest):
    """The band table the ingest serves from (the LSH entry join of its
    serve) holds the base AND every delivery after a restart — the
    deliveries drained before the crash included: it equals the band
    table of base ∪ A ∪ B ∪ C hashed from scratch."""
    from vector_search_spark.operators.ann import corpus_band_keys

    emb, _, _, _, _, index = restarted_ingest

    def rows(df):
        return {(r.id, r.band, r.key) for r in df.collect()}

    want = rows(corpus_band_keys(
        emb, n_planes=24, band_bits=6, seed=42, dim=32
    ))
    assert rows(index.bands) == want


def test_durable_graph_ingest_replayed_batch_skipped(
    spark, tmp_path, monkeypatch
):
    """Crash AFTER the insert's commit but BEFORE the stream's commit
    file: Structured Streaming replays the last batch on restart, and
    the batch id the insert recorded in the maintainer's marker must
    SKIP it. Simulated by deleting the newest file in the checkpoint's
    commits/ dir after a full drain, then restarting: the replay reaches
    the maintainer, commits no op, and the state still equals the
    uninterrupted inserts."""
    import os

    from pyspark.sql import functions as F

    from vector_search_spark.operators.graph_lifecycle import GraphMaintainer
    from vector_search_spark.streaming.serving import ingest_graph_stream

    emb, base, new = _durable_fixture(spark, seed=47)
    src = str(tmp_path / "src")
    state = str(tmp_path / "state")
    glob = src + "/f*/*.parquet"
    parts = [new.filter(F.col("vec_id") % 2 == m) for m in range(2)]
    for i, rows in enumerate(parts):
        _land(rows, src, f"f{i}", i)

    first = ingest_graph_stream(base, state, glob, **_GRAPH)
    full, last, ops = _edges(first.graph), first._stream_batch, first._op_seq
    assert last >= 1
    del first

    # crash injection: lose the engine's commit for the newest batch so
    # the restarted stream replays it (offsets survive, commit does not)
    commits = os.path.join(state, "checkpoint", "commits")
    newest = max(
        (f for f in os.listdir(commits) if not f.startswith(".")),
        key=lambda f: int(f),
    )
    os.remove(os.path.join(commits, newest))
    crc = os.path.join(commits, f".{newest}.crc")
    if os.path.exists(crc):  # ChecksumFs sidecar would poison the rewrite
        os.remove(crc)

    seen = []
    insert = GraphMaintainer.insert

    def spy(self, rows, batch_id=None):
        seen.append(batch_id)
        return insert(self, rows, batch_id=batch_id)

    monkeypatch.setattr(GraphMaintainer, "insert", spy)
    index = ingest_graph_stream(base.limit(0), state, glob, **_GRAPH)
    assert seen == [last]  # the replay reached the maintainer
    assert index._op_seq == ops  # ... and committed no op
    got = _edges(index.graph)
    assert got == full
    monkeypatch.undo()
    assert got == _edges(_uninterrupted(base, parts).graph)
