"""Streaming vector search: query vectors answered micro-batch at a
time, and ingest loops that grow a durable index while it serves.

Serving (``run_streaming_knn_availablenow``,
``run_streaming_graph_serve_availablenow``): queries ARRIVE (a file
stream) and each micro-batch runs the SAME batch operator against a
static corpus or index, so the streamed answers are oracle-checkable
against the batch result over the same probe set. Per-probe top-k inside
one micro-batch is fine (the rank is per batch, not over the unbounded
stream — contrast streaming/fusion.py, which accumulates state across
batches instead).

Ingest (``ingest_graph_stream`` and the dedup loops): deliveries ARRIVE
and each micro-batch mutates a durable index — the k-NN graph through
one :class:`~..operators.graph_lifecycle.GraphMaintainer`, the
embedding-dedup index through its ``IndexLog`` — with the stream's
batch id as the replay guard. Deliveries whose split or order decides
the result are staged pinned (:func:`_stage_deliveries`).

``foreachBatch`` is the surface on purpose: it hands each bounded
micro-batch to arbitrary BATCH code, which is how real Structured
Streaming deployments serve model/index lookups. Results accumulate on
the driver here only because the memory sink is the test harness — a
deployment writes each batch's answers to its sink inside the same
callback.
"""

from __future__ import annotations

import os
import shutil
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.graph_lifecycle import GraphMaintainer
from ..utils import pid_scratch


def stream_vectors(spark: SparkSession, path_glob: str) -> DataFrame:
    """File-source stream over embeddings parquet (bounded drain with
    Trigger.availableNow in tests)."""
    schema = spark.read.parquet(path_glob).schema
    return spark.readStream.schema(schema).parquet(path_glob)


def _drain(stream: DataFrame, fn, checkpoint: str | None = None) -> None:
    """Run ``fn(batch_df, batch_id)`` on every micro-batch of ``stream``
    until the available input is drained (Trigger.availableNow), with
    the source checkpoint at ``checkpoint`` when one is given."""
    w = stream.writeStream.foreachBatch(fn)
    if checkpoint is not None:
        w = w.option("checkpointLocation", checkpoint)
    w.trigger(availableNow=True).start().awaitTermination()


def _deliveries(spark: SparkSession, schema, glob: str) -> DataFrame:
    """File-source stream over ``glob``, one file per micro-batch."""
    return (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(glob)
    )


def _stage_deliveries(
    emb: DataFrame, name: str, sf_dir: str, n_new: int, rows: int
) -> str:
    """Stage the ``n_new`` newest vectors (vec_id < ``n_new``) as one
    parquet file per delivery — membership vec_id DIV ``rows``, a
    trailing partial delivery included — with strictly increasing
    mtimes; return their glob. The file source orders files by
    modification time and :func:`_deliveries` takes one per trigger, so
    micro-batch i is delivery i: a loop whose result depends on the
    split or the order is pinned to what its oracle replays. The files
    stand for input arriving from outside, so they are staged once per
    process and (fixture, ``n_new``, ``rows``), not per invocation."""
    path = os.path.join(
        pid_scratch(name, sf_dir), f"staged_n{n_new}_b{rows}"
    )
    if not os.path.exists(os.path.join(path, "_STAGED")):
        os.makedirs(path, exist_ok=True)
        for i in range(-(-n_new // rows)):
            tmp = os.path.join(path, f"_tmp{i}")
            emb.filter(
                (F.col("vec_id") < n_new)
                & (F.expr(f"vec_id DIV {rows}") == i)
            ).coalesce(1).write.mode("overwrite").parquet(tmp)
            part = next(f for f in os.listdir(tmp) if f.endswith(".parquet"))
            dst = os.path.join(path, f"delivery_{i}.parquet")
            shutil.move(os.path.join(tmp, part), dst)
            shutil.rmtree(tmp)
            os.utime(dst, (1700000000 + i * 60, 1700000000 + i * 60))
        open(os.path.join(path, "_STAGED"), "w").close()
    return os.path.join(path, "*.parquet")


def _fresh_dir(name: str, sf_dir: str) -> str:
    """A new empty directory under the process's scratch for ``name``:
    a loop that mutates durable state starts from nothing on every
    invocation (bench runs a row more than once)."""
    root = pid_scratch(name, sf_dir)
    os.makedirs(root, exist_ok=True)
    return tempfile.mkdtemp(dir=root)


def run_streaming_knn_availablenow(
    spark: SparkSession,
    sf_dir: str,
    k: int = 10,
    n_probes: int = 3,
) -> DataFrame:
    """Drain the probe stream (vec_id < ``n_probes`` of the embeddings
    table arriving as files) through a per-micro-batch KNN against the
    static corpus; return all served answers. Deterministic regardless of
    how the file source batches the probes: each probe's top-k depends
    only on that probe and the static corpus."""
    from ..operators.knn import knn
    from ..sources.catalog import load_table

    corpus = load_table(spark, sf_dir, "embeddings")
    probes = (
        stream_vectors(spark, f"{sf_dir}/embeddings*.parquet")
        .filter(F.col("vec_id") < n_probes)
        .select(
            F.col("vec_id").alias("probe_id"), F.col("embedding").alias("probe_vec")
        )
    )
    served: list = []

    def _serve(batch_df: DataFrame, _batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        res = knn(corpus, batch_df, k=k).select(
            "probe_id", "vec_id", F.round("score", 6).alias("score")
        )
        # driver accumulation is the TEST sink (k x n_probes rows); a
        # deployment writes res to its real sink here instead
        served.extend(res.collect())

    _drain(probes, _serve)
    return spark.createDataFrame(
        served, "probe_id long, vec_id long, score double"
    )


def ingest_graph_stream(
    base: DataFrame, state_dir: str, source_glob: str, **params
) -> GraphMaintainer:
    """Drain every available file under ``source_glob`` (one file per
    micro-batch, in modification-time order) into the durable
    :class:`~..operators.graph_lifecycle.GraphMaintainer` under
    ``state_dir``/graph and return it; the stream's checkpoint lives in
    ``state_dir``/checkpoint, so a restarted drain skips ingested files
    AND recovers the matching index.

    Start: recover the maintainer when its log has a marker, else open
    it over ``base`` with ``params`` (the maintainer's settings; a
    recovery reads them from the log and never evaluates ``base``).
    Each micro-batch: ``insert`` (the batch id rides in the op's marker
    swap as the replay guard), then ``maybe_compact`` — the maintainer's
    churn policy is the one fold policy. Exactly-once state under the
    standard crash matrix:

    - crash before the insert's commit: the batch replays against the
      recovered pre-batch state and commits as if first seen;
    - crash after the commit but before the stream's commit file: the
      batch replays, the recorded batch id skips its insert, and
      ``maybe_compact`` runs a due compaction the crash cut off;
    - clean stop between batches: the restart recovers the latest
      commit and the checkpoint feeds only unseen files.

    So a drain that restarts anywhere ends in the state of one
    uninterrupted drain of the same files (``tests/test_streaming.py``
    pins both crash cases)."""
    from ..operators.index_log import IndexLog

    graph_dir = os.path.join(state_dir, "graph")
    if IndexLog(graph_dir).read() is None:
        index = GraphMaintainer(base, state_dir=graph_dir, **params)
    else:
        index = GraphMaintainer.recover(base.sparkSession, graph_dir)

    def _step(batch_df: DataFrame, batch_id: int) -> None:
        index.insert(batch_df, batch_id=batch_id)
        index.maybe_compact()

    _drain(
        _deliveries(base.sparkSession, base.schema, source_glob), _step,
        os.path.join(state_dir, "checkpoint"),
    )
    return index


def run_streaming_graph_ingest_availablenow(
    spark: SparkSession,
    sf_dir: str,
    n_new: int = 20,
    k: int = 6,
    serve_k: int = 10,
    beam: int = 8,
    serve_rounds: int = 2,
    n_probes: int = 3,
    n_planes: int = 24,
    band_bits: int = 6,
    dim: int | None = None,
    n_files: int = 3,
) -> DataFrame:
    """Streaming graph-index MAINTENANCE + serve: the k-NN graph GROWS
    between micro-batches. The base graph is built on vec_id >=
    ``n_new``; the ``n_new`` newest vectors arrive as ``n_files`` pinned
    deliveries (:func:`_stage_deliveries`: membership vec_id DIV
    ceil(n_new / n_files), one file each, increasing mtimes), drained by
    :func:`ingest_graph_stream` into a durable ``GraphMaintainer`` in a
    fresh state dir, so ``foreachBatch`` really fires once per delivery.
    The probes are then answered by the maintainer's LSH-entry beam
    search over the grown graph and its maintained band table.

    Contract: the maintainer's growing pool. Delivery i links in against
    base ∪ deliveries < i (their vectors and band rows are full
    candidates; new-new pairs within one delivery are not), so the
    result depends on how the rows are split into deliveries — which is
    why the split is pinned. The DuckDB oracle (``s_graph_ingest_serve``)
    chains one insert replay per delivery and then the serve replay,
    values, ranks and scores exact. At this row's sizes the churn stays
    far below ``compact_churn_frac``, so no compaction runs mid-stream.

    At 100 TB this is the steady-state deployment: one long-lived graph
    index, bounded insert work and a bounded delta write per micro-batch,
    serve over the latest state."""
    from ..config import EMB_DIM
    from ..sources.catalog import load_table

    dim = EMB_DIM if dim is None else dim
    emb = load_table(spark, sf_dir, "embeddings")
    glob = _stage_deliveries(
        emb, "graph_ingest_src", sf_dir, n_new, -(-n_new // n_files)
    )
    index = ingest_graph_stream(
        emb.filter(F.col("vec_id") >= n_new),
        _fresh_dir("graph_ingest_state", sf_dir), glob, dim=dim, k=k,
        n_planes=n_planes, band_bits=band_bits, seed=42, build_rounds=2,
    )
    probes = emb.filter(F.col("vec_id") < n_probes).select(
        F.col("vec_id").alias("probe_id"),
        F.col("embedding").alias("probe_vec"),
    )
    return index.serve(probes, k=serve_k, beam=beam, rounds=serve_rounds)


def run_streaming_graph_serve_availablenow(
    spark: SparkSession,
    sf_dir: str,
    k: int = 10,
    beam: int = 8,
    rounds: int = 2,
    n_probes: int = 3,
    n_planes: int = 24,
    band_bits: int = 6,
    dim: int | None = None,
) -> DataFrame:
    """Streaming GRAPH-ANN serving (the graph twin of
    ``run_streaming_knn_availablenow``): the k-NN graph is built ONCE
    (static index), then probe files drain through the streaming engine
    and each micro-batch runs ``knn_graph_serve`` with LSH-seeded
    entries inside ``foreachBatch``. Per-probe answers are
    batching-invariant — each probe's beam walk depends only on that
    probe, the static graph, and the static corpus — so the union over
    micro-batches is certified against the one-batch serve oracle.

    The per-batch serve goes through
    ``operators.graph_lifecycle.GraphMaintainer`` — the ONE graph engine
    — whose build band table doubles as the LSH entry table, so the
    corpus is hashed once, never per micro-batch."""
    from ..config import EMB_DIM
    from ..sources.catalog import load_table

    dim = EMB_DIM if dim is None else dim
    index = GraphMaintainer(
        load_table(spark, sf_dir, "embeddings"), dim=dim, k=6,
        n_planes=n_planes, band_bits=band_bits, seed=42, build_rounds=2,
    )
    probes = (
        stream_vectors(spark, f"{sf_dir}/embeddings*.parquet")
        .filter(F.col("vec_id") < n_probes)
        .select(
            F.col("vec_id").alias("probe_id"),
            F.col("embedding").alias("probe_vec"),
        )
    )
    served: list = []

    def _serve(batch_df: DataFrame, _batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        served.extend(
            index.serve(batch_df, k=k, beam=beam, rounds=rounds).collect()
        )

    _drain(probes, _serve)
    return spark.createDataFrame(
        served, "probe_id long, vec_id long, rank long, score double"
    )


def run_streaming_semantic_dedup_availablenow(
    spark: SparkSession,
    sf_dir: str,
    n_new: int = 100,
    threshold: float = 0.3,
    n_planes: int = 32,
    band_bits: int = 8,
    dim: int | None = None,
    n_files: int = 3,
) -> DataFrame:
    """Ingestion-time SEMANTIC dedup as a stream (round 13 — the online
    half of ``d_embedding_persist_incr``): the corpus' embedding-LSH
    index is the STANDING ASSET (``embedding_index_write``, staged once
    per fixture — it is read-only at serve time and its content is a
    pure function of (corpus, knobs), so re-building it per invocation
    would be harness waste, not index work), and each arriving delivery
    (``n_new`` newest vectors drained as ``n_files`` staged deliveries,
    one file per micro-batch, so ``foreachBatch`` really fires per file)
    probes the on-disk band table at O(batch) cost
    (``embedding_probe_pairs``) and emits its near-dup matches against
    the corpus.

    Batching-invariance is structural: a probe row's matches depend only
    on that row and the STATIC index — no cross-batch state — so the
    union over micro-batches equals the one-shot probe of all new rows
    however the file source batches them, and THAT is what the DuckDB
    oracle replays (``s_semantic_dedup_ingest``). Matches accumulate on
    the driver only as the test harness's memory sink (they are
    match-sized, not corpus-sized); a deployment writes each batch's
    pairs to its sink inside the same callback — the quarantine/reject
    step of a streaming corpus build."""
    from ..config import EMB_DIM
    from ..operators.dedup import embedding_index_write, embedding_probe_pairs
    from ..operators.index_log import IndexLog
    from ..sources.catalog import load_table

    dim = EMB_DIM if dim is None else dim
    emb = load_table(spark, sf_dir, "embeddings")
    # the staged dir is keyed by EVERY knob the index content depends on
    # (ADVICE r13: keyed by n_new alone, a same-process call with other
    # banding knobs silently probed a mismatched plane bank — band keys
    # simply failed to collide, pairs went missing with no error)
    idx_path = os.path.join(
        pid_scratch("semdedup_idx", sf_dir),
        f"idx_n{n_new}_p{n_planes}b{band_bits}d{dim}",
    )
    if IndexLog(idx_path).read() is None:
        embedding_index_write(
            emb.filter(F.col("vec_id") >= n_new),
            "embedding", "vec_id", idx_path,
            n_planes=n_planes, band_bits=band_bits, dim=dim,
        )
    glob = _stage_deliveries(
        emb, "semdedup_src", sf_dir, n_new, -(-n_new // n_files)
    )
    matched: list = []

    def _probe(batch_df: DataFrame, _batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        matched.extend(
            embedding_probe_pairs(
                spark, idx_path, batch_df, "embedding", "vec_id",
                threshold=threshold, n_planes=n_planes,
                band_bits=band_bits, dim=dim,
            ).collect()
        )

    _drain(_deliveries(spark, emb.schema, glob), _probe)
    return spark.createDataFrame(
        matched, "new_id long, corpus_id long, cos double"
    )


def semantic_admit_batch(
    spark: SparkSession,
    idx_path: str,
    batch_df: DataFrame,
    batch_id: int,
    threshold: float,
    n_planes: int,
    band_bits: int,
    dim: int,
) -> list:
    """ONE dedup-then-admit step, replay-idempotent by construction —
    the body of the streaming loop's ``foreachBatch`` callback, exposed
    so the crash-injection test (tests/test_embedding_persist.py) can
    drive the exact at-least-once window a real sink has.

    The probe is windowed to deltas admitted STRICTLY BEFORE this batch
    (``max_batch_id=batch_id``) and the insert commits under this
    batch's own id (``embedding_index_insert(batch_id=...)``), so a
    replayed delivery —
    crash after the insert committed but before the source checkpoint
    did — probes the identical admitted-before set (it cannot see its
    own delta) and its re-insert replaces rather than duplicates. The
    emitted PAIR LIST is therefore a pure function of (batch, batch_id,
    index state below batch_id): same pairs on every replay."""
    from ..operators.dedup import embedding_index_insert, embedding_probe_pairs

    batch_df = batch_df.localCheckpoint(eager=True)  # probe + insert
    pairs = embedding_probe_pairs(
        spark, idx_path, batch_df, "embedding", "vec_id",
        threshold=threshold, n_planes=n_planes, band_bits=band_bits,
        dim=dim, max_batch_id=batch_id,
    ).collect()
    embedding_index_insert(
        batch_df, "embedding", "vec_id", idx_path,
        n_planes=n_planes, band_bits=band_bits, dim=dim,
        batch_id=batch_id,
    )
    return pairs


def run_streaming_semantic_dedup_admit_availablenow(
    spark: SparkSession,
    sf_dir: str,
    n_new: int = 90,
    batch_rows: int = 30,
    threshold: float = 0.3,
    n_planes: int = 32,
    band_bits: int = 8,
    dim: int | None = None,
    compact_every: int | None = None,
) -> DataFrame:
    """The full DEDUP-THEN-ADMIT ingest loop (round 13): every delivery
    first probes the persisted index for near-dups against EVERYTHING
    ADMITTED SO FAR (base corpus ∪ earlier deliveries), then is admitted
    itself (``embedding_index_insert`` — O(batch) band/vec appends).
    Later deliveries therefore dedup against earlier ones — the
    cross-delivery duplicate class the static-index row
    (``s_semantic_dedup_ingest``) is blind to by design.

    Delivery ORDER is part of the semantics here (a pair (n, c) is
    emitted iff c was admitted before n's delivery), so the stream's
    batching is pinned, not assumed (:func:`_stage_deliveries`: one file
    per delivery, membership vec_id DIV batch_rows, increasing mtimes)
    — which is exactly what the DuckDB oracle replays: matches where
    batch(c) = -1 (base) OR batch(c) < batch(n). Each invocation admits
    into a fresh index dir, so no trial inherits another's admitted
    rows.

    Restart safety is structural, not assumed (round 14 — the r13 claim
    that plain appends were pair-idempotent was FALSE for the vecs side):
    each step runs :func:`semantic_admit_batch`, which probes deltas
    STRICTLY BELOW its own ``foreachBatch`` id and commits its insert
    UNDER that id — a replayed delivery (crash
    after the insert committed, before the checkpoint did) re-emits the
    identical pair list and its re-insert replaces its own delta instead
    of duplicating vec rows. Pinned by the crash-injection test in
    tests/test_embedding_persist.py.

    ``compact_every=k`` folds the delta log into a new base generation
    after every k-th admitted delivery (round 14), always with
    ``upto_batch_id`` = the CURRENT batch id — the current delivery's
    own delta is excluded because its source checkpoint has not
    committed yet (folding it would bake rows a replay's windowed probe
    could no longer exclude). Compaction is value-invisible by contract:
    the loop's emitted pairs are identical with or without it (pinned
    in pytest); it only trades delta-read fan-in for an O(index)
    rewrite."""
    from ..config import EMB_DIM
    from ..operators.dedup import embedding_index_write
    from ..sources.catalog import load_table

    dim = EMB_DIM if dim is None else dim
    emb = load_table(spark, sf_dir, "embeddings")
    idx_path = _fresh_dir("semadmit_idx", sf_dir)
    embedding_index_write(
        emb.filter(F.col("vec_id") >= n_new),
        "embedding", "vec_id", idx_path,
        n_planes=n_planes, band_bits=band_bits, dim=dim,
    )
    glob = _stage_deliveries(emb, "semadmit_src", sf_dir, n_new, batch_rows)
    matched: list = []

    def _probe_then_admit(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        matched.extend(
            semantic_admit_batch(
                spark, idx_path, batch_df, batch_id,
                threshold, n_planes, band_bits, dim,
            )
        )
        if compact_every and (batch_id + 1) % compact_every == 0:
            from ..operators.dedup import embedding_index_compact

            embedding_index_compact(
                spark, idx_path, upto_batch_id=batch_id
            )

    _drain(_deliveries(spark, emb.schema, glob), _probe_then_admit)
    shutil.rmtree(idx_path, ignore_errors=True)
    return spark.createDataFrame(
        matched, "new_id long, corpus_id long, cos double"
    )
