"""Approximate nearest-neighbor operators — the 100 TB path for V3.

Brute-force KNN (operators.knn) scans the corpus once per probe batch; at
100 TB the scan itself is the bottleneck. Two classic batch-index designs,
both pure DataFrame ops:

- ``hyperplane_lsh_knn``: random-hyperplane LSH for cosine. Signature =
  sign-bits of dot(v, plane_i). Build: one map pass. Query: probes hash to
  buckets, candidates come from a bucket equi-join (shuffle on signature,
  not all-pairs), exact cosine re-rank inside the bucket. Deterministic
  planes (seeded) so results are reproducible and oracle-checkable.
- ``ivf_knn``: inverted-file index. Corpus rows are assigned to their
  nearest centroid; a query probes only the ``n_probe`` closest centroids'
  buckets. At scale the assignment table is written bucketed/partitioned by
  ``centroid_id`` so bucket probes become partition-pruned scans.

The k-NN-graph family (``knn_graph_build`` plus its serve, insert and
delete) is the HNSW-class index, and each op is ONE numpy kernel. The
gate is the input size, corpus rows × dim against ``DRIVER_MAX_CELLS``.
The build kernel (``_build_kernel``) chains stage functions over whole
arrays: signature bands, bucket pairs, cosines, top-k and NN-descent
pivot pairs. Under the gate it runs on the driver over one collect of
the corpus; above it Spark supplies only the groupings and exchanges
and every group runs the same stage functions (``_build_frames``).
Serve, insert and delete only ever join a corpus-sized relation
(vectors, adjacency, band table) against a key set bounded by the op's
batch, so their kernels ask a row source to ``take`` the rows whose key
is in that set. The whole source holds each relation as numpy columns
and answers on the driver; the gather source (above the gate) answers
each ``take`` with a Spark semi-join against the broadcast keys. Float
channels and the ranking rule (``_rank_topk_np``) are the same on both
sides. The public functions build a source per call;
``GraphMaintainer`` keeps one for its lifetime, applies each op's result
to it (``apply``/``append``/``drop``) and compacts by rebuilding from
the vectors it holds.

For production, MLlib's ``BucketedRandomProjectionLSH`` over L2-normalized
vectors (cosine ≡ monotone in euclidean on the unit sphere) is the same
shape with library-managed hashing — see ``ann_mllib.py``.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, IntegralType, StructType

from ..functions.vector import cosine_sim, dot
from ..utils import fan_out, local_frame
from .knn import topk_per_key

# Corpus rows × dim at or under which the graph ops work on whole
# collected relations; above it they gather bounded rows through Spark.
# Read at call time, so a caller (or a test) can move the gate.
DRIVER_MAX_CELLS = 4_000_000

_EDGES = "src_id long, nbr_id long, rank long, score double"
_EDGE_COLS = ("src_id", "nbr_id", "rank", "score")
_HITS = "probe_id long, vec_id long, rank long, score double"
_BANDS = "id long, band int, key long"


def make_planes(n_planes: int = 8, dim: int = 64, seed: int = 42) -> list[list[float]]:
    rng = np.random.RandomState(seed)
    return [[float(x) for x in rng.randn(dim)] for _ in range(n_planes)]


def _plane_lit(plane: list[float]) -> F.Column:
    return F.array(*[F.lit(x) for x in plane])


def lsh_signature(vec_col, planes: list[list[float]]) -> F.Column:
    """Bit i set iff dot(vec, plane_i) > 0 — integer bucket id."""
    sig = F.lit(0).cast("long")
    for i, plane in enumerate(planes):
        bit = F.when(dot(vec_col, _plane_lit(plane)) > 0, F.lit(1 << i)).otherwise(0)
        sig = sig + bit
    return sig


def hyperplane_lsh_knn(
    corpus: DataFrame,
    probes: DataFrame,
    k: int = 10,
    n_planes: int = 8,
    seed: int = 42,
    dim: int | None = None,
    corpus_id: str = "vec_id",
    corpus_vec: str = "embedding",
    probe_id: str = "probe_id",
    probe_vec: str = "probe_vec",
) -> DataFrame:
    """Approximate KNN: candidates share the probe's LSH bucket, then exact
    cosine re-rank. Recall trades off with n_planes (more planes → smaller
    buckets → faster, lower recall). ``dim`` is REQUIRED: sniffing it from
    the data would be a driver-side action at plan-build time, and silently
    mis-sized planes degenerate the signature."""
    if dim is None:
        raise ValueError(
            "hyperplane_lsh_knn requires dim= (the embedding dimensionality); "
            "refusing to sniff it from the data at plan-build time"
        )
    planes = make_planes(n_planes, dim, seed)
    c = corpus.withColumn("_sig", lsh_signature(F.col(corpus_vec), planes))
    p = probes.withColumn("_sig", lsh_signature(F.col(probe_vec), planes))
    joined = c.join(F.broadcast(p), "_sig")
    scored = joined.withColumn(
        "score", cosine_sim(corpus_vec, probe_vec)
    ).drop("_sig")
    return topk_per_key(scored, [probe_id], "score", k, tiebreak=[corpus_id])


def auto_band_bits(n: int, target_bucket: int = 8) -> int:
    """Derive the LSH band width from corpus size: expected bucket size is
    ~n/2^band_bits on ~isotropic data, so holding it at ``target_bucket``
    keeps candidate volume ~linear in n — ``ceil(log2(n/target))``,
    clamped to [4, 20]. This is the knob VERDICT r7 flagged as
    caller-chosen (30x probe was 8.3x wall at the fixture's fixed 6
    bits); deriving it at plan-build time makes the bucket-growth term
    constant by construction."""
    import math

    if n <= target_bucket:
        return 4
    return max(4, min(20, math.ceil(math.log2(n / target_bucket))))


def _rank_topk_np(part, score, tieb, k):
    """Positions surviving a per-``part`` top-``k`` under (score DESC,
    tieb ASC) with their 1-based ranks — row_number's total order, the
    shared ranking rule of every graph-maintenance stage. Stable lexsort:
    primary part ASC, then score DESC, then tieb ASC."""
    o = np.lexsort((tieb, -score, part))
    ps = part[o]
    first = np.flatnonzero(np.r_[True, ps[1:] != ps[:-1]])
    grp = np.repeat(first, np.diff(np.r_[first, len(ps)]))
    rn = np.arange(len(ps)) - grp + 1
    keep = rn <= k
    return o[keep], rn[keep]


def _ranges(lo, cnt):
    """Concatenated index ranges ``[lo_i, lo_i + cnt_i)`` — the CSR
    expansion behind every bucket and adjacency lookup."""
    total = int(cnt.sum())
    return np.repeat(lo, cnt) + (
        np.arange(total) - np.repeat(np.cumsum(cnt) - cnt, cnt)
    )


def _csr_join(left, right):
    """(left, right) positions of every equal pair of two int64 key
    arrays — a bounded equi-join on the driver."""
    o = np.argsort(right, kind="stable")
    rs = right[o]
    lo = np.searchsorted(rs, left, "left")
    cnt = np.searchsorted(rs, left, "right") - lo
    return np.repeat(np.arange(len(left)), cnt), o[_ranges(lo, cnt)]


def _pack(cols):
    """One int64 key per row from one or more key columns; every column
    after the first must fit 32 bits (band keys are < 2**band_bits)."""
    key = np.asarray(cols[0], np.int64)
    for c in cols[1:]:
        key = (key << 32) | np.asarray(c, np.int64)
    return key


def _floor6(x):
    """The graph family's stored score: cosine FLOOR-quantized at 1e-6."""
    return np.floor(x * 1000000.0) / 1000000.0


def _np_bands(sig, n_bands, band_bits):
    """(row, band, key) of every signature split into ``n_bands`` bands
    of ``band_bits`` bits."""
    n = len(sig)
    mask = (1 << band_bits) - 1
    key = (
        np.concatenate([(sig >> (b * band_bits)) & mask for b in range(n_bands)])
        if n
        else np.zeros(0, np.int64)
    )
    return (
        np.tile(np.arange(n), n_bands),
        np.repeat(np.arange(n_bands, dtype=np.int64), n),
        key,
    )


def _band_rows(ids, V, planes, band_bits):
    """(id, band, key) columns of the rows ``(ids, V)``: sign-bit
    signatures on the numpy channel split into bands — the one form of
    the banded-LSH table (the build kernel's, ``corpus_band_keys``' Arrow
    stage's and the whole source's)."""
    P = np.asarray(planes, dtype=np.float64).T
    sig = (
        ((V @ P) > 0) @ (1 << np.arange(len(planes), dtype=np.int64))
        if len(ids) else np.zeros(0, np.int64)
    )
    row, band, key = _np_bands(sig, len(planes) // band_bits, band_bits)
    return {"id": ids[row], "band": band, "key": key}


def _seq_dot(a, b):
    """Sequential left-to-right double dot — bit-identical to the JVM
    ``dot`` codegen fold and DuckDB's replay. Bounded pair counts only."""
    acc = 0.0
    for x, y in zip(a, b):
        acc += x * y
    return acc


def _seq_sigs(vecs, planes):
    """Signatures on the sequential fold (``_seq_dot`` per plane) —
    bit-identical to the JVM ``lsh_signature`` codegen fold and DuckDB's
    replay, for bounded batches only."""
    rows = ([float(x) for x in v] for v in vecs)
    return np.asarray([
        sum(1 << i for i, p in enumerate(planes) if _seq_dot(r, p) > 0)
        for r in rows
    ], dtype=np.int64)


def _np_cos(A, B):
    """Cosine of row pairs — the one cosine rule of the graph family's
    build, insert and delete. Pairs on the numpy channel, except pairs
    whose vectors are bitwise EQUAL, which take the sequential fold
    S/(√S·√S): replicated fixtures (and any corpus with re-uploaded rows)
    hold duplicate vectors under different ids, whose cosine sits
    exactly on the 1e-6 floor boundary, where the numpy pairwise-sum dot
    and the JVM/DuckDB sequential dot visibly diverge (1.0 vs 0.999999
    after the floor — caught by an equality pin, r14). Every other pair
    reaches output only through rank selection and FLOOR-1e-6 scores
    (boundary probability ~1e-10/pair)."""
    if len(A) == 0:
        return np.zeros(0)
    cos = (A * B).sum(axis=1) / (
        np.sqrt((A * A).sum(axis=1)) * np.sqrt((B * B).sum(axis=1))
    )
    for t in np.flatnonzero((A == B).all(axis=1)):
        r = [float(x) for x in A[t]]
        s = _seq_dot(r, r)
        rt = float(np.sqrt(s))
        cos[t] = s / (rt * rt)
    return cos


# --- the graph build: one kernel of stage functions ------------------------


def _bucket_pairs(key, ids):
    """(ia, ib), ia < ib, of every two rows with equal ``key`` — the
    candidate pairs of one (band, key) bucket, or of a whole band table
    at once (``ids`` unique per key)."""
    o = np.lexsort((ids, key))
    sk, s = key[o], ids[o]
    n = len(sk)
    start = np.flatnonzero(np.r_[True, sk[1:] != sk[:-1]])
    end = np.repeat(np.r_[start[1:], n], np.diff(np.r_[start, n]))
    pos = np.arange(n)
    cnt = end - pos - 1
    return s[np.repeat(pos, cnt)], s[_ranges(pos + 1, cnt)]


def _pivot_pairs(x_src, x_nbr, y_src, y_nbr):
    """(least, greatest) of every (x.src, y.nbr) with x.nbr == y.src and
    x.src != y.nbr — the NN-descent neighbors-of-neighbors candidates
    through each pivot node, over edge rows x (into the pivot) and y
    (out of it)."""
    xi, yi = _csr_join(x_nbr, y_src)
    a, b = x_src[xi], y_nbr[yi]
    nz = a != b
    return np.minimum(a[nz], b[nz]), np.maximum(a[nz], b[nz])


def _top_k(src, nbr, cos, k):
    """Per-src top-``k`` edge rows under (cos DESC, nbr ASC), scores
    FLOOR-quantized."""
    o, rn = _rank_topk_np(src, cos, nbr, k)
    return {
        "src_id": src[o], "nbr_id": nbr[o],
        "rank": rn.astype(np.int64), "score": _floor6(cos[o]),
    }


def _build_kernel(ids, V, k, planes, band_bits, rounds):
    """:func:`knn_graph_build` over whole arrays: the adjacency and band
    columns of the corpus rows ``(ids, V)``. Works in POSITIONS over the
    id-sorted rows: ids are unique, so position order is id order and
    every id comparison (ia < ib, the nbr ASC tie-break, x.src != y.nbr)
    is a position comparison; a scored pair packs as pos_a * n + pos_b,
    which cannot overflow under the gate."""
    o = np.argsort(ids, kind="stable")
    ids, V = ids[o], V[o]
    bd = _band_rows(np.arange(len(ids)), V, planes, band_bits)
    m = max(len(ids), 1)

    def score(keys):
        pa, pb = keys // m, keys % m
        return pa, pb, _np_cos(V[pa], V[pb])

    def top(pa, pb, cos):
        return _top_k(np.r_[pa, pb], np.r_[pb, pa], np.r_[cos, cos], k)

    pa, pb = _bucket_pairs(_pack([bd["band"], bd["key"]]), bd["id"])
    keys = np.unique(pa * m + pb)
    s_pa, s_pb, s_cos = score(keys)
    for _ in range(rounds):
        adj = top(s_pa, s_pb, s_cos)
        ea, eb = _pivot_pairs(
            adj["src_id"], adj["nbr_id"], adj["src_id"], adj["nbr_id"]
        )
        fresh = np.setdiff1d(ea * m + eb, keys)
        f_pa, f_pb, f_cos = score(fresh)
        s_pa, s_pb = np.r_[s_pa, f_pa], np.r_[s_pb, f_pb]
        s_cos = np.r_[s_cos, f_cos]
        keys = np.union1d(keys, fresh)
    g = top(s_pa, s_pb, s_cos)
    g["src_id"], g["nbr_id"] = ids[g["src_id"]], ids[g["nbr_id"]]
    return g, {**bd, "id": ids[bd["id"]]}


def _per_key(df: DataFrame, keys: list, fn, schema) -> DataFrame:
    """``fn`` over whole groups of ``df``: the exchange hash-partitions
    rows by ``keys``, so a partition holds its groups whole, and ``fn``
    (a stage function vectorized over group keys) runs once per
    partition — not once per group as under ``applyInPandas``, whose
    ~1 ms a group made the top-k stage 3-4× slower at sf0.1."""

    def run(batches):
        parts = [b for b in batches if len(b)]
        if parts:
            yield pd.DataFrame(fn(pd.concat(parts, ignore_index=True)))

    return df.repartition(*keys).mapInPandas(run, schema)


def _build_frames(vecs: DataFrame, k, n_planes, band_bits, rounds, seed,
                  dim) -> dict:
    """The build kernel above the gate, as the relations of a row source
    over ``vecs`` (id, v): Spark supplies the groupings and exchanges,
    and each group runs the kernel's own stage function — bucket pairs
    per (band, key), cosines per batch of pairs joined to their vectors,
    top-k per src, NN-descent pairs per pivot node."""
    bands = corpus_band_keys(
        vecs, n_planes=n_planes, band_bits=band_bits, seed=seed, dim=dim,
        id_col="id", vec_col="v",
    )
    pair = "ia long, ib long"

    def col(pdf, *names):
        return [pdf[c].to_numpy() for c in names]

    def bucket(pdf):
        band, key, ids = col(pdf, "band", "key", "id")
        ia, ib = _bucket_pairs(_pack([band, key]), ids)
        return {"ia": ia, "ib": ib}

    def top(pdf):
        return _top_k(*col(pdf, "src", "nbr", "cos"), k)

    def pivot(pdf):
        p, s, nb = col(pdf, "p", "src_id", "nbr_id")
        x, y = nb == p, s == p  # edges into and out of the pivot
        ia, ib = _pivot_pairs(s[x], nb[x], s[y], nb[y])
        return {"ia": ia, "ib": ib}

    def cos(batches):
        for pdf in batches:
            yield pdf[["ia", "ib"]].assign(
                cos=_np_cos(_matrix(pdf["va"]), _matrix(pdf["vb"]))
            )

    def score(pairs: DataFrame) -> DataFrame:
        va = vecs.select(F.col("id").alias("ia"), F.col("v").alias("va"))
        vb = vecs.select(F.col("id").alias("ib"), F.col("v").alias("vb"))
        return pairs.join(va, "ia").join(vb, "ib").mapInPandas(
            cos, "ia long, ib long, cos double"
        )

    def adjacency(scored: DataFrame) -> DataFrame:
        sym = scored.select(
            F.col("ia").alias("src"), F.col("ib").alias("nbr"), "cos"
        ).unionByName(scored.select(
            F.col("ib").alias("src"), F.col("ia").alias("nbr"), "cos"
        ))
        return _per_key(sym, ["src"], top, _EDGES)

    # each round's scored set and adjacency are checkpointed (the
    # iterative-loop lineage rule); every pair is scored once — a
    # round's candidates anti-join the scored set
    scored = score(
        _per_key(bands, ["band", "key"], bucket, pair).distinct()
    ).localCheckpoint(eager=False)
    for _ in range(rounds):
        adj = adjacency(scored).select("src_id", "nbr_id").localCheckpoint(
            eager=False
        )
        ends = adj.select(F.col("nbr_id").alias("p"), "src_id", "nbr_id")
        ends = ends.unionByName(
            adj.select(F.col("src_id").alias("p"), "src_id", "nbr_id")
        )
        fresh = _per_key(ends, ["p"], pivot, pair).distinct().join(
            scored.select("ia", "ib"), ["ia", "ib"], "left_anti"
        )
        scored = scored.unionByName(score(fresh)).localCheckpoint(
            eager=False
        )
    return {"vecs": vecs, "graph": adjacency(scored), "bands": bands}


def knn_graph_build(
    corpus: DataFrame,
    k: int = 6,
    n_planes: int | None = None,
    band_bits: int | None = None,
    rounds: int = 1,
    seed: int = 42,
    dim: int | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_bands: int = 4,
    target_bucket: int = 8,
    return_bands: bool = False,
) -> DataFrame:
    """Batch k-NN-GRAPH construction — the batch half of HNSW/NN-descent
    class indexes (the one index family IVF/PQ/LSH/hamming don't cover):
    per-node top-k adjacency over the corpus, built without any all-pairs
    join. Stages, all deterministic and oracle-reproducible:

    1. CANDIDATES (banded LSH): one ``n_planes``-bit seeded hyperplane
       signature per vector, split into ``n_planes/band_bits`` bands;
       every two rows of a (band, key) bucket pair up (deduped across
       bands). Buckets hold ~n/2^band_bits rows on normalized data, so
       candidate volume stays ~linear in n.
    2. ADJACENCY 0: exact cosine of every candidate pair, symmetrize,
       per-node top-k (score DESC, id ASC).
    3. NN-DESCENT ROUNDS (``rounds``×): neighbors-of-neighbors through
       each pivot node (x→p, p→y ⇒ x,y) join in as candidates — the
       classic refinement that recovers edges banding missed. Pairs
       already scored are dropped, so every pair is scored once.
    4. Output: final per-node top-k → (src_id, nbr_id, rank, score),
       scores FLOOR-quantized at 1e-6.

    Convergence is a DATA property: on clustered embeddings two rounds
    take banded recall 0.67 → 0.99 (measured, tests/test_ann.py); on the
    uniform md5-fake fixture neighbors-of-neighbors carry little signal,
    so recall tracks candidate volume — the honest worst case.

    One kernel (``_build_kernel``) runs the stages as numpy stage
    functions: ``_band_rows``, ``_bucket_pairs``, ``_np_cos`` (the
    cosine rule of insert and delete too), ``_top_k`` and
    ``_pivot_pairs``. At or under ``DRIVER_MAX_CELLS`` it runs on the
    driver over the collected corpus; above it Spark supplies only the
    groupings and exchanges (``_build_frames``) and every group runs the
    same stage function, so both give identical edges and band tables.
    The exchanges are keyed by bucket, src and pivot node; a pivot
    yields in-degree × k pairs, so a hub pivot is the one skew-exposed
    group (tools/skew_sweep.py on the zipf fixture). band_bits defaults to AUTO
    (``auto_band_bits`` of the corpus count) so buckets hold
    ~target_bucket rows at any scale; pass it explicitly to pin a
    replayable config. Reference counterpart: BASELINE.json's "batch
    vector indexing" north star.
    """
    src = _build_source(
        corpus, k, n_planes, band_bits, rounds, seed, dim, id_col, vec_col,
        n_bands, target_bucket,
    )
    out = src.frame("graph")
    return (out, src.frame("bands")) if return_bands else out


def _banding(n, n_planes, band_bits, n_bands, target_bucket):
    """(n_planes, band_bits) of a build over ``n`` rows. AUTO band_bits
    (None) sizes bands from the corpus count, so buckets hold
    ~target_bucket rows at any scale (the oracle rows pin it). With an
    EXPLICIT n_planes it snaps to the nearest divisor >= 4 of it, ties to
    the larger width (smaller buckets); 1-3 bit bands are a quadratic
    candidate-volume cliff, not a recall trade, so a config with no such
    divisor is refused."""
    if band_bits is None:
        auto = auto_band_bits(n, target_bucket)
        if n_planes is None:
            band_bits = auto
        else:
            divisors = [
                d for d in range(4, n_planes + 1) if n_planes % d == 0
            ]
            if not divisors:
                raise ValueError(
                    f"n_planes={n_planes} has no divisor >= 4 to use as "
                    "band_bits (bands narrower than 4 bits make bucket "
                    "sizes ~n/8 or worse — a quadratic candidate-volume "
                    "cliff); pass a composite n_planes (e.g. a multiple "
                    "of 4) or an explicit band_bits"
                )
            band_bits = min(divisors, key=lambda d: (abs(d - auto), -d))
    if n_planes is None:
        n_planes = band_bits * n_bands
    if n_planes % band_bits != 0:
        raise ValueError("n_planes must divide into band_bits-sized bands")
    return n_planes, band_bits


def _build_source(
    corpus: DataFrame,
    k: int,
    n_planes: int | None,
    band_bits: int | None,
    rounds: int,
    seed: int,
    dim: int | None,
    id_col: str,
    vec_col: str,
    n_bands: int = 4,
    target_bucket: int = 8,
    resident: bool = False,
    n: int | None = None,
):
    """:func:`knn_graph_build` as a row source over the built index. At
    or under the gate: one count and one collect of (id, v), then the
    kernel on the driver — the whole source. Above it: the gather source
    over the distributed kernel's relations (pinned when ``resident``,
    i.e. kept for the caller's lifetime). ``n`` is the corpus row count
    when the caller already took it; a gate of 0 with an explicit
    band_bits needs none."""
    if dim is None:
        raise ValueError("knn_graph_build requires dim= (embedding dimensionality)")
    vecs = _id_vec(corpus, id_col, vec_col)
    if n is None and (band_bits is None or DRIVER_MAX_CELLS):
        n = vecs.count()
    n_planes, band_bits = _banding(
        n, n_planes, band_bits, n_bands, target_bucket
    )
    if _fits(n, dim):
        return _WholeSource.built(
            vecs.sparkSession, _np_columns(vecs), vecs.schema, k, n_planes,
            band_bits, rounds, seed, dim,
        )
    return _GatherSource(
        vecs.sparkSession,
        _build_frames(vecs, k, n_planes, band_bits, rounds, seed, dim),
        n, resident,
    )


def corpus_band_keys(
    corpus: DataFrame,
    n_planes: int = 24,
    band_bits: int = 6,
    seed: int = 42,
    dim: int | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(id, band, key) banded-LSH table for a corpus — ONE Arrow/numpy
    pass of the build kernel's own band stage (``_band_rows``; the
    interpreted JVM 24-dot signature costs ~ms/row and dominated the
    per-call cost of the LSH-entry serve and the incremental insert when
    recomputed per batch). The distributed build uses it as its band
    table. Compute once per corpus, checkpoint/persist, and pass as
    ``corpus_bands`` to ``knn_graph_serve``/``knn_graph_insert`` — the
    100 TB deployment persists this next to the graph index. Sign bits
    ride the documented ulp-tolerant channel (identical plane literals;
    a flip needs |dot| ≲ 1e-14)."""
    if dim is None:
        raise ValueError("corpus_band_keys requires dim=")
    planes = make_planes(n_planes, dim, seed)

    def band_stage(batches):
        for pdf in batches:
            yield pd.DataFrame(_band_rows(
                pdf["id"].to_numpy(np.int64), _matrix(pdf["v"]), planes,
                band_bits,
            ))

    return fan_out(_id_vec(corpus, id_col, vec_col)).mapInPandas(
        band_stage, _BANDS
    )


# --- row sources: the graph kernels' one way to reach corpus rows ---------

def _pin(df: DataFrame) -> DataFrame:
    """Coalesce to 32 partitions + eager localCheckpoint: the lineage cut
    of a relation a resident gather source keeps across ops."""
    return df.coalesce(32).localCheckpoint(eager=True)


def _fits(n: int | None, dim: int) -> bool:
    """Whether an ``n`` × ``dim`` corpus is at or under the gate (``n``
    is None only under a gate of 0)."""
    return bool(DRIVER_MAX_CELLS) and n * dim <= DRIVER_MAX_CELLS


def _matrix(a) -> np.ndarray:
    """One float64 matrix from a column of vectors (0×0 when empty)."""
    return np.stack(a).astype(np.float64) if len(a) else np.zeros((0, 0))


def _np_columns(df: DataFrame, pdf=None) -> dict:
    """numpy columns of ``df`` (collected unless ``pdf`` is given):
    integral columns int64, array columns one float64 matrix, the rest
    float64."""
    if pdf is None:
        pdf = df.toPandas()
    out = {}
    for f in df.schema.fields:
        a = pdf[f.name].to_numpy()
        if isinstance(f.dataType, ArrayType):
            out[f.name] = _matrix(a)
        else:
            out[f.name] = a.astype(
                np.int64 if isinstance(f.dataType, IntegralType) else np.float64
            )
    return out


def _frame(spark, schema, cols: dict) -> DataFrame:
    """A local relation from numpy columns (no Spark job, also when
    empty); a matrix column becomes one list of Python floats per row,
    which every array element type accepts with or without Arrow."""
    return local_frame(spark, pd.DataFrame(
        {c: a.tolist() if a.ndim == 2 else a for c, a in cols.items()}
    ), schema)


def _cat(a, b):
    """``a`` then ``b``; an empty ``a`` (a 0×0 matrix for no vectors)
    takes ``b``'s shape."""
    return np.concatenate([a, b]) if len(a) else b


class _WholeSource:
    """Row source at or under the gate: the vectors ``(id, v)``, the
    adjacency ``(src_id, nbr_id[, rank, score])`` and the band table
    ``(id, band, key)`` as numpy columns; every ``take`` is a lookup in a
    sorted index of one of them, built on first use and dropped when that
    relation changes. A :class:`~.graph_lifecycle.GraphMaintainer` keeps
    one for its lifetime and applies each op's result to it in numpy;
    the one-shot graph functions collect one per call."""

    def __init__(self, spark, rels: dict, schemas: dict) -> None:
        self.spark = spark
        self.rels = rels  # name -> numpy columns; "bands" may be None
        self.schemas = schemas  # name -> the schema ``frame`` gives it
        self._index: dict = {}

    @classmethod
    def built(cls, spark, vecs: dict, schema, k, n_planes, band_bits,
              rounds, seed, dim) -> "_WholeSource":
        """The index the build kernel makes over the vector columns
        ``vecs`` (``id``, ``v``) of relation ``schema``."""
        graph, bands = _build_kernel(
            vecs["id"], vecs["v"], k, make_planes(n_planes, dim, seed),
            band_bits, rounds,
        )
        return cls(
            spark, {"vecs": vecs, "graph": graph, "bands": bands},
            {"vecs": schema, "graph": _EDGES, "bands": _BANDS},
        )

    def rebuild(self, k, n_planes, band_bits, rounds, seed, dim):
        """A fresh build over the held vectors, on the driver."""
        return _WholeSource.built(
            self.spark, self.rels["vecs"], self.schemas["vecs"], k,
            n_planes, band_bits, rounds, seed, dim,
        )

    @property
    def n(self) -> int:
        return len(self.rels["vecs"]["id"])

    def take(self, rel: str, key_cols: tuple, keys: tuple) -> dict:
        cols = self.rels[rel]
        ix = (rel, key_cols)
        if ix not in self._index:
            rk = _pack([cols[c] for c in key_cols])
            o = np.argsort(rk, kind="stable")
            self._index[ix] = (rk[o], o)
        sk, o = self._index[ix]
        q = np.unique(_pack(keys))
        lo = np.searchsorted(sk, q, "left")
        rows = o[_ranges(lo, np.searchsorted(sk, q, "right") - lo)]
        return {c: a[rows] for c, a in cols.items()}

    def lowest(self, rel: str, col: str, n: int) -> np.ndarray:
        return np.unique(self.rels[rel][col])[:n]

    def ensure_bands(self, n_planes, band_bits, seed, dim) -> None:
        """The corpus band table on the numpy signature channel, unless
        one was given."""
        if self.rels.get("bands") is not None:
            return
        c = self.rels["vecs"]
        self._set("bands", _band_rows(
            c["id"], c["v"], make_planes(n_planes, dim, seed), band_bits
        ))
        self.schemas["bands"] = _BANDS

    def frame(self, rel: str) -> DataFrame:
        return _frame(self.spark, self.schemas[rel], self.rels[rel])

    def _set(self, rel: str, cols: dict) -> None:
        self.rels[rel] = cols
        self._index = {ix: v for ix, v in self._index.items() if ix[0] != rel}

    def apply(self, touched, replaced: dict) -> None:
        """The adjacency without the rows of the ``touched`` srcs, plus
        their ``replaced`` rows."""
        g = self.rels["graph"]
        keep = ~np.isin(g["src_id"], touched)
        self._set("graph", {
            c: np.concatenate([g[c][keep], a]) for c, a in replaced.items()
        })

    def append(self, vecs: dict, bands: dict):
        """New corpus rows and their band rows. Returns the source that
        holds the result: this one, or a resident gather source once the
        corpus outgrows the gate."""
        for rel, rows in (("vecs", vecs), ("bands", bands)):
            cur = self.rels[rel]
            self._set(rel, {c: _cat(cur[c], rows[c]) for c in cur})
        if _fits(self.n, self.rels["vecs"]["v"].shape[1]):
            return self
        return _GatherSource(
            self.spark, {r: self.frame(r) for r in self.rels}, self.n, True
        )

    def drop(self, ids) -> None:
        """Corpus rows (and their band rows) of ``ids`` removed."""
        for rel in ("vecs", "bands"):
            cur = self.rels[rel]
            keep = ~np.isin(cur["id"], ids)
            self._set(rel, {c: a[keep] for c, a in cur.items()})


class _GatherSource:
    """Row source above the gate: the same relations as DataFrames; each
    ``take`` is one Spark semi-join against the broadcast keys,
    collected. A ``resident`` source (kept across ops) pins every
    relation it is given or derives."""

    def __init__(
        self, spark, rels: dict, n: int | None = None, resident: bool = False
    ) -> None:
        self.spark = spark
        self._cut = _pin if resident else (lambda df: df)
        self.rels = {
            r: None if df is None else self._cut(df) for r, df in rels.items()
        }
        self._n = n

    @property
    def n(self) -> int:
        if self._n is None:
            self._n = self.rels["vecs"].count()
        return self._n

    def take(self, rel: str, key_cols: tuple, keys: tuple) -> dict:
        df = self.rels[rel]
        kp = pd.DataFrame(
            {c: np.asarray(a, np.int64) for c, a in zip(key_cols, keys)}
        ).drop_duplicates()
        if not len(kp):
            return _np_columns(df, pd.DataFrame({c: [] for c in df.columns}))
        kdf = self.spark.createDataFrame(
            kp, ", ".join(f"{c} long" for c in key_cols)
        ).select(*[F.col(c).cast(df.schema[c].dataType) for c in key_cols])
        return _np_columns(
            df.join(F.broadcast(kdf), list(key_cols), "left_semi")
        )

    def lowest(self, rel: str, col: str, n: int) -> np.ndarray:
        return _np_columns(
            self.rels[rel].select(col).distinct().orderBy(col).limit(n)
        )[col]

    def ensure_bands(self, n_planes, band_bits, seed, dim) -> None:
        """The corpus band table as one Arrow signature pass, unless one
        was given."""
        if self.rels.get("bands") is None:
            self.rels["bands"] = self._cut(corpus_band_keys(
                self.rels["vecs"], n_planes=n_planes, band_bits=band_bits,
                seed=seed, dim=dim, id_col="id", vec_col="v",
            ))

    def frame(self, rel: str) -> DataFrame:
        return self.rels[rel]

    def rebuild(self, k, n_planes, band_bits, rounds, seed, dim):
        """A fresh build over the held vectors: the whole source again
        once they fit the gate."""
        return _build_source(
            self.rels["vecs"], k, n_planes, band_bits, rounds, seed, dim,
            "id", "v", resident=True, n=self._n,
        )

    def _ids(self, ids) -> DataFrame:
        return F.broadcast(_frame(self.spark, "_id long", {"_id": ids}))

    def apply(self, touched, replaced: dict) -> None:
        """The adjacency anti-joined against the broadcast touched srcs,
        plus their ``replaced`` rows."""
        g = self.rels["graph"]
        kept = g.join(self._ids(touched), g["src_id"] == F.col("_id"),
                      "left_anti")
        self.rels["graph"] = self._cut(
            kept.unionByName(_frame(self.spark, _EDGES, replaced))
        )

    def append(self, vecs: dict, bands: dict):
        for rel, rows in (("vecs", vecs), ("bands", bands)):
            df = self.rels[rel]
            self.rels[rel] = self._cut(
                df.unionByName(_frame(self.spark, df.schema, rows))
            )
        self._n = None if self._n is None else self._n + len(vecs["id"])
        return self

    def drop(self, ids) -> None:
        for rel in ("vecs", "bands"):
            df = self.rels[rel]
            self.rels[rel] = self._cut(
                df.join(self._ids(ids), df["id"] == F.col("_id"), "left_anti")
            )
        self._n = None


def _row_source(vecs: DataFrame, graph: DataFrame, bands, dim: int | None,
                resident: bool = False):
    """A row source over ``vecs`` (id, v), ``graph`` and ``bands`` (None:
    computed on first need): the whole source when the corpus fits
    ``DRIVER_MAX_CELLS`` (one count job; the width is sniffed when ``dim``
    is None), else the gather source. A gate of 0 picks the gather
    source without a job."""
    spark = vecs.sparkSession
    rels = {"vecs": vecs, "graph": graph, "bands": bands}
    if not DRIVER_MAX_CELLS:
        return _GatherSource(spark, rels, None, resident)
    if dim is None:
        head = vecs.limit(1).collect()
        dim = len(head[0]["v"]) if head else 1
    n = vecs.count()
    if not _fits(n, dim):
        return _GatherSource(spark, rels, n, resident)
    return _WholeSource(  # each relation collected once
        spark,
        {r: None if df is None else _np_columns(df) for r, df in rels.items()},
        {r: None if df is None else df.schema for r, df in rels.items()},
    )


def _id_vec(df: DataFrame, id_col: str, vec_col: str) -> DataFrame:
    return df.select(F.col(id_col).alias("id"), F.col(vec_col).alias("v"))


class _Vectors:
    """The corpus vectors a kernel has needed so far, fetched through its
    row source. Append-only, so a position stays valid for the whole op;
    ``positions`` maps ids missing from the corpus to -1."""

    def __init__(self, src) -> None:
        self.src = src
        self.ids = np.zeros(0, np.int64)
        self.V = np.zeros((0, 0))
        self._asked = np.zeros(0, np.int64)
        self._order = np.zeros(0, np.int64)

    def positions(self, ids) -> np.ndarray:
        ids = np.asarray(ids, np.int64)
        need = np.setdiff1d(ids, self._asked)
        if len(need):
            got = self.src.take("vecs", ("id",), (need,))
            if len(got["id"]):
                self.V = _cat(self.V, got["v"])
                self.ids = np.concatenate([self.ids, got["id"]])
                self._order = np.argsort(self.ids, kind="stable")
            self._asked = np.union1d(self._asked, need)
        if not len(self.ids):
            return np.full(len(ids), -1, np.int64)
        s = self.ids[self._order]
        p = np.minimum(np.searchsorted(s, ids), len(s) - 1)
        return np.where(s[p] == ids, self._order[p], -1)


def _require_integral(df: DataFrame, col: str, op: str) -> None:
    """The graph kernels key every relation by int64 ids."""
    t = df.schema[col].dataType
    if not isinstance(t, IntegralType):
        raise ValueError(
            f"{op}: id column {col!r} must be integral, got "
            f"{t.simpleString()}"
        )


def _probe_columns(probes: DataFrame, probe_id: str, probe_vec: str) -> dict:
    """The collected probe batch as numpy columns ``pid``/``pv``."""
    _require_integral(probes, probe_id, "knn_graph_serve")
    return _np_columns(probes.select(
        F.col(probe_id).alias("pid"), F.col(probe_vec).alias("pv")
    ))


def _write(src, touched, replaced: dict) -> DataFrame:
    """Insert's and delete's one-shot result: ``replaced`` applied to the
    source's graph, as a relation."""
    src.apply(touched, replaced)
    return src.frame("graph")


def knn_graph_serve(
    graph: DataFrame,
    corpus: DataFrame,
    probes: DataFrame,
    k: int = 10,
    beam: int = 8,
    rounds: int = 3,
    entries: list[int] | str | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    probe_id: str = "probe_id",
    probe_vec: str = "probe_vec",
    n_planes: int | None = None,
    band_bits: int | None = None,
    seed: int = 42,
    dim: int | None = None,
    corpus_bands: DataFrame | None = None,
) -> DataFrame:
    """Graph-traversal ANN SERVE — the query half of :func:`knn_graph_build`
    (VERDICT r7 "What's missing" #2; together they are the HNSW-class
    build/serve pair): batched beam search over the k-NN graph's adjacency
    as iterative frontier expansion. Every probe of the batch advances
    together, round by round:

    1. beam = per-probe top-``beam`` of all nodes scored so far
       (cos DESC, id ASC — the engine-portable tie-break);
    2. frontier expansion: the beam's adjacency rows (src → nbr) propose
       neighbors; only FRESH (probe, node) pairs are kept, so every pair
       pays the exact cosine fold at most once (the build's score-once
       rule);
    3. fresh pairs are scored exactly against the corpus vectors and
       join the scored set.

    Entry points: ``entries`` as explicit node ids; ``None`` = the
    ``beam`` lowest node ids in the graph (deterministic and
    oracle-replayable — the IVF rows' first-16-centroids convention);
    or ``entries="lsh"`` = per-probe banded-LSH candidates (the build's
    own banding applied probe→corpus with the SAME seeded planes —
    requires ``dim``, and ``n_planes``/``band_bits`` should match the
    build). LSH entries are the flat-graph fix for clustered corpora:
    a k-NN graph over tight clusters is near-DISCONNECTED across
    clusters (every node's top-k is same-cluster), so fixed global
    entries cannot reach the probe's cluster and recall collapses
    (measured 0.70 on 25 clusters); hashing the probe into the same
    buckets seeds the walk inside the right cluster (recall ≥ 0.9
    pinned in tests/test_ann.py). Output: per-probe top-``k``
    (probe_id, vec_id, rank, score) with FLOOR-quantized score (absorbs
    ulp-level fold divergence, the knn_graph_build contract).

    Float channel: cosines are SEQUENTIAL Python folds, bit-identical to
    the JVM fold and the DuckDB replay — a probe that is itself a corpus
    member scores its own vector at cos == 1.0, exactly on the 1e-6 floor
    boundary, where a numpy pairwise sum visibly diverges (r14). Probe
    signatures use the sequential fold too. Pair counts are probe-bounded
    (seeds + beam×k per round), so the fold costs ~ms.

    100 TB shape: the probes are collected (a bounded batch), and the
    kernel ``take``s three kinds of rows from its row source — the band
    rows of the probes' (band, key) buckets (LSH entries), the adjacency
    rows of each round's beam, and the vectors of fresh candidates. Each
    key set is bounded by probes × beam × k, so no step scans more than
    its semi-join against the corpus-sized relation. Recall is a data
    property, as in any graph-ANN: on clustered corpora beam search
    converges to the exact top-k in 2-3 rounds (floored in
    tests/test_ann.py); on structureless corpora it degrades toward the
    entry neighborhood — the honest HNSW worst case.
    """
    _require_integral(corpus, id_col, "knn_graph_serve")
    if entries == "lsh" and dim is None:
        raise ValueError(
            "knn_graph_serve(entries='lsh') requires dim= "
            "(embedding dimensionality, matching the build)"
        )
    if entries == "lsh" and corpus_bands is not None and (
        band_bits is None or n_planes is None
    ):
        # A precomputed band table was hashed under SOME (n_planes,
        # band_bits); re-deriving them here (auto from a corpus count)
        # silently disagrees with the table at any other corpus size
        # and the entry join goes empty/meaningless (ADVICE r8 high).
        raise ValueError(
            "knn_graph_serve: corpus_bands requires explicit n_planes "
            "and band_bits matching the banding the table was built "
            "with (see corpus_band_keys / GraphMaintainer)"
        )
    pr = _probe_columns(probes, probe_id, probe_vec)
    if not len(pr["pid"]):
        return _frame(corpus.sparkSession, _HITS, {})
    src = _row_source(
        _id_vec(corpus, id_col, vec_col), graph.select("src_id", "nbr_id"),
        corpus_bands, dim,
    )
    return _frame(src.spark, _HITS, _serve_kernel(
        src, pr, k, beam, rounds, entries, n_planes, band_bits, seed, dim
    ))


def _serve_kernel(src, pr: dict, k, beam, rounds, entries, n_planes,
                  band_bits, seed, dim) -> dict:
    """:func:`knn_graph_serve`'s beam search over a row source for a
    non-empty probe batch ``pr`` (``pid``, ``pv``): the hit columns."""
    npr = len(pr["pid"])

    # --- seed (probe, node) pairs -----------------------------------
    if entries == "lsh":
        if band_bits is None:
            band_bits = auto_band_bits(src.n)
        if n_planes is None:
            n_planes = band_bits * 4
        src.ensure_bands(n_planes, band_bits, seed, dim)
        j, band, key = _np_bands(
            _seq_sigs(pr["pv"], make_planes(n_planes, dim, seed)),
            n_planes // band_bits, band_bits,
        )
        hit = src.take("bands", ("band", "key"), (band, key))
        li, ri = _csr_join(_pack([band, key]), _pack([hit["band"], hit["key"]]))
        seed_j, seed_id = j[li], hit["id"][ri]
    else:
        e = (
            src.lowest("graph", "src_id", beam) if entries is None
            else np.asarray([int(x) for x in entries], np.int64)
        )
        seed_j = np.repeat(np.arange(npr), len(e))
        seed_id = np.tile(e, npr)

    # (probe, node) pairs live as keys pos * npr + j over the append-only
    # vector positions; the sequential rows and norms are cached per node
    vec = _Vectors(src)
    prow = [[float(x) for x in v] for v in pr["pv"]]
    pnorm = [float(np.sqrt(_seq_dot(r, r))) for r in prow]
    vrow: dict = {}

    def fresh_keys(j, ids, seen):
        pos = vec.positions(ids)
        ok = pos >= 0
        keys = np.unique(pos[ok] * npr + j[ok])
        return keys[~np.isin(keys, seen, assume_unique=True)]

    def score(keys):
        pos, j = keys // npr, keys % npr
        c = np.empty(len(keys))
        for t in range(len(keys)):
            p, q = int(pos[t]), int(j[t])
            if p not in vrow:
                r = [float(x) for x in vec.V[p]]
                vrow[p] = (r, float(np.sqrt(_seq_dot(r, r))))
            r, nrm = vrow[p]
            c[t] = _seq_dot(r, prow[q]) / (nrm * pnorm[q])
        return j, pos, c

    s_keys = fresh_keys(seed_j, seed_id, np.zeros(0, np.int64))
    s_j, s_pos, s_cos = score(s_keys)
    for _ in range(rounds):
        o, _rn = _rank_topk_np(s_j, s_cos, vec.ids[s_pos], beam)
        b_j, b_id = s_j[o], vec.ids[s_pos[o]]
        nb = src.take("graph", ("src_id",), (b_id,))
        li, ri = _csr_join(b_id, nb["src_id"])
        fresh = fresh_keys(b_j[li], nb["nbr_id"][ri], s_keys)
        if len(fresh) == 0:
            continue
        f_j, f_pos, f_cos = score(fresh)
        s_j = np.concatenate([s_j, f_j])
        s_pos = np.concatenate([s_pos, f_pos])
        s_cos = np.concatenate([s_cos, f_cos])
        s_keys = np.union1d(s_keys, fresh)

    o, rn = _rank_topk_np(s_j, s_cos, vec.ids[s_pos], k)
    return {
        "probe_id": pr["pid"][s_j[o]],
        "vec_id": vec.ids[s_pos[o]],
        "rank": rn.astype(np.int64),
        "score": _floor6(s_cos[o]),
    }


def ivf_assign(
    corpus: DataFrame,
    centroids: DataFrame,
    corpus_id: str = "vec_id",
    corpus_vec: str = "embedding",
    centroid_id: str = "centroid_id",
    centroid_vec: str = "centroid_vec",
    payload_cols: list[str] | None = None,
    arrow: bool = False,
) -> DataFrame:
    """Assign every corpus row to its nearest centroid (index build).

    One broadcast pass + a per-row argmax (window over C candidates).
    Deterministic tie-break on centroid id. ``payload_cols`` carries
    metadata columns (labels, timestamps) through the assignment so a
    filtered-search consumer doesn't need a corpus-sized self-join to
    re-attach them afterwards.

    ``arrow=True`` computes the argmax in ONE Arrow/numpy pass instead
    of the interpreted per-(row, centroid) JVM cosine fold — the fold
    costs ~ms/pair and was 78.8 s at 200k vectors × 16 centroids in the
    100x probe (r9) vs sub-second vectorized. Assignment is an
    argmax-SELECTION channel (CLAUDE.md float contract): numpy's
    pairwise partial sums differ from the sequential JVM fold in the
    last ulp, which can flip the winner only on a ~1e-15 centroid tie;
    np.argmax takes the first maximum and centroid rows are ordered by
    id, so the tie-break matches the JVM path's ASC rule. Arrow-vs-JVM
    equality is pinned at fixture scale in tests/test_ann.py. The
    value-EXACT IVF oracle rows keep the JVM default; gate-floored
    consumers (the trained-KMeans row) use the Arrow path.
    """
    if arrow:
        crows = sorted(
            centroids.select(centroid_id, centroid_vec).collect(),
            key=lambda r: r[0],
        )
        cids = np.array([r[0] for r in crows])
        C = np.stack(
            [np.asarray(r[1], dtype=np.float64) for r in crows]
        )
        Cu = C / np.linalg.norm(C, axis=1, keepdims=True)
        cid_field = centroids.schema[centroid_id]
        cols = [corpus_id, corpus_vec, *(payload_cols or [])]
        src = fan_out(corpus.select(*cols))
        # fresh StructType: StructType.add MUTATES the DataFrame's cached
        # schema object and corrupts src.columns
        out_schema = StructType(list(src.schema.fields) + [cid_field])

        def assign_stage(batches):
            for pdf in batches:
                out = pdf.copy()
                if len(pdf) == 0:
                    out[centroid_id] = []
                else:
                    V = np.stack(pdf[corpus_vec].to_numpy()).astype(
                        np.float64
                    )
                    # cosine argmax == dot-with-unit-centroids argmax:
                    # the row norm is a positive per-row scale
                    out[centroid_id] = cids[np.argmax(V @ Cu.T, axis=1)]
                yield out

        return src.mapInPandas(assign_stage, out_schema)
    scored = corpus.crossJoin(F.broadcast(centroids)).withColumn(
        "_cscore", cosine_sim(corpus_vec, centroid_vec)
    )
    best = topk_per_key(scored, [corpus_id], "_cscore", 1, tiebreak=[centroid_id])
    return best.select(corpus_id, corpus_vec, centroid_id, *(payload_cols or []))


def knn_graph_insert(
    graph: DataFrame,
    corpus: DataFrame,
    new_rows: DataFrame,
    k: int = 6,
    n_planes: int = 24,
    band_bits: int = 6,
    seed: int = 42,
    dim: int | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    corpus_bands: DataFrame | None = None,
) -> DataFrame:
    """INCREMENTAL k-NN-graph maintenance — the HNSW-insert analog of
    ``minhash_probe_pairs``'s incremental indexing (new batches must not
    force a corpus-wide rebuild): link each NEW vector into the existing
    graph and patch affected existing adjacencies, touching only
    banded-candidate buckets.

    Semantics (deterministic, fully oracle-replayable):

    1. CANDIDATES: new rows hash with the SAME seeded planes/banding the
       build used (sequential-fold signatures, bit-identical to the JVM
       ``lsh_signature``); (new, existing) pairs share a (band, key).
    2. NEW-NODE EDGES: exact cosine re-rank of each new node's
       candidates; top-``k`` by (floored score DESC, id ASC). Scores are
       FLOOR-quantized at 1e-6 BEFORE ranking so old and new edges order
       in one consistent space (the graph stores floored scores).
    3. PATCHES: every existing node that appears in a candidate pair
       re-ranks its current adjacency ∪ its new-node candidates in that
       same floored space; nodes with no candidates keep their rows
       untouched.

    Cosines ride the numpy channel with bitwise-equal pairs on the
    sequential fold (``_np_cos``); only floored scores and rank
    selection reach the output. Quality matches the build's banding
    recall (candidates come from the same buckets a fresh build would
    pair); rebuilt-vs-inserted graph recall is pinned on clustered data
    in tests/test_ann.py. New-new pairs within one batch are
    intentionally EXCLUDED (batches append one at a time, the standard
    online-insert contract); run periodic rebuilds to refresh
    cross-batch edges, exactly as HNSW deployments compact.

    100 TB shape: the batch is collected, and the kernel ``take``s the
    band rows of the batch's (band, key) buckets, the vectors of those
    candidates and the graph rows of the touched srcs — all bounded by
    |batch| × bucket size. Pass the persisted build-time ``corpus_bands``
    (``knn_graph_build(return_bands=True)``); without it the band table
    is recomputed from the corpus, the only corpus-proportional cost.

    Returns the UPDATED full edge list (src_id, nbr_id, rank, score):
    the graph without the touched srcs' rows (patched existing nodes +
    the new nodes), plus their new rows. A caller that keeps the index
    (``GraphMaintainer``) runs the kernel (``_insert_kernel``) itself,
    which returns the touched set and its replacement rows — the bounded
    write set of a delta publish (``operators.graph_delta``)."""
    if dim is None:
        raise ValueError("knn_graph_insert requires dim=")
    _require_integral(corpus, id_col, "knn_graph_insert")
    _require_integral(new_rows, id_col, "knn_graph_insert")
    src = _row_source(
        _id_vec(corpus, id_col, vec_col), graph.select(*_EDGE_COLS),
        corpus_bands, dim,
    )
    nw = _np_columns(_id_vec(new_rows, id_col, vec_col))
    touched, replaced, _ = _insert_kernel(
        src, nw, k, n_planes, band_bits, seed, dim
    )
    return _write(src, touched, replaced)


def _insert_kernel(src, nw: dict, k, n_planes, band_bits, seed, dim):
    """:func:`knn_graph_insert` over a row source for the collected batch
    ``nw`` (``id``, ``v``): the touched srcs, their replacement rows, and
    the batch's own band rows (sequential-fold signatures, bit-identical
    to the JVM ``lsh_signature`` fold) for a caller that keeps the band
    table."""
    nb = max(len(nw["id"]), 1)
    src.ensure_bands(n_planes, band_bits, seed, dim)
    j, band, key = _np_bands(
        _seq_sigs(nw["v"], make_planes(n_planes, dim, seed)),
        n_planes // band_bits, band_bits,
    )
    hit = src.take("bands", ("band", "key"), (band, key))
    li, ri = _csr_join(_pack([band, key]), _pack([hit["band"], hit["key"]]))
    vec = _Vectors(src)
    pos = vec.positions(hit["id"][ri])
    ok = pos >= 0
    keys = np.unique(pos[ok] * nb + j[li][ok])
    c_pos, c_j = keys // nb, keys % nb
    sc = _floor6(_np_cos(vec.V[c_pos], nw["v"][c_j]))
    c_eid, c_nid = vec.ids[c_pos], nw["id"][c_j]
    # new-node edges: per nid top-k (floored score DESC, eid ASC)
    o, rn = _rank_topk_np(c_nid, sc, c_eid, k)
    # patch pool: touched existing nodes' current rows ∪ their candidates
    srcs = np.unique(c_eid)
    cur = src.take("graph", ("src_id",), (srcs,))
    p_src = np.concatenate([cur["src_id"], c_eid])
    p_nbr = np.concatenate([cur["nbr_id"], c_nid])
    p_sc = np.concatenate([cur["score"], sc])
    o2, rn2 = _rank_topk_np(p_src, p_sc, p_nbr, k)
    return np.union1d(srcs, nw["id"]), {
        "src_id": np.concatenate([p_src[o2], c_nid[o]]),
        "nbr_id": np.concatenate([p_nbr[o2], c_eid[o]]),
        "rank": np.concatenate([rn2, rn]).astype(np.int64),
        "score": np.concatenate([p_sc[o2], sc[o]]),
    }, {"id": nw["id"][j], "band": band, "key": key}


def knn_graph_delete(
    graph: DataFrame,
    corpus: DataFrame,
    del_ids: DataFrame,
    k: int = 6,
    n_planes: int = 24,
    band_bits: int = 6,
    seed: int = 42,
    dim: int | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    corpus_bands: DataFrame | None = None,
) -> DataFrame:
    """k-NN-graph DELETION — the removal half of incremental maintenance
    (``knn_graph_insert`` is the add half; VERDICT r8 missing #2: the
    reference's ``condition_vec`` catalog is mutable — conditions
    accrete via the executemany insert at ``nl_targeting_save.py:139-146``
    and stale ones eventually need removal, so a steady-state index
    needs the delete half to close the lifecycle). Tombstone the
    removed ids (the first column of ``del_ids``), then REPAIR every
    surviving node that lost an edge, touching only banded buckets:

    1. TOMBSTONE: drop all rows whose src is deleted; nodes whose
       adjacency never referenced a deleted id pass through bit-identical
       (ranks included).
    2. AFFECTED: surviving nodes with >= 1 edge to a deleted id — bounded
       by |del| x in-degree (~k on average), never corpus-wide.
    3. REPAIR POOL per affected node: its SURVIVING neighbors (preserves
       NN-descent edges banding alone would miss) UNION its banded-LSH
       candidates among the surviving corpus (same seeded planes/banding
       as the build) — the same candidate source a fresh build would use.
    4. Re-score the whole pool from vectors in the FLOOR-quantized space
       (the graph stores floored scores, so recomputed survivors rank in
       the identical order) and take per-node top-``k``.

    Fully deterministic and oracle-replayable (the ``v_knn_graph_del``
    row replays every stage value-exactly in DuckDB). Deleted-vs-rebuilt
    recall is pinned on clustered data in tests/test_ann.py, and
    insert-then-delete of the same rows restores the original graph
    EXACTLY on the untouched-node set.

    100 TB shape: the deleted ids are collected, and the kernel
    ``take``s the graph rows pointing at them (which name the affected
    set), the affected nodes' own rows (their kept neighbors), the band
    rows of the affected ids and then of their buckets, and the vectors
    of the pool — all bounded by the affected set. Pass the persisted
    build-time ``corpus_bands`` to skip recomputing the band table from
    the corpus. Periodic full compaction (re-band + rebuild on the
    survivor corpus) remains ``knn_graph_build`` on ``corpus`` anti-join
    ``del_ids`` — exactly how HNSW deployments amortize tombstone decay.
    """
    if dim is None:
        raise ValueError("knn_graph_delete requires dim=")
    _require_integral(corpus, id_col, "knn_graph_delete")
    _require_integral(del_ids, del_ids.columns[0], "knn_graph_delete")
    src = _row_source(
        _id_vec(corpus, id_col, vec_col), graph.select(*_EDGE_COLS),
        corpus_bands, dim,
    )
    dl = np.unique(_np_columns(del_ids.select(del_ids.columns[0])).popitem()[1])
    touched, replaced = _delete_kernel(
        src, dl, k, n_planes, band_bits, seed, dim
    )
    return _write(src, touched, replaced)


def _delete_kernel(src, dl, k, n_planes, band_bits, seed, dim):
    """:func:`knn_graph_delete` over a row source for the sorted unique
    deleted ids ``dl``: the touched srcs and their replacement rows."""
    into = src.take("graph", ("nbr_id",), (dl,))
    affected = np.setdiff1d(into["src_id"], dl)
    cur = src.take("graph", ("src_id",), (affected,))
    kept = ~np.isin(cur["nbr_id"], dl)
    src.ensure_bands(n_planes, band_bits, seed, dim)
    ab = src.take("bands", ("id",), (affected,))
    bk = src.take("bands", ("band", "key"), (ab["band"], ab["key"]))
    alive = ~np.isin(bk["id"], dl)
    li, ri = _csr_join(
        _pack([ab["band"], ab["key"]]),
        _pack([bk["band"][alive], bk["key"][alive]]),
    )
    cs, cn = ab["id"][li], bk["id"][alive][ri]
    p_src = np.concatenate([cur["src_id"][kept], cs[cs != cn]])
    p_nbr = np.concatenate([cur["nbr_id"][kept], cn[cs != cn]])
    vec = _Vectors(src)
    pos = vec.positions(np.concatenate([p_src, p_nbr]))
    ps, pn = pos[: len(p_src)], pos[len(p_src):]
    ok = (ps >= 0) & (pn >= 0)
    m = max(len(vec.ids), 1)
    keys = np.unique(ps[ok] * m + pn[ok])
    ps, pn = keys // m, keys % m
    sc = _floor6(_np_cos(vec.V[pn], vec.V[ps]))
    r_src, r_nbr = vec.ids[ps], vec.ids[pn]
    o, rn = _rank_topk_np(r_src, sc, r_nbr, k)
    # the delta write set: repaired survivors get replacement rows,
    # deleted srcs get ZERO rows (tombstones) — both must be touched for
    # latest-delta-wins recovery
    return np.union1d(affected, dl), {
        "src_id": r_src[o], "nbr_id": r_nbr[o],
        "rank": rn.astype(np.int64), "score": sc[o],
    }


def graph_write_index(graph: DataFrame, path: str, n_shards: int = 32) -> None:
    """Persist a built k-NN graph's adjacency to parquet, partitioned by
    a hash SHARD of ``src_id`` (``pmod(xxhash64(src_id), n_shards)``) —
    the once-per-corpus index write of the HNSW-class lifecycle. Serving
    joins the bounded frontier against the adjacency by ``src_id``; a
    shard column (rather than raw src partitioning) keeps directory
    count fixed while still letting a frontier-aware reader prune to the
    probed shards. Edge scores/ranks round-trip bit-exactly (parquet
    doubles/longs), so a reloaded index must serve IDENTICAL answers —
    certified by ``v_knn_graph_persist``."""
    (
        graph.withColumn(
            "shard", F.pmod(F.xxhash64("src_id"), F.lit(n_shards))
        )
        .repartition(n_shards, "shard")
        .write.mode("overwrite")
        .partitionBy("shard")
        .parquet(path)
    )


def graph_read_index(spark, path: str) -> DataFrame:
    """Cold-load a persisted k-NN graph (drops the shard column — the
    serve path's frontier join carries src_id)."""
    return spark.read.parquet(path).drop("shard")


def ivf_build_index(
    corpus: DataFrame,
    centroids: DataFrame,
    path: str,
    assigned: DataFrame | None = None,
    **assign_kwargs,
) -> None:
    """Persist the IVF assignment table partitioned by centroid id. At
    100 TB this is the batch index build: a probe that touches ``n_probe``
    centroids then reads only those directories — partition pruning turns
    bucket probes into O(bucket) scans instead of a full corpus pass.

    Pass ``assigned`` to write an assignment table the caller already
    computed (e.g. checkpointed for reuse by an in-memory comparison) —
    the assignment pass is the expensive half of the build and should
    never run twice for one index."""
    centroid_id = assign_kwargs.get("centroid_id", "centroid_id")
    if assigned is None:
        assigned = ivf_assign(corpus, centroids, **assign_kwargs)
    # repartition on the bucket key before the partitioned write: one
    # write task per centroid, one file per bucket directory — instead of
    # one file per upstream partition x bucket (the small-files
    # explosion). Sized from the actual centroid count (hash-by-key caps
    # non-empty partitions at the key cardinality anyway); a huge-corpus
    # build that needs more writer parallelism per bucket should add a
    # salt column to both the repartition and the data before calling.
    n_cents = centroids.count()
    assigned.repartition(max(n_cents, 1), centroid_id).write.mode(
        "overwrite"
    ).partitionBy(centroid_id).parquet(path)


def ivf_probe_index(
    spark,
    path: str,
    centroids: DataFrame,
    probes: DataFrame,
    k: int = 10,
    n_probe: int = 4,
    **kwargs,
) -> DataFrame:
    """Query a persisted IVF index. The centroid-id filter lands on the
    partition column, so the scan prunes to the probed buckets (verify:
    PartitionFilters in the plan)."""
    assigned = spark.read.parquet(path)
    return ivf_knn(assigned, centroids, probes, k=k, n_probe=n_probe, **kwargs)


def ivf_knn(
    corpus_assigned: DataFrame,
    centroids: DataFrame,
    probes: DataFrame,
    k: int = 10,
    n_probe: int = 4,
    corpus_id: str = "vec_id",
    corpus_vec: str = "embedding",
    centroid_id: str = "centroid_id",
    centroid_vec: str = "centroid_vec",
    probe_id: str = "probe_id",
    probe_vec: str = "probe_vec",
) -> DataFrame:
    """IVF query: per probe, rank centroids, take top n_probe, search only
    rows assigned to those centroids, exact re-rank to top-k."""
    cent_scored = probes.crossJoin(F.broadcast(centroids)).withColumn(
        "_pscore", cosine_sim(probe_vec, centroid_vec)
    )
    probe_cents = topk_per_key(
        cent_scored, [probe_id], "_pscore", n_probe, tiebreak=[centroid_id],
    ).select(probe_id, probe_vec, centroid_id)

    cands = corpus_assigned.join(
        F.broadcast(probe_cents), centroid_id
    )
    scored = cands.withColumn("score", cosine_sim(corpus_vec, probe_vec))
    return topk_per_key(scored, [probe_id], "score", k, tiebreak=[corpus_id]).select(
        probe_id, corpus_id, "score"
    )


def pq_encode(
    corpus: DataFrame,
    codebook: dict,
    corpus_id: str = "vec_id",
    corpus_vec: str = "e",
    n_sub: int = 4,
    sub_dim: int | None = None,
    use_arrow: bool = True,
) -> DataFrame:
    """Product-quantization encode: map each row's vector to ``n_sub``
    codeword ids (nearest codeword per subspace, squared-L2, ties to the
    lowest id). ``codebook[s][c]`` is the ``sub_dim``-float codeword ``c``
    of subspace ``s``.

    Two equivalent paths, code-identical in practice (cross-checked in
    ``tests/test_ann.py``):

    - ``use_arrow=True`` (default): vectorized numpy over Arrow batches
      (``mapInPandas``). Per element the float64 ops are the same IEEE
      subtract/multiply; the ``np.sum`` reduction over ``sub_dim``
      elements is NOT the sequential JVM/DuckDB fold (numpy is
      sequential only below 8 elements — above that, 8-way unrolled
      pairwise partial sums), so per-codeword distances can differ in
      the last ulp (~1e-16 relative, measured). The OUTPUT is immune:
      only the ``np.argmin`` code id survives, and an ulp flip requires
      two codewords' distances to tie within ~1e-15 — never observed
      (the cross-check test compares full code maps, and tri-scale +
      10x parity certify the fixtures). ``np.argmin`` takes the first
      minimum, matching the ``ORDER BY d ASC, cid ASC`` tie-break.
      New-row rule: never expose a raw numpy-fold VALUE for exact
      comparison — keep value folds JVM-side or floor-quantize.
      This is the hot path: the
      interpreted higher-order-function encode costs ~ms/row, the numpy
      one ~µs/row (measured 1.7 s -> 0.36 s on 2 000 x 64 at sf0.1).
    - ``use_arrow=False``: pure-JVM expression (slice + zip_with +
      aggregate fold + array_min) — the dependency-free reference used by
      the cross-check test and by engines without Arrow workers.

    Caller is expected to ``fan_out`` first at test scale (one-file scans
    arrive as a single partition) and to persist/checkpoint the result if
    it is consumed more than once — codes are the *index*; re-encoding per
    probe is the anti-pattern this operator exists to prevent.
    """
    if sub_dim is None:
        s0 = codebook[0]
        sub_dim = len(s0[sorted(s0)[0]])
    code_cols = [f"code{s}" for s in range(n_sub)]
    if use_arrow:
        cb = np.array(
            [[list(map(float, codebook[s][c])) for c in sorted(codebook[s])]
             for s in range(n_sub)]
        )  # (n_sub, n_codes, sub_dim)
        # emit actual codebook KEYS, not positional argmin indices — the
        # JVM path emits keys, and a non-contiguous codebook (codewords
        # seeded from arbitrary ids) would otherwise silently diverge
        keys = [
            np.array(sorted(codebook[s]), dtype=np.int32) for s in range(n_sub)
        ]

        def _encode(batches):
            for pdf in batches:
                if len(pdf) == 0:
                    yield pd.DataFrame(
                        {corpus_id: pd.Series([], dtype="int64"),
                         **{c: pd.Series([], dtype="int32") for c in code_cols}}
                    )
                    continue
                X = np.array(pdf[corpus_vec].tolist(), dtype=np.float64)
                out = {corpus_id: pdf[corpus_id]}
                for s in range(n_sub):
                    sub = X[:, s * sub_dim:(s + 1) * sub_dim]
                    d = ((sub[:, None, :] - cb[s][None, :, :]) ** 2).sum(axis=2)
                    out[code_cols[s]] = keys[s][np.argmin(d, axis=1)]
                yield pd.DataFrame(out)

        schema = f"{corpus_id} long, " + ", ".join(f"{c} int" for c in code_cols)
        return corpus.select(corpus_id, corpus_vec).mapInPandas(_encode, schema)

    def _sqdist(sub: int, cvec) -> F.Column:
        sl = F.slice(corpus_vec, sub * sub_dim + 1, sub_dim)
        lit = F.array(*[F.lit(float(x)) for x in cvec])
        return F.aggregate(
            F.zip_with(sl, lit, lambda a, b: (a - b) * (a - b)),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )

    enc = corpus
    for s in range(n_sub):
        cands = F.array(
            *[
                F.struct(_sqdist(s, codebook[s][c]).alias("d"), F.lit(c).alias("c"))
                for c in sorted(codebook[s])
            ]
        )
        enc = enc.withColumn(code_cols[s], F.array_min(cands).getField("c").cast("int"))
    return enc.select(corpus_id, *code_cols)


def ivf_pq_encode(
    corpus: DataFrame,
    codebook: dict,
    centroids: dict,
    corpus_id: str = "vec_id",
    corpus_vec: str = "e",
    n_sub: int = 4,
    sub_dim: int | None = None,
) -> DataFrame:
    """IVF-PQ index build — ONE Arrow pass emitting
    ``(id, centroid_id, code0..code{n_sub-1})``: nearest-centroid
    assignment (cosine, ties to the lowest centroid id) fused with the PQ
    encode of :func:`pq_encode`. This is the faiss-standard composite
    index build: at 100 TB the corpus is scanned once and the result —
    a handful of small ints per vector — IS the index; serve-time
    touches only rows in the probed centroid buckets and never decodes.

    ``centroids[cid]`` is the full-dim centroid vector (cids sorted).
    Float contract: cosine = dot / (sqrt(dot_aa) * sqrt(dot_bb)) in
    float64; the numpy reductions are ulp-close to (NOT bit-identical
    with — numpy is sequential only below 8 elements) the JVM fold and
    DuckDB's list folds. Only the ``np.argmax`` centroid id and argmin
    codes survive to output, so a divergence requires two candidates
    within ~1e-15 of each other — never observed, certified by the
    JVM-composition cross-check test plus tri-scale + 10x parity.
    ``np.argmax`` takes the first (lowest-cid) maximum, matching
    ``ORDER BY cos DESC, cid``. PQ code semantics are exactly
    :func:`pq_encode`'s."""
    cids = sorted(centroids)
    ct = np.array([list(map(float, centroids[c])) for c in cids])
    ct_norm = np.sqrt((ct * ct).sum(axis=1))
    cb = np.array(
        [[list(map(float, codebook[s][c])) for c in sorted(codebook[s])]
         for s in range(n_sub)]
    )
    cb_keys = [
        np.array(sorted(codebook[s]), dtype=np.int32) for s in range(n_sub)
    ]
    code_cols = [f"code{s}" for s in range(n_sub)]

    if sub_dim is None:
        s0 = codebook[0]
        sub_dim = len(s0[sorted(s0)[0]])
    def _build(batches):
        for pdf in batches:
            if len(pdf) == 0:
                yield pd.DataFrame(
                    {corpus_id: pd.Series([], dtype="int64"),
                     "centroid_id": pd.Series([], dtype="int64"),
                     **{c: pd.Series([], dtype="int32") for c in code_cols}}
                )
                continue
            X = np.array(pdf[corpus_vec].tolist(), dtype=np.float64)
            xn = np.sqrt((X * X).sum(axis=1))
            cos = np.empty((len(X), len(cids)))
            for j in range(len(cids)):
                cos[:, j] = (X * ct[j]).sum(axis=1) / (xn * ct_norm[j])
            out = {
                corpus_id: pdf[corpus_id],
                "centroid_id": np.array(cids, dtype=np.int64)[
                    np.argmax(cos, axis=1)
                ],
            }
            for s in range(n_sub):
                sub = X[:, s * sub_dim:(s + 1) * sub_dim]
                d = ((sub[:, None, :] - cb[s][None, :, :]) ** 2).sum(axis=2)
                # actual codebook keys, not positions (see pq_encode)
                out[code_cols[s]] = cb_keys[s][np.argmin(d, axis=1)]
            yield pd.DataFrame(out)

    schema = (
        f"{corpus_id} long, centroid_id long, "
        + ", ".join(f"{c} int" for c in code_cols)
    )
    return corpus.select(corpus_id, corpus_vec).mapInPandas(_build, schema)


def pq_adc_serve(
    index: DataFrame,
    aux: dict,
    codebook: dict,
    probes: list,
    k: int = 10,
    n_probe: int = 4,
    n_sub: int = 4,
    score_col: str = "adc_score",
    id_col: str = "vec_id",
) -> DataFrame:
    """ADC serving over an IVF-PQ index — the codebook/probe-table
    plumbing factored out of the certified ``v_ivf_pq_knn`` registry row
    (VERDICT r10 next #5) so ``index_select.build_choice`` can
    dispatch the ivf_pq family end-to-end.

    ``index`` is ``ivf_pq_encode``'s output (id, centroid_id,
    code0..code{n_sub-1}); ``aux[cid]`` the full-dim centroid/codeword
    source vectors; ``probes`` a BOUNDED driver-side batch of
    ``(probe_id, vec)`` — per-probe ADC lookup tables are tiny
    (len(aux)·n_sub floats) and built at query time, the standard faiss
    shape; the batch boundary is the same O(100)-probe contract every
    serve surface here uses. Scoring touches ONLY rows whose centroid
    is probed (pushed-down literal bucket predicate), does no decode
    (n_sub table lookups + n_sub-1 adds per candidate), and ranks with
    an explicitly-ordered left-chained sum so the DuckDB oracle replays
    it exactly (the v_pq_adc_knn float contract). Probe-centroid
    ranking uses a sequential python fold — bit-identical to the JVM
    fold (CLAUDE.md rule). Returns per-probe top-``k``
    ``(probe_id, id_col, score_col)`` with ``round(adc, 6)``."""
    import math

    s0 = codebook[0]
    sub_dim = len(s0[sorted(s0)[0]])
    cw = sorted(aux)

    def pycos(a, b):
        return _seq_dot(a, b) / (
            math.sqrt(_seq_dot(a, a)) * math.sqrt(_seq_dot(b, b))
        )

    probed = {
        pid: [
            c
            for _, c in sorted(
                ((-pycos(pv, aux[c]), c) for c in cw)
            )[:n_probe]
        ]
        for pid, pv in probes
    }
    ptab = {
        pid: {
            s: [
                sum(
                    pv[s * sub_dim + i] * codebook[s][c][i]
                    for i in range(sub_dim)
                )
                for c in cw
            ]
            for s in range(n_sub)
        }
        for pid, pv in probes
    }

    def adc_expr(pid):
        # explicit left-chained sum ((t0+t1)+t2)+... — mirrored by the
        # oracle replay, never a reorderable n-ary sum
        expr = F.element_at(
            F.array(*[F.lit(v) for v in ptab[pid][0]]), F.col("code0") + 1
        )
        for s in range(1, n_sub):
            expr = expr + F.element_at(
                F.array(*[F.lit(v) for v in ptab[pid][s]]),
                F.col(f"code{s}") + 1,
            )
        return expr

    per_probe = F.array(
        *[
            F.struct(
                F.lit(pid).cast("long").alias("probe_id"),
                adc_expr(pid).alias("adc"),
                F.col("centroid_id").isin(probed[pid]).alias("keep"),
            )
            for pid, _ in probes
        ]
    )
    scored = (
        index.select(id_col, F.explode(per_probe).alias("ps"))
        .filter(F.col("ps.keep"))
        .select(
            id_col,
            F.col("ps.probe_id").alias("probe_id"),
            F.col("ps.adc").alias("adc"),
        )
    )
    w = Window.partitionBy("probe_id").orderBy(F.desc("adc"), F.asc(id_col))
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
        .select("probe_id", id_col, F.round("adc", 6).alias(score_col))
    )


def hamming_sig_knn(
    corpus: DataFrame,
    probes: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Binary-signature (64-bit sign sketch) KNN — the packing/ranking
    plumbing factored out of the certified ``v_hamming_binary_knn``
    registry row (VERDICT r10 next #5). Each vector's first 64 dims
    compress to 64 sign bits in two BIGINT halves via an ordered fold;
    ranking is ``bit_count(xor)`` — pure JVM integer ops in codegen,
    8 bytes/vector, the extreme-memory-pressure family of
    ``choose_index``. ``probes`` is a DataFrame of (probe_id,
    probe_vec), packed with the SAME fold. Exact integer math
    throughout; ties break on id ascending. Returns per-probe top-``k``
    ``(probe_id, id_col, hamming)``."""

    def pack(col, lo_i, hi_i):
        # try_element_at: widths below 64 zero-pad instead of erroring
        # under ANSI (identical bits for width >= 64 — valid indexes)
        return F.aggregate(
            F.sequence(F.lit(lo_i), F.lit(hi_i)),
            F.lit(0).cast("long"),
            lambda acc, i: acc * 2
            + F.when(F.try_element_at(col, i) > 0, 1).otherwise(0),
        )

    e = F.col(vec_col).cast("array<double>")
    sg = corpus.select(
        id_col, pack(e, 1, 32).alias("lo"), pack(e, 33, 64).alias("hi")
    )
    pv = F.col("probe_vec").cast("array<double>")
    psig = probes.select(
        "probe_id", pack(pv, 1, 32).alias("plo"), pack(pv, 33, 64).alias("phi")
    )
    w = Window.partitionBy("probe_id").orderBy(F.asc("hamming"), F.asc(id_col))
    return (
        sg.crossJoin(F.broadcast(psig))
        .select(
            "probe_id",
            id_col,
            (
                F.bit_count(F.col("lo").bitwiseXOR(F.col("plo")))
                + F.bit_count(F.col("hi").bitwiseXOR(F.col("phi")))
            )
            .cast("long")
            .alias("hamming"),
        )
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
        .select("probe_id", id_col, "hamming")
    )
