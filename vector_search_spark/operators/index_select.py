"""Index selection — one decision surface over the six certified ANN
index families (VERDICT r8 next #5: "turns six index families into one
decision surface").

The engine ships exact brute-force KNN, hyperplane-LSH, IVF (flat and
KMeans-trained), IVF-PQ, binary-Hamming, and the k-NN graph
(HNSW-class build/serve/insert/delete). A user of the reference system
never chose — MariaDB's VEC index was the only option
(``camp_vec_rcmn.py``'s ``VEC_FromText`` column). Here the right family
depends on corpus size, width, recall target, mutability, and memory —
so :func:`choose_index` encodes the measured evidence in SCALING.md /
tests/test_ann.py as an executable decision table, and
:func:`build_choice` builds the one engine per family that the pick
names (``index_service.VectorIndexService`` is the serve entry over
both).

Measured grounding (all numbers from this repo's recorded runs, see
SCALING.md rounds 6-10; the per-width serve-latency/footprint table is
``PROFILE`` below, measured by ``tools/index_profile.py`` at 64/768/1536
dims and attached to every returned choice via ``profile_for``):

- EXACT brute force: recall 1.0 by construction; batched serving
  ~11.5 ms/query at 100-probe batches (64-dim, sf0.1). One scan per
  batch is O(n·dim) — past ~10^6 rows the scan dominates any index
  build amortization only if the corpus is served rarely; the real
  cutoff is memory/scan time at 100 TB, so exact is the small-corpus /
  perfect-recall choice.
- IVF (``ivf_build_index``/``ivf_probe_index``): measured recall@10 =
  0.83/0.87/0.87 at n_probe 1/2/4 on the near-uniform fixture
  (``v_ivf_recall_sweep``), ≥ 0.85 gates on clustered 768-dim; serve
  11.5-21.7 ms/query batched (64/768-dim). Build is the cheapest
  (one assign + partitioned write). Static corpora, batch QPS.
- IVF-PQ (``v_ivf_pq_knn``): PQ codes are m bytes/vector vs 4·dim raw
  (m=8 subquantizers default) — the memory-constrained variant; ADC
  re-rank keeps ranking exact within probed buckets.
- GRAPH (``graph_lifecycle.GraphMaintainer``): serve recall ≥ 0.9
  pinned on clustered data (beam search, LSH entries), 27.9-49.8
  ms/query batched (64/768-dim); the ONLY family with certified
  incremental INSERT and DELETE (``knn_graph_insert``/``_delete``,
  both value-oracle-replayed) — mutable catalogs must pick it.
- HAMMING (``v_hamming_binary_knn``): 8 bytes/vector sketch, coarsest
  ranking — the extreme-memory-pressure fallback.
- SINGLE-probe serving on Spark pays a ~0.5-1 s planning/scheduling
  floor regardless of family (tools/serve_latency.py) — so for
  ``qps_shape="single"`` the advice is structural (batch or micro-batch
  the probes), not an index change.
"""

from __future__ import annotations

from dataclasses import dataclass, field


@dataclass
class IndexChoice:
    """The decision: which family, the builder entrypoint to call, the
    parameters to pass, and the measured evidence that justified it."""

    family: str                 # exact | ivf | ivf_pq | graph | hamming
    builder: str                # dotted entrypoint in this package
    serving: str                # serving surface to use
    params: dict = field(default_factory=dict)
    why: str = ""
    caveats: list = field(default_factory=list)
    # measured profile at the nearest recorded width (PROFILE/profile_for)
    measured: dict = field(default_factory=dict)


# evidence constants the chooser reasons with (measured; see module doc)
EXACT_MAX_N = 100_000          # below this, one batched scan beats a build
IVF_RECALL = {1: 0.83, 2: 0.87, 4: 0.87}   # v_ivf_recall_sweep, sf0.01
GRAPH_SERVE_RECALL = 0.90      # clustered-data floor, tests/test_ann.py
PQ_M = 8                       # subquantizers → bytes/vector for codes
HAMMING_BYTES = 8              # 64-bit sketch

# Per-width measured profile (tools/index_profile.py, round 10: sf0.01
# fixtures regenerated at each width via make_dim_fixtures.py, 100-probe
# batches, min-of-two on fresh plans). serve ms/query per family and
# persisted bytes/vector (parquet, includes footer overhead at the
# fixture's n=500 — the RELATIVE ordering is the decision signal; at
# large n the per-vector overhead amortizes toward the raw payload).
# Key structural facts the chooser uses: graph serve cost scales ~linear
# in dim (exact cosine re-rank of the frontier each round) while its
# index bytes are dim-INDEPENDENT (k edges/vector); ivf serve stays flat
# (pruned-bucket scan) but its index stores full vectors; pq/hamming
# footprints are width-independent by construction.
PROFILE = {
    64: {
        "exact_ms": 10.0, "ivf_ms": 8.8, "graph_ms": 44.0,
        "raw_b": 387.3, "ivf_b": 291.1, "graph_b": 262.7,
        "pq_b": 138.1, "ham_b": 61.2,
    },
    768: {
        "exact_ms": 38.7, "ivf_ms": 14.7, "graph_ms": 140.4,
        "raw_b": 4328.3, "ivf_b": 3129.7, "graph_b": 264.6,
        "pq_b": 138.3, "ham_b": 61.2,
    },
    1536: {
        "exact_ms": 68.0, "ivf_ms": 22.8, "graph_ms": 281.4,
        "raw_b": 7400.8, "ivf_b": 6226.0, "graph_b": 263.9,
        "pq_b": 138.2, "ham_b": 61.2,
    },
}


def profile_for(dim: int) -> dict:
    """Measured profile at the nearest recorded width (64/768/1536)."""
    w = min(PROFILE, key=lambda k: abs(k - dim))
    return {"width": w, **PROFILE[w]}


def _ivf_params(n: int, recall_target: float) -> dict:
    # sqrt-rule centroid count (bounded), n_probe from the measured sweep
    n_centroids = max(16, min(65536, int(n ** 0.5)))
    n_probe = 1 if recall_target <= IVF_RECALL[1] else (
        2 if recall_target <= IVF_RECALL[2] else 4
    )
    return {"n_centroids": n_centroids, "n_probe": n_probe}


def _graph_params(n: int) -> dict:
    from .ann import auto_band_bits

    bb = auto_band_bits(n)
    return {"k": 6, "band_bits": bb, "n_planes": bb * 4, "rounds": 2}


def choose_index(
    n_vectors: int,
    dim: int,
    recall_target: float = 0.9,
    qps_shape: str = "batch",
    mutable: bool = False,
    memory_budget_bytes: int | None = None,
) -> IndexChoice:
    """Pick the ANN index family for a corpus from measured evidence.

    Inputs: corpus size and width, the recall@k the caller needs,
    ``qps_shape`` in {"batch", "single", "stream"} (how probes arrive),
    ``mutable`` (does the corpus take inserts/deletes between rebuilds —
    the reference's ``condition_vec`` pattern), and an optional memory
    budget for the index itself.

    Precedence (each step grounded in a recorded measurement):

    1. small corpus + exact needs → EXACT (no index beats one scan);
    2. mutable corpus → GRAPH (the only family with certified
       insert AND delete);
    3. memory budget below raw vectors → IVF-PQ if codes fit, else
       HAMMING (last resort, coarse);
    4. recall_target above the measured IVF ceiling (0.87) → GRAPH
       (serve recall ≥ 0.9 on clustered data);
    5. otherwise → IVF with n_probe from the recall sweep.

    ``qps_shape`` never changes the family — single-probe latency is a
    Spark scheduling floor, not an index property — it adds the
    batch/micro-batch serving caveat instead.

    Related decision the chooser does NOT make: near-duplicate
    detection over embeddings (``operators.dedup.embedding_neardup_pairs``)
    should run OR-amplified, ``n_tables=4`` (up to 8 when recall
    dominates cost) — a single LSH table recovers only 25-31% of true
    pairs inside guarded hot blocks vs 62-93% at r=4..8, measured in
    tools/evidence/recall_chain_r13.log; the composed production chain
    (``pipe_semantic_dedup_guarded``) ships r=4.
    """
    if not 0.0 < recall_target <= 1.0:
        raise ValueError(f"recall_target must be in (0, 1], got {recall_target}")
    if qps_shape not in ("batch", "single", "stream"):
        raise ValueError(f"unknown qps_shape {qps_shape!r}")
    measured = profile_for(dim)
    caveats = []
    if qps_shape == "single":
        caveats.append(
            "single-probe queries pay a ~0.5-1 s Spark scheduling floor "
            "regardless of index (measured, tools/serve_latency.py) — "
            "batch probes into one plan (11.5-49.8 ms/query at 100-probe "
            "batches) or serve per micro-batch"
        )
    if dim >= 768:
        caveats.append(
            "graph serve cost scales ~linearly with width (measured "
            f"{PROFILE[64]['graph_ms']}/{PROFILE[768]['graph_ms']}/"
            f"{PROFILE[1536]['graph_ms']} ms/query at 64/768/1536, "
            "tools/index_profile.py) — at this dim budget "
            f"~{measured['graph_ms']} ms/query batched for the graph "
            f"family vs ~{measured['ivf_ms']:.0f} for ivf"
        )
    raw_bytes = n_vectors * dim * 4

    if n_vectors <= EXACT_MAX_N and recall_target > IVF_RECALL[4]:
        return IndexChoice(
            family="exact",
            builder="operators.knn.knn",
            serving="index_select.ExactIndex (one knn scan per probe batch)",
            params={"k": 10},
            why=(
                f"n={n_vectors} <= {EXACT_MAX_N} and recall_target="
                f"{recall_target} above the measured IVF ceiling "
                f"({IVF_RECALL[4]}): one scan is exact and cheaper than "
                "any build at this size"
            ),
            caveats=caveats,
            measured=measured,
        )
    if mutable:
        return IndexChoice(
            family="graph",
            builder="operators.ann.knn_graph_build",
            serving="graph_lifecycle.GraphMaintainer (LSH-entry beam search)",
            params=_graph_params(n_vectors),
            why=(
                "mutable corpus: the k-NN graph is the only family with "
                "certified incremental insert (knn_graph_insert) AND "
                "delete (knn_graph_delete), both value-oracle-replayed"
            ),
            caveats=caveats + (
                ["recall_target above the measured clustered-data serve "
                 f"floor {GRAPH_SERVE_RECALL}: schedule periodic rebuild "
                 "compaction"] if recall_target > GRAPH_SERVE_RECALL else []
            ),
            measured=measured,
        )
    if memory_budget_bytes is not None and raw_bytes > memory_budget_bytes:
        pq_bytes = n_vectors * PQ_M
        if pq_bytes <= memory_budget_bytes:
            # the memory branch fires BEFORE the recall-ceiling check, so
            # an unreachable target must be surfaced, not silently
            # accepted (ADVICE r9 low): IVF-family recall tops out at the
            # measured n_probe=4 ceiling regardless of PQ re-rank.
            pq_caveats = list(caveats)
            if recall_target > IVF_RECALL[4]:
                pq_caveats.append(
                    f"recall_target {recall_target} exceeds the measured "
                    f"IVF recall ceiling ({IVF_RECALL[4]} at n_probe=4, "
                    "v_ivf_recall_sweep) — under this memory budget the "
                    "target is unreachable; re-rank PQ survivors exactly "
                    "against raw vectors, or raise the budget to fit the "
                    "graph family"
                )
            return IndexChoice(
                family="ivf_pq",
                builder="operators.ann.ivf_pq (v_ivf_pq_knn form)",
                serving="operators.ann.pq_adc_serve (ADC over PQ codes)",
                params={**_ivf_params(n_vectors, recall_target), "m": PQ_M},
                why=(
                    f"raw vectors {raw_bytes/1e9:.1f} GB exceed the "
                    f"{memory_budget_bytes/1e9:.1f} GB budget; PQ codes "
                    f"({PQ_M} B/vector = {pq_bytes/1e9:.2f} GB) fit"
                ),
                caveats=pq_caveats,
                measured=measured,
            )
        return IndexChoice(
            family="hamming",
            builder="operators.ann (v_hamming_binary_knn form)",
            serving="batched hamming top-k",
            params={"bits": 64},
            why=(
                f"even PQ codes ({pq_bytes/1e9:.2f} GB) exceed the budget; "
                f"64-bit sketches ({n_vectors*HAMMING_BYTES/1e9:.2f} GB) "
                "are the last index that fits"
            ),
            caveats=caveats + [
                "hamming ranking is coarse — re-rank survivors exactly "
                "if any recall target matters"
            ],
            measured=measured,
        )
    if recall_target > IVF_RECALL[4]:
        return IndexChoice(
            family="graph",
            builder="operators.ann.knn_graph_build",
            serving="graph_lifecycle.GraphMaintainer (LSH-entry beam search)",
            params=_graph_params(n_vectors),
            why=(
                f"recall_target {recall_target} above the measured IVF "
                f"ceiling {IVF_RECALL[4]} (v_ivf_recall_sweep); graph "
                f"serve recall >= {GRAPH_SERVE_RECALL} on clustered data"
            ),
            caveats=caveats,
            measured=measured,
        )
    return IndexChoice(
        family="ivf",
        builder="operators.ann.ivf_build_index",
        serving="operators.ann.ivf_probe_index (partition-pruned scan)",
        params=_ivf_params(n_vectors, recall_target),
        why=(
            f"static corpus, recall_target {recall_target} within the "
            f"measured IVF sweep ({IVF_RECALL}); cheapest build, "
            "partition-pruned serve"
        ),
        caveats=caveats,
        measured=measured,
    )




class ExactIndex:
    """The exact family's engine: one brute-force scan of the CURRENT
    corpus per probe batch (``operators.knn.knn``). Mutation is corpus
    maintenance (union on insert, anti-join on delete, checkpointed per
    step), so the same engine serves a static corpus and a mutable one.
    In memory only: durability belongs to the graph family, whose
    maintainer commits through ``operators.index_log``."""

    family = "exact"

    def __init__(self, corpus) -> None:
        self.corpus = corpus.select("vec_id", "embedding").localCheckpoint(
            eager=True
        )
        self._n0 = self.corpus.count()
        self._churned = 0

    def serve(self, probes, k: int):
        from .knn import knn

        return knn(self.corpus, probes, k=k).select(
            "probe_id", "vec_id", "score"
        )

    def insert(self, new_rows) -> None:
        rows = new_rows.select("vec_id", "embedding")
        self._churned += rows.count()
        self._replace(self.corpus.unionByName(rows))

    def delete(self, del_ids) -> None:
        ids = del_ids.select("vec_id")
        self._churned += ids.count()
        self._replace(self.corpus.join(ids, "vec_id", "left_anti"))

    def _replace(self, corpus) -> None:
        self.corpus = corpus.coalesce(32).localCheckpoint(eager=True)

    def compact(self) -> None:
        """Nothing to compact: a scan has no index to decay."""

    def maybe_compact(self) -> bool:
        return False

    def close(self) -> None:
        """Nothing to reclaim: the corpus lives in executor memory."""

    @property
    def churn_frac(self) -> float:
        return self._churned / max(self._n0, 1)


class ServingIndex:
    """A static engine made of closures, for the ivf, ivf_pq and hamming
    families: ``serve(probes, k)`` answers one probe batch in one plan
    with (probe_id, vec_id, score), higher score = better; ``close()``
    reclaims an adhoc scratch index. Construct via :func:`build_choice`.

    When the index is adhoc scratch (a ``close_fn`` is registered, e.g.
    the ivf family's pid-scratch parquet), each answer is eagerly
    localCheckpoint'ed, so collecting it AFTER ``close()`` cannot hit
    file-not-found on the reclaimed index files (ADVICE r12)."""

    def __init__(self, family, serve_fn, close_fn=None):
        self.family = family
        self._serve_fn = serve_fn
        self._close_fn = close_fn

    def serve(self, probes, k: int):
        res = self._serve_fn(probes, k)
        if self._close_fn is not None:
            res = res.localCheckpoint(eager=True)
        return res

    def close(self) -> None:
        if self._close_fn is not None:
            self._close_fn()
            self._close_fn = None


def build_choice(
    choice: IndexChoice,
    corpus,
    dim: int | None = None,
    index_path: str | None = None,
):
    """Build the engine an :class:`IndexChoice` names over ``corpus``.
    Every engine answers ``serve(probes, k)`` with per-probe top-k
    ``(probe_id, vec_id, score)`` rows; ``k`` is a serve-time argument
    because every kernel takes it per call. One engine per family:

    - exact: :class:`ExactIndex` (static or mutable);
    - ivf: one ``ivf_build_index`` over the first ``n_centroids``
      vectors (checkpointed once), served by ``ivf_probe_index``;
    - graph: :class:`.graph_lifecycle.GraphMaintainer` (static or
      mutable), durable when ``index_path`` is given (its state dir,
      reopened by ``GraphMaintainer.recover``);
    - ivf_pq / hamming: :class:`ServingIndex` closures over the plumbing
      factored out of their certified registry rows
      (``operators.ann.pq_adc_serve`` / ``hamming_sig_knn``). The ivf_pq
      path collects each probe batch to build the per-probe ADC lookup
      tables, the standard faiss query-time table build over a bounded
      probe batch. The hamming score is the NEGATED distance cast to
      double, so "higher is better" holds across families.

    Size-dependent params are capped against the corpus actually built,
    not the size the choice was profiled at (one count): the ivf
    centroid count keeps buckets at >= ~16 vectors, and the graph band
    width is at most ``auto_band_bits(n)`` (wider keys leave ~1-row
    buckets and the LSH entries find nothing); graph params the choice
    leaves out default to ``_graph_params(n)``. ``dim`` is required for
    the graph family; ``index_path`` defaults, for ivf, to a pid-scratch
    dir reclaimed by ``close()``."""
    from pyspark.sql import functions as F

    p = choice.params
    if choice.family == "exact":
        return ExactIndex(corpus)
    if choice.family == "graph":
        from .graph_lifecycle import GraphMaintainer

        if dim is None:
            raise ValueError("build_choice(family='graph') requires dim=")
        auto = _graph_params(corpus.count())
        p = {**auto, **p}
        if p["band_bits"] > auto["band_bits"]:
            p.update(band_bits=auto["band_bits"], n_planes=auto["n_planes"])
        return GraphMaintainer(
            corpus, dim=dim, k=p["k"], n_planes=p["n_planes"],
            band_bits=p["band_bits"], build_rounds=p["rounds"],
            state_dir=index_path,
        )
    if choice.family == "ivf":
        from ..utils import pid_scratch
        from .ann import ivf_assign, ivf_build_index, ivf_probe_index

        n_centroids = max(
            8, min(p.get("n_centroids", 16), corpus.count() // 16)
        )
        # deterministic first-n centroid convention (the certified
        # v_ivf_knn form; swap in ann_mllib.kmeans_centroids for
        # trained buckets on clustered corpora)
        cents = (
            corpus.orderBy("vec_id")
            .limit(n_centroids)
            .select(
                F.col("vec_id").alias("centroid_id"),
                F.col("embedding").alias("centroid_vec"),
            )
            .localCheckpoint(eager=True)
        )
        path = index_path or pid_scratch("choice_ivf", "adhoc")
        ivf_build_index(
            corpus, cents, path, assigned=ivf_assign(corpus, cents)
        )
        spark, n_probe = corpus.sparkSession, p.get("n_probe", 4)
        close_fn = None
        if index_path is None:
            # adhoc scratch index: ``close()`` reclaims it instead of
            # leaking it until the dead-pid pruner reaps it (ADVICE
            # r10). Callers wanting a persistent index pass index_path.
            import shutil

            close_fn = lambda: shutil.rmtree(path, ignore_errors=True)  # noqa: E731
        return ServingIndex(
            "ivf",
            lambda probes, k: ivf_probe_index(
                spark, path, cents, probes, k=k, n_probe=n_probe
            ).select("probe_id", "vec_id", "score"),
            close_fn=close_fn,
        )
    if choice.family == "ivf_pq":
        from ..utils import fan_out
        from .ann import ivf_pq_encode, pq_adc_serve

        emb = corpus.select(
            "vec_id", F.col("embedding").cast("array<double>").alias("e")
        )
        # codeword source = first 16 corpus vectors (the certified
        # v_ivf_pq_knn convention: they double as IVF centroids AND PQ
        # codewords — swap in trained kmeans centroids for clustered
        # corpora, the chooser's params carry through unchanged)
        aux = {
            r["vec_id"]: r["e"]
            for r in emb.orderBy("vec_id").limit(16).collect()
        }
        n_sub = 4
        sub = len(next(iter(aux.values()))) // n_sub
        codebook = {
            s: {c: aux[c][s * sub: (s + 1) * sub] for c in sorted(aux)}
            for s in range(n_sub)
        }
        index = ivf_pq_encode(
            fan_out(emb), codebook, aux, corpus_vec="e"
        ).localCheckpoint(eager=True)

        def _serve_pq(probes, k):
            batch = [
                (r["probe_id"], [float(x) for x in r["probe_vec"]])
                for r in probes.collect()
            ]
            return pq_adc_serve(
                index, aux, codebook, batch, k=k,
                n_probe=min(p.get("n_probe", 4), len(aux)),
                n_sub=n_sub, score_col="score",
            ).select("probe_id", "vec_id", "score")

        return ServingIndex("ivf_pq", _serve_pq)
    if choice.family == "hamming":
        from .ann import hamming_sig_knn

        return ServingIndex(
            "hamming",
            lambda probes, k: hamming_sig_knn(corpus, probes, k=k).select(
                "probe_id",
                "vec_id",
                (-F.col("hamming")).cast("double").alias("score"),
            ),
        )
    raise ValueError(f"unknown index family {choice.family!r}")
