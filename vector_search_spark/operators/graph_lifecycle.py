"""Graph-index LIFECYCLE maintenance: long-run insert/delete churn with
an executable compaction policy (VERDICT r9 next #2).

``knn_graph_insert``/``knn_graph_delete`` certify single maintenance
batches; a deployment applies them for months. Each incremental step is
slightly lossier than a fresh build — inserted nodes never receive
NN-descent refinement, and delete repair pools draw from banded
candidates plus surviving neighbors only — so graph quality DECAYS
monotonically with cumulative churn (measured decay curve in SCALING.md
round 10). The fix every HNSW-class deployment uses is periodic
compaction: rebuild on the surviving corpus once enough of it has
churned. :class:`GraphMaintainer` makes that policy executable: it
tracks the churned-row fraction since the last full build and rebuilds
when it crosses ``compact_churn_frac``.

Why a churn-fraction trigger rather than a recall trigger: recall needs
ground truth the deployment doesn't have online. The measured decay
curve maps churn fraction to edge/serve recall on clustered data (the
HNSW contract workload), so the fraction is the observable PROXY for the
recall floor — the pytest in tests/test_ann.py pins both directions
(recall stays >= the floor across a churn sequence WITH compaction and
falls below it WITHOUT).

All state transitions run the certified kernels unchanged, against a
row source that lives as long as the maintainer (``operators.ann``):
under the gate (corpus rows × dim ≤ ``ann.DRIVER_MAX_CELLS``) it is the
WHOLE source — vectors, adjacency, band table and their sorted
take-indexes as driver numpy columns. The build kernel makes it on the
driver at open (one count and one collect of the corpus), remakes it at
compaction from the vectors it holds (no Spark job before the base
write), and recover collects it once. Each insert/delete applies its
own result to that state in numpy (splice the replaced adjacency rows,
append or filter the vectors, append the batch's band rows that the
insert kernel already computes), so a serve runs one Spark job (the
probe collect) and an insert/delete runs the batch collect plus its
durable writes. Above the gate the GATHER source holds the same state
as pinned DataFrames and runs the same kernels through Spark
semi-joins; an insert that crosses the gate converts the state at that
op. The corpus band table is maintained incrementally (append on
insert, filter on delete), so no step re-hashes the corpus — the
persisted-band-table contract of the 100 TB deployment. DataFrames of
the state (``graph``, ``corpus``, ``bands``) are built on demand with
no Spark job; the maintainer itself writes DataFrames only for
durability. Reference counterpart: the mutable ``condition_vec`` catalog
(rows accrete per condition, ``nl_targeting_save.py:139-146``) served by
a long-lived index.

DURABILITY (VERDICT r10 next #4 — the round-10 maintainer was
driver-memory only; a crash mid-churn lost the maintained index): pass
``state_dir=`` and every maintenance op commits through a
:class:`.graph_delta.GraphDeltaLog` rooted there (commit protocol and
crash story: :mod:`.index_log`) —

- base (init and compaction): graph snapshot + corpus snapshot
  (compaction already pays O(n) for the rebuild, so the snapshot
  doesn't change the asymptotics);
- delta (each insert/delete): the kernel's replacement rows of the
  touched srcs (incl. zero-row tombstones) + its corpus mutation
  (``add`` rows or ``del`` ids) in the SAME directory, all written
  from the op's own result — recovery replays the mutations in op
  order;
- counters + config (churned, n, compactions, op sequence, k/planes/
  seed/...): the marker's ``extra`` dict, advanced by the SAME marker
  swap, so a crash between any two ops recovers the exact pre-op state
  (op-atomic: an op either fully committed or never happened);
- bands: NOT persisted — the band table is a pure per-row function of
  (corpus, seeded planes), so recovery recomputes the identical table
  in one signature pass over the recovered corpus (same cost class as
  reading a persisted copy; steady-state ops still never re-hash).

``GraphMaintainer.recover(spark, state_dir)`` reconstructs the whole
maintained state; the restart test kills after a delete and before a
compaction and pins edge-set equality + counter preservation.
"""

from __future__ import annotations

import os

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F


class GraphMaintainer:
    """Long-lived k-NN-graph index over a mutable corpus.

    Holds the current (corpus, adjacency, band-table) triple in one row
    source for its lifetime, applies bounded maintenance batches through
    the certified graph kernels, and compacts (full rebuild on
    survivors) when the cumulative churned fraction since the last
    build crosses ``compact_churn_frac``. ``graph``, ``corpus`` and
    ``bands`` are read-only relations of the current state."""

    family = "graph"
    _n: int | None = None  # the corpus row count; preset by ``_counted``

    def __init__(
        self,
        corpus: DataFrame,
        dim: int,
        k: int = 6,
        n_planes: int = 24,
        band_bits: int = 6,
        seed: int = 42,
        build_rounds: int = 2,
        id_col: str = "vec_id",
        vec_col: str = "embedding",
        compact_churn_frac: float = 0.5,
        state_dir: str | None = None,
    ) -> None:
        self._configure({
            "dim": dim, "k": k, "n_planes": n_planes,
            "band_bits": band_bits, "seed": seed,
            "build_rounds": build_rounds, "id_col": id_col,
            "vec_col": vec_col, "compact_churn_frac": compact_churn_frac,
        })
        self._init_durability(corpus.sparkSession, state_dir)
        self._churned = 0
        self.compactions = 0
        self._op_seq = 0
        # the build's band table doubles as the maintainer's (identical
        # planes — one corpus signature pass instead of two)
        from .ann import _build_source

        self._src = _build_source(
            corpus, rounds=self.build_rounds, id_col=self.id_col,
            vec_col=self.vec_col, resident=True, n=self._n, **self._kw,
        )
        self._n = self._src.n
        if self._log is not None:
            self._commit_base()

    @classmethod
    def _counted(cls, corpus: DataFrame, n: int, **kw) -> "GraphMaintainer":
        """The maintainer over ``corpus`` whose row count ``n`` the caller
        already took, so the build counts it no second time."""
        self = cls.__new__(cls)
        self._n = n
        self.__init__(corpus, **kw)
        return self

    def _configure(self, config: dict) -> None:
        """Set the build/serve settings from a marker ``config`` dict —
        the one path for a fresh open and for :meth:`recover`."""
        self._config = dict(config)
        for key, value in config.items():
            setattr(self, key, value)
        self._kw = {
            key: config[key]
            for key in ("k", "n_planes", "band_bits", "seed", "dim")
        }

    # -- the state as relations (no Spark job) ------------------------------
    @property
    def graph(self) -> DataFrame:
        return self._src.frame("graph")

    @property
    def corpus(self) -> DataFrame:
        return self._src.frame("vecs").select(
            F.col("id").alias(self.id_col), F.col("v").alias(self.vec_col)
        )

    @property
    def bands(self) -> DataFrame:
        return self._src.frame("bands")

    # -- durability plumbing ----------------------------------------------
    def _init_durability(self, spark, state_dir: str | None) -> None:
        from .graph_delta import GraphDeltaLog

        self.spark = spark
        self.state_dir = state_dir
        self._log = (
            None if state_dir is None else GraphDeltaLog(spark, state_dir)
        )

    def _extra(self) -> dict:
        return {
            "churned": self._churned,
            "n": self._n,
            "compactions": self.compactions,
            "op_seq": self._op_seq,
            "config": self._config,
        }

    def _commit_base(self) -> None:
        """Full (corpus, graph) snapshot — init and compaction only;
        both already pay O(n) (the build), so the snapshot keeps the
        asymptotics."""
        self._log.publish_base(
            self.graph, self._op_seq, extra=self._extra(),
            side={"corpus": self.corpus},
        )

    def _commit_op(self, kind: str, mutation: DataFrame, touched,
                   replaced: dict) -> None:
        """Bounded per-op commit: the corpus mutation (``add``/``del``
        rows) + the kernel's replaced graph rows of the ``touched`` srcs
        + counters in ONE delta — crash anywhere before its marker swap
        and the op never happened."""
        from .ann import _EDGES, _frame

        self._log.publish_delta(
            _frame(self.spark, _EDGES, replaced),
            _frame(self.spark, "src_id long", {"src_id": touched}),
            self._op_seq, extra=self._extra(),
            side={kind: mutation.coalesce(1)},
        )

    @classmethod
    def recover(cls, spark, state_dir: str) -> "GraphMaintainer":
        """Reconstruct the EXACT maintained state from the durable log:
        graph = base+deltas fold; corpus = the base's corpus snapshot +
        each delta's mutation replayed in op order; counters/config from
        the marker; bands recomputed (pure function of the recovered
        corpus)."""
        from .ann import _EDGE_COLS, _id_vec, _row_source
        from .graph_delta import GraphDeltaLog

        log = GraphDeltaLog(spark, state_dir)
        m = log.read()
        if m is None:
            raise FileNotFoundError(f"no durable maintainer state in {state_dir}")
        ex = m["meta"]["extra"]
        self = cls.__new__(cls)
        self._configure(ex["config"])
        self._init_durability(spark, state_dir)
        self._churned = ex["churned"]
        self._n = ex["n"]
        self.compactions = ex["compactions"]
        self._op_seq = ex["op_seq"]
        corpus = spark.read.parquet(os.path.join(log.base(m), "corpus"))
        for _, dpath in log.deltas(m):
            if os.path.isdir(os.path.join(dpath, "add")):
                corpus = corpus.unionByName(
                    spark.read.parquet(os.path.join(dpath, "add"))
                )
            else:
                dl = spark.read.parquet(os.path.join(dpath, "del"))
                corpus = corpus.join(
                    F.broadcast(dl),
                    corpus[self.id_col] == dl[dl.columns[0]],
                    "left_anti",
                )
        self._src = _row_source(
            _id_vec(corpus, self.id_col, self.vec_col),
            log.fold(m).select(*_EDGE_COLS), None, self.dim, resident=True,
        )
        self._src.ensure_bands(
            self.n_planes, self.band_bits, self.seed, self.dim
        )
        return self

    # -- observability ---------------------------------------------------
    @property
    def churn_frac(self) -> float:
        """Cumulative churned rows (inserts + deletes) since the last
        full build, as a fraction of the CURRENT corpus size — the
        observable proxy the compaction policy triggers on."""
        return self._churned / max(self._n, 1)

    # -- maintenance batches ----------------------------------------------
    def insert(self, new_rows: DataFrame) -> None:
        """Link a bounded batch of new vectors in (``knn_graph_insert``'s
        kernel against the CURRENT corpus — earlier inserts are full
        candidates for later batches via the maintained band table)."""
        from .ann import _frame, _id_vec, _insert_kernel, _np_columns

        batch = new_rows.select(self.id_col, self.vec_col)
        nw = _np_columns(_id_vec(batch, self.id_col, self.vec_col))
        b = len(nw["id"])
        if b == 0:
            return
        touched, replaced, bands = _insert_kernel(self._src, nw, **self._kw)
        self._src.apply(touched, replaced)
        self._src = self._src.append(nw, bands)
        self._n += b
        self._churned += b
        if self._log is not None:
            self._op_seq += 1
            self._commit_op(
                "add",
                _frame(self.spark, batch.schema,
                       {self.id_col: nw["id"], self.vec_col: nw["v"]}),
                touched, replaced,
            )

    def delete(self, del_ids: DataFrame) -> None:
        """Tombstone + repair a bounded batch of removals (the
        ``knn_graph_delete`` kernel with the maintained band table —
        survivors are filtered, never re-hashed). The first column of
        ``del_ids`` holds the ids."""
        from .ann import _delete_kernel, _frame, _np_columns

        dl = np.unique(
            _np_columns(del_ids.select(del_ids.columns[0])).popitem()[1]
        )
        d = len(dl)
        if d == 0:
            return
        touched, replaced = _delete_kernel(self._src, dl, **self._kw)
        self._src.apply(touched, replaced)
        self._src.drop(dl)
        self._n -= d
        self._churned += d
        if self._log is not None:
            self._op_seq += 1
            self._commit_op(
                "del", _frame(self.spark, "did long", {"did": dl}),
                touched, replaced,
            )

    # -- compaction policy --------------------------------------------------
    def compact(self) -> None:
        """Full rebuild on the surviving corpus — the operation
        ``knn_graph_delete``'s contract prescribes for amortizing
        tombstone decay. Resets the churn counter. The row source
        rebuilds from the vectors it holds — on the driver under the
        gate, so no Spark job runs before the base write."""
        self._src = self._src.rebuild(rounds=self.build_rounds, **self._kw)
        self._churned = 0
        self.compactions += 1
        if self._log is not None:
            self._op_seq += 1
            self._commit_base()

    def maybe_compact(self) -> bool:
        """Apply the policy: rebuild when the churned fraction since the
        last build reaches ``compact_churn_frac``. Returns whether a
        compaction ran. Call after each maintenance batch (the rebuild
        cost is amortized over ~compact_churn_frac·n churned rows)."""
        if self.churn_frac >= self.compact_churn_frac:
            self.compact()
            return True
        return False

    def close(self) -> None:
        """Nothing to reclaim: durable state is the product, and the row
        source goes with the object."""

    # -- serving -----------------------------------------------------------
    def serve(
        self, probes: DataFrame, k: int = 10, beam: int = 8, rounds: int = 2
    ) -> DataFrame:
        """LSH-entry beam search over the CURRENT graph/corpus: one
        kernel call per probe batch, (probe_id, vec_id, rank, score)
        top-k per probe; the probe collect is its one Spark job.
        The banding is the build's, resolved once and recorded with the
        config, so probes and the maintained band table always hash
        alike (ADVICE r8)."""
        from .ann import _HITS, _frame, _probe_columns, _serve_kernel

        pr = _probe_columns(probes, "probe_id", "probe_vec")
        if not len(pr["pid"]):
            return _frame(self.spark, _HITS, {})
        return _frame(self.spark, _HITS, _serve_kernel(
            self._src, pr, k, beam, rounds, "lsh", self.n_planes,
            self.band_bits, self.seed, self.dim,
        ))
