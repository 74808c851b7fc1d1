"""VectorIndexService — the ONE serve entry over the certified
vector-index parts (VERDICT r11 #8): profile → choose → build → serve →
mutate → compact → recover, one object.

Behind it sit the measured decision table (:func:`index_select.choose_index`)
and exactly one engine per family, built by
:func:`index_select.build_choice`: :class:`index_select.ExactIndex`,
:class:`graph_lifecycle.GraphMaintainer` (durable through
:mod:`.index_log` when given a state dir), and
:class:`index_select.ServingIndex` closures for ivf / ivf_pq / hamming.
Every engine answers ``serve(probes, k)``. This module is the
composition a real user adopts:

>>> svc = VectorIndexService.open(corpus, dim=64, recall_target=0.9)
>>> answers = svc.serve(probes)            # (probe_id, vec_id, score)
>>> svc.close()

Mutable deployments (the reference's accreting ``condition_vec``
catalog, ``nl_targeting_save.py:139-146``) get the durable graph
lifecycle — inserts/deletes commit as index-log deltas, churn triggers
compaction, and a crashed process reopens exactly where it stopped:

>>> svc = VectorIndexService.open(corpus, dim=64, mutable=True,
...                               state_dir="/idx/catalog")
>>> svc.insert(new_rows); svc.delete(dead_ids)
>>> svc.serve(probes)
>>> # process dies; later:
>>> svc2 = VectorIndexService.recover(spark, "/idx/catalog")
>>> svc2.serve(probes)                     # identical post-churn state

Scale shape: every serve is one DataFrame plan per probe BATCH (the
single-probe Spark scheduling floor is documented in
tools/serve_latency.py); maintenance batches are bounded (banded
candidates only); durability IO is O(batch) per commit with O(index)
writes only at compaction. Nothing here adds a new code path — the
facade delegates to the exact surfaces the registry rows certify.
"""

from __future__ import annotations

from dataclasses import replace

from pyspark.sql import DataFrame, SparkSession

from .index_select import IndexChoice, build_choice, choose_index


class VectorIndexService:
    """Facade over (chooser, engine). Construct via :meth:`open` or
    :meth:`recover`, never directly."""

    def __init__(
        self, choice: IndexChoice, engine, k: int, mutable: bool
    ) -> None:
        # choice keeps the chooser's full reasoning for transparency;
        # family is the ENGINE's (durability or pinned graph params can
        # route away from the chooser's pick)
        self.choice = choice
        self.family = engine.family
        self._engine = engine
        self.k = k
        self.mutable = mutable

    # -- lifecycle ------------------------------------------------------
    @classmethod
    def open(
        cls,
        corpus: DataFrame,
        dim: int,
        recall_target: float = 0.9,
        qps_shape: str = "batch",
        mutable: bool = False,
        memory_budget_bytes: int | None = None,
        k: int = 10,
        state_dir: str | None = None,
        index_path: str | None = None,
        graph_params: dict | None = None,
    ) -> "VectorIndexService":
        """Profile the corpus, choose the family from the measured
        decision table, build its engine, return the serving service.

        The chooser's pick is built as is, with two routes to the graph
        family: ``mutable=True`` with a ``state_dir`` (the only family
        with certified durable insert AND delete; :meth:`recover`
        reopens it), and ``graph_params``, which pins the graph build
        knobs (k/n_planes/band_bits/rounds) instead of the data-derived
        defaults — deployments that must reproduce a specific banding
        (or an oracle replay) pass it; the maintainer records the pinned
        values in its marker like any other config. A small mutable
        corpus without ``state_dir`` keeps the chooser's in-memory exact
        pick. ``index_path`` persists the ivf index (otherwise adhoc
        scratch reclaimed by :meth:`close`). Only a service opened
        ``mutable`` accepts insert/delete/compact."""
        n = corpus.count()
        choice = choose_index(
            n, dim, recall_target=recall_target, qps_shape=qps_shape,
            mutable=mutable, memory_budget_bytes=memory_budget_bytes,
        )
        build = choice
        if graph_params or (mutable and state_dir is not None):
            # unpinned params default to _graph_params(n) in build_choice
            build = replace(choice, family="graph", params=graph_params or {})
        engine = build_choice(
            build, corpus, dim=dim,
            index_path=state_dir if build.family == "graph" else index_path,
        )
        return cls(choice, engine, k, mutable)

    @classmethod
    def recover(
        cls, spark: SparkSession, state_dir: str, k: int = 10
    ) -> "VectorIndexService":
        """Reopen a durable mutable service exactly where it stopped:
        folds the index log's (base, deltas) and replays the corpus
        mutations (GraphMaintainer.recover's certified restart
        contract)."""
        from .graph_lifecycle import GraphMaintainer

        eng = GraphMaintainer.recover(spark, state_dir)
        choice = choose_index(eng._n, eng.dim, mutable=True)
        return cls(choice, eng, k, mutable=True)

    # -- serve ----------------------------------------------------------
    def serve(self, probes: DataFrame) -> DataFrame:
        """Answer one probe batch in one plan: (probe_id, vec_id, score),
        top-k per probe — the uniform contract across families."""
        return self._engine.serve(probes, self.k).select(
            "probe_id", "vec_id", "score"
        )

    # -- mutation (mutable services only) -------------------------------
    def _mutable(self):
        if not self.mutable:
            raise ValueError(
                f"index family {self.family!r} is static — open the "
                "service with mutable=True for insert/delete/compact"
            )
        return self._engine

    def insert(self, new_rows: DataFrame) -> None:
        """Bounded incremental insert; graph services auto-compact when
        cumulative churn crosses the maintainer's policy."""
        m = self._mutable()
        m.insert(new_rows)
        m.maybe_compact()

    def delete(self, del_ids: DataFrame) -> None:
        """Incremental delete (banded neighbor repair on the graph
        family); same auto-compaction policy."""
        m = self._mutable()
        m.delete(del_ids)
        m.maybe_compact()

    def compact(self) -> None:
        """Force a compaction (full rebuild on survivors + fresh base
        snapshot in the index log). No-op for the exact engine — a
        corpus scan has nothing to compact."""
        self._mutable().compact()

    @property
    def churn_frac(self) -> float:
        return self._mutable().churn_frac

    # -- teardown -------------------------------------------------------
    def close(self) -> None:
        """Reclaim adhoc scratch (the ivf family's pid-scratch index;
        durable maintainer state is the product — never deleted here)."""
        self._engine.close()
