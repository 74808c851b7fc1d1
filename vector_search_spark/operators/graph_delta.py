"""LSM-style durable publish for k-NN-graph adjacency: the log under a
durable :class:`.graph_lifecycle.GraphMaintainer`.

The commit protocol (marker, fresh directories, GC, crash story) is
:mod:`.index_log`'s. This module adds what is particular to a graph:

- a base holds ``rows/`` — a full adjacency snapshot in the
  ``graph_write_index`` shard format (hash-sharded parquet);
- a delta holds ``rows/`` + ``touched/`` — the full replacement
  adjacency of every src the op touched (new nodes + patched
  neighbors; ``knn_graph_insert``/``knn_graph_delete`` replace a touched
  src's rows wholesale, so per-src latest-delta-wins reconstruction is
  exact) plus the touched-src list itself. A src in ``touched`` with
  zero rows in ``rows`` is a DELETE tombstone;
- the marker's meta carries ``base_rows``, ``delta_rows`` and the
  caller's ``extra`` dict.

Per-op publish IO is bounded by (batch + touched)·k rows — it scales
with the BATCH, not the index. ``fold`` rebuilds the adjacency from base
+ deltas with per-src latest-wins; the maintainer's churn policy decides
when to publish a fresh base instead — exactly the LSM economics:
O(index) writes happen only at compaction, amortized over ~frac·n
mutated rows.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .index_log import IndexLog

GRAPH_SCHEMA = "src_id long, nbr_id long, rank long, score double"
_GRAPH_COLS = ["src_id", "nbr_id", "rank", "score"]


def _parquet_num_rows(path: str) -> int:
    """Row count from parquet FOOTER metadata — no Spark job."""
    import glob as _glob

    import pyarrow.parquet as _pq

    files = _glob.glob(os.path.join(path, "**", "*.parquet"), recursive=True)
    return sum(_pq.ParquetFile(f).metadata.num_rows for f in files)


def _write_side(d: str, side: dict[str, DataFrame] | None) -> None:
    """Caller-owned relations committed in the same directory as the
    graph rows (the maintainer's corpus snapshot and mutation log)."""
    for name, df in (side or {}).items():
        df.write.mode("overwrite").parquet(os.path.join(d, name))


class GraphDeltaLog(IndexLog):
    """Durable base+delta log for one graph index directory.

    ``publish_base`` commits a full snapshot, ``publish_delta`` the
    bounded replacement rows of the touched srcs; ``side`` relations
    ride in the same commit. ``fold(read())`` is the committed
    adjacency."""

    def __init__(self, spark: SparkSession, root: str) -> None:
        super().__init__(root)
        self.spark = spark

    # -- write ----------------------------------------------------------
    def publish_base(
        self,
        graph: DataFrame,
        extra: dict | None = None,
        side: dict[str, DataFrame] | None = None,
    ) -> dict:
        from .ann import graph_write_index

        def write(d: str) -> dict:
            graph_write_index(graph.select(*_GRAPH_COLS), f"{d}/rows")
            _write_side(d, side)
            return {
                "base_rows": _parquet_num_rows(f"{d}/rows"),
                "delta_rows": 0,
                "extra": extra or {},
            }

        return self.commit_base(write)

    def publish_delta(
        self,
        rows: DataFrame,
        touched: DataFrame,
        batch_id: int,
        extra: dict | None = None,
        side: dict[str, DataFrame] | None = None,
    ) -> dict:
        """Commit one op's delta: ``rows`` is the full replacement
        adjacency of every src in ``touched`` (the distinct src ids in its
        first column). The graph kernels return exactly these two, so the
        write is bounded by touched·k rows and needs no join against the
        post-op graph."""
        t = touched.select(F.col(touched.columns[0]).alias("src_id"))
        meta = self.read()["meta"]

        def write(d: str) -> dict:
            # one file per delta: a delta is one batch's worth of rows
            # (4 scalars each) — a 1M-row maintenance batch is ~32 MB; a
            # deployment with bigger batches raises the coalesce
            rows.select(*_GRAPH_COLS).coalesce(1).write.mode(
                "overwrite"
            ).parquet(f"{d}/rows")
            t.coalesce(1).write.mode("overwrite").parquet(f"{d}/touched")
            _write_side(d, side)
            return {
                **meta,
                "delta_rows": meta["delta_rows"]
                + _parquet_num_rows(f"{d}/rows"),
                "extra": extra or {},
            }

        return self.commit_delta(batch_id, write)

    # -- read -----------------------------------------------------------
    def fold(self, m: dict) -> DataFrame:
        """base + deltas with per-src LATEST-DELTA-WINS: a src's rows
        come from the newest delta that touched it (zero rows there =
        tombstoned), else from the base. One union + one tiny aggregate
        over delta-sized relations — recovery cost is O(base + deltas),
        paid once per restart."""
        from .ann import graph_read_index

        base = graph_read_index(self.spark, f"{self.base(m)}/rows")
        deltas = self.deltas(m)
        if not deltas:
            return base
        rows = None
        touched = None
        for b, dpath in deltas:
            r = self.spark.read.schema(GRAPH_SCHEMA).parquet(
                f"{dpath}/rows"
            ).withColumn("_bid", F.lit(b))
            t = self.spark.read.schema("src_id long").parquet(
                f"{dpath}/touched"
            ).withColumn("_bid", F.lit(b))
            rows = r if rows is None else rows.unionByName(r)
            touched = t if touched is None else touched.unionByName(t)
        latest = touched.groupBy("src_id").agg(F.max("_bid").alias("_bid"))
        kept = rows.join(F.broadcast(latest), ["src_id", "_bid"]).select(
            *_GRAPH_COLS
        )
        return (
            base.join(
                F.broadcast(latest.select("src_id")), "src_id", "left_anti"
            )
            .select(*_GRAPH_COLS)
            .unionByName(kept)
        )
