"""Execution-shape helpers shared across operator families."""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.types import StructField, StructType


def fan_out(df: DataFrame, target: int | None = None) -> DataFrame:
    """Ensure a DataFrame entering an Arrow/Python (``mapInPandas``) stage
    has at least ``defaultParallelism`` partitions.

    A small scan — one parquet file at test scale — arrives as a single
    partition, which serializes the whole Python stage through one worker
    (measured 4× on the sf0.1 shingle stage). At cluster scale inputs
    already exceed the core count and this is a no-op; the partition count
    comes from plan metadata, no job runs. The round-robin shuffle moves
    only the rows feeding the Python stage, and every consumer downstream
    of our Arrow stages is order-insensitive (sets, joins, aggregates), so
    the reshuffle is semantics-free.
    """
    sc = df.sparkSession.sparkContext
    target = target or sc.defaultParallelism
    if df.rdd.getNumPartitions() < target:
        return df.repartition(target)
    return df


def local_frame(spark, pdf: pd.DataFrame, schema) -> DataFrame:
    """``pdf`` as a local relation of ``schema`` (a StructType or DDL
    string) whose collect runs no Spark job, also when ``pdf`` is empty.
    pyspark skips Arrow for an EMPTY pandas frame and plans it as an RDD
    scan, so its collect runs one job; an empty ``pdf`` becomes one
    all-null row under ``limit(0)``, which the optimizer folds into an
    empty local relation (every field of it nullable)."""
    if len(pdf):
        return spark.createDataFrame(pdf, schema)
    if isinstance(schema, str):
        schema = StructType.fromDDL(schema)
    return spark.createDataFrame(
        pd.DataFrame([[None] * len(schema.fields)], columns=schema.names),
        StructType([StructField(f.name, f.dataType) for f in schema.fields]),
    ).limit(0)


def pid_scratch(name: str, sf_dir: str, root: str | None = None) -> str:
    """Repo-relative scratch path for a persisted index, keyed by process
    id (concurrent pytest/parity/bench runs can't overwrite each other's
    index mid-read) and fixture scale. Prunes sibling directories left by
    DEAD processes for the same index name on the way in, so repeated
    runs don't grow the scratch area unboundedly."""
    import os
    import shutil

    repo_root = root or os.path.dirname(
        os.path.dirname(os.path.abspath(__file__))
    )
    scratch = os.path.join(repo_root, ".scratch")
    prefix = f"{name}_"
    if os.path.isdir(scratch):
        for d in os.listdir(scratch):
            if not d.startswith(prefix):
                continue
            pid_s = d.rsplit("_", 1)[-1]
            if not pid_s.isdigit() or int(pid_s) == os.getpid():
                continue
            try:
                os.kill(int(pid_s), 0)  # raises if the owner is gone
            except ProcessLookupError:
                shutil.rmtree(os.path.join(scratch, d), ignore_errors=True)
            except PermissionError:
                pass  # live pid under another user: leave it
    return os.path.join(
        scratch,
        f"{name}_{os.path.basename(sf_dir.rstrip('/'))}_{os.getpid()}",
    )


def parquet_scan_units(path: str) -> tuple[int, int]:
    """(files, row_groups) for a parquet file/dir/glob — row_groups is
    the MAXIMUM scan parallelism any plan can extract, because parquet
    splits at row-group granularity only (a one-row-group file puts
    every row in one task no matter how many byte-range splits the
    scan plans; measured 10.5 s vs 2.15 s on an identical multi-unit
    copy, SCALING.md round 9). Probes call this BEFORE blaming an
    operator for a serialized scan stage; fixture generators use it to
    certify their outputs are layout-parallel. Metadata-only: no job,
    no data read."""
    import glob as _glob
    import os as _os

    import pyarrow.parquet as _pq

    if _os.path.isdir(path):
        # recursive: partitioned layouts (shard=*/ dirs from
        # graph_write_index, centroid-partitioned IVF indexes) keep their
        # data files one level down — a top-level-only glob read as
        # (0, 0), i.e. "zero scan parallelism" instead of an error
        # (ADVICE r10)
        files = sorted(
            _glob.glob(_os.path.join(path, "**", "*.parquet"), recursive=True)
        )
    else:
        files = sorted(_glob.glob(path)) if _glob.has_magic(path) else [path]
    if not files:
        raise FileNotFoundError(
            f"parquet_scan_units: no parquet files match {path!r} — "
            "a (0, 0) result would misread as a layout fact"
        )
    return len(files), sum(_pq.ParquetFile(f).num_row_groups for f in files)
