"""Sweep-line interval-overlap aggregation (SURVEY §2.4 A10, §2.5 W1-W3).

The reference's one genuinely custom operator (camp_vec_rcmn.py:94-186):
weighted conditions become [start, end] integer intervals; overlapping
intervals accumulate weight; the output is the set of elementary intervals
with their total weight. The reference implements it as a single-threaded
Python sort + running variable; here it is windows over a distributed plan.

Semantics (intended, including the reference's tie rules):

- Ends are INCLUSIVE integers (condition values 0‥9999999999, or dates as
  epoch days — camp_vec_rcmn.py:113-132). Touching intervals [1,5] and
  [5,9] overlap at 5 (the reference sorts starts before ends at equal
  points — T3, camp_vec_rcmn.py:147,171 — which is exactly inclusive-end
  semantics). The date ``+1`` gap adjustment (camp_vec_rcmn.py:177-178) is
  the same fact seen from the exclusive side.
- We normalize to half-open [start, end+1) events, so no order-dependent
  tie-break survives into the plan: deltas at the same point are summed
  first, which makes the running sum independent of event ordering within
  a point — deterministic under any shuffle.

Scale: one explode (2 events/interval), one partial-agg groupBy, one window
per name. The window partitions by interval name — the reference workload
has many names (one per condition attribute), so partitions stay balanced;
a single giant name would need range-partitioned segmenting, which
``spark.sql.execution.rangeExchange`` already provides via the window sort.

``sweep_segments`` is the same sweep as a driver numpy kernel, for interval
sets that are already bounded and collected (a recommendation's top-n order
history): one sort and one sequential ``np.cumsum``, no Spark job.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def sweep_overlap(
    df: DataFrame,
    name_col: str = "name",
    start_col: str = "start",
    end_col: str = "end",
    weight_col: str | None = None,
) -> DataFrame:
    """Overlap weight per elementary interval, per name.

    Input: one row per interval (inclusive integer [start, end], optional
    weight, default 1). Output columns: ``name, seg_start, seg_end, weight``
    with inclusive ends, only segments with weight > 0, non-overlapping and
    ordered per name.
    """
    w = F.col(weight_col).cast("double") if weight_col else F.lit(1.0)
    events = df.select(
        F.col(name_col).alias("name"),
        F.explode(
            F.array(
                F.struct(
                    F.col(start_col).cast("long").alias("point"),
                    w.alias("delta"),
                ),
                F.struct(
                    (F.col(end_col).cast("long") + 1).alias("point"),
                    (-w).alias("delta"),
                ),
            )
        ).alias("ev"),
    ).select("name", "ev.point", "ev.delta")

    # Collapse simultaneous events first → running sum is order-independent.
    deltas = events.groupBy("name", "point").agg(F.sum("delta").alias("delta"))

    win = Window.partitionBy("name").orderBy("point")
    run = Window.partitionBy("name").orderBy("point").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    segs = deltas.select(
        "name",
        F.col("point").alias("seg_start"),
        (F.lead("point").over(win) - 1).alias("seg_end"),
        F.sum("delta").over(run).alias("weight"),
    )
    return segs.filter(
        F.col("seg_end").isNotNull() & (F.col("weight") > 0)
    )


def sweep_overlap_dates(
    df: DataFrame,
    name_col: str = "name",
    start_col: str = "start_date",
    end_col: str = "end_date",
    weight_col: str | None = None,
) -> DataFrame:
    """Date-flavored sweep (camp_vec_rcmn.py:162-186): dates → epoch days →
    integer sweep → back to dates. Output: ``name, seg_start, seg_end,
    weight`` as DateType with inclusive ends."""
    epoch = F.lit("1970-01-01").cast("date")
    ints = df.select(
        F.col(name_col).alias("name"),
        F.datediff(F.col(start_col).cast("date"), epoch).alias("start"),
        F.datediff(F.col(end_col).cast("date"), epoch).alias("end"),
        *([F.col(weight_col)] if weight_col else []),
    )
    out = sweep_overlap(ints, "name", "start", "end", weight_col)
    return out.select(
        "name",
        F.date_add(epoch, F.col("seg_start").cast("int")).alias("seg_start"),
        F.date_add(epoch, F.col("seg_end").cast("int")).alias("seg_end"),
        "weight",
    )


def sweep_segments(starts, ends, weights):
    """``sweep_overlap`` for one name on the driver: weighted inclusive
    integer [start, end] intervals → ``(seg_start, seg_end, weight)`` arrays
    of the elementary segments with weight > 0, ordered by ``seg_start``.

    The running weight is one sequential ``np.cumsum`` over the events
    sorted by point (starts before ends at a tie, as the reference sorts
    them); a segment's weight is the sum after the last event at its start
    point, i.e. every event at that point summed in. Sequential, never
    pairwise, so a weight compared with a threshold is a left fold.
    """
    w = np.asarray(weights, dtype=np.float64)
    points = np.concatenate(
        [np.asarray(starts, dtype=np.int64), np.asarray(ends, dtype=np.int64) + 1]
    )
    order = np.argsort(points, kind="stable")
    points = points[order]
    run = np.cumsum(np.concatenate([w, -w])[order])
    last = np.ones(len(points), dtype=bool)
    last[:-1] = points[1:] != points[:-1]
    pts, run = points[last], run[last]
    seg_start, seg_end, weight = pts[:-1], pts[1:] - 1, run[:-1]
    keep = weight > 0
    return seg_start[keep], seg_end[keep], weight[keep]
