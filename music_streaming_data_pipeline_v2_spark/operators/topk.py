"""Top-K per group via ranking windows (reference W1/W2 + P7/T1).

Reference: ``row_number() over (partition by keys order by count desc)``
then ``rank <= K`` (glue_jobs/music-streaming-transform.py:126-130,
150-153). ``row_number`` with a non-unique ordering breaks ties
arbitrarily — nondeterministic across runs/engines — so this engine
ALWAYS appends deterministic tie-break columns to the ordering
(SURVEY.md §2.5 note); oracle comparisons then hash-match.

Scale note: a ranking window shuffles on the partition keys and sorts
within each. For top-K per group that is the right plan when groups are
many and small (genre×date). If one group is huge/skewed, pre-aggregate
to the item grain first (the callers here always rank an already
aggregated count table, so window input is |groups|×|items| not raw
events) — this is the partial-topK-then-final shape; AQE skew-split
handles residual imbalance.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def top_k_per_group(
    df: DataFrame,
    partition_cols: list[str],
    order_col: str,
    k: int,
    tie_break_cols: list[str] | None = None,
) -> DataFrame:
    """Rank rows within each partition by ``order_col`` descending,
    ties by ``tie_break_cols`` ascending, and keep the top K as
    ``rank`` 1..K."""
    ordering: list[Column] = [F.desc(order_col)]
    for c in tie_break_cols or []:
        ordering.append(F.asc(c))
    w = Window.partitionBy(*partition_cols).orderBy(*ordering)
    return df.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= k)


def skyline_2d(
    df: DataFrame,
    by: str,
    x_col: str,
    y_col: str,
    id_cols: list[str] | None = None,
) -> DataFrame:
    """Per-group 2-D Pareto skyline, both criteria MINIMIZED: the rows
    no same-group row dominates (dominate = ≤ on both of ``x_col``,
    ``y_col`` and < on at least one — Börzsönyi et al., "The Skyline
    Operator", ICDE 2001). Ties that are equal on BOTH criteria
    dominate neither way, so coincident optima all survive. NULL in
    either criterion excludes the row.

    Physical shape — the reason this is an operator and not the
    textbook quadratic self-join: a row p survives iff
    (a) p.y is the MINIMUM y at its exact x (equal-x domination needs
    strict y), and (b) every strictly-smaller x in the group has
    min-y > p.y (smaller-x domination needs only y ≤). Both facts
    come from the (group, x) → min(y) relation: one map-side
    collapse, a cumulative-min window over the per-group x order
    (1-row-preceding frame, so "strictly cheaper"), and ONE hash
    join back to the rows — O(n log n) in the per-group distinct-x
    count, versus the NOT-EXISTS all-pairs the DuckDB oracle runs.
    At 100 TB the all-pairs form is groups × n² and unrunnable; this
    shape shuffles the x-histogram, never pairs."""
    from pyspark.sql import Window

    pts = df.filter(
        F.col(x_col).isNotNull() & F.col(y_col).isNotNull()
    )
    g = pts.groupBy(by, x_col).agg(F.min(y_col).alias("_gmin"))
    w = (
        Window.partitionBy(by)
        .orderBy(x_col)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    fr = g.select(
        by,
        x_col,
        "_gmin",
        F.min("_gmin").over(w).alias("_prevmin"),
    )
    keep = pts.join(fr, [by, x_col]).filter(
        (F.col(y_col) == F.col("_gmin"))
        & (
            F.col("_prevmin").isNull()
            | (F.col("_prevmin") > F.col(y_col))
        )
    )
    out_cols = [by, *(id_cols or []), x_col, y_col]
    return keep.select(*out_cols)
