"""Frequency monitoring at ingest: incrementally maintained count-min
sketch state.

The batch sketch (operators/frequency.py:count_min_cells) scans the
whole corpus per call; a sharded ingest that wants point-frequency
lookups as data arrives cannot. The observation that makes the
incremental sketch exact (identical to a batch build over everything
drained): count-min cells are plain sums over key occurrences, so they
are ADDITIVE across batches — the same cell-additivity contract
psi_ingest exploits for PSI histograms. State:

- ``cells/`` — (depth_row, bucket, cell_count): each batch's own
  depth×width cell aggregate. Per-batch work is sketching THAT batch
  once (output bounded by depth × width, not rows); history is never
  re-tokenized or re-hashed.

Estimates are derived at query time by summing the stored cells and
handing them to the SAME ``count_min_estimate`` readout the batch
operator uses — derived statistics are not stored, the state stays
append-only, and replays stay idempotent (the index_ingest stance).

Delivery semantics: ``foreachBatch`` is at-least-once — state is
partitioned by ``batch_id`` and each batch OVERWRITES its own
partition, so a replay rewrites identical content (dedup_ingest's
contract; md5 cell placement is content-addressed, so the rewritten
cells are bit-identical).

Equivalence contract: after draining any sequence of waves,
``query_estimates`` over the accumulated state returns EXACTLY what
``count_min_cells`` + ``count_min_estimate`` return over the
concatenation of all drained rows (cell addition is exact integer
math) — pinned by tests/test_sketch_ingest.py. The streaming layer's
correctness thereby inherits ``cm_token_counts``'s DuckDB oracle.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .state import CellSpec, drain_cells, json_stream, pin_params

CELLS = CellSpec(
    "cells",
    "depth_row int, bucket int, cell_count long",
    ("depth_row", "bucket"),
    "sum",
)

#: Sketch geometry fixed per state directory: cells from different
#: (width, depth) are not mergeable, so the ingest PINS one shape in a
#: geometry/ state relation written on first drain and asserted on
#: every later drain and readout — a mismatched probe would otherwise
#: read mod-width buckets that were placed mod a different width and
#: silently UNDERCOUNT, the one error class the sketch contract rules
#: out.
DEFAULT_WIDTH, DEFAULT_DEPTH = 2048, 4


def _pin_geometry(
    spark: SparkSession, work_dir: str, width: int, depth: int, write: bool
) -> None:
    """Pin (or assert) the state's ``(width, depth)`` together with
    the bucket-addressing version: state written before the version
    column existed reads it as NULL (v1 = the 4-hex-digit addressing),
    whose cells place the same key in different buckets than the
    current arithmetic — refused like any other mismatch."""
    from ..operators.frequency import CM_ADDR_VERSION

    pin_params(
        spark,
        os.path.join(work_dir, "geometry"),
        "width int, depth int, addr_version int",
        (int(width), int(depth), int(CM_ADDR_VERSION)),
        write,
    )


def run_incremental_sketch(
    spark: SparkSession,
    input_path: str,
    work_dir: str,
    width: int = DEFAULT_WIDTH,
    depth: int = DEFAULT_DEPTH,
) -> None:
    """Drain ``input_path`` (JSON-lines doc files: doc_id, text,
    source) into the count-min cell state under ``work_dir`` (cells/,
    ckpt/), sketching every lowercased whitespace token occurrence.
    ``CELLS.compact`` folds the cell chain between drains."""
    _pin_geometry(spark, work_dir, width, depth, write=True)

    def sketch_cells(batch_df: DataFrame) -> DataFrame:
        from ..operators.frequency import count_min_cells
        from ..operators.packing import engine_safe_tokens

        toks = batch_df.select(
            F.explode(
                F.transform(engine_safe_tokens("text"), F.lower)
            ).alias("token")
        )
        # the SAME cell builder as the batch sketch (incremental ≡
        # batch by construction: md5 placements are content-addressed
        # and cells are additive)
        return count_min_cells(toks, "token", width, depth)

    drain_cells(json_stream(spark, input_path), work_dir, sketch_cells, CELLS)


def query_estimates(
    spark: SparkSession,
    work_dir: str,
    keys: DataFrame,
    width: int = DEFAULT_WIDTH,
    depth: int = DEFAULT_DEPTH,
) -> DataFrame:
    """Point-frequency estimates for ``keys.token`` over everything
    drained so far — identical readout to the batch path
    (``count_min_estimate``), but over the cell-wise SUM of the stored
    per-batch sketches instead of a fresh corpus scan. Returns
    ``(token, est_count)``. The state's pinned geometry is asserted
    (probing a sketch with the wrong width/depth silently undercounts).

    Plan: one sum over the state (bounded by batches × depth × width
    rows), broadcast to the probe join — nothing re-reads raw text."""
    from ..operators.frequency import count_min_estimate

    _pin_geometry(spark, work_dir, width, depth, write=False)
    return count_min_estimate(
        keys, CELLS.merged(spark, work_dir), "token", width, depth
    )
