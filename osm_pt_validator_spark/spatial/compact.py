"""Hierarchical cell-cover compaction (H3 ``compact``-style, on the
packed equal-angle grid of functions/geo.py).

A covering expressed at one fine resolution wastes join keys wherever
large contiguous areas are fully covered: 4^k sibling cells carry the
information of one ancestor. Compaction replaces every COMPLETE sibling
quad (all 4 children present) by its parent, recursively, yielding the
minimal multi-resolution covering — the standard preparation step
before shipping a polygon cover to a broadcast join or serializing it
as an index artifact.

Scale shape: a driver loop of (res - min_res) rounds, each one
map-side-combining aggregation over a set that SHRINKS ~4x per round —
the first round dominates and is a single groupBy on the parent key.
No collect, no python per-row work.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from osm_pt_validator_spark.functions.geo import cell_parent, cell_to_ij, cells_in_box


def compact_cells(
    cells: DataFrame,
    res: int,
    min_res: int = 0,
    cell_col: str = "cell",
) -> DataFrame:
    """Compact a set of occupied cells at resolution ``res`` into a
    minimal multi-resolution covering.

    Input: any DataFrame with a packed-cell column (duplicates fine —
    deduped on entry). Output: (cell, res) rows; the union of children
    of the output equals the input set exactly, and no output cell at
    resolution r > min_res has all 4 siblings present.
    """
    level = cells.select(F.col(cell_col).alias("cell")).distinct()
    outs: list[DataFrame] = []
    for r in range(res, min_res, -1):
        with_parent = level.withColumn("parent", cell_parent(F.col("cell"), 1))
        promoted = (
            with_parent.groupBy("parent")
            .agg(F.count(F.lit(1)).alias("__c"))
            .filter(F.col("__c") == 4)
            .select("parent")
        )
        kept = (
            with_parent.join(promoted, "parent", "left_anti")
            .select("cell")
            .withColumn("res", F.lit(r))
        )
        outs.append(kept)
        level = promoted.select(F.col("parent").alias("cell"))
    outs.append(level.withColumn("res", F.lit(min_res)))
    result = outs[0]
    for o in outs[1:]:
        result = result.unionByName(o)
    return result


def uncompact_cells(
    compacted: DataFrame,
    res: int,
    cell_col: str = "cell",
    res_col: str = "res",
) -> DataFrame:
    """Inverse: expand a multi-resolution covering back to the uniform
    ``res`` cell set. Each (cell, r) row explodes into its 4^(res-r)
    descendants — the side x side box of ``geo.cells_in_box`` at the
    cell's (i, j) scaled by side = 2^(res - r) — the exact preimage of
    :func:`compact_cells`."""
    # variable-width shift: the Python shiftleft() only takes literal
    # bit counts, so the data-dependent (res - r) shift goes through SQL
    side = F.expr(f"shiftleft(1L, {res} - {res_col})")
    i, j = cell_to_ij(F.col(cell_col))
    children = cells_in_box(i * side, (i + 1) * side - 1, j * side, (j + 1) * side - 1)
    return compacted.select(F.explode(children).alias("cell"))
