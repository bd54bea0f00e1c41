"""Spatial operators: periodic-boundary distances, rectangular cutouts,
and the cell-partitioned layout that makes cutouts prune at scale.

Reference: ``get_box_mask`` / rectangular cutout with periodic wrap
(src/scida/misc.py:181-231, exposed via
src/scida/interfaces/mixins/spatial.py:96-113):
``d = |x - c|; d = where(d > box/2, box - d, d); mask = all(d < w/2)``.

The mask itself is pure Column arithmetic — whole-stage codegen. At
100 TB a cutout that scans the whole snapshot is wrong no matter how
fast the mask is, so ``save_spatial_partitioned`` writes the table
partitioned by coarse per-axis cell ids (``floor(x / cell_width)``)
and ``rect_cutout_pruned`` turns the cutout box (with periodic wrap)
into an ``IN``-list on those partition columns: Spark's partition
pruning then skips every non-overlapping cell directory before any
file is opened, and the exact mask runs only on the surviving cells.
The cell list is a conservative superset, so pruning never changes
results — ``tests/test_spatial_layout.py`` pins both the equality and
the ``PartitionFilters`` plan shape.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F


def pbc_distance_1d(x: Column, center: float, box_size: float) -> Column:
    """Periodic minimum-image distance along one axis."""
    d = F.abs(x - F.lit(center))
    return F.when(d > box_size / 2.0, F.lit(box_size) - d).otherwise(d)


def box_mask(
    coords: list[Column], center: list[float], widths: list[float], box_size: float
) -> Column:
    """Boolean mask: inside an axis-aligned box with periodic wrap."""
    mask = F.lit(True)
    for x, c, w in zip(coords, center, widths):
        mask = mask & (pbc_distance_1d(x, c, box_size) < w / 2.0)
    return mask


def rect_cutout(
    df: DataFrame,
    coord_col: str | list[str],
    center: list[float],
    widths: list[float],
    box_size: float,
) -> DataFrame:
    """Rectangular spatial cutout; ``coord_col`` is either one
    ARRAY<DOUBLE> column name or a list of scalar column names."""
    if isinstance(coord_col, str):
        coords = [F.col(coord_col)[i] for i in range(len(center))]
    else:
        coords = [F.col(c) for c in coord_col]
    return df.filter(box_mask(coords, center, widths, box_size))


def pbc_radial_distance(coords: list[Column], center: list[float], box_size: float) -> Column:
    """Euclidean distance under the minimum-image convention."""
    total = F.lit(0.0)
    for x, c in zip(coords, center):
        d = pbc_distance_1d(x, c, box_size)
        total = total + d * d
    return F.sqrt(total)


# --------------------------------------------------------------------------
# Cell-partitioned layout: cutouts become partition pruning
# --------------------------------------------------------------------------


def spatial_cell(x: Column, box_size: float, ncells: int) -> Column:
    """Coarse cell id along one axis: ``floor(x / cell_width)``, with the
    ``x == box_size`` edge clamped into the last cell (numpy-histogram
    edge rule, same convention as ``operators/histogram.py``)."""
    cell_w = box_size / ncells
    return F.least(F.lit(ncells - 1), F.floor(x / F.lit(cell_w))).cast("int")


def save_spatial_partitioned(
    df: DataFrame,
    coord_cols: list[str],
    box_size: float,
    ncells: int,
    path: str,
) -> None:
    """Write ``df`` as parquet partitioned by per-axis cell ids.

    One directory per occupied cell (``cell_0=…/cell_1=…/``). This is
    the ingest-time layout choice for spatial workloads — the analog of
    the bucketed layout (``queries_scida._bucketed_cached``) for
    equi-join keys:
    pay one pass now so every later cutout reads only the cells it
    overlaps. Keep
    ``ncells`` coarse (8-32 per axis): partition count is ``ncells**d``
    and parquet wants large files; fine-grained selectivity comes from
    row-group min/max on the coordinate columns inside each cell.
    """
    cells = [
        spatial_cell(F.col(c), box_size, ncells).alias(f"cell_{i}")
        for i, c in enumerate(coord_cols)
    ]
    (
        df.select("*", *cells)
        .write.mode("overwrite")
        .partitionBy(*[f"cell_{i}" for i in range(len(coord_cols))])
        .parquet(path)
    )


def cells_overlapping(center: float, width: float, box_size: float, ncells: int) -> list[int]:
    """Cell ids whose interval intersects the cutout slab
    ``[center - width/2, center + width/2]`` under periodic wrap.

    Conservative superset: open/closed boundary cases all resolve to
    "include" only when a strictly-inside point could land in the cell
    (the mask is strict ``< width/2``, so a slab edge exactly on a cell
    boundary excludes that cell — see the test's edge cases).
    """
    if width >= box_size:
        return list(range(ncells))
    cell_w = box_size / ncells
    a, b = center - width / 2.0, center + width / 2.0
    if a < 0.0:
        intervals = [(0.0, b), (a % box_size, box_size)]
    elif b > box_size:
        intervals = [(a, box_size), (0.0, b % box_size)]
    else:
        intervals = [(a, b)]
    out = []
    for k in range(ncells):
        klo, khi = k * cell_w, (k + 1) * cell_w
        if any(klo < ib and khi > ia for ia, ib in intervals):
            out.append(k)
    return out


def rect_cutout_pruned(
    spark: SparkSession,
    path: str,
    coord_cols: list[str],
    center: list[float],
    widths: list[float],
    box_size: float,
    ncells: int,
) -> DataFrame:
    """PBC rectangular cutout over a ``save_spatial_partitioned`` table.

    Per axis: ``cell_i IN (overlapping cells)`` — a predicate on
    partition columns only, which Catalyst evaluates against the
    directory listing (``PartitionFilters`` in the scan node) so
    non-overlapping cells are never read — then the exact periodic
    ``box_mask`` on the coordinate values. Equivalent by construction
    to ``rect_cutout`` on the unpartitioned table.
    """
    df = spark.read.parquet(path)
    for i, (c, w) in enumerate(zip(center, widths)):
        df = df.filter(F.col(f"cell_{i}").isin(cells_overlapping(c, w, box_size, ncells)))
    coords = [F.col(c) for c in coord_cols]
    return df.filter(box_mask(coords, center, widths, box_size)).drop(
        *[f"cell_{i}" for i in range(len(coord_cols))]
    )


# --------------------------------------------------------------------------
# Z-order (Morton) sort: row-group-level skipping inside each cell
# --------------------------------------------------------------------------


def zorder_key(cells: list[Column], bits: int = 16) -> Column:
    """Morton code of per-axis cell ids (bit interleave, JVM-side
    shift/or expressions — whole-stage codegen, no UDF).

    The layout story has two levels: directory-level pruning from the
    coarse ``save_spatial_partitioned`` cells (PartitionFilters), then
    WITHIN each parquet file, rows sorted by the Morton code of a
    finer grid cluster spatially-adjacent points into the same row
    groups, so the scan's min/max row-group statistics skip most of a
    cell for small cutouts. This is the open-Spark equivalent of
    Delta/Iceberg Z-ORDER clustering, expressed as a sort key.
    """
    d = len(cells)
    out = F.lit(0).cast("long")
    for b in range(bits):
        for i, c in enumerate(cells):
            bit = F.shiftright(c.cast("long"), b).bitwiseAND(F.lit(1))
            out = out.bitwiseOR(F.shiftleft(bit, b * d + i))
    return out


def save_spatial_partitioned_zordered(
    df: DataFrame,
    coord_cols: list[str],
    box_size: float,
    ncells: int,
    path: str,
    fine_bits: int = 10,
) -> None:
    """``save_spatial_partitioned`` + Morton-sorted rows within each
    cell file: coarse cells drive partition pruning, the fine
    (``2^fine_bits`` per axis) Morton order drives parquet row-group
    min/max skipping on the coordinate columns inside each cell."""
    fine_n = 1 << fine_bits
    cells = [
        spatial_cell(F.col(c), box_size, ncells).alias(f"cell_{i}")
        for i, c in enumerate(coord_cols)
    ]
    fine = [
        spatial_cell(F.col(c), box_size, fine_n) for c in coord_cols
    ]
    cell_names = [f"cell_{i}" for i in range(len(coord_cols))]
    (
        df.select("*", *cells, zorder_key(fine, bits=fine_bits).alias("_z"))
        .repartition(*[F.col(c) for c in cell_names])
        # Sort by the PARTITION columns first, then the Morton code: the
        # parquet writer requires an ordering on the partition columns
        # and would otherwise inject its own SortExec on (cell_i) alone
        # — a sort that is not guaranteed stable (spill merges break
        # ties arbitrarily), silently destroying the within-file Morton
        # clustering this layout exists for. With the cells as a sort
        # prefix the writer's requirement is already satisfied and no
        # extra sort is inserted (tests/test_spatial_layout.py pins
        # monotone Morton codes within each written file).
        .sortWithinPartitions(*cell_names, "_z")
        .drop("_z")
        .write.mode("overwrite")
        .partitionBy(*cell_names)
        .parquet(path)
    )
