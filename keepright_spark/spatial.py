"""Cell-indexed spatial join primitives (the north-star operators).

The reference accelerates spatial predicates with PostGIS GiST indexes
on Mercator-meter geometries (prepare_helpertables.php:151-156,
0050:52, 0190:137).  Spark has no spatial index, so the engine uses a
**Mercator-meter grid-cell equi-join** (an H3/S2 stand-in that is
exact for our needs): every geometry is assigned to the grid cells its
(padded) bbox covers, candidates meet in cells via an ordinary
shuffle/broadcast hash join, and the exact predicate runs as *native
column arithmetic* — point↔segment distance, segment↔segment
intersection — inside whole-stage codegen.  No Python in the hot path.

Determinism note: the same IEEE-754 formulas, in the same operation
order, are mirrored in the DuckDB oracles (oracles.py), so candidate
coordinates agree bit-for-bit; only libm-backed functions (the final
merc_lat of report coordinates) may differ by ≤1 ulp, which is far
below the 1e-7-degree output grid.

Skew: cell ids are ordinary join keys, so AQE's skew-join splitting
handles dense urban cells; the node-density census (pipeline metrics)
feeds explicit salting when a cell exceeds the AQE threshold.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from .codec import OsmViews

# grid offset so packed cell ids stay positive for any Mercator coord
_OFF = 1 << 20
_SPAN = 1 << 21


def cell_id(cx: Column, cy: Column) -> Column:
    return (cx + _OFF) * _SPAN + (cy + _OFF)


def point_cells(x: Column, y: Column, cell_m: float) -> Column:
    """Single cell id of a point."""
    return cell_id(F.floor(x / cell_m), F.floor(y / cell_m))


def bbox_cells(
    minx: Column, miny: Column, maxx: Column, maxy: Column,
    cell_m: float, pad_m: float,
) -> Column:
    """Array of cell ids covering the padded bbox (the GiST-index
    substitute).  Callers explode this; pad ≥ the join radius ensures
    every candidate pair shares ≥1 cell."""
    cx0 = F.floor((minx - pad_m) / cell_m).cast("long")
    cx1 = F.floor((maxx + pad_m) / cell_m).cast("long")
    cy0 = F.floor((miny - pad_m) / cell_m).cast("long")
    cy1 = F.floor((maxy + pad_m) / cell_m).cast("long")
    return F.flatten(
        F.transform(
            F.sequence(cx0, cx1),
            lambda cx: F.transform(F.sequence(cy0, cy1), lambda cy: cell_id(cx, cy)),
        )
    )


def way_segments(v: OsmViews, way_ids: DataFrame) -> DataFrame:
    """(tile, way_id, seg_id, ax, ay, bx, by) for the given ways
    ((tile, way_id) frame), from consecutive way_nodes — the
    LINESTRING geometry of prepare_helpertables.php:138-149 in
    segment-relational form."""
    if v.h_segments is not None:
        return v.h_segments.join(way_ids, ["tile", "way_id"], "left_semi")
    w = Window.partitionBy("tile", "way_id").orderBy("sequence_id")
    seg = (
        v.way_nodes.join(way_ids, ["tile", "way_id"], "left_semi")
        .select(
            "tile",
            "way_id",
            F.col("sequence_id").alias("seg_id"),
            F.col("x").alias("ax"),
            F.col("y").alias("ay"),
            F.lead("x").over(w).alias("bx"),
            F.lead("y").over(w).alias("by"),
        )
        .filter(F.col("bx").isNotNull())
    )
    return seg


def point_seg_dist2(
    px: Column, py: Column, ax: Column, ay: Column, bx: Column, by: Column
) -> tuple[Column, Column, Column]:
    """Squared distance from point to segment plus the closest point.

    Formula (mirrored verbatim in the oracles):
        len2 = (bx-ax)^2 + (by-ay)^2
        t    = len2==0 ? 0 : clamp(((px-ax)*(bx-ax)+(py-ay)*(by-ay))/len2, 0, 1)
        cx   = ax + t*(bx-ax);  cy = ay + t*(by-ay)
        d2   = (px-cx)^2 + (py-cy)^2
    """
    rx, ry = bx - ax, by - ay
    len2 = rx * rx + ry * ry
    t_raw = F.try_divide((px - ax) * rx + (py - ay) * ry, len2)
    t = F.when(len2 == 0, F.lit(0.0)).otherwise(
        F.greatest(F.lit(0.0), F.least(F.lit(1.0), t_raw))
    )
    cx = ax + t * rx
    cy = ay + t * ry
    d2 = (px - cx) * (px - cx) + (py - cy) * (py - cy)
    return d2, cx, cy


def seg_cross(ax, ay, bx, by, cx, cy, dx, dy) -> Column:
    """True iff segments AB and CD intersect (incl. touching).

    Orientation method on exact doubles; our synthetic worlds place
    collinear overlaps on exactly shared coordinates, so ==0 tests are
    stable.  Mirrored verbatim in the oracle SQL.
    """
    def cross(ox, oy, px_, py_, qx, qy):
        return (px_ - ox) * (qy - oy) - (py_ - oy) * (qx - ox)

    d1 = cross(cx, cy, dx, dy, ax, ay)
    d2 = cross(cx, cy, dx, dy, bx, by)
    d3 = cross(ax, ay, bx, by, cx, cy)
    d4 = cross(ax, ay, bx, by, dx, dy)
    proper = (((d1 > 0) & (d2 < 0)) | ((d1 < 0) & (d2 > 0))) & (
        ((d3 > 0) & (d4 < 0)) | ((d3 < 0) & (d4 > 0))
    )

    def on_seg(ox, oy, px_, py_, qx, qy):
        # q collinear with OP and within its bbox
        return (
            (F.least(ox, px_) <= qx)
            & (qx <= F.greatest(ox, px_))
            & (F.least(oy, py_) <= qy)
            & (qy <= F.greatest(oy, py_))
        )

    return (
        proper
        | ((d1 == 0) & on_seg(cx, cy, dx, dy, ax, ay))
        | ((d2 == 0) & on_seg(cx, cy, dx, dy, bx, by))
        | ((d3 == 0) & on_seg(ax, ay, bx, by, cx, cy))
        | ((d4 == 0) & on_seg(ax, ay, bx, by, dx, dy))
    )


def seg_cross_sql(ax, ay, bx, by, cx, cy, dx, dy) -> str:
    """DuckDB boolean expression mirroring seg_cross() verbatim
    (same cross-product operand order → identical doubles)."""

    def cross(ox, oy, px, py, qx, qy):
        return f"(({px})-({ox}))*(({qy})-({oy})) - (({py})-({oy}))*(({qx})-({ox}))"

    d1 = cross(cx, cy, dx, dy, ax, ay)
    d2 = cross(cx, cy, dx, dy, bx, by)
    d3 = cross(ax, ay, bx, by, cx, cy)
    d4 = cross(ax, ay, bx, by, dx, dy)

    def on_seg(ox, oy, px, py, qx, qy):
        return (
            f"(LEAST({ox},{px}) <= ({qx}) AND ({qx}) <= GREATEST({ox},{px}) "
            f"AND LEAST({oy},{py}) <= ({qy}) AND ({qy}) <= GREATEST({oy},{py}))"
        )

    proper = (
        f"((({d1}) > 0 AND ({d2}) < 0) OR (({d1}) < 0 AND ({d2}) > 0)) AND "
        f"((({d3}) > 0 AND ({d4}) < 0) OR (({d3}) < 0 AND ({d4}) > 0))"
    )
    return (
        f"(({proper}) OR (({d1}) = 0 AND {on_seg(cx, cy, dx, dy, ax, ay)}) "
        f"OR (({d2}) = 0 AND {on_seg(cx, cy, dx, dy, bx, by)}) "
        f"OR (({d3}) = 0 AND {on_seg(ax, ay, bx, by, cx, cy)}) "
        f"OR (({d4}) = 0 AND {on_seg(ax, ay, bx, by, dx, dy)}))"
    )


def refine_hot_cells(
    seg_cells: DataFrame,
    cell_m: float,
    hot_limit: int = 512,
    refine_factor: int = 4,
    extra_keys: list[str] | None = None,
) -> DataFrame:
    """Explicit skew handling for pairwise cell self-joins (the north
    rule's dense-urban-tile scenario).

    ``seg_cells``: segment rows already covered at ``cell_m`` with a
    ``cell`` column plus endpoint columns ax/ay/bx/by.  Cells whose
    occupancy exceeds ``hot_limit`` make the per-cell pair join
    quadratic in local density; their rows are re-covered at
    ``cell_m / refine_factor`` so the same pairs meet in ~refine²×
    more, smaller buckets (the salt factor is data-driven, from the
    same census the lifecycle module persists).  Cold rows keep their
    coarse cell; the output ``cell`` ids of the two resolutions cannot
    collide (fine ids are offset into a disjoint id space).

    Pair-completeness: any two segments within the join radius share a
    coarse cell; if that cell is hot BOTH rows are refined (the whole
    cell's rows are), so they still meet in a fine cell.  Downstream
    dedup (distinct on pair payload) is unchanged.
    """
    keys = ["tile", *(extra_keys or [])]
    counts = seg_cells.groupBy(*keys, "cell").agg(
        F.count(F.lit(1)).alias("_n")
    )
    hot = counts.filter(F.col("_n") > hot_limit).select(*keys, "cell")
    hot_flagged = seg_cells.join(hot, [*keys, "cell"], "left_semi")
    cold = seg_cells.join(hot, [*keys, "cell"], "left_anti")

    fine_m = cell_m / refine_factor
    fine = hot_flagged.drop("cell").withColumn(
        "cell",
        F.explode(
            bbox_cells(
                F.least("ax", "bx"), F.least("ay", "by"),
                F.greatest("ax", "bx"), F.greatest("ay", "by"),
                fine_m, 0.0,
            )
        ),
    ).withColumn("cell", F.col("cell") + F.lit(1 << 62))
    return cold.unionByName(fine.select(cold.columns))


def spread(
    df: DataFrame,
    *keys: str,
    stats: dict | None = None,
    stat: str = "max_node_cell64",
    hot_limit: int = 512,
) -> DataFrame:
    """Repartition on the FULL bucket key ahead of a
    quadratic-in-bucket join.

    The engine views share one tile-level hash partitioning
    (pipeline.tiled_views + subset co-partition matching), which runs
    ordinary (tile, …) joins exchange-free — but for a cell-bucketed
    pair join that would funnel every bucket of a hot tile through a
    single task.  Spending one exchange here spreads buckets across
    all tasks and lets refine_hot_cells' salting actually balance the
    work; the other join side is co-partitioned to match by
    EnsureRequirements.

    ``stats``: the prepare-time cell census (OsmViews.cell_stats).
    When it proves no ``stat`` cell exceeds ``hot_limit`` AND the
    world has plenty of tiles per partition (``many_tiles``, the rule
    pipeline.tiled_views evaluates), the exchange is skipped —
    with every bucket cold and tiles ≫ partitions, per-tile funneling
    is linear in tile size (the same bound as every other
    exchange-free (tile,…) join) and the repartition is pure cost:
    BENCH_r02 measured 0050 regress 45.9 s → 75.5 s from two
    unconditional spread()s on a 176-tile world with no hot cells.
    But when n_tiles is within ~4× of the partition count, tile-hash
    placement is balls-in-bins lumpy (measured on the 20-tile dense
    world at parts=8: one fused 0050 stage carried 84 of 101 s·core
    with 2.6× task skew), so the bucket-key exchange fires even with
    cold cells.  Provably quadratic self-joins on full segment tables
    (0190) should keep the unconditional exchange."""
    n = int(df.sparkSession.conf.get("spark.sql.shuffle.partitions", "32"))
    if stats is not None:
        cold = stats.get(stat, hot_limit + 1) <= hot_limit
        if cold and stats.get("many_tiles", False):
            return df
    return df.repartition(n, *keys)
