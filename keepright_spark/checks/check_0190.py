"""Check 0190/0200 — intersections/overlaps without junctions
(subtypes 191-198 crossing, 201-208 overlapping).

Reference: /root/reference/checks/0190_intersections_without_junctions.php
(413 LoC).

Way classification (first match wins, 0190:33-116): highway (excl.
path-like/proposed/ford/…), cycleway/footpath, waterway, riverbank;
area=yes dropped (0190:119-126); layer attached (find_layer_values).

Pair join (0190:184-197): same layer, way_id1 < way_id2, excluded
type pairs (waterway↔riverbank, riverbank↔riverbank,
cycleway/footpath↔waterway); predicate ST_Crosses OR ST_Overlaps.

* crosses → every intersection point is an error unless the two ways
  share a node within 10 m of it (connected_near, 0190:339-348);
  error_type = 190 + subtype matrix (0190:360-412); coordinates =
  round(1e7 * merc_lon/lat(point)) (0190:261).
* overlaps → one error at the first point of the shared geometry with
  error_type = 200 + subtype (0190:273-288).  GEOS's "first point" is
  representation-dependent; we pin the lexicographically smallest
  overlap endpoint (min (x, y)) — the oracle pins the same.

OGC semantics re-expressed on segment pairs (exact doubles; our data
places collinear overlaps on exactly shared coordinates):
* a pair **overlaps** if some segment pair is collinear with a
  positive-length common run and neither way spatially contains the
  other (total overlap < min(length) - 1e-6);
* else a pair **crosses** if some intersection point is interior to
  both ways (interior = not a global endpoint; closed ways have no
  boundary); the reported point set is *all* segment-pair
  intersection points.

Spark: grid-cell cover join on (tile, layer, cell) over way segments
with way_id1<way_id2 — the engine's flagship spatial join.  All
geometry is native column arithmetic; only the final merc_lat of the
report coordinates uses the vectorized pandas UDF.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..codec import OsmViews
from ..errors import finish_errors
from ..lib import way_layers
from ..lib import materialize
from ..mercator import R_MAJOR, _RAD2DEG, merc_lat_udf
from ..spatial import bbox_cells, way_segments

CELL_M = 256.0
HW_EXCLUDED = [
    "cycleway", "footway", "path", "bridleway", "track", "proposed",
    "preproposed", "construction", "services", "rest_area", "ford", "razed",
]
PATHISH = ["cycleway", "footway", "path", "bridleway", "track"]
WW_EXCLUDED = ["riverbank", "dock", "boatyard", "weir", "dam"]
RIVERBANKISH = ["riverbank", "dock", "boatyard"]

# subtype matrix (0190:360-412); -1 pairs are excluded in the join
SUBTYPE = {
    ("highway", "highway"): 1,
    ("highway", "waterway"): 2,
    ("waterway", "highway"): 2,
    ("highway", "riverbank"): 3,
    ("riverbank", "highway"): 3,
    ("waterway", "waterway"): 4,
    ("cycleway/footpath", "cycleway/footpath"): 5,
    ("highway", "cycleway/footpath"): 6,
    ("cycleway/footpath", "highway"): 6,
    ("cycleway/footpath", "waterway"): 7,
    ("waterway", "cycleway/footpath"): 7,
    ("cycleway/footpath", "riverbank"): 8,
    ("riverbank", "cycleway/footpath"): 8,
}
# the "but there is no junction node" suffix applies to same-kind
# intersections (0190:252-259): subtypes 1, 4, 5, 6
MSG_CROSS = "This $1 intersects the $2 #$3"
MSG_CROSS_J = "This $1 intersects the $2 #$3 but there is no junction node"
MSG_OVERLAP = "This $1 overlaps the $2 #$3"


def classify_ways(v: OsmViews) -> DataFrame:
    """(tile, way_id, way_type, layer) — 0190:33-129."""
    t = v.way_tags
    ford = t.filter(F.col("k") == "ford").select("tile", "way_id").distinct()
    hw = (
        t.filter((F.col("k") == "highway") & ~F.col("v").isin(HW_EXCLUDED))
        .select("tile", "way_id")
        .distinct()
        .join(ford, ["tile", "way_id"], "left_anti")
        .withColumn("way_type", F.lit("highway"))
    )
    cyc = (
        t.filter((F.col("k") == "highway") & F.col("v").isin(PATHISH))
        .select("tile", "way_id")
        .distinct()
        .join(hw, ["tile", "way_id"], "left_anti")
        .join(ford, ["tile", "way_id"], "left_anti")
        .withColumn("way_type", F.lit("cycleway/footpath"))
    )
    prev = hw.select("tile", "way_id").unionByName(cyc.select("tile", "way_id"))
    ww = (
        t.filter((F.col("k") == "waterway") & ~F.col("v").isin(WW_EXCLUDED))
        .select("tile", "way_id")
        .distinct()
        .join(prev, ["tile", "way_id"], "left_anti")
        .withColumn("way_type", F.lit("waterway"))
    )
    prev = prev.unionByName(ww.select("tile", "way_id"))
    rb = (
        t.filter(
            ((F.col("k") == "waterway") & F.col("v").isin(RIVERBANKISH))
            | ((F.col("k") == "natural") & (F.col("v") == "water"))
        )
        .select("tile", "way_id")
        .distinct()
        .join(prev, ["tile", "way_id"], "left_anti")
        .withColumn("way_type", F.lit("riverbank"))
    )
    allw = hw.unionByName(cyc).unionByName(ww).unionByName(rb)
    area = (
        t.filter((F.col("k") == "area") & (F.col("v") == "yes"))
        .select("tile", "way_id")
        .distinct()
    )
    allw = allw.join(area, ["tile", "way_id"], "left_anti")
    return allw.join(way_layers(v), ["tile", "way_id"], "left").fillna({"layer": "0"})


def _subtype_col(t1: Column, t2: Column) -> Column:
    expr = F.lit(-1)
    for (a, b), n in SUBTYPE.items():
        expr = F.when((t1 == a) & (t2 == b), F.lit(n)).otherwise(expr)
    return expr


def run(v: OsmViews) -> DataFrame:
    # materialize the way classification: the first-match-wins chain
    # is a cascade of anti-joined unions (~30 scans), and it is
    # re-embedded by the segment build, the metadata joins AND twice
    # inside the xings self-join — without a cut here the executed
    # plan carries ~380 parquet scans / 660 exchanges (probed r5,
    # scale s) and Catalyst re-optimizes every copy; with it the
    # returned plan is 2 scans / 7 exchanges
    ways = materialize(classify_ways(v))
    segs = way_segments(v, ways.select("tile", "way_id")).join(
        ways, ["tile", "way_id"]
    )

    # way metadata for interior/containment tests
    meta = (
        v.ways.select(
            "tile",
            F.col("id").alias("way_id"),
            F.col("first_node_x").alias("fx"),
            F.col("first_node_y").alias("fy"),
            F.col("last_node_x").alias("lx"),
            F.col("last_node_y").alias("ly"),
        )
    )
    from ..lib import way_lengths

    meta = meta.join(way_lengths(v), ["tile", "way_id"], "left")

    seg_cells = segs.withColumn(
        "cell",
        F.explode(
            bbox_cells(
                F.least("ax", "bx"), F.least("ay", "by"),
                F.greatest("ax", "bx"), F.greatest("ay", "by"),
                CELL_M, 0.0,
            )
        ),
    )
    # explicit skew salting (north rule): dense urban cells would make
    # the pair join quadratic in one bucket — re-cover their rows at a
    # finer resolution so the same pairs meet in many small buckets.
    # Result set is unchanged (pairs dedupe on payload below).
    from ..spatial import refine_hot_cells

    seg_cells = refine_hot_cells(seg_cells, CELL_M, extra_keys=["layer"])
    from ..spatial import spread

    seg_cells = spread(seg_cells, "tile", "cell", "layer")
    s1 = seg_cells.select(
        "tile", "cell", "layer",
        F.col("way_id").alias("w1"), F.col("way_type").alias("t1"),
        F.col("ax").alias("ax1"), F.col("ay").alias("ay1"),
        F.col("bx").alias("bx1"), F.col("by").alias("by1"),
    )
    s2 = seg_cells.select(
        "tile", "cell", "layer",
        F.col("way_id").alias("w2"), F.col("way_type").alias("t2"),
        F.col("ax").alias("ax2"), F.col("ay").alias("ay2"),
        F.col("bx").alias("bx2"), F.col("by").alias("by2"),
    )
    pairs = s1.join(s2, ["tile", "cell", "layer"]).filter(
        (F.col("w1") < F.col("w2"))
        & ~(
            ((F.col("t1") == "waterway") & (F.col("t2") == "riverbank"))
            | ((F.col("t1") == "riverbank") & (F.col("t2") == "waterway"))
            | ((F.col("t1") == "riverbank") & (F.col("t2") == "riverbank"))
            | ((F.col("t1") == "cycleway/footpath") & (F.col("t2") == "waterway"))
            | ((F.col("t1") == "waterway") & (F.col("t2") == "cycleway/footpath"))
        )
        # segment bbox overlap prefilter
        & (F.least("ax1", "bx1") <= F.greatest("ax2", "bx2"))
        & (F.least("ax2", "bx2") <= F.greatest("ax1", "bx1"))
        & (F.least("ay1", "by1") <= F.greatest("ay2", "by2"))
        & (F.least("ay2", "by2") <= F.greatest("ay1", "by1"))
    )

    # --- segment-pair geometry (formulas mirrored in the oracle) ----
    rx = F.col("bx1") - F.col("ax1")
    ry = F.col("by1") - F.col("ay1")
    sx = F.col("bx2") - F.col("ax2")
    sy = F.col("by2") - F.col("ay2")
    denom = rx * sy - ry * sx
    qpx = F.col("ax2") - F.col("ax1")
    qpy = F.col("ay2") - F.col("ay1")
    qpxr = qpx * ry - qpy * rx
    rr = rx * rx + ry * ry
    t_num = qpx * sy - qpy * sx
    u_num = qpxr
    t = F.try_divide(t_num, denom)
    u = F.try_divide(u_num, denom)

    collinear = (denom == 0) & (qpxr == 0)
    t0 = F.try_divide(qpx * rx + qpy * ry, rr)
    t1 = F.try_divide(
        (F.col("bx2") - F.col("ax1")) * rx + (F.col("by2") - F.col("ay1")) * ry, rr
    )
    tmin = F.greatest(F.least(t0, t1), F.lit(0.0))
    tmax = F.least(F.greatest(t0, t1), F.lit(1.0))

    geom = pairs.withColumn(
        "kind",
        F.when(collinear & (tmax > tmin), F.lit(2))
        .when(collinear & (tmax == tmin), F.lit(1))
        .when(
            (denom != 0)
            & (t >= 0) & (t <= 1) & (u >= 0) & (u <= 1),
            F.lit(1),
        )
        .otherwise(F.lit(0)),
    ).filter(F.col("kind") > 0)
    geom = geom.withColumn(
        "px",
        F.when(
            F.col("kind") == 2, F.col("ax1") + tmin * rx
        ).otherwise(
            F.when(collinear, F.col("ax1") + tmin * rx).otherwise(
                F.col("ax1") + t * rx
            )
        ),
    ).withColumn(
        "py",
        F.when(
            F.col("kind") == 2, F.col("ay1") + tmin * ry
        ).otherwise(
            F.when(collinear, F.col("ay1") + tmin * ry).otherwise(
                F.col("ay1") + t * ry
            )
        ),
    ).withColumn(
        "qx", F.when(F.col("kind") == 2, F.col("ax1") + tmax * rx)
    ).withColumn(
        "qy", F.when(F.col("kind") == 2, F.col("ay1") + tmax * ry)
    ).withColumn(
        "olen",
        F.when(
            F.col("kind") == 2,
            F.sqrt(
                (F.col("qx") - F.col("px")) * (F.col("qx") - F.col("px"))
                + (F.col("qy") - F.col("py")) * (F.col("qy") - F.col("py"))
            ),
        ).otherwise(F.lit(0.0)),
    )
    # dedupe duplicate cells / duplicate vertices, then collapse to
    # ONE row per way pair immediately: overlap stats as aggregates,
    # the pair's distinct kind-1 intersection points as a collected
    # set (bounded by the crossing count of TWO ways — a handful in
    # practice; the reference materializes the same point set per
    # pair as _tmp_xing rows, 0190:199-232).  Until round 5 the
    # point-level frame itself was the checkpointed reuse point and
    # fed five consumers — meta joins ran per touching VERTEX and the
    # frame was scanned twice more for the crossing points; the
    # pair-level aggregate is strictly smaller, joins meta once per
    # PAIR, and leaves a single narrow frame to materialize
    # (measured r5 solo@m/local[32] in a drifting window: same-window
    # min wall 39.3 s vs 44.3 s old, 57 stages/1858 tasks vs 62/2018,
    # executor-CPU flat — the win is fewer barriers, not less math).
    geom = (
        geom.select(
            "tile", "w1", "w2", "t1", "t2", "kind", "px", "py", "qx", "qy", "olen"
        )
        .distinct()
    )
    pair_stats = geom.groupBy("tile", "w1", "w2", "t1", "t2").agg(
        F.max(F.when(F.col("kind") == 2, F.col("olen")).otherwise(0.0) > 0).alias(
            "has_overlap"
        ),
        F.sum(F.when(F.col("kind") == 2, F.col("olen")).otherwise(0.0)).alias(
            "overlap_total"
        ),
        F.min(
            F.when(
                F.col("kind") == 2,
                F.least(
                    F.struct(F.col("px"), F.col("py")),
                    F.struct(F.col("qx").alias("px"), F.col("qy").alias("py")),
                ),
            )
        ).alias("omin"),
        # collect_set skips the kind-2 nulls and dedupes — the same
        # point set the old shape got from filter(kind=1).distinct()
        F.collect_set(
            F.when(F.col("kind") == 1, F.struct(F.col("px"), F.col("py")))
        ).alias("xpts"),
    )

    # --- per-pair classification (meta join at PAIR granularity) -----
    m1 = meta.select(
        "tile", F.col("way_id").alias("w1"),
        F.col("fx").alias("fx1"), F.col("fy").alias("fy1"),
        F.col("lx").alias("lx1"), F.col("ly").alias("ly1"),
        F.col("length").alias("len1"),
    )
    m2 = meta.select(
        "tile", F.col("way_id").alias("w2"),
        F.col("fx").alias("fx2"), F.col("fy").alias("fy2"),
        F.col("lx").alias("lx2"), F.col("ly").alias("ly2"),
        F.col("length").alias("len2"),
    )

    def interior(px, py, fx, fy, lx, ly):
        closed = (fx == lx) & (fy == ly)
        return closed | (
            ~((px == fx) & (py == fy)) & ~((px == lx) & (py == ly))
        )

    pair_stats = (
        pair_stats.join(m1, ["tile", "w1"]).join(m2, ["tile", "w2"])
        .withColumn(
            "has_interior_cross",
            F.exists(
                "xpts",
                lambda p: interior(
                    p["px"], p["py"], F.col("fx1"), F.col("fy1"),
                    F.col("lx1"), F.col("ly1"),
                )
                & interior(
                    p["px"], p["py"], F.col("fx2"), F.col("fy2"),
                    F.col("lx2"), F.col("ly2"),
                ),
            ),
        )
    )
    pair_stats = pair_stats.withColumn(
        "contained",
        F.col("overlap_total") >= F.least("len1", "len2") - F.lit(1e-6),
    ).withColumn(
        "action",
        F.when(F.col("has_overlap") & ~F.col("contained"), F.lit("overlaps"))
        .when(~F.col("has_overlap") & F.col("has_interior_cross"), F.lit("crosses"))
        .otherwise(F.lit(None)),
    ).filter(F.col("action").isNotNull()).select(
        "tile", "w1", "w2", "t1", "t2", "action", "omin", "xpts"
    )
    # Materialization mechanism A/B'd (r5: solo xd @4 cores, fresh JVM,
    # 2 interleaved reps): localCheckpoint 32.8/44.7 s vs
    # persist(MEMORY_AND_DISK)+count 48.9/47.7 s — the columnar cache
    # build loses to row-block storage on this narrow all-numeric
    # frame, so the checkpoint stays.  Pure lazy exchange reuse is not
    # available either: per-consumer column pruning pushes different
    # projections below the aggregate, the subplans stop being
    # identical, and the pair join recomputes per consumer (~5x the
    # check's wall, measured r2).  Two consumers remain (cross / over)
    # and the frame is post-filter pair-level — the cheapest
    # materialization point in the dataflow.
    pair_stats = materialize(pair_stats)

    subtype = _subtype_col(F.col("t1"), F.col("t2"))

    # --- crossing errors: all points, connected_near filtered --------
    pts = (
        pair_stats.filter(F.col("action") == "crosses")
        .select("tile", "w1", "w2", "t1", "t2", F.explode("xpts").alias("p"))
        .select(
            "tile", "w1", "w2", "t1", "t2",
            F.col("p.px").alias("px"), F.col("p.py").alias("py"),
        )
    )

    # shared nodes of the pair (_tmp_xings, 0190:204-226) — the
    # common-node table is only ever probed for classified-way pairs,
    # so both self-join sides prune to classified ways first
    wn = v.way_nodes.select("tile", "way_id", "node_id", "x", "y").join(
        ways.select("tile", "way_id"), ["tile", "way_id"], "left_semi"
    )
    xings = (
        wn.select("tile", F.col("way_id").alias("w1"), "node_id",
                  F.col("x").alias("jx"), F.col("y").alias("jy"))
        .join(
            wn.select("tile", F.col("way_id").alias("w2"), "node_id"),
            ["tile", "node_id"],
        )
        .filter(F.col("w1") < F.col("w2"))
        .select("tile", "w1", "w2", "jx", "jy")
    )
    connected = (
        pts.join(xings, ["tile", "w1", "w2"])
        .filter(
            (F.col("jx") - F.col("px")) * (F.col("jx") - F.col("px"))
            + (F.col("jy") - F.col("py")) * (F.col("jy") - F.col("py"))
            <= 100.0
        )
        .select("tile", "w1", "w2", "px", "py")
        .distinct()
    )
    cross_err = pts.join(connected, ["tile", "w1", "w2", "px", "py"], "left_anti")
    cross_err = cross_err.withColumn("subtype", subtype).filter(
        F.col("subtype") != -1
    )
    cross_err = cross_err.select(
        "tile",
        (F.lit(190) + F.col("subtype")).cast("int").alias("error_type"),
        F.col("w1").alias("object_id"),
        F.when(
            F.col("subtype").isin(1, 4, 5, 6), F.lit(MSG_CROSS_J)
        ).otherwise(F.lit(MSG_CROSS)).alias("msgid"),
        F.col("t1").alias("txt1"),
        F.col("t2").alias("txt2"),
        F.col("w2").cast("string").alias("txt3"),
        F.round(1e7 * ((F.col("px") / R_MAJOR) * _RAD2DEG)).alias("lon"),
        F.round(1e7 * merc_lat_udf(F.col("py"))).alias("lat"),
    )

    # --- overlap errors: one per pair at the pinned first point ------
    over = pair_stats.filter(F.col("action") == "overlaps").withColumn(
        "subtype", subtype
    ).filter(F.col("subtype") != -1)
    over_err = over.select(
        "tile",
        (F.lit(200) + F.col("subtype")).cast("int").alias("error_type"),
        F.col("w1").alias("object_id"),
        F.lit(MSG_OVERLAP).alias("msgid"),
        F.col("t1").alias("txt1"),
        F.col("t2").alias("txt2"),
        F.col("w2").cast("string").alias("txt3"),
        (1e7 * ((F.col("omin.px") / R_MAJOR) * _RAD2DEG)).alias("lon"),
        (1e7 * merc_lat_udf(F.col("omin.py"))).alias("lat"),
    )

    out = cross_err.unionByName(over_err)
    return finish_errors(out, 0, "way", None)


# object types this check can emit (error_view resolution pruning)
EMITS = ('way',)
# error types this check owns: crossings 190+, overlaps 200+subtype
OWNS = (190, 209)
