"""Check 0270 — motorways connected directly.

Reference: /root/reference/checks/0270_motorways_connected_directly.php
(149 LoC).

Junction nodes of ``highway=motorway`` ways with other ways, where the
other way's highway class is not allowed:

* endpoint nodes of a *single* motorway are excluded — deliberate
  motorway ends (0270:36-59);
* allowed neighbours: motorway, motorway_link, trunk, construction,
  preproposed, proposed, emergency_bay, steps + the service-ish set
  (0270:121-139);
* service/unclassified/track/footway/path neighbours are OK only with
  access|vehicle ∈ {no, private, emergency} or service=parking_aisle
  (0270:128-137), or when the way passes within **100 Mercator m** of
  a rest-area amenity (parking/fuel/restaurant/toilets or
  highway=services/rest_area, on ways or nodes; 0270:88-113) — that
  proximity drops the whole junction node.

Spark: the 100 m clause is the engine's cell-indexed distance join
(segment↔segment and segment↔point, native arithmetic); everything
else is semi/anti joins.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..codec import OsmViews
from ..errors import finish_errors
from ..lib import materialize
from ..spatial import bbox_cells, point_seg_dist2, seg_cross, way_segments

CELL_M = 256.0
RADIUS = 100.0

MSGID = (
    "This node is a junction of a motorway and a highway other than "
    "motorway, motorway_link, trunk or construction. Service or "
    "unclassified is only valid if it has access=no/private or it leads "
    "to a motorway service area or if it is a service=parking_aisle."
)

ALLOWED = [
    "motorway", "motorway_link", "trunk", "construction", "preproposed",
    "proposed", "service", "unclassified", "track", "emergency_bay",
    "footway", "path", "steps",
]
SERVICE_CLASSES = ["service", "unclassified", "track", "footway", "path"]


def _access_excepted(v: OsmViews) -> DataFrame:
    """(tile, way_id) with the access/vehicle/parking_aisle exception."""
    return (
        v.way_tags.filter(
            ((F.col("k") == "access") & F.col("v").isin("no", "private", "emergency"))
            | ((F.col("k") == "vehicle") & F.col("v").isin("no", "private", "emergency"))
            | ((F.col("k") == "service") & (F.col("v") == "parking_aisle"))
        )
        .select("tile", "way_id")
        .distinct()
    )


def _seg_seg_within(
    segs_a: DataFrame, segs_b: DataFrame, radius: float
) -> DataFrame:
    """(tile, way_id) of ``segs_a`` ways with min distance ≤ radius to
    any ``segs_b`` segment.  Both frames carry (tile, cell, way_id,
    ax..by); b-columns are suffixed 2."""
    from ..spatial import spread

    j = spread(segs_a, "tile", "cell").join(segs_b, ["tile", "cell"])
    dists = []
    for px, py, ax, ay, bx, by in (
        ("ax", "ay", "ax2", "ay2", "bx2", "by2"),
        ("bx", "by", "ax2", "ay2", "bx2", "by2"),
        ("ax2", "ay2", "ax", "ay", "bx", "by"),
        ("bx2", "by2", "ax", "ay", "bx", "by"),
    ):
        d2, _, _ = point_seg_dist2(
            F.col(px), F.col(py), F.col(ax), F.col(ay), F.col(bx), F.col(by)
        )
        dists.append(d2)
    mind2 = F.least(*dists)
    crossing = seg_cross(
        F.col("ax"), F.col("ay"), F.col("bx"), F.col("by"),
        F.col("ax2"), F.col("ay2"), F.col("bx2"), F.col("by2"),
    )
    return (
        j.filter(crossing | (mind2 <= radius * radius))
        .select("tile", "way_id")
        .distinct()
    )


def run(v: OsmViews) -> DataFrame:
    t = v.way_tags
    mw = (
        t.filter((F.col("k") == "highway") & (F.col("v") == "motorway"))
        .select("tile", "way_id")
        .distinct()
    )
    junc = v.way_nodes.join(mw, ["tile", "way_id"], "left_semi").select(
        "tile", "way_id", "node_id"
    )

    # endpoint exception (0270:36-59)
    single = (
        junc.groupBy("tile", "node_id")
        .agg(F.count("way_id").alias("n"), F.max("way_id").alias("way_id"))
        .filter(F.col("n") == 1)
    )
    endpoint_nodes = (
        single.join(
            v.ways.select(
                "tile", F.col("id").alias("way_id"),
                "first_node_id", "last_node_id",
            ),
            ["tile", "way_id"],
        )
        .filter(
            (F.col("node_id") == F.col("first_node_id"))
            | (F.col("node_id") == F.col("last_node_id"))
        )
        .select("tile", "node_id")
    )
    # materialized: junc feeds the other-way expansion (whose chain is
    # scanned by svc_segs AND the veto pair join), junc_kept and the
    # final emit — without a cut the way_nodes groupBy + endpoint
    # anti-join re-derives per consumer
    junc = materialize(
        junc.join(endpoint_nodes, ["tile", "node_id"], "left_anti")
    )

    # other ways at motorway junction nodes
    other = (
        v.way_nodes.select("tile", F.col("way_id").alias("oway"), "node_id")
        .join(junc, ["tile", "node_id"])
        .filter(F.col("oway") != F.col("way_id"))
        .select("tile", "node_id", "oway")
        .distinct()
    )

    svc_class = (
        t.filter((F.col("k") == "highway") & F.col("v").isin(SERVICE_CLASSES))
        .select("tile", "way_id")
        .distinct()
    )
    excepted = _access_excepted(v)
    service_pairs = (
        other.join(
            svc_class.withColumnRenamed("way_id", "oway"), ["tile", "oway"],
            "left_semi",
        )
        .join(
            excepted.withColumnRenamed("way_id", "oway"), ["tile", "oway"],
            "left_anti",
        )
    )
    # two consumers (svc_segs work-list, veto pair join) re-derive the
    # access-exception anti-join otherwise
    service_pairs = materialize(service_pairs)

    # rest-area proximity veto (0270:88-113)
    svc_segs = way_segments(
        v, service_pairs.select("tile", F.col("oway").alias("way_id")).distinct()
    ).withColumn(
        "cell",
        F.explode(
            bbox_cells(
                F.least("ax", "bx"), F.least("ay", "by"),
                F.greatest("ax", "bx"), F.greatest("ay", "by"),
                CELL_M, RADIUS,
            )
        ),
    )
    amen_cond = (
        (F.col("k") == "amenity")
        & F.col("v").isin("parking", "fuel", "restaurant", "toilets")
    ) | ((F.col("k") == "highway") & F.col("v").isin("services", "rest_area"))
    amen_ways = t.filter(amen_cond).select("tile", "way_id").distinct()
    amen_segs = way_segments(v, amen_ways).select(
        "tile",
        F.col("ax").alias("ax2"), F.col("ay").alias("ay2"),
        F.col("bx").alias("bx2"), F.col("by").alias("by2"),
    ).withColumn(
        "cell",
        F.explode(
            bbox_cells(
                F.least("ax2", "bx2"), F.least("ay2", "by2"),
                F.greatest("ax2", "bx2"), F.greatest("ay2", "by2"),
                CELL_M, 0.0,
            )
        ),
    )
    near_ways_w = _seg_seg_within(svc_segs, amen_segs, RADIUS)

    amen_nodes = (
        v.node_tags.filter(amen_cond)
        .select("tile", "node_id")
        .distinct()
        .join(
            v.nodes.select("tile", F.col("id").alias("node_id"), "x", "y"),
            ["tile", "node_id"],
        )
        .select(
            "tile", F.col("x").alias("px2"), F.col("y").alias("py2")
        )
        .withColumn(
            "cell",
            F.explode(
                bbox_cells(
                    F.col("px2"), F.col("py2"), F.col("px2"), F.col("py2"),
                    CELL_M, 0.0,
                )
            ),
        )
    )
    d2n, _, _ = point_seg_dist2(
        F.col("px2"), F.col("py2"),
        F.col("ax"), F.col("ay"), F.col("bx"), F.col("by"),
    )
    from .. import spatial as _sp

    near_ways_n = (
        _sp.spread(svc_segs, "tile", "cell").join(amen_nodes, ["tile", "cell"])
        .filter(d2n <= RADIUS * RADIUS)
        .select("tile", "way_id")
        .distinct()
    )
    near_ways = near_ways_w.unionByName(near_ways_n).distinct()
    veto_nodes = (
        service_pairs.join(
            near_ways.withColumnRenamed("way_id", "oway"), ["tile", "oway"],
            "left_semi",
        )
        .select("tile", "node_id")
        .distinct()
    )
    junc_kept = junc.join(veto_nodes, ["tile", "node_id"], "left_anti")

    # final predicate on the other way's highway tags (0270:121-139)
    hw_bad_direct = (
        t.filter((F.col("k") == "highway") & ~F.col("v").isin(ALLOWED))
        .select("tile", "way_id")
        .distinct()
    )
    hw_svc = svc_class.join(excepted, ["tile", "way_id"], "left_anti")
    bad_ways = hw_bad_direct.unionByName(hw_svc).distinct()

    e = (
        v.way_nodes.select("tile", F.col("way_id").alias("oway"), "node_id")
        .join(junc_kept, ["tile", "node_id"])
        .filter(F.col("oway") != F.col("way_id"))
        .join(
            bad_ways.withColumnRenamed("way_id", "oway"), ["tile", "oway"],
            "left_semi",
        )
        .select("tile", F.col("node_id").alias("object_id"))
        .distinct()
    )
    return finish_errors(e, 270, "node", MSGID)


# object types this check can emit (error_view resolution pruning)
EMITS = ("node",)
