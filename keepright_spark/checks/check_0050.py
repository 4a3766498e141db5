"""Check 0050 — almost-junctions.

Reference: /root/reference/checks/0050_almost-junctions.php (325 LoC).

Unconnected end nodes of highways (their node appears exactly once in
all of way_nodes) that pass within **10 Mercator meters**
($check0050_min_distance, 0050:22) of:

* another highway on the *same* layer (0050:206-222), or
* another unconnected end node on a *different* layer (0050:228-249);

excluding end nodes tagged noexit/turning_circle/bus_stop/amenity or
on noexit ways (0050:104-135), candidates whose shortest line crosses
a same-layer barrier way (0050:212, 235-239), en-nodes tagged barrier
or railway=subway_entrance (0050:216-222), and pairs whose ways share
a node within 30 m of the end node (0050:279-294).  Only the
minimum-distance candidate per node is reported (0050:298-311; the
reference breaks ties by insert order — we pin (distance, source,
nearby way id)).

Spark: grid-cell equi-join (spatial.bbox_cells) + native-arithmetic
distance/intersection predicates; no UDFs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..codec import OsmViews
from ..errors import finish_errors
from ..lib import materialize, way_layers
from ..spatial import (
    bbox_cells,
    point_cells,
    point_seg_dist2,
    seg_cross,
    way_segments,
)

MSGID = "This node is very close but not connected to way #$1"
RADIUS = 10.0
CELL_M = 64.0


def _end_nodes(v: OsmViews, hw: DataFrame) -> DataFrame:
    """(tile, way_id, node_id, layer, x, y): unconnected highway ends
    after the noexit/turning_circle/bus_stop/amenity exclusions."""
    usage = v.way_nodes.groupBy("tile", "node_id").agg(
        F.count("way_id").alias("uses")
    )
    wf = v.ways.select(
        "tile", F.col("id").alias("way_id"), "first_node_id", "last_node_id"
    ).join(hw, ["tile", "way_id"], "inner")

    ends = None
    for src, col in ((1, "first_node_id"), (2, "last_node_id")):
        e = (
            wf.select("tile", "way_id", "layer", F.col(col).alias("node_id"))
            .join(usage, ["tile", "node_id"])
            .filter(F.col("uses") == 1)
            .drop("uses")
            .withColumn("src", F.lit(src))
        )
        ends = e if ends is None else ends.unionByName(e)
    # PK(node_id): first-pass wins (0050:85-97)
    w = Window.partitionBy("tile", "node_id").orderBy("src")
    ends = (
        ends.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn", "src")
    )

    excluded_nodes = (
        v.node_tags.filter(
            ((F.col("k") == "noexit") & F.col("v").isin("yes", "true", "1"))
            | ((F.col("k") == "highway") & F.col("v").isin("turning_circle", "bus_stop"))
            | (F.col("k") == "amenity")
        )
        .select("tile", "node_id")
        .distinct()
    )
    noexit_ways = (
        v.way_tags.filter(
            (F.col("k") == "noexit") & F.col("v").isin("yes", "true", "1")
        )
        .select("tile", "way_id")
        .distinct()
    )
    ends = ends.join(excluded_nodes, ["tile", "node_id"], "left_anti").join(
        noexit_ways, ["tile", "way_id"], "left_anti"
    )
    return ends.join(
        v.nodes.select("tile", F.col("id").alias("node_id"), "x", "y"),
        ["tile", "node_id"],
    )


def run(v: OsmViews) -> DataFrame:
    layers = way_layers(v)
    hw = (
        v.way_tags.filter(
            (F.col("k") == "highway")
            & ~F.col("v").isin("construction", "proposed", "platform")
        )
        .select("tile", "way_id")
        .distinct()
        .join(layers, ["tile", "way_id"], "left")
        .fillna({"layer": "0"})
    )
    # materialize: the ends subtree (a full way_nodes usage count)
    # appears 4+ times in the final plan (subjects → cand1/p2, e2)
    ends = materialize(_end_nodes(v, hw))

    # en-nodes that may not be the *subject* of a candidate
    subject_excluded = (
        v.node_tags.filter(
            (F.col("k") == "barrier")
            | ((F.col("k") == "railway") & (F.col("v") == "subway_entrance"))
        )
        .select("tile", "node_id")
        .distinct()
    )
    subjects = ends.join(subject_excluded, ["tile", "node_id"], "left_anti")

    segs = way_segments(v, hw.select("tile", "way_id")).join(
        hw, ["tile", "way_id"]
    )  # + layer
    seg_cells = segs.withColumn(
        "cell",
        F.explode(
            bbox_cells(
                F.least("ax", "bx"), F.least("ay", "by"),
                F.greatest("ax", "bx"), F.greatest("ay", "by"),
                CELL_M, RADIUS,
            )
        ),
    )
    pt_cells = subjects.withColumn("cell", point_cells(F.col("x"), F.col("y"), CELL_M))

    # ---- candidates 1: end node near same-layer way ----------------
    j = pt_cells.join(
        seg_cells.select(
            "tile", "cell", "layer",
            F.col("way_id").alias("nearby_way_id"),
            "seg_id", "ax", "ay", "bx", "by",
        ),
        ["tile", "cell", "layer"],
    ).filter(F.col("nearby_way_id") != F.col("way_id"))
    d2, cx, cy = point_seg_dist2(
        F.col("x"), F.col("y"),
        F.col("ax"), F.col("ay"), F.col("bx"), F.col("by"),
    )
    j = j.withColumn("d2", d2).withColumn("cx", cx).withColumn("cy", cy).filter(
        F.col("d2") <= RADIUS * RADIUS
    )
    # min over segments (and duplicate cells) per (node, nearby way)
    cand1 = j.groupBy("tile", "node_id", "way_id", "nearby_way_id", "layer").agg(
        F.min(F.struct("d2", "seg_id", "cx", "cy")).alias("m"),
        F.first("x").alias("x"),
        F.first("y").alias("y"),
    ).select(
        "tile", "node_id", "way_id", "nearby_way_id",
        F.col("m.d2").alias("d2"), F.col("m.cx").alias("cx"),
        F.col("m.cy").alias("cy"), "x", "y",
        F.col("layer").alias("layer1"), F.col("layer").alias("layer2"),
        F.lit(1).alias("srcq"),
    )

    # ---- candidates 2: end node near end node, different layers ----
    e2 = ends.select(
        "tile",
        F.col("node_id").alias("node_id2"),
        F.col("way_id").alias("nearby_way_id"),
        F.col("layer").alias("layer2"),
        F.col("x").alias("cx"),
        F.col("y").alias("cy"),
    ).withColumn("cell", point_cells(F.col("cx"), F.col("cy"), CELL_M))
    p2 = subjects.withColumn(
        "cell",
        F.explode(
            bbox_cells(F.col("x"), F.col("y"), F.col("x"), F.col("y"), CELL_M, RADIUS)
        ),
    )
    from ..spatial import spread

    # end-node × end-node: sparse by construction (unconnected way
    # ends), so the balancing exchange only pays for itself when the
    # prepare-time census shows genuinely hot cells
    jj = spread(
        p2, "tile", "cell", stats=v.cell_stats, stat="max_node_cell64"
    ).join(e2, ["tile", "cell"]).filter(
        (F.col("nearby_way_id") != F.col("way_id"))
        & (F.col("layer") != F.col("layer2"))
    )
    dd2 = (F.col("x") - F.col("cx")) * (F.col("x") - F.col("cx")) + (
        F.col("y") - F.col("cy")
    ) * (F.col("y") - F.col("cy"))
    cand2 = (
        jj.withColumn("d2", dd2)
        .filter(F.col("d2") <= RADIUS * RADIUS)
        .select(
            "tile", "node_id", "way_id", "nearby_way_id", "d2", "cx", "cy",
            "x", "y", F.col("layer").alias("layer1"), "layer2",
            F.lit(2).alias("srcq"),
        )
        .distinct()  # duplicate cells
    )

    # materialize the candidate set: everything downstream (barrier
    # veto scan, the veto anti-join, the shared-node exclusion, the
    # winner window) re-derives cands — without a cut the expensive
    # cell joins above appear ~4x in the final plan
    cands = materialize(cand1.unionByName(cand2))

    # ---- barrier veto ----------------------------------------------
    barrier_ways = (
        v.way_tags.filter(F.col("k") == "barrier")
        .select("tile", "way_id")
        .distinct()
        .join(layers, ["tile", "way_id"], "left")
        .fillna({"layer": "0"})
    )
    bsegs = way_segments(
        v, barrier_ways.select("tile", "way_id")
    ).join(barrier_ways, ["tile", "way_id"]).select(
        "tile",
        F.col("way_id").alias("bway"),
        F.col("layer").alias("blayer"),
        F.col("ax").alias("b_ax"), F.col("ay").alias("b_ay"),
        F.col("bx").alias("b_bx"), F.col("by").alias("b_by"),
    )
    bseg_cells = bsegs.withColumn(
        "cell",
        F.explode(
            bbox_cells(
                F.least("b_ax", "b_bx"), F.least("b_ay", "b_by"),
                F.greatest("b_ax", "b_bx"), F.greatest("b_ay", "b_by"),
                CELL_M, 0.0,
            )
        ),
    )
    line_cells = cands.withColumn(
        "cell",
        F.explode(
            bbox_cells(
                F.least("x", "cx"), F.least("y", "cy"),
                F.greatest("x", "cx"), F.greatest("y", "cy"),
                CELL_M, 0.0,
            )
        ),
    )
    vetoed = (
        spread(
            line_cells, "tile", "cell", stats=v.cell_stats, stat="max_seg_cell64"
        ).join(bseg_cells, ["tile", "cell"])
        .filter(
            # same-layer candidates: barrier on that layer; cross-layer
            # end-node candidates: barrier on either layer (0050:235-239)
            (F.col("blayer") == F.col("layer1"))
            | ((F.col("srcq") == 2) & (F.col("blayer") == F.col("layer2")))
        )
        .filter(
            seg_cross(
                F.col("x"), F.col("y"), F.col("cx"), F.col("cy"),
                F.col("b_ax"), F.col("b_ay"), F.col("b_bx"), F.col("b_by"),
            )
        )
        .select("tile", "node_id", "nearby_way_id", "srcq")
        .distinct()
    )
    cands = cands.join(vetoed, ["tile", "node_id", "nearby_way_id", "srcq"], "left_anti")

    # ---- connected-within-30m exclusion (0050:279-294) -------------
    wn = v.way_nodes.select("tile", "way_id", "node_id", "x", "y")
    shared = (
        cands.select("tile", "node_id", "way_id", "nearby_way_id", "x", "y")
        .join(
            wn.select(
                "tile",
                F.col("way_id").alias("nearby_way_id"),
                F.col("node_id").alias("jn"),
                F.col("x").alias("jx"),
                F.col("y").alias("jy"),
            ),
            ["tile", "nearby_way_id"],
        )
        .join(
            wn.select(
                "tile",
                F.col("way_id").alias("way_id"),
                F.col("node_id").alias("jn"),
            ),
            ["tile", "way_id", "jn"],
            "left_semi",
        )
        .filter(
            (F.col("jx") - F.col("x")) * (F.col("jx") - F.col("x"))
            + (F.col("jy") - F.col("y")) * (F.col("jy") - F.col("y"))
            <= (3 * RADIUS) * (3 * RADIUS)
        )
        .select("tile", "node_id", "way_id", "nearby_way_id")
        .distinct()
    )
    cands = cands.join(
        shared, ["tile", "node_id", "way_id", "nearby_way_id"], "left_anti"
    )

    # ---- min-distance winner per node -------------------------------
    w = Window.partitionBy("tile", "node_id").orderBy(
        "d2", "srcq", "nearby_way_id"
    )
    winners = (
        cands.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .select(
            "tile",
            F.col("node_id").alias("object_id"),
            F.col("nearby_way_id").cast("string").alias("t1"),
        )
    )
    return finish_errors(winners, 50, "node", MSGID, txt1=F.col("t1"))


# object types this check can emit (error_view resolution pruning)
EMITS = ('node',)
