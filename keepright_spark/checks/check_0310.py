"""Check 0310 — roundabouts (311 not closed, 312 wrong rotation,
313 too few connections).

Reference: /root/reference/checks/0310_roundabouts.php (441 LoC).

* parts: ways tagged junction=roundabout; oneway=-1 reverses the
  direction-adjusted first/last node (0310:41-55); closed ways get
  their own part upfront; the rest stitched by min-way seeding with
  forward (first==last) / backward (last==first) extension
  (0310:80-127) — including the reference's cross-part matching quirk.
* 311 (0310:133-148): part's MIN(seq) first node ≠ MAX(seq) last node.
* 312 (0310:191-235): rotation sign of the cross product of the seed
  way's first segment around the part's centroid (average over all
  way_nodes rows); mini_roundabouts via the direction tag; wrong when
  rotation equals the country's driving side — point-in-polygon
  against admin 1/2 LHT-country boundaries plus the five hard-coded
  Mercator fix-up polygons (0310:244-364).
* 313 (0310:404-429): count of way_nodes occurrences of non-part ways
  on the part's nodes < 3 (parts with zero connections stay silent —
  reference inner-join quirk).

Spark: stitching runs as a vectorized applyInPandas operator per
tile; rotation/centroid/PIP are native column arithmetic (ray cast
over boundary edges, broadcast static polygons).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    IntegerType, LongType, StringType, StructField, StructType,
)

from ..boundaries import lht_country_edges
from ..codec import OsmViews
from ..data_tables import FIXUP_LHT_POLYGONS
from ..errors import finish_errors
from ..lib import materialize

MSG_311 = (
    "This way is part of a roundabout but is not closed-loop. "
    "(split carriageways approaching a roundabout should not be "
    "tagged as roundabout)"
)


def msg_312(kind: str, right: str) -> str:
    return (
        f"If this {kind} is in a country with {right}-hand traffic then "
        "its orientation goes the wrong way around"
    )


MSG_313 = (
    "This roundabout has only $1 other roads connected. "
    "Roundabouts typically have three."
)

_PART_SCHEMA = StructType(
    [
        StructField("tile", StringType()),
        StructField("way_id", LongType()),
        StructField("first_node_id", LongType()),
        StructField("last_node_id", LongType()),
        StructField("part", LongType()),
        StructField("sequence_id", IntegerType()),
    ]
)


def _stitch_tile(pdf: "pd.DataFrame") -> "pd.DataFrame":
    # dict-of-lists conversion (not to_dict("records")): the pandas
    # record path dominated this UDF's profile; tolist + zip is ~10×
    # cheaper and byte-identical (see boundaries.stitched_border_ways)
    def ints(col: str) -> list:
        return [None if pd.isna(x) else int(x) for x in pdf[col].tolist()]

    rows = [
        {
            "tile": t, "way_id": w, "first_node_id": fn,
            "last_node_id": ln, "part": None, "sequence_id": None,
        }
        for t, w, fn, ln in zip(
            pdf["tile"].tolist(), ints("way_id"),
            ints("first_node_id"), ints("last_node_id"),
        )
    ]

    part_ctr = 1
    # closed ways: own part (0310:66-71)
    for r in rows:
        if r["first_node_id"] is not None and r["first_node_id"] == r["last_node_id"]:
            r["part"] = part_ctr
            r["sequence_id"] = 0
            part_ctr += 1

    part = part_ctr
    while True:
        unassigned = [
            r for r in rows
            if r["sequence_id"] is None and r["first_node_id"] is not None
        ]
        if not unassigned:
            break
        seed = min(unassigned, key=lambda r: r["way_id"])
        seed["part"] = part
        seed["sequence_id"] = 0
        loop = 1
        while True:
            assigned = [r for r in rows if r["sequence_id"] is not None]
            found = 0
            # forward: T1.first == T0.last where T0.seq == loop-1
            ends_f = {
                r["last_node_id"] for r in assigned if r["sequence_id"] == loop - 1
            }
            for m in [
                r for r in rows
                if r["sequence_id"] is None and r["first_node_id"] in ends_f
            ]:
                m["part"] = part
                m["sequence_id"] = loop
                found += 1
            # backward: T1.last == T0.first where T0.seq == -loop+1
            ends_b = {
                r["first_node_id"] for r in assigned if r["sequence_id"] == -loop + 1
            }
            for m in [
                r for r in rows
                if r["sequence_id"] is None and r["last_node_id"] in ends_b
            ]:
                m["part"] = part
                m["sequence_id"] = -loop
                found += 1
            if found == 0:
                break
            loop += 1
        part += 1
    return pd.DataFrame(
        {c: [r[c] for r in rows] for c in (f.name for f in _PART_SCHEMA.fields)}
    )


def _ray_cast_count(pts: DataFrame, edges: DataFrame, keys: list[str]) -> DataFrame:
    """Count even-odd ray crossings of (px, py) points against edges
    (ax, ay, bx, by), joined on ``keys``; returns points with odd
    parity (inside)."""
    j = pts.join(edges, keys)
    crossing = (
        ((F.col("ay") > F.col("py")) != (F.col("by") > F.col("py")))
        & (
            F.col("px")
            < F.col("ax")
            + (F.col("bx") - F.col("ax"))
            * (F.col("py") - F.col("ay"))
            / (F.col("by") - F.col("ay"))
        )
    )
    # parity per country name — overlapping countries must not mix
    grp = [c for c in pts.columns] + ["name"]
    return (
        j.groupBy(grp)
        .agg(F.sum(F.when(crossing, 1).otherwise(0)).alias("nc"))
        .filter(F.col("nc") % 2 == 1)
        .drop("nc", "name")
    )


def run(v: OsmViews) -> DataFrame:
    t = v.way_tags
    ra = (
        t.filter((F.col("k") == "junction") & (F.col("v") == "roundabout"))
        .select("tile", "way_id")
        .distinct()
    )
    rev = (
        t.filter((F.col("k") == "oneway") & (F.col("v") == "-1"))
        .select("tile", "way_id")
        .distinct()
        .withColumn("rev", F.lit(True))
    )
    parts0 = (
        ra.join(rev, ["tile", "way_id"], "left")
        .join(
            v.ways.select(
                "tile", F.col("id").alias("way_id"),
                F.col("first_node_id").alias("wf"),
                F.col("last_node_id").alias("wl"),
            ),
            ["tile", "way_id"],
            "left",
        )
        .select(
            "tile", "way_id",
            F.when(F.col("rev"), F.col("wl")).otherwise(F.col("wf")).alias(
                "first_node_id"
            ),
            F.when(F.col("rev"), F.col("wf")).otherwise(F.col("wl")).alias(
                "last_node_id"
            ),
        )
    )
    parts = materialize(
        parts0.groupBy("tile")
        .applyInPandas(_stitch_tile, _PART_SCHEMA)
        .filter(F.col("sequence_id").isNotNull())
    )

    # ---- 311: non-closed parts ----------------------------------
    seqbounds = parts.groupBy("tile", "part").agg(
        F.min("sequence_id").alias("minseq"), F.max("sequence_id").alias("maxseq")
    )
    firsts = parts.select(
        "tile", "part", F.col("sequence_id").alias("minseq"),
        F.col("way_id").alias("fw"), F.col("first_node_id").alias("fnode"),
    )
    lasts = parts.select(
        "tile", "part", F.col("sequence_id").alias("maxseq"),
        F.col("last_node_id").alias("lnode"),
    )
    open_parts = (
        seqbounds.join(firsts, ["tile", "part", "minseq"])
        .join(lasts, ["tile", "part", "maxseq"])
        .filter(F.col("fnode") != F.col("lnode"))
    )
    p311 = finish_errors(
        open_parts.select("tile", F.col("fw").alias("object_id")).distinct(),
        311,
        "way",
        MSG_311,
    )

    # ---- rotation + traffic side --------------------------------
    wn = v.way_nodes.select("tile", "way_id", "sequence_id", "node_id", "x", "y")
    centers = (
        parts.join(wn, ["tile", "way_id"])
        .groupBy("tile", "part")
        .agg(
            (F.sum("y") / F.count("node_id")).alias("cy"),
            (F.sum("x") / F.count("node_id")).alias("cx"),
        )
    )
    seed_ways = parts.filter(F.col("sequence_id") == 0).select(
        "tile", "part", "way_id"
    )
    from pyspark.sql import Window

    ww = Window.partitionBy("tile", "way_id").orderBy("sequence_id")
    # rank only the seed ways' nodes (roundabout parts are a tiny
    # fraction of way_nodes): semi-join before the window sort
    wn12 = (
        wn.join(
            seed_ways.select("tile", "way_id").distinct(),
            ["tile", "way_id"], "left_semi",
        )
        .withColumn("rn", F.row_number().over(ww))
        .filter(F.col("rn") <= 2)
        .groupBy("tile", "way_id")
        .agg(
            F.min(F.struct("rn", "x", "y")).alias("p1"),
            F.max(F.struct("rn", "x", "y")).alias("p2"),
        )
    )
    rot = (
        seed_ways.join(wn12, ["tile", "way_id"])
        .join(centers, ["tile", "part"])
        .select(
            "tile", "part", "way_id", "cx", "cy",
            (
                (F.col("p1.x") - F.col("cx")) * (F.col("p2.y") - F.col("cy"))
                - (F.col("p1.y") - F.col("cy")) * (F.col("p2.x") - F.col("cx"))
                < 0
            ).alias("clockwise"),
            F.lit(False).alias("mini"),
        )
    )
    minis = (
        v.node_tags.filter(
            (F.col("k") == "highway") & (F.col("v") == "mini_roundabout")
        )
        .select("tile", "node_id")
        .join(
            v.node_tags.filter(
                (F.col("k") == "direction")
                & F.col("v").isin("clockwise", "counterclockwise", "anticlockwise")
            ).select("tile", "node_id", "v"),
            ["tile", "node_id"],
        )
        .join(
            v.nodes.select("tile", F.col("id").alias("node_id"), "x", "y"),
            ["tile", "node_id"],
        )
        .select(
            "tile",
            (-F.col("node_id")).alias("part"),
            F.col("node_id").alias("way_id"),  # reported object id
            F.col("x").alias("cx"),
            F.col("y").alias("cy"),
            (F.col("v") == "clockwise").alias("clockwise"),
            F.lit(True).alias("mini"),
        )
        .distinct()
    )
    allr = rot.unionByName(minis)

    # LHT: country boundary PIP + static fix-up polygons
    pts = allr.select("tile", "part", "cx", "cy").withColumnRenamed(
        "cx", "px"
    ).withColumnRenamed("cy", "py")
    cedges = lht_country_edges(v).select("tile", "name", "ax", "ay", "bx", "by")
    in_country = (
        _ray_cast_count(pts, cedges, ["tile"]).select("tile", "part").distinct()
    )
    spark = v.ways.sparkSession
    fixup_rows = []
    for pi, poly in enumerate(FIXUP_LHT_POLYGONS):
        for (ax, ay), (bx, by) in zip(poly, poly[1:]):
            fixup_rows.append((pi, ax, ay, bx, by))
    fedges = F.broadcast(
        spark.createDataFrame(
            fixup_rows, "poly int, ax double, ay double, bx double, by double"
        )
    )
    # per static polygon: odd crossings → inside
    jf = pts.crossJoin(fedges)
    crossing = (
        ((F.col("ay") > F.col("py")) != (F.col("by") > F.col("py")))
        & (
            F.col("px")
            < F.col("ax")
            + (F.col("bx") - F.col("ax"))
            * (F.col("py") - F.col("ay"))
            / (F.col("by") - F.col("ay"))
        )
    )
    in_fixup = (
        jf.groupBy("tile", "part", "poly")
        .agg(F.sum(F.when(crossing, 1).otherwise(0)).alias("nc"))
        .filter(F.col("nc") % 2 == 1)
        .select("tile", "part")
        .distinct()
    )
    lht_parts = in_country.unionByName(in_fixup).distinct().withColumn(
        "lht", F.lit(True)
    )
    allr = allr.join(lht_parts, ["tile", "part"], "left").withColumn(
        "right_hand", F.col("lht").isNull()
    )

    wrong = allr.filter(F.col("right_hand") == F.col("clockwise"))
    p312 = finish_errors(
        wrong.select(
            "tile",
            F.col("way_id").alias("object_id"),
            F.when(
                F.col("mini"),
                F.when(
                    F.col("right_hand"),
                    F.lit(msg_312("mini_roundabout", "right")),
                ).otherwise(F.lit(msg_312("mini_roundabout", "left"))),
            ).otherwise(
                F.when(
                    F.col("right_hand"), F.lit(msg_312("roundabout", "right"))
                ).otherwise(F.lit(msg_312("roundabout", "left")))
            ).alias("msgid"),
            F.when(F.col("mini"), F.lit("node")).otherwise(F.lit("way")).alias(
                "object_type"
            ),
        ),
        312,
        None,
        None,
    )

    # ---- 313: too few connected roads ---------------------------
    part_nodes = (
        parts.join(wn.select("tile", "way_id", "node_id"), ["tile", "way_id"])
        .select("tile", "part", "node_id")
        .distinct()
    )
    part_ways = parts.select("tile", "part", "way_id").distinct()
    conn = (
        part_nodes.join(
            wn.select("tile", "node_id", F.col("way_id").alias("oway")),
            ["tile", "node_id"],
        )
        .join(
            part_ways.withColumnRenamed("way_id", "oway"),
            ["tile", "part", "oway"],
            "left_anti",
        )
        .groupBy("tile", "part")
        .agg(F.count("oway").alias("cnt"))
        .filter(F.col("cnt") < 3)
    )
    p313 = finish_errors(
        conn.join(part_ways, ["tile", "part"])
        .groupBy("tile", "part", "cnt")
        .agg(F.min("way_id").alias("object_id"))
        .select(
            "tile", "object_id", F.col("cnt").cast("string").alias("t1")
        ),
        313,
        "way",
        MSG_313,
        txt1=F.col("t1"),
    ).drop("t1")

    out = p311.unionByName(p312).unionByName(p313)
    return out


# object types this check can emit (error_view resolution pruning)
EMITS = ("node", "way")
