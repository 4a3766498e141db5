"""Check 0290 — turn restrictions (subtypes 291-298).

Reference: /root/reference/checks/0290_restrictions.php (296 LoC).

Restriction relations: ``type`` ∈ {restriction, restriction:hgv, …}
(0290:21).  Member resolution pins from/to = W-members with role
from/to, via = N-member with role via (0290:49-76; the reference's
UPDATE..FROM picks an arbitrary row when cardinality > 1 — we pin the
smallest sequence_id; such relations are reported by 292/293 and then
dropped from further testing anyway, 0290:160-168).

* 291 missing restriction tag / unknown restriction value (0290:94-116)
* 292/293 from/to cardinality ≠ 1 (0290:120-133); counts ALL roles
  regardless of member type
* 294 from/to member not a way (0290:137-148); group_concat pinned to
  member sequence order
* 295 via node not an endpoint of from/to (0290:169-180)
* 296 turn angle vs restriction type (0290:186-237): azimuths of
  (from-adjacent → via) and (via → to-adjacent) on Mercator meters,
  normalized delta in degrees, per-type allowed ranges
* 297 only_* pointing into a oneway against its direction (0290:244-264)
* 298 no_* already implied by oneway on `to` (0290:268-288)

All native Spark SQL; azimuth = atan2 on Mercator deltas (identical to
ST_Azimuth after the reference's >π wrap, both in (-π, π]).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..codec import OsmViews
from ..errors import finish_errors
from ..lib import html_escape, materialize

RESTRICTION_TYPES = [
    "restriction", "restriction:hgv", "restriction:caravan",
    "restriction:motorcar", "restriction:bus", "restriction:agricultural",
    "restriction:motorcycle", "restriction:bicycle", "restriction:hazmat",
]
KNOWN_VALUES = [
    "no_left_turn", "no_right_turn", "no_u_turn", "only_straight_on",
    "no_straight_on", "only_left_turn", "only_right_turn", "no_entry",
    "no_exit",
]

MSG_NO_TYPE = "This turn-restriction has no restriction type"
MSG_UNKNOWN = "This turn-restriction has no known restriction type"
MSG_CARD = "A turn-restriction needs exactly one $1 member. This one has $2"
MSG_NOT_WAY = "From- and To-members of turn restrictions need to be ways. $1"
MSG_VIA_FROM = "via (node #$1) is not the first or the last member of from (way #$2)"
MSG_VIA_TO = "via (node #$1) is not the first or the last member of to (way #$2)"
MSG_ANGLE = (
    "restriction type is $1, but angle is $2 degrees. "
    "Maybe the restriction type is not appropriate?"
)
MSG_WRONG_DIR = "wrong direction of to way $1"
MSG_USELESS = "entry already prohibited by oneway tag on $1"


def run(v: OsmViews) -> DataFrame:
    rt = v.relation_tags
    rm = v.relation_members
    base = (
        rt.filter((F.col("k") == "type") & F.col("v").isin(RESTRICTION_TYPES))
        .select("tile", "relation_id")
        .distinct()
    )

    def pinned_member(role: str, mtype: str, out: str) -> DataFrame:
        w = Window.partitionBy("tile", "relation_id").orderBy("sequence_id")
        return (
            rm.filter((F.col("member_role") == role) & (F.col("member_type") == mtype))
            .withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1)
            .select("tile", "relation_id", F.col("member_id").alias(out))
        )

    r = (
        base.join(pinned_member("from", "W", "from_id"), ["tile", "relation_id"], "left")
        .join(pinned_member("to", "W", "to_id"), ["tile", "relation_id"], "left")
        .join(pinned_member("via", "N", "via_id"), ["tile", "relation_id"], "left")
        .join(
            v.nodes.select(
                "tile", F.col("id").alias("via_id"),
                F.col("lat").alias("via_lat"), F.col("lon").alias("via_lon"),
                F.col("x").alias("via_x"), F.col("y").alias("via_y"),
            ),
            ["tile", "via_id"], "left",
        )
    )

    rtags = rt.filter(F.col("k").isin(RESTRICTION_TYPES)).select(
        "tile", "relation_id", "v"
    )

    # 291: no restriction tag at all / unknown value
    e291a = base.join(rtags, ["tile", "relation_id"], "left_anti").select(
        "tile", F.col("relation_id").alias("object_id")
    )
    p291a = finish_errors(e291a, 291, "relation", MSG_NO_TYPE)
    e291b = (
        base.join(rtags, ["tile", "relation_id"])
        .filter(~F.col("v").isin(KNOWN_VALUES))
        .select("tile", F.col("relation_id").alias("object_id"))
        .distinct()
    )
    p291b = finish_errors(e291b, 291, "relation", MSG_UNKNOWN)

    # 292/293: cardinality of from/to (all member types)
    card_parts = []
    for etype, role in ((292, "from"), (293, "to")):
        cnt = (
            base.join(
                rm.filter(F.col("member_role") == role).select(
                    "tile", "relation_id", "member_id"
                ),
                ["tile", "relation_id"],
                "left",
            )
            .groupBy("tile", "relation_id")
            .agg(F.count("member_id").alias("n"))
            .filter(F.col("n") != 1)
        )
        card_parts.append(
            finish_errors(
                cnt.select(
                    "tile",
                    F.col("relation_id").alias("object_id"),
                    F.lit(role).alias("t1"),
                    F.col("n").cast("string").alias("t2"),
                ),
                etype,
                "relation",
                MSG_CARD,
                txt1=F.col("t1"),
                txt2=F.col("t2"),
            ).drop("t1", "t2")
        )

    # 294: from/to member that is not a way
    notw = (
        base.join(rm, ["tile", "relation_id"])
        .filter(
            F.col("member_role").isin("from", "to") & (F.col("member_type") != "W")
        )
        .groupBy("tile", "relation_id")
        .agg(
            F.concat_ws(
                ",",
                F.transform(
                    F.array_sort(
                        F.collect_list(
                            F.struct(
                                "sequence_id",
                                F.concat(
                                    F.col("member_role"),
                                    F.when(
                                        F.col("member_type") == "N",
                                        F.lit(" node #"),
                                    ).otherwise(F.lit(" relation #")),
                                    F.col("member_id").cast("string"),
                                ).alias("txt"),
                            )
                        )
                    ),
                    lambda s: s.getField("txt"),
                ),
            ).alias("lst")
        )
    )
    p294 = finish_errors(
        notw.select(
            "tile", F.col("relation_id").alias("object_id"), "lst"
        ),
        294,
        "relation",
        MSG_NOT_WAY,
        txt1=html_escape(F.col("lst")),
    ).drop("lst")

    # complete relations without 291-294 errors continue (0290:152-168)
    early = (
        p291a.unionByName(p291b)
        .unionByName(card_parts[0])
        .unionByName(card_parts[1])
        .unionByName(p294)
    )
    bad_ids = early.select("tile", F.col("object_id").alias("relation_id")).distinct()
    # materialized: every later clause (295 x2, the 296 way list x2,
    # 297/298 joins) re-derives rr, and rr embeds both the pinned-
    # member windows and the whole early-error union via bad_ids —
    # one tiny frame, ~6 consumers
    rr = materialize(
        r.filter(
            F.col("from_id").isNotNull()
            & F.col("to_id").isNotNull()
            & F.col("via_id").isNotNull()
        )
        .join(bad_ids, ["tile", "relation_id"], "left_anti")
    )

    wmeta = v.ways.select(
        "tile", F.col("id").alias("way_id"), "first_node_id", "last_node_id"
    )

    # 295: via not an endpoint of from/to
    via_parts = []
    for which, msg in (("from_id", MSG_VIA_FROM), ("to_id", MSG_VIA_TO)):
        e = (
            rr.join(
                wmeta.withColumnRenamed("way_id", which), ["tile", which]
            )
            .filter(
                (F.col("via_id") != F.col("first_node_id"))
                & (F.col("via_id") != F.col("last_node_id"))
            )
            .select(
                "tile",
                F.col("relation_id").alias("object_id"),
                (F.lit(1e7) * F.col("via_lat")).alias("lat"),
                (F.lit(1e7) * F.col("via_lon")).alias("lon"),
                F.col("via_id").cast("string").alias("t1"),
                F.col(which).cast("string").alias("t2"),
            )
            .drop("first_node_id", "last_node_id")
        )
        via_parts.append(
            finish_errors(
                e, 295, "relation", msg, txt1=F.col("t1"), txt2=F.col("t2")
            ).drop("t1", "t2")
        )
    p295 = via_parts[0].unionByName(via_parts[1])
    has295 = p295.select("tile", F.col("object_id").alias("relation_id")).distinct()

    # 296: angle vs restriction type (0290:186-237)
    # way_nodes is the biggest view and restriction from/to ways are a
    # tiny fraction of it: semi-join FIRST, then rank — two windows
    # over a few hundred rows instead of two full-table sorts (the
    # r3 profile's largest 0290 stage-chain term)
    rel_ways = (
        rr.select("tile", F.col("from_id").alias("way_id"))
        .unionByName(rr.select("tile", F.col("to_id").alias("way_id")))
        .distinct()
    )
    wn = v.way_nodes.select(
        "tile", "way_id", "sequence_id", "node_id", "x", "y"
    ).join(rel_ways, ["tile", "way_id"], "left_semi")
    wseq = Window.partitionBy("tile", "way_id").orderBy("sequence_id")
    wseq_d = Window.partitionBy("tile", "way_id").orderBy(F.col("sequence_id").desc())
    ranked = wn.withColumn("rn_a", F.row_number().over(wseq)).withColumn(
        "rn_d", F.row_number().over(wseq_d)
    )

    def adjacent(which: str, out: str) -> DataFrame:
        """Second node (via == first) else second-to-last (0290:216-223)."""
        w2 = wmeta.withColumnRenamed("way_id", which)
        j = rr.select("tile", "relation_id", which, "via_id").join(
            w2, ["tile", which]
        )
        adj = j.join(
            ranked.withColumnRenamed("way_id", which), ["tile", which]
        ).filter(
            F.when(F.col("via_id") == F.col("first_node_id"), F.col("rn_a") == 2)
            .otherwise(F.col("rn_d") == 2)
        )
        return adj.select(
            "tile", "relation_id",
            F.col("x").alias(f"{out}_x"), F.col("y").alias(f"{out}_y"),
        )

    ang = (
        rr.join(adjacent("from_id", "nf"), ["tile", "relation_id"], "left")
        .join(adjacent("to_id", "nt"), ["tile", "relation_id"], "left")
        .join(rtags, ["tile", "relation_id"], "left")
    )
    a1 = F.atan2(F.col("via_x") - F.col("nf_x"), F.col("via_y") - F.col("nf_y"))
    a2 = F.atan2(F.col("nt_x") - F.col("via_x"), F.col("nt_y") - F.col("via_y"))
    import math

    pi = math.pi
    raw = a2 - a1
    d = (
        F.when(raw > pi, (raw / pi - 2) * 180)
        .when(raw < -pi, (raw / pi + 2) * 180)
        .otherwise(raw / pi * 180)
    )
    ang = ang.withColumn("d", d)
    ok = (
        F.when(
            F.col("v").isin("only_straight_on", "no_straight_on")
            & (F.col("d") > -50) & (F.col("d") < 50),
            True,
        )
        .when(
            F.col("v").isin("only_right_turn", "no_right_turn")
            & (F.col("d") > 5),
            True,
        )
        .when(
            F.col("v").isin("only_left_turn", "no_left_turn")
            & (F.col("d") < -5),
            True,
        )
        .when(
            (F.col("v") == "no_u_turn")
            & ((F.col("d") < -95) | (F.col("d") > 179.99)),
            True,
        )
        .otherwise(False)
    )
    e296 = (
        ang.filter(~ok & F.col("d").isNotNull())
        .join(has295, ["tile", "relation_id"], "left_anti")
        .select(
            "tile",
            F.col("relation_id").alias("object_id"),
            (F.lit(1e7) * F.col("via_lat")).alias("lat"),
            (F.lit(1e7) * F.col("via_lon")).alias("lon"),
            F.col("v").alias("t1"),
            F.round(F.col("d")).cast("long").cast("string").alias("t2"),
        )
    )
    p296 = finish_errors(
        e296, 296, "relation", MSG_ANGLE, txt1=F.col("t1"), txt2=F.col("t2")
    ).drop("t1", "t2")

    # 297/298: to-way oneway direction conflicts (0290:244-288)
    base_restr = rt.filter(F.col("k") == "restriction").select(
        "tile", "relation_id", "v"
    )
    ow = v.way_tags.filter(F.col("k") == "oneway").select(
        "tile", F.col("way_id").alias("to_id"), F.col("v").alias("owv")
    )
    to_dir = (
        rr.join(base_restr, ["tile", "relation_id"])
        .join(wmeta.withColumnRenamed("way_id", "to_id"), ["tile", "to_id"])
        .join(ow, ["tile", "to_id"])
        .filter(
            ((F.col("owv") == "yes") & (F.col("via_id") == F.col("last_node_id")))
            | ((F.col("owv") == "-1") & (F.col("via_id") == F.col("first_node_id")))
        )
    )
    e297 = (
        to_dir.filter(
            F.col("v").isin("only_straight_on", "only_left_turn", "only_right_turn")
        )
        .select(
            "tile",
            F.col("relation_id").alias("object_id"),
            (F.lit(1e7) * F.col("via_lat")).alias("lat"),
            (F.lit(1e7) * F.col("via_lon")).alias("lon"),
            F.col("to_id").cast("string").alias("t1"),
        )
        .distinct()
    )
    p297 = finish_errors(
        e297, 297, "relation", MSG_WRONG_DIR, txt1=F.col("t1")
    ).drop("t1")
    e298 = (
        to_dir.filter(
            F.col("v").isin(
                "no_straight_on", "no_left_turn", "no_right_turn", "no_u_turn"
            )
        )
        .select(
            "tile",
            F.col("relation_id").alias("object_id"),
            (F.lit(1e7) * F.col("via_lat")).alias("lat"),
            (F.lit(1e7) * F.col("via_lon")).alias("lon"),
            F.col("to_id").cast("string").alias("t1"),
        )
        .distinct()
    )
    p298 = finish_errors(
        e298, 298, "relation", MSG_USELESS, txt1=F.col("t1")
    ).drop("t1")

    return (
        early.unionByName(p295)
        .unionByName(p296)
        .unionByName(p297)
        .unionByName(p298)
    )


# object types this check can emit (error_view resolution pruning)
EMITS = ("relation",)
