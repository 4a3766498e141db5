"""Check 0400 — geometry glitches (401 sharp junction angles, 402
zigzag ways).

Reference: /root/reference/checks/0400_geometry_glitches.php (717 LoC).

401 (0400:59-491): at junction nodes (used by ≥2 distinct major
highways, excl. residential/unclassified/paths/areas), pairs of
adjacent-node vectors with an angle sharper than 20° off straight-back
(cos inequality avoiding acos, 0400:198-215: dot > |a||b|·cos20°);
pairs sharing a name/ref value excluded (0400:227-243); a pair member
is exempt when a oneway tag or a no_*/only_* turn restriction forbids
driving the turn (0400:295-453, the four UPDATE rules + four
restriction rules).  Errors on the junction node; message depends on
which directions remain drivable.

402 (0400:495-716): along-way zigzag — node windows (A,B,C,D) where
both consecutive angles exceed a per-way limit derived from highway
class (0400:569-586), maxspeed (0400:590-605), roundabout floor 80°
(0400:608-616), with |BC|² < 80² m (0400:685-698); limit stored as
cos(180°-limit) (0400:621-625).  Error at node B, object = way,
coordinates 1e7-scaled (0400:701).

Spark: lead/lag windows over way_nodes replace the sequence_id±1
self-joins; everything is native column arithmetic in whole-stage
codegen — no UDFs, no shuffles beyond the keyed joins.
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..codec import OsmViews
from ..errors import finish_errors
from ..lib import find_oneways, materialize

MSG_BOTH = (
    "ways $1 and $2 join in a very sharp angle here and there is no "
    "oneway tag or turn restriction that prevents turning"
)
MSG_FIRST = (
    "ways $1 and $2 join in a very sharp angle here and there is no "
    "oneway tag or turn restriction that prevents turning from way $1 to $2"
)
MSG_SECOND = (
    "ways $1 and $2 join in a very sharp angle here and there is no "
    "oneway tag or turn restriction that prevents turning from way $2 to $1"
)
MSG_402 = "this way bends in a very sharp angle here"

# highway classes excluded from 401 (0400:63-69)
EXCLUDED_401 = [
    "cycleway", "service", "track", "path", "bridleway", "footway",
    "pedestrian", "steps", "via_ferrata", "emergency_access_point",
    "raceway", "preproposed", "proposed", "construction", "razed",
    "abandoned", "rest_area", "unclassified", "residential",
]
ANGLE_LIMIT_401 = math.cos(20.0 * math.pi / 180.0)
LENGTH_LIMIT_402 = 80.0 * 80.0


def _major_ways(v: OsmViews, extra_classes: bool) -> DataFrame:
    """(tile, way_id[, hw]) — _tmp_ways (0400:61-80, extension
    0400:551-566): highway not excluded, no area=yes."""
    t = v.way_tags
    if extra_classes:
        cond = (F.col("k") == "highway") & ~F.col("v").isin(
            [c for c in EXCLUDED_401 if c not in ("unclassified", "residential")]
        )
    else:
        cond = (F.col("k") == "highway") & ~F.col("v").isin(EXCLUDED_401)
    hw = t.filter(cond).select("tile", "way_id").distinct()
    area = (
        t.filter((F.col("k") == "area") & (F.col("v") == "yes"))
        .select("tile", "way_id")
        .distinct()
    )
    return hw.join(area, ["tile", "way_id"], "left_anti")


def _jpartners(v: OsmViews, ways: DataFrame) -> DataFrame:
    """_tmp_jpartners (0400:100-128): for every junction node (used by
    ≥2 distinct major ways, 0400:86-94) and each adjacent node on the
    same way: the Mercator delta vector and the travel direction."""
    wn = v.way_nodes.join(ways, ["tile", "way_id"], "left_semi").select(
        "tile", "way_id", "sequence_id", "node_id", "x", "y"
    )
    junctions = (
        wn.groupBy("tile", "node_id")
        .agg(F.count_distinct("way_id").alias("wc"))
        .filter(F.col("wc") > 1)
        .select("tile", "node_id")
    )
    w = Window.partitionBy("tile", "way_id").orderBy("sequence_id")
    adj = wn.select(
        "tile", "way_id", "sequence_id", "node_id", "x", "y",
        F.lead("node_id").over(w).alias("next_id"),
        F.lead("x").over(w).alias("next_x"),
        F.lead("y").over(w).alias("next_y"),
        F.lag("node_id").over(w).alias("prev_id"),
        F.lag("x").over(w).alias("prev_x"),
        F.lag("y").over(w).alias("prev_y"),
    ).join(junctions, ["tile", "node_id"], "left_semi")
    nxt = adj.filter(F.col("next_id").isNotNull()).select(
        "tile",
        F.col("node_id").alias("junction_id"),
        F.col("next_id").alias("other_id"),
        "way_id",
        F.lit(False).alias("reversed"),
        (F.col("next_x") - F.col("x")).alias("dx"),
        (F.col("next_y") - F.col("y")).alias("dy"),
    )
    prv = adj.filter(F.col("prev_id").isNotNull()).select(
        "tile",
        F.col("node_id").alias("junction_id"),
        F.col("prev_id").alias("other_id"),
        "way_id",
        F.lit(True).alias("reversed"),
        (F.col("prev_x") - F.col("x")).alias("dx"),
        (F.col("prev_y") - F.col("y")).alias("dy"),
    )
    return nxt.unionByName(prv)


def _restrictions(v: OsmViews) -> DataFrame:
    """(tile, from_way, to_way, rtype) — turn restrictions
    (0400:347-394); rtype ∈ {'no','only',NULL}."""
    rt = v.relation_tags
    restr_rel = (
        rt.filter((F.col("k") == "type") & (F.col("v") == "restriction"))
        .select("tile", "relation_id")
        .distinct()
    )
    rm = v.relation_members.filter(F.col("member_type") == "W")
    frm = rm.filter(F.col("member_role") == "from").select(
        "tile", "relation_id", F.col("member_id").alias("from_way")
    )
    to = rm.filter(F.col("member_role") == "to").select(
        "tile", "relation_id", F.col("member_id").alias("to_way")
    )
    pairs = (
        frm.join(to, ["tile", "relation_id"])
        .filter(F.col("from_way") != F.col("to_way"))
        .join(restr_rel, ["tile", "relation_id"], "left_semi")
    )
    rtype = rt.filter(F.col("k") == "restriction").select(
        "tile",
        "relation_id",
        F.when(F.col("v").like("no%"), F.lit("no"))
        .when(F.col("v").like("only%"), F.lit("only"))
        .alias("rtype"),
    )
    return (
        pairs.join(rtype, ["tile", "relation_id"], "left")
        .select("tile", "from_way", "to_way", "rtype")
    )


def _check_0401(v: OsmViews) -> DataFrame:
    ways = _major_ways(v, extra_classes=False)
    jp = _jpartners(v, ways)

    a = jp.select(
        "tile", "junction_id",
        F.col("other_id").alias("other1"), F.col("way_id").alias("w1"),
        F.col("reversed").alias("rev1"),
        F.col("dx").alias("ax"), F.col("dy").alias("ay"),
    )
    b = jp.select(
        "tile", "junction_id",
        F.col("other_id").alias("other2"), F.col("way_id").alias("w2"),
        F.col("reversed").alias("rev2"),
        F.col("dx").alias("bx"), F.col("dy").alias("by"),
    )
    sharp = a.join(b, ["tile", "junction_id"]).filter(
        (F.col("other1") < F.col("other2"))
        & (
            F.col("ax") * F.col("bx") + F.col("ay") * F.col("by")
            > F.sqrt(
                (F.col("ax") * F.col("ax") + F.col("ay") * F.col("ay"))
                * (F.col("bx") * F.col("bx") + F.col("by") * F.col("by"))
            )
            * ANGLE_LIMIT_401
        )
    ).select("tile", "junction_id", "w1", "rev1", "w2", "rev2")
    # materialize the sharp-pair candidates: the partner-vector pair
    # join is the expensive stage, and the plan below re-derives it —
    # same_named embeds sharp once more, the anti-join again, and each
    # of the four clear() stages doubles whatever it is handed (hit
    # derives from df, then joins back onto df), a 2^4 blow-up by the
    # last stage without a cut here
    sharp = materialize(sharp)

    # same name/ref exclusion (0400:227-243)
    nr = v.way_tags.filter(F.col("k").isin("name", "ref")).select(
        "tile", "way_id", "k", "v"
    )
    same_named = (
        sharp.join(
            nr.select("tile", F.col("way_id").alias("w1"), "k", "v"),
            ["tile", "w1"],
        )
        .join(
            nr.select("tile", F.col("way_id").alias("w2"), "k", "v"),
            ["tile", "w2", "k", "v"],
            "left_semi",
        )
        .select("tile", "junction_id", "w1", "w2")
        .distinct()
    )
    sharp = sharp.join(same_named, ["tile", "junction_id", "w1", "w2"], "left_anti")

    # oneway rules (0400:295-331): ow pointing away from the junction
    # clears the way itself; ow pointing towards it clears the other
    ow = find_oneways(v).select("tile", "way_id", F.col("reversed").alias("ow_rev"))
    sharp = (
        sharp.join(
            ow.select("tile", F.col("way_id").alias("w1"),
                      F.col("ow_rev").alias("ow1")),
            ["tile", "w1"], "left",
        )
        .join(
            ow.select("tile", F.col("way_id").alias("w2"),
                      F.col("ow_rev").alias("ow2")),
            ["tile", "w2"], "left",
        )
    )
    # XOR(ow.reversed, partner.reversed): vector travels against the
    # oneway direction, i.e. the oneway points TOWARDS the junction
    xor1 = F.col("ow1") != F.col("rev1")
    xor2 = F.col("ow2") != F.col("rev2")
    err_first = (
        F.col("ow1").isNull() | xor1  # not(ow1 present and not xor1)
    ) & (F.col("ow2").isNull() | ~xor2)  # not(ow2 present and xor2)
    err_second = (F.col("ow2").isNull() | xor2) & (F.col("ow1").isNull() | ~xor1)
    sharp = sharp.withColumn("err1", err_first).withColumn("err2", err_second)
    # second cut before the four doubling clear() stages (see above):
    # sharp is tiny here (post-exclusion candidate pairs with flags)
    sharp = materialize(sharp)

    # turn-restriction rules (0400:396-453)
    # materialized: no_r / only_r each feed two clear() stages, so the
    # relation-member role joins would be re-embedded four times
    r = materialize(_restrictions(v))
    no_r = r.filter(F.col("rtype") == "no").select("tile", "from_way", "to_way")
    only_r = r.filter(F.col("rtype") == "only").select("tile", "from_way", "to_way")

    def clear(df: DataFrame, flag: str, rel: DataFrame, fw: str, tw: str,
              equal_to: bool) -> DataFrame:
        cond = ["tile"]
        j = rel.withColumnRenamed("from_way", "_fw").withColumnRenamed(
            "to_way", "_tw"
        )
        if equal_to:
            hit = (
                df.join(
                    j, (df.tile == j.tile) & (F.col(fw) == F.col("_fw"))
                    & (F.col(tw) == F.col("_tw")), "left_semi"
                )
            )
        else:
            hit = (
                df.join(
                    j, (df.tile == j.tile) & (F.col(fw) == F.col("_fw"))
                    & (F.col(tw) != F.col("_tw")), "left_semi"
                )
            )
        _ = cond
        key = ["tile", "junction_id", "w1", "w2"]
        hit_keys = hit.select(key).distinct().withColumn("_hit", F.lit(True))
        return df.join(hit_keys, key, "left").withColumn(
            flag, F.col(flag) & F.col("_hit").isNull()
        ).drop("_hit")

    sharp = clear(sharp, "err1", no_r, "w1", "w2", True)
    sharp = clear(sharp, "err2", no_r, "w2", "w1", True)
    sharp = clear(sharp, "err1", only_r, "w1", "w2", False)
    sharp = clear(sharp, "err2", only_r, "w2", "w1", False)

    e = sharp.filter(F.col("err1") | F.col("err2")).select(
        "tile",
        F.col("junction_id").alias("object_id"),
        F.when(F.col("err1") & F.col("err2"), F.lit(MSG_BOTH))
        .when(F.col("err1"), F.lit(MSG_FIRST))
        .otherwise(F.lit(MSG_SECOND))
        .alias("msgid"),
        F.col("w1").cast("string").alias("txt1"),
        F.col("w2").cast("string").alias("txt2"),
    )
    # one candidate pair can surface via several partner-vector pairs;
    # the reference's insert-ignore PK keeps one row
    return finish_errors(
        e.dropDuplicates(["tile", "object_id", "msgid", "txt1", "txt2"]),
        401,
        "node",
        None,
    )


def _angle_limits(v: OsmViews, ways: DataFrame) -> DataFrame:
    """(tile, way_id, angle_limit) as cos(180°-limit) (0400:569-625)."""
    t = v.way_tags
    hw_lim = (
        t.filter(F.col("k") == "highway")
        .groupBy("tile", "way_id")
        .agg(F.max("v").alias("hv"))
        .select(
            "tile", "way_id",
            F.when(
                F.col("hv").isin("living_street", "residential", "unclassified"),
                110.0,
            )
            .when(F.col("hv").isin("primary", "secondary", "tertiary"), 80.0)
            .when(
                F.col("hv").isin(
                    "primary_link", "secondary_link", "tertiary_link",
                    "motorway_link", "trunk_link",
                ),
                60.0,
            )
            .when(F.col("hv") == "trunk", 45.0)
            .when(F.col("hv") == "motorway", 30.0)
            .otherwise(100.0)
            .alias("hw_limit"),
        )
    )
    ms_lim = (
        t.filter(F.col("k") == "maxspeed")
        .groupBy("tile", "way_id")
        .agg(F.max("v").alias("mv"))
        .select(
            "tile", "way_id",
            F.when(
                F.col("mv").isin("zone:30", "30", "20 mph", "20mph")
                | F.col("mv").like("__:living_street"),
                110.0,
            )
            .when(
                F.col("mv").isin("40", "zone:50", "50", "60", "30 mph", "30mph")
                | F.col("mv").like("__:urban"),
                100.0,
            )
            .when(
                F.col("mv").isin("70", "80", "40 mph", "40mph", "50 mph", "50mph"),
                80.0,
            )
            .when(
                F.col("mv").isin("90", "100", "60 mph", "60mph")
                | F.col("mv").like("__:rural"),
                60.0,
            )
            .when(
                F.col("mv").isin("110", "120", "130", "70 mph", "70mph")
                | F.col("mv").like("__:motorway"),
                30.0,
            )
            .alias("ms_limit"),
        )
    )
    roundabout = (
        t.filter((F.col("k") == "junction") & (F.col("v") == "roundabout"))
        .select("tile", "way_id")
        .distinct()
        .withColumn("is_ra", F.lit(True))
    )
    lim = (
        ways.join(hw_lim, ["tile", "way_id"], "left")
        .join(ms_lim, ["tile", "way_id"], "left")
        .join(roundabout, ["tile", "way_id"], "left")
        .select(
            "tile", "way_id",
            F.coalesce(
                F.col("ms_limit"), F.col("hw_limit"), F.lit(100.0)
            ).alias("deg"),
            "is_ra",
        )
        .select(
            "tile", "way_id",
            F.when(
                F.col("is_ra") & (F.col("deg") < 80.0), F.lit(80.0)
            ).otherwise(F.col("deg")).alias("deg"),
        )
    )
    pi = math.pi
    return lim.select(
        "tile", "way_id",
        F.cos((F.lit(180.0) - F.col("deg")) * pi / 180.0).alias("angle_limit"),
    )


def _check_0402(v: OsmViews) -> DataFrame:
    ways = _major_ways(v, extra_classes=True)
    long_enough = v.ways.filter(F.col("node_count") >= 4).select(
        "tile", F.col("id").alias("way_id")
    )
    ways = ways.join(long_enough, ["tile", "way_id"], "left_semi")
    lim = _angle_limits(v, ways)

    wn = v.way_nodes.join(ways, ["tile", "way_id"], "left_semi").join(
        lim, ["tile", "way_id"]
    )
    w = Window.partitionBy("tile", "way_id").orderBy("sequence_id")
    q = wn.select(
        "tile", "way_id", "angle_limit",
        F.col("x").alias("axx"), F.col("y").alias("ayy"),
        F.lead("x", 1).over(w).alias("bx"), F.lead("y", 1).over(w).alias("by"),
        F.lead("lon", 1).over(w).alias("blon"),
        F.lead("lat", 1).over(w).alias("blat"),
        F.lead("x", 2).over(w).alias("cx"), F.lead("y", 2).over(w).alias("cy"),
        F.lead("x", 3).over(w).alias("dx"), F.lead("y", 3).over(w).alias("dy"),
    ).filter(F.col("dx").isNotNull())

    def sharp(px, py, qx, qy, rx, ry, limit) -> Column:
        # angle at q between p and r: dot > sqrt(|pq|²·|rq|²)·limit
        v1x, v1y = px - qx, py - qy
        v2x, v2y = rx - qx, ry - qy
        return (v1x * v2x + v1y * v2y) > F.sqrt(
            (v1x * v1x + v1y * v1y) * (v2x * v2x + v2y * v2y)
        ) * limit

    e = q.filter(
        sharp(
            F.col("axx"), F.col("ayy"), F.col("bx"), F.col("by"),
            F.col("cx"), F.col("cy"), F.col("angle_limit"),
        )
        & (
            (F.col("cx") - F.col("bx")) * (F.col("cx") - F.col("bx"))
            + (F.col("cy") - F.col("by")) * (F.col("cy") - F.col("by"))
            < LENGTH_LIMIT_402
        )
        & sharp(
            F.col("bx"), F.col("by"), F.col("cx"), F.col("cy"),
            F.col("dx"), F.col("dy"), F.col("angle_limit"),
        )
    ).select(
        "tile",
        F.col("way_id").alias("object_id"),
        (F.lit(1e7) * F.col("blat")).alias("lat"),
        (F.lit(1e7) * F.col("blon")).alias("lon"),
    ).distinct()
    return finish_errors(e, 402, "way", MSG_402)


def run(v: OsmViews) -> DataFrame:
    return _check_0401(v).unionByName(_check_0402(v))


# object types this check can emit (error_view resolution pruning)
EMITS = ("node", "way")
