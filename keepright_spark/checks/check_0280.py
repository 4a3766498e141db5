"""Check 0280 — administrative boundaries (281-285).

Reference: /root/reference/checks/0280_boundaries.php (253 LoC) over
the _tmp_border_ways table built by prepare_countries.php
(re-expressed in boundaries.stitched_border_ways).

* 281 (0280:37-48): border row without name — object is the relation
  when the row came from one, else the way.
* 282 (0280:52-79): missing admin_level / non-numeric admin_level.
* 283 (0280:88-163): per (name, admin_level, part) compare the
  direction-adjusted start of the MIN(seq) row with the end of the
  MAX(seq) row; open parts error at both endpoint nodes; standalone
  ways already member of a relation stay silent.
* 284 (0280:178-223): splitting boundary — an endpoint node appearing
  >2 times within one (name, admin_level, part); errors attach to
  every way/relation of the (name, admin_level) boundary at the evil
  node's coordinates.
* 285 (0280:229-244): a standalone boundary-way whose own (max)
  numeric admin_level exceeds the lowest admin_level of the relations
  it belongs to.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..boundaries import stitched_border_ways
from ..codec import OsmViews
from ..errors import finish_errors
from ..lib import html_escape, materialize

MSG_281 = "This boundary has no name"
MSG_282A = "The boundary of $1 has no admin_level"
MSG_282B = (
    "The boundary of $1 has no valid numeric admin_level. Please do not "
    "use admin levels like for example 6;7. Always tag the lowest "
    "admin_level of all boundaries."
)
MSG_283 = "The boundary of $1 is not closed-loop"
MSG_284 = "The boundary of $1 splits here"
MSG_285 = (
    "This boundary-way has admin_level $1 but belongs to a relation with "
    "lower admin_level (higher priority); it should have the lowest "
    "admin_level of all relations"
)

NUMERIC = r"^[0-9]+$"


def _obj(df: DataFrame) -> DataFrame:
    return df.withColumn(
        "object_type",
        F.when(F.col("relation_id").isNull(), F.lit("way")).otherwise(
            F.lit("relation")
        ),
    ).withColumn("object_id", F.coalesce(F.col("relation_id"), F.col("way_id")))


def run(v: OsmViews) -> DataFrame:
    bw = materialize(stitched_border_ways(v))

    # 281: no name
    p281 = finish_errors(
        _obj(bw.filter(F.col("name").isNull()))
        .select("tile", "object_type", "object_id")
        .distinct(),
        281,
        None,
        MSG_281,
    )

    # 282: missing / non-numeric admin_level
    disp = html_escape(F.coalesce(F.col("name"), F.lit("(no name)")))
    p282a = finish_errors(
        _obj(bw.filter(F.col("admin_level").isNull()))
        .select("tile", "object_type", "object_id", disp.alias("t1"))
        .distinct(),
        282,
        None,
        MSG_282A,
        txt1=F.col("t1"),
    ).drop("t1")
    p282b = finish_errors(
        _obj(
            bw.filter(
                F.col("admin_level").isNotNull()
                & ~F.trim(F.col("admin_level")).rlike(NUMERIC)
            )
        )
        .select("tile", "object_type", "object_id", disp.alias("t1"))
        .distinct(),
        282,
        None,
        MSG_282B,
        txt1=F.col("t1"),
    ).drop("t1")

    # 283: open parts
    grp = ["tile", "name", "admin_level", "part"]
    bounds = bw.groupBy(grp).agg(
        F.min("sequence_id").alias("mn"), F.max("sequence_id").alias("mx")
    )
    b1 = bw.select(
        *grp, F.col("sequence_id").alias("mn"),
        F.col("relation_id"), F.col("way_id"),
        F.when(F.coalesce(F.col("direction"), F.lit(1)) == 1, F.col("first_node_id"))
        .otherwise(F.col("last_node_id"))
        .alias("node1"),
    )
    b2 = bw.select(
        *grp, F.col("sequence_id").alias("mx"),
        F.when(F.coalesce(F.col("direction"), F.lit(1)) == 1, F.col("last_node_id"))
        .otherwise(F.col("first_node_id"))
        .alias("node2"),
    )
    open_parts = (
        bounds.join(b1, [*grp, "mn"])
        .join(b2, [*grp, "mx"])
        .filter(F.col("node1") != F.col("node2"))
    )
    member_ways = (
        bw.filter(F.col("relation_id").isNotNull())
        .select("tile", "way_id")
        .distinct()
    )
    open_parts = open_parts.filter(F.col("relation_id").isNotNull()).unionByName(
        open_parts.filter(F.col("relation_id").isNull()).join(
            member_ways, ["tile", "way_id"], "left_anti"
        ),
        allowMissingColumns=False,
    )
    nloc = v.nodes.select(
        "tile", F.col("id").alias("node_id"),
        F.col("lat").alias("nlat"), F.col("lon").alias("nlon"),
    )
    op_nodes = open_parts.select(
        "tile", "relation_id", "way_id", "name",
        F.explode(F.array("node1", "node2")).alias("node_id"),
    ).join(nloc, ["tile", "node_id"])
    e283 = (
        _obj(op_nodes)
        .groupBy("tile", "object_type", "object_id", "nlat", "nlon")
        .agg(F.min("name").alias("mname"))
        .select(
            "tile", "object_type", "object_id",
            (F.lit(1e7) * F.col("nlat")).alias("lat"),
            (F.lit(1e7) * F.col("nlon")).alias("lon"),
            html_escape(F.col("mname")).alias("t1"),
        )
    )
    p283 = finish_errors(e283, 283, None, MSG_283, txt1=F.col("t1")).drop("t1")

    # 284: splitting boundaries (evil nodes)
    named = bw.filter(F.col("name").isNotNull() & F.col("admin_level").isNotNull())
    nodelist = named.select(
        "tile", "name", "admin_level", "part",
        F.explode(F.array("first_node_id", "last_node_id")).alias("node_id"),
    )
    evil = (
        nodelist.groupBy("tile", "name", "admin_level", "part", "node_id")
        .agg(F.count(F.lit(1)).alias("n"))
        .filter(F.col("n") > 2)
        .select("tile", "name", "admin_level", "node_id")
    )
    e284 = (
        evil.join(bw, ["tile", "name", "admin_level"])
        .join(nloc, ["tile", "node_id"])
        .select(
            "tile", "relation_id", "way_id", "name", "nlat", "nlon"
        )
    )
    e284 = (
        _obj(e284)
        .groupBy("tile", "object_type", "object_id", "nlat", "nlon")
        .agg(F.min("name").alias("mname"))
        .select(
            "tile", "object_type", "object_id",
            (F.lit(1e7) * F.col("nlat")).alias("lat"),
            (F.lit(1e7) * F.col("nlon")).alias("lon"),
            html_escape(F.col("mname")).alias("t1"),
        )
    )
    p284 = finish_errors(e284, 284, None, MSG_284, txt1=F.col("t1")).drop("t1")

    # 285: standalone way admin_level > lowest relation admin_level
    standalone_num = bw.filter(
        F.col("relation_id").isNull()
        & F.col("admin_level").isNotNull()
        & F.trim(F.col("admin_level")).rlike(NUMERIC)
    )
    own_max = standalone_num.groupBy("tile", "way_id").agg(
        F.max(F.col("admin_level").cast("int")).alias("own_max")
    )
    rel_min = (
        bw.filter(
            F.col("relation_id").isNotNull()
            & F.col("admin_level").isNotNull()
            & F.trim(F.col("admin_level")).rlike(NUMERIC)
        )
        .groupBy("tile", "way_id")
        .agg(F.min(F.col("admin_level").cast("int")).alias("rel_min"))
    )
    e285 = (
        standalone_num.join(own_max, ["tile", "way_id"])
        .join(rel_min, ["tile", "way_id"])
        .filter(
            (F.col("admin_level").cast("int") == F.col("own_max"))
            & (F.col("own_max") > F.col("rel_min"))
        )
        .groupBy("tile", "way_id")
        .agg(F.max("admin_level").alias("mal"))
        .select(
            "tile",
            F.col("way_id").alias("object_id"),
            html_escape(F.col("mal")).alias("t1"),
        )
    )
    p285 = finish_errors(e285, 285, "way", MSG_285, txt1=F.col("t1")).drop("t1")

    out = (
        p281.unionByName(p282a)
        .unionByName(p282b)
        .unionByName(p283)
        .unionByName(p284)
        .unionByName(p285)
    )
    return out


# object types this check can emit (error_view resolution pruning)
EMITS = ("way", "relation")
