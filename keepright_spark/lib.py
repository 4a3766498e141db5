"""Shared building blocks for the check dataflows.

Re-expressions of the reference's SQL/plpgsql helper functions
(/root/reference/checks/helpers.php) as native Spark expressions —
no Python UDFs anywhere in these paths.
"""

from __future__ import annotations

import json
import os
from contextlib import contextmanager
from contextvars import ContextVar

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .codec import OsmViews

FALSY = ["no", "false", "0"]  # the reference's NOT IN ('no','false','0')


_open_scope: ContextVar[list[DataFrame] | None] = ContextVar(
    "materialization_scope", default=None
)


@contextmanager
def materialization_scope():
    """Own what ``materialize`` returns inside the block; on exit free
    each frame's blocks through its checkpoint's backing ``LogicalRDD``
    (``df.unpersist()`` does not free a localCheckpoint) and delete a
    reliable checkpoint's files."""
    held: list[DataFrame] = []
    token = _open_scope.set(held)
    try:
        yield
    finally:
        _open_scope.reset(token)
        for df in held:
            rdd = df._jdf.queryExecution().logical().rdd()
            rdd.unpersist(False)
            ckpt = rdd.getCheckpointFile()
            if ckpt.isDefined():
                sc = df.sparkSession.sparkContext
                path = sc._jvm.org.apache.hadoop.fs.Path(ckpt.get())
                path.getFileSystem(sc._jsc.hadoopConfiguration()).delete(path, True)


def materialize(df: DataFrame) -> DataFrame:
    """Compute ``df`` now and truncate its lineage — the one way an
    intermediate is materialized: an eager ``localCheckpoint``, or a
    reliable ``checkpoint`` when a checkpoint dir is set (on a cluster,
    executor loss would orphan local blocks).

    Owner and lifetime: the innermost open ``materialization_scope``
    (a contextvar, so one per staged-runner thread) owns the result
    and frees it on exit.  The owners are the staged runner (each
    check's write), ``prepare`` (tile assignment and the view/helper
    writes) and ``run_persistent`` (each group's write, then
    sync/commit).  Scope exit frees the blocks and deletes a reliable
    checkpoint's files.  With no scope open the result is not tracked:
    it lives until the JVM garbage-collects it, and ``cleanCheckpoints``
    (session.get_spark) then deletes any files.
    """
    sc = df.sparkSession.sparkContext
    if sc.getCheckpointDir():
        out = df.checkpoint(eager=True)
    else:
        out = df.localCheckpoint(eager=True)
    held = _open_scope.get()
    if held is not None:
        held.append(out)
    return out


def fixpoint(
    seed: DataFrame, probe: DataFrame, step, key: list[str], max_rounds: int
) -> DataFrame:
    """Grow ``seed`` by ``step`` until a round adds no new ``key``, for
    at most ``max_rounds`` rounds — the relation-nesting loop of tile
    assignment and of relation location.  When ``probe`` is empty (no
    nesting at all) ``seed`` comes back after one LIMIT-1 probe.  Each
    round materializes ``step(acc)``'s rows whose key ``acc`` lacks,
    counts them and unions them in; the deterministic pin is the
    step's own."""
    if probe.limit(1).count() == 0:
        return seed
    acc = materialize(seed)
    for _ in range(max_rounds):
        new = materialize(step(acc).join(acc, key, "left_anti"))
        if new.count() == 0:
            break
        acc = materialize(acc.unionByName(new))
    return acc


def write_json(path: str, obj) -> None:
    """Replace the JSON document at ``path`` in one step: it is written
    to ``path.tmp`` and renamed over ``path``, so a reader or a crash
    sees the previous document or the new one, never a torn one.  The
    one commit primitive of the engine stamp, the docs-store manifest
    and the run manifest."""
    tmp = path + ".tmp"
    with open(tmp, "w") as f:
        json.dump(obj, f, indent=1, sort_keys=True)
    os.replace(tmp, path)


def html_escape(col: Column) -> Column:
    """php htmlspecialchars twin (helpers.php:435-443): replace
    & ' " < > in exactly that order."""
    out = F.replace(col, F.lit("&"), F.lit("&amp;"))
    out = F.replace(out, F.lit("'"), F.lit("&#039;"))
    out = F.replace(out, F.lit('"'), F.lit("&quot;"))
    out = F.replace(out, F.lit("<"), F.lit("&lt;"))
    out = F.replace(out, F.lit(">"), F.lit("&gt;"))
    return out


HTML_ESCAPE_SQL = (
    "REPLACE(REPLACE(REPLACE(REPLACE(REPLACE({0}, '&', '&amp;'), "
    "'''', '&#039;'), '\"', '&quot;'), '<', '&lt;'), '>', '&gt;')"
)


def tags_of(v: OsmViews, otype: str) -> DataFrame:
    """(tile, id, k, v) for the given object type."""
    df = {"node": v.node_tags, "way": v.way_tags, "relation": v.relation_tags}[otype]
    idcol = f"{otype}_id"
    return df.select("tile", F.col(idcol).alias("id"), "k", "v")


def ids_with_tag(tags: DataFrame, cond: Column) -> DataFrame:
    """Distinct (tile, id) of objects having a tag matching cond;
    ``tags`` in tags_of shape."""
    return tags.filter(cond).select("tile", "id").distinct()


def quoted_tag_list(tags: DataFrame) -> DataFrame:
    """Per (tile, id): '"k=v"' entries joined with ', ' — the
    array_to_string(array(SELECT '"'||k||'='||v||'"' ...), ', ')
    idiom of checks 0070/0170.  The reference's array order is scan
    order; we pin ascending (k, v) (oracles do the same)."""
    return tags.groupBy("tile", "id").agg(
        F.concat_ws(
            ", ",
            F.transform(
                F.array_sort(F.collect_list(F.struct("k", "v"))),
                lambda s: F.concat(
                    F.lit('"'),
                    F.coalesce(s.getField("k"), F.lit("")),
                    F.lit("="),
                    F.coalesce(s.getField("v"), F.lit("")),
                    F.lit('"'),
                ),
            ),
        ).alias("taglist")
    )


def way_layers(v: OsmViews) -> DataFrame:
    """(tile, way_id, layer TEXT) for every way — find_layer_values
    (helpers.php:535-583): default '0'; bridge→'1', tunnel→'-1'
    (tunnel wins if both, helpers.php:561-580 update order), then the
    ``level`` tag, then the ``layer`` tag override.  Layer stays a
    *string*: '0' ≠ '00' in the reference's equality joins."""
    if v.h_layers is not None:
        return v.h_layers
    t = v.way_tags
    per_way = t.groupBy("tile", "way_id").agg(
        F.max(F.when(F.col("k") == "layer", F.col("v"))).alias("layer_tag"),
        F.max(F.when(F.col("k") == "level", F.col("v"))).alias("level_tag"),
        F.max(
            F.when((F.col("k") == "bridge") & ~F.col("v").isin(FALSY), F.lit(1))
        ).alias("is_bridge"),
        F.max(
            F.when((F.col("k") == "tunnel") & ~F.col("v").isin(FALSY), F.lit(1))
        ).alias("is_tunnel"),
    )
    ways = v.ways.select("tile", F.col("id").alias("way_id"))
    return ways.join(per_way, ["tile", "way_id"], "left").select(
        "tile",
        "way_id",
        F.coalesce(
            F.col("layer_tag"),
            F.col("level_tag"),
            F.when(F.col("is_tunnel") == 1, F.lit("-1")),
            F.when(F.col("is_bridge") == 1, F.lit("1")),
            F.lit("0"),
        ).alias("layer"),
    )


WAY_LAYERS_SQL = """
way_layers AS (
    SELECT w.tile, w.id AS way_id,
           COALESCE(
               MAX(CASE WHEN t.k='layer' THEN t.v END),
               MAX(CASE WHEN t.k='level' THEN t.v END),
               CASE WHEN MAX(CASE WHEN t.k='tunnel' AND t.v NOT IN ('no','false','0') THEN 1 END)=1 THEN '-1'
                    WHEN MAX(CASE WHEN t.k='bridge' AND t.v NOT IN ('no','false','0') THEN 1 END)=1 THEN '1'
                    ELSE '0' END) AS layer
    FROM ways w LEFT JOIN way_tags t ON w.tile=t.tile AND w.id=t.way_id
    GROUP BY w.tile, w.id
)"""


def way_lengths(v: OsmViews) -> DataFrame:
    """(tile, way_id, length) — ST_Length of the way geometry in
    Mercator meters: sum of consecutive-node segment lengths over the
    x/y columns (prepare_helpertables.php:138-149 builds the geometry
    from the same x/y)."""
    if v.h_lengths is not None:
        return v.h_lengths
    from pyspark.sql import Window

    w = Window.partitionBy("tile", "way_id").orderBy("sequence_id")
    seg = v.way_nodes.select(
        "tile",
        "way_id",
        "sequence_id",
        "x",
        "y",
        F.lead("x").over(w).alias("x2"),
        F.lead("y").over(w).alias("y2"),
    )
    return seg.groupBy("tile", "way_id").agg(
        F.coalesce(
            F.sum(
                F.sqrt(
                    (F.col("x2") - F.col("x")) * (F.col("x2") - F.col("x"))
                    + (F.col("y2") - F.col("y")) * (F.col("y2") - F.col("y"))
                )
            ),
            F.lit(0.0),
        ).alias("length")
    )


WAY_LENGTHS_SQL = """
way_lengths AS (
    SELECT tile, way_id,
           COALESCE(SUM(SQRT((x2-x)*(x2-x) + (y2-y)*(y2-y))), 0.0) AS length
    FROM (
        SELECT tile, way_id, x, y,
               LEAD(x) OVER (PARTITION BY tile, way_id ORDER BY sequence_id) AS x2,
               LEAD(y) OVER (PARTITION BY tile, way_id ORDER BY sequence_id) AS y2
        FROM way_nodes
    )
    GROUP BY tile, way_id
)"""


def find_oneways(v: OsmViews) -> DataFrame:
    """_tmp_one_ways twin (helpers.php:592-700): (tile, way_id,
    reversed, first_node_id, last_node_id, first/last lat/lon) with
    first/last swapped for reversed oneways."""
    if v.h_oneways is not None:
        return v.h_oneways
    t = v.way_tags
    base = ids_with_tag(
        t.select("tile", F.col("way_id").alias("id"), "k", "v"),
        ((F.col("k") == "oneway") & F.col("v").isin("yes", "true", "1", "reverse", "-1"))
        | ((F.col("k") == "junction") & (F.col("v") == "roundabout"))
        | (
            (F.col("k") == "highway")
            & F.col("v").isin(
                "motorway", "motorway_link", "trunk_link", "primary_link",
                "secondary_link",
            )
        ),
    ).withColumnRenamed("id", "way_id")

    def excl(cond: Column) -> DataFrame:
        return ids_with_tag(
            t.select("tile", F.col("way_id").alias("id"), "k", "v"), cond
        ).withColumnRenamed("id", "way_id")

    base = base.join(
        excl((F.col("k") == "oneway") & F.col("v").isin("no", "false", "0")),
        ["tile", "way_id"],
        "left_anti",
    ).join(
        excl(
            ((F.col("k") == "piste:type") & (F.col("v") == "sled"))
            | ((F.col("k") == "golf") & (F.col("v") == "hole"))
            | (F.col("k") == "aerialway")
            | (
                (F.col("k") == "highway")
                & F.col("v").isin("proposed", "construction", "razed")
            )
        ),
        ["tile", "way_id"],
        "left_anti",
    )
    rev = excl((F.col("k") == "oneway") & F.col("v").isin("reverse", "-1")).withColumn(
        "reversed", F.lit(True)
    )
    ow = base.join(rev, ["tile", "way_id"], "left").fillna({"reversed": False})
    w = v.ways.select(
        "tile",
        F.col("id").alias("way_id"),
        "first_node_id",
        "last_node_id",
        "first_node_lat",
        "first_node_lon",
        "last_node_lat",
        "last_node_lon",
    )
    j = ow.join(w, ["tile", "way_id"], "left")
    sw = F.col("reversed")
    return j.select(
        "tile",
        "way_id",
        "reversed",
        F.when(sw, F.col("last_node_id")).otherwise(F.col("first_node_id")).alias("first_node_id"),
        F.when(sw, F.col("first_node_id")).otherwise(F.col("last_node_id")).alias("last_node_id"),
        F.when(sw, F.col("last_node_lat")).otherwise(F.col("first_node_lat")).alias("first_node_lat"),
        F.when(sw, F.col("last_node_lon")).otherwise(F.col("first_node_lon")).alias("first_node_lon"),
        F.when(sw, F.col("first_node_lat")).otherwise(F.col("last_node_lat")).alias("last_node_lat"),
        F.when(sw, F.col("first_node_lon")).otherwise(F.col("last_node_lon")).alias("last_node_lon"),
    )


FIND_ONEWAYS_SQL = """
oneway_base AS (
    SELECT DISTINCT tile, way_id FROM way_tags
    WHERE (k='oneway' AND v IN ('yes','true','1','reverse','-1'))
       OR (k='junction' AND v='roundabout')
       OR (k='highway' AND v IN ('motorway','motorway_link','trunk_link','primary_link','secondary_link'))
),
oneway_kept AS (
    SELECT b.tile, b.way_id,
           EXISTS (SELECT 1 FROM way_tags r WHERE r.tile=b.tile AND r.way_id=b.way_id
                   AND r.k='oneway' AND r.v IN ('reverse','-1')) AS reversed
    FROM oneway_base b
    WHERE NOT EXISTS (SELECT 1 FROM way_tags x WHERE x.tile=b.tile AND x.way_id=b.way_id
                      AND x.k='oneway' AND x.v IN ('no','false','0'))
      AND NOT EXISTS (SELECT 1 FROM way_tags x WHERE x.tile=b.tile AND x.way_id=b.way_id
                      AND ((x.k='piste:type' AND x.v='sled') OR (x.k='golf' AND x.v='hole')
                           OR x.k='aerialway'
                           OR (x.k='highway' AND x.v IN ('proposed','construction','razed'))))
),
one_ways AS (
    SELECT o.tile, o.way_id, o.reversed,
           CASE WHEN o.reversed THEN w.last_node_id ELSE w.first_node_id END AS first_node_id,
           CASE WHEN o.reversed THEN w.first_node_id ELSE w.last_node_id END AS last_node_id,
           CASE WHEN o.reversed THEN w.last_node_lat ELSE w.first_node_lat END AS first_node_lat,
           CASE WHEN o.reversed THEN w.last_node_lon ELSE w.first_node_lon END AS first_node_lon,
           CASE WHEN o.reversed THEN w.first_node_lat ELSE w.last_node_lat END AS last_node_lat,
           CASE WHEN o.reversed THEN w.first_node_lon ELSE w.last_node_lon END AS last_node_lon
    FROM oneway_kept o LEFT JOIN ways w ON o.tile=w.tile AND o.way_id=w.id
)"""
