"""Error staging + error_view resolution.

Checks drop rows into a ``_tmp_errors``-shaped DataFrame
(run-checks.php:100-118): (tile, error_type, object_type, object_id,
lat, lon, msgid, txt1..txt5) with lat/lon usually NULL — locations are
resolved afterwards per object type (run-checks.php:336-424):

* node     → the node's own lat/lon,
* way      → the way's *first* node,
* relation → a member node, else a member way's node, else recursive
             descent into member relations (to the reference's depth
             100, helpers.php:469-527; fixpoint with early exit).

The reference resolves relation locations with UPDATE..FROM joins that
pick an *arbitrary* matching row; we pin a deterministic choice (the
member with the smallest sequence_id, then the way node with the
smallest sequence_id) and the test oracle uses the same rule.

error_view carries 1e7 fixed-point integer coordinates
(run-checks.php:353,392,403) and is clipped half-open to the tile box
(run-checks.php:430-443, tiling.clip_errors).

Uniqueness on (error_type, object_type, object_id, lat, lon) is the
reference's insert-ignore rule (helpers.php:194-213); we dedupe with a
deterministic winner instead of insert order.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from .codec import OsmViews
from .tiling import Tile, clip_errors
from .lib import fixpoint, materialize

MAX_RELATION_DESCENT = 100  # relation-in-relation rounds (resolve_locations)
TXT_COLS = ["txt1", "txt2", "txt3", "txt4", "txt5"]
ERROR_COLS = [
    "tile",
    "error_type",
    "object_type",
    "object_id",
    "lat",
    "lon",
    "msgid",
    *TXT_COLS,
]


def finish_errors(
    df: DataFrame,
    error_type,
    object_type: str | None,
    msgid: str | None,
    **txts,
) -> DataFrame:
    """Normalize a check's result to the _tmp_errors shape.

    ``df`` must have (tile, object_id) plus any txt columns passed by
    name; ``error_type`` may be an int literal or a Column for checks
    with computed subtypes.  lat/lon stay NULL unless ``df`` already
    carries them (1e7 fixed-point, matching the reference convention).
    """
    out = df
    if "error_type" not in out.columns:
        et = error_type if isinstance(error_type, Column) else F.lit(error_type)
        out = out.withColumn("error_type", et.cast("int"))
    if object_type is not None and "object_type" not in out.columns:
        out = out.withColumn("object_type", F.lit(object_type))
    if msgid is not None or "msgid" not in out.columns:
        out = out.withColumn("msgid", F.lit(msgid))
    for name, col in txts.items():
        out = out.withColumn(name, col)
    for c in ["lat", "lon"]:
        if c not in out.columns:
            out = out.withColumn(c, F.lit(None).cast("double"))
    for c in TXT_COLS:
        if c not in out.columns:
            out = out.withColumn(c, F.lit(None).cast("string"))
    return out.select(
        "tile",
        F.col("error_type").cast("int").alias("error_type"),
        "object_type",
        F.col("object_id").cast("long").alias("object_id"),
        F.col("lat").cast("double").alias("lat"),
        F.col("lon").cast("double").alias("lon"),
        "msgid",
        *[F.col(c).cast("string").alias(c) for c in TXT_COLS],
    )


def dedupe_errors(errors: DataFrame) -> DataFrame:
    """Insert-ignore on the logical PK (helpers.php:194-213) with a
    deterministic winner (lexicographically smallest payload)."""
    w = Window.partitionBy(
        "tile", "error_type", "object_type", "object_id", "lat", "lon"
    ).orderBy(*[F.col(c).asc_nulls_first() for c in ["msgid", *TXT_COLS]])
    return (
        errors.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )


def resolve_locations(
    errors: DataFrame, v: OsmViews, emit_types: set[str] | None = None
) -> DataFrame:
    """_tmp_errors → error_view coordinates: 1e7 fixed-point ints
    (run-checks.php:336-424).  Input lat/lon (degrees, usually NULL)
    are replaced by resolved lat/lon LongType columns.

    ``emit_types`` prunes the per-object-type join branches to the
    types the contributing checks can actually emit (checks declare
    ``EMITS``); the relation branch in particular costs windows over
    all of way_nodes and most check runs never need it.
    """
    if emit_types is None:
        emit_types = {"node", "way", "relation"}
    has_ll = errors.filter(F.col("lat").isNotNull() & F.col("lon").isNotNull())
    no_ll = errors.filter(F.col("lat").isNull() | F.col("lon").isNull()).drop(
        "lat", "lon"
    )

    # checks that set lat/lon explicitly already store 1e7 fixed-point
    # values (e.g. 0190:261 "round(1e7*merc_lat(y))"), mirroring the
    # reference's _tmp_errors convention — no rescale here
    resolved_explicit = has_ll.withColumn(
        "lat", F.round(F.col("lat")).cast("long")
    ).withColumn("lon", F.round(F.col("lon")).cast("long"))

    parts = [
        # checks that set lat/lon explicitly (already 1e7 fixed-point)
        resolved_explicit
    ]

    if "node" in emit_types:
        # nodes: own coordinates (run-checks.php:389-397)
        n = v.nodes.select(
            "tile",
            F.col("id").alias("object_id"),
            F.round(F.col("lat") * 1e7).cast("long").alias("lat"),
            F.round(F.col("lon") * 1e7).cast("long").alias("lon"),
        )
        parts.append(
            no_ll.filter(F.col("object_type") == "node").join(
                n, ["tile", "object_id"], "inner"
            )
        )

    if "way" in emit_types:
        # ways: first node (run-checks.php:400-413)
        w = v.ways.select(
            "tile",
            F.col("id").alias("object_id"),
            F.round(F.col("first_node_lat") * 1e7).cast("long").alias("lat"),
            F.round(F.col("first_node_lon") * 1e7).cast("long").alias("lon"),
        ).filter(F.col("lat").isNotNull())
        parts.append(
            no_ll.filter(F.col("object_type") == "way").join(
                w, ["tile", "object_id"], "inner"
            )
        )

    if "relation" not in emit_types:
        out = parts[0].select(ERROR_COLS)
        for p in parts[1:]:
            out = out.unionByName(p.select(ERROR_COLS))
        return out

    # relations: member node, else first node of a member way
    # (run-checks.php:352-376); deterministic member choice (see module
    # docstring).  One level of member-relation descent covers nesting.
    def rel_locations(member_type: str, coords: DataFrame) -> DataFrame:
        m = v.relation_members.filter(F.col("member_type") == member_type)
        j = m.join(coords, ["tile", "member_id"], "inner")
        wnd = Window.partitionBy("tile", "relation_id").orderBy(
            "sequence_id", "sub_seq"
        )
        return (
            j.withColumn("_rn", F.row_number().over(wnd))
            .filter(F.col("_rn") == 1)
            .select(
                "tile",
                F.col("relation_id").alias("object_id"),
                "lat",
                "lon",
            )
        )

    node_coords = v.nodes.select(
        "tile",
        F.col("id").alias("member_id"),
        F.round(F.col("lat") * 1e7).cast("long").alias("lat"),
        F.round(F.col("lon") * 1e7).cast("long").alias("lon"),
        F.lit(0).alias("sub_seq"),
    )
    way_coords = v.way_nodes.select(
        "tile",
        F.col("way_id").alias("member_id"),
        F.round(F.col("lat") * 1e7).cast("long").alias("lat"),
        F.round(F.col("lon") * 1e7).cast("long").alias("lon"),
        F.col("sequence_id").alias("sub_seq"),
    ).filter(F.col("lat").isNotNull())

    rel_by_node = rel_locations("N", node_coords)
    rel_by_way = rel_locations("W", way_coords)
    rel_loc = rel_by_node.unionByName(
        rel_by_way.join(rel_by_node, ["tile", "object_id"], "left_anti")
    )
    # recursive relation-in-relation descent to the reference's depth
    # (helpers.php:469-527 recurses to depth 100).  Deterministic pin:
    # a parent is located at the first round any member relation is
    # located, via the minimum-sequence_id child among those located —
    # equivalently, the min-sequence child of minimal nesting depth
    # (the oracle unrolls the same rule).  Each round is one
    # incremental join over the yet-unlocated parents; the loop exits
    # on an empty frontier, so non-nested worlds pay a single probe.
    rel_member_rel = v.relation_members.filter(F.col("member_type") == "R").select(
        "tile", "relation_id", F.col("member_id").alias("child_id"), "sequence_id"
    )

    def nested(located: DataFrame) -> DataFrame:
        return (
            rel_member_rel.join(
                located.select(
                    "tile", F.col("object_id").alias("child_id"), "lat", "lon"
                ),
                ["tile", "child_id"],
            )
            .withColumn(
                "_rn",
                F.row_number().over(
                    Window.partitionBy("tile", "relation_id").orderBy("sequence_id")
                ),
            )
            .filter(F.col("_rn") == 1)
            .select("tile", F.col("relation_id").alias("object_id"), "lat", "lon")
        )

    rel_loc = fixpoint(
        rel_loc, rel_member_rel, nested, ["tile", "object_id"], MAX_RELATION_DESCENT
    )
    parts.append(
        no_ll.filter(F.col("object_type") == "relation").join(
            rel_loc, ["tile", "object_id"], "inner"
        )
    )

    out = parts[0].select(ERROR_COLS)
    for p in parts[1:]:
        out = out.unionByName(p.select(ERROR_COLS))
    return out


def build_error_view(
    errors: DataFrame,
    v: OsmViews,
    tiles: list[Tile],
    emit_types: set[str] | None = None,
) -> DataFrame:
    """Full per-run pipeline: dedupe → resolve → half-open clip.

    Returns error_view-shaped rows with deterministic columns only
    (timestamps/state handled by the lifecycle module)."""
    # staging errors are tiny relative to the views; materializing them
    # keeps resolve_locations' four per-object-type branches from
    # recomputing every check, and lets AQE's empty-relation
    # propagation skip the branches a check doesn't use
    out = materialize(dedupe_errors(errors))
    out = resolve_locations(out, v, emit_types)
    out = clip_errors(out, tiles)
    return out.select(ERROR_COLS)
