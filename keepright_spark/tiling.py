"""Tile ("schema") partitioning: margin duplication + half-open clipping.

The reference cuts the planet into ~85 rectangular lat/lon tiles, each
cropped with a 20 km Mercator-meter margin so border-crossing ways are
complete in both tiles (/root/reference/config/schemas.php:12,
checks/planet.php:174-185, completeWays semantics), then deletes
errors outside the unpadded box with half-open semantics — inclusive
left/bottom, exclusive right/top — so every error lands in exactly one
tile (checks/run-checks.php:425-447).

Spark-first re-expression: tiles are *data*, not an outer loop.  Every
relational view gains a ``tile`` column (objects in a margin appear in
several tiles), all check joins/aggregations key on (tile, …), so one
job processes all tiles and the shuffle partitioner spreads them
across executors.  The final error rows are clipped half-open on the
1e7 fixed-point coordinates, which also deduplicates the margin.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .codec import OsmViews
from .lib import fixpoint, materialize
from .mercator import merc_lat, merc_lon, merc_x, merc_y


@dataclass(frozen=True)
class Tile:
    """One rectangular schema (config/schemas.php:44-58)."""

    name: str
    left: float
    right: float
    top: float
    bottom: float

    def padded(self, margin_m: float) -> tuple[float, float, float, float]:
        """(left, right, top, bottom) in degrees after expanding the box
        by ``margin_m`` Mercator meters on every side
        (checks/planet.php:174-185 computes the cut box the same way)."""
        left = float(merc_lon(merc_x(self.left) - margin_m))
        right = float(merc_lon(merc_x(self.right) + margin_m))
        top = float(merc_lat(merc_y(self.top) + margin_m))
        bottom = float(merc_lat(merc_y(self.bottom) - margin_m))
        return left, right, top, bottom


def tile_grid(
    cols: int,
    rows: int,
    lon0: float = 16.20,
    lat0: float = 48.00,
    size: float = 0.10,
) -> list[Tile]:
    """A cols×rows grid of fixed-size tiles — the scaled twin of the
    reference's ~85 hand-drawn schemas (web/setup.sql:219-306).  The
    synthetic world grows by adding tiles at constant object density,
    exactly how the planet grows relative to one schema."""
    out = []
    for r in range(rows):
        for c in range(cols):
            out.append(
                Tile(
                    f"{chr(ord('A') + r)}{c + 1}",
                    left=round(lon0 + c * size, 7),
                    right=round(lon0 + (c + 1) * size, 7),
                    top=round(lat0 + (r + 1) * size, 7),
                    bottom=round(lat0 + r * size, 7),
                )
            )
    return out


# Scaled-down twin of the reference schema table (FIXTURES.md §2):
# two adjacent tiles with a 2 km margin.
DEFAULT_TILES = [
    Tile("A1", left=16.20, right=16.30, top=48.10, bottom=48.00),
    Tile("A2", left=16.30, right=16.40, top=48.10, bottom=48.00),
]
DEFAULT_MARGIN_M = 2000.0
MAX_RELATION_DEPTH = 8  # parent-ward rounds of relation tile assignment


def _in_box(lat, lon, left, right, top, bottom):
    """The node→tile range test, half-open on the padded box; the same
    expression on Columns (assign_tiles' broadcast join) and on floats
    (padded_tiles)."""
    return (lat >= bottom) & (lat < top) & (lon >= left) & (lon < right)


def padded_tiles(
    lat: float | None, lon: float | None, tiles: list[Tile], margin_m: float
) -> frozenset:
    """Names of the tiles whose padded box holds (lat, lon) — a node's
    direct tiles in assign_tiles, computed in Python."""
    if lat is None or lon is None:
        return frozenset()
    return frozenset(t.name for t in tiles if _in_box(lat, lon, *t.padded(margin_m)))


def _tiles_df(spark, tiles: list[Tile], margin_m: float) -> DataFrame:
    rows = []
    for t in tiles:
        pl, pr, pt, pb = t.padded(margin_m)
        rows.append((t.name, t.left, t.right, t.top, t.bottom, pl, pr, pt, pb))
    return spark.createDataFrame(
        rows,
        "tile string, left double, right double, top double, bottom double, "
        "pleft double, pright double, ptop double, pbottom double",
    )


def assign_tiles(
    views: OsmViews,
    tiles: list[Tile] | None = None,
    margin_m: float = DEFAULT_MARGIN_M,
) -> OsmViews:
    """Return views with a ``tile`` column, duplicating margin objects.

    Rules (mirroring osmosis --bounding-box completeWays cut +
    prepare_helpertables.php:26-104 relation pruning):

    * a node belongs to every tile whose *padded* box contains it;
    * a way belongs to every tile that contains ≥1 of its nodes, and
      pulls all its nodes into that tile (completeWays);
    * relations keep members that exist locally; relations with no
      local member are dropped, iterating for nested relations up to
      MAX_RELATION_DEPTH levels.

    The tile table is tiny (≤ ~85 rows) and broadcast; node→tile
    assignment is a broadcast range join, so no all-to-all shuffle.
    """
    tiles = tiles or DEFAULT_TILES
    spark = views.nodes.sparkSession
    tdf = F.broadcast(_tiles_df(spark, tiles, margin_m))

    # node → tiles whose padded bbox contains it (broadcast range join)
    node_tile_direct = views.nodes.join(
        tdf,
        _in_box(
            views.nodes.lat, views.nodes.lon,
            tdf.pleft, tdf.pright, tdf.ptop, tdf.pbottom,
        ),
        "inner",
    ).select("id", "tile")

    # way → tile if any member node is local (completeWays);
    # materialized: reused by every downstream view and the relation loop
    way_tile = materialize(
        views.way_nodes.join(
            node_tile_direct.withColumnRenamed("id", "node_id"), "node_id"
        )
        .select("way_id", "tile")
        .distinct()
    )
    way_nodes = views.way_nodes.join(way_tile, "way_id")

    # completeWays pulls every node of a local way into the tile
    node_tile = materialize(
        node_tile_direct.unionByName(
            way_nodes.select(F.col("node_id").alias("id"), "tile")
        )
        .distinct()
    )
    nodes = views.nodes.join(node_tile, "id")
    node_tags = views.node_tags.join(
        node_tile.withColumnRenamed("id", "node_id"), "node_id"
    )
    ways = views.ways.join(way_tile.withColumnRenamed("way_id", "id"), "id")
    way_tags = views.way_tags.join(way_tile, "way_id")

    # relations: member-seeded tile assignment, iterated upward to
    # fixpoint for nested relations (prepare_helpertables.php:26-104).
    # Seeding from *direct* node/way members and growing parent-ward is
    # the scale-safe shape: the candidate set is one member join, never
    # relations × tiles (at planet scale that cross product is a
    # 10^12-row intermediate).  The only semantic difference from the
    # reference's iterative-deletion (greatest) fixpoint is a cycle of
    # relations with no node/way member anywhere in the tile — such a
    # cycle has no resolvable location and can emit nothing.
    local_n = node_tile.withColumn("member_type", F.lit("N"))
    local_w = way_tile.select(F.col("way_id").alias("id"), "tile").withColumn(
        "member_type", F.lit("W")
    )
    rm = views.relation_members
    local_nw = local_n.unionByName(local_w)
    rel_tile = (
        rm.join(
            local_nw.withColumnRenamed("id", "member_id"),
            ["member_id", "member_type"],
        )
        .select(F.col("relation_id").alias("id"), "tile")
        .distinct()
    )

    # relation-in-relation is rare: only iterate when it exists at all
    rm_nested = rm.filter(F.col("member_type") == "R").select(
        "relation_id", F.col("member_id")
    )

    def parents(located: DataFrame) -> DataFrame:
        return (
            rm_nested.join(located.withColumnRenamed("id", "member_id"), "member_id")
            .select(F.col("relation_id").alias("id"), "tile")
            .distinct()
        )

    rel_tile = fixpoint(rel_tile, rm_nested, parents, ["id", "tile"], MAX_RELATION_DEPTH)

    relations = views.relations.join(rel_tile, "id")
    local_objs = local_n.unionByName(local_w).unionByName(
        rel_tile.withColumn("member_type", F.lit("R")).select(
            "id", "tile", "member_type"
        )
    )
    # prune members that don't exist locally
    relation_members = (
        views.relation_members.join(
            rel_tile.withColumnRenamed("id", "relation_id"), "relation_id"
        )
        .join(
            local_objs.withColumnRenamed("id", "member_id"),
            ["member_id", "member_type", "tile"],
            "left_semi",
        )
    )
    relation_tags = views.relation_tags.join(
        rel_tile.withColumnRenamed("id", "relation_id"), "relation_id"
    )

    return OsmViews(
        nodes=nodes,
        node_tags=node_tags,
        ways=ways,
        way_nodes=way_nodes,
        way_tags=way_tags,
        relations=relations,
        relation_members=relation_members,
        relation_tags=relation_tags,
    )


def clip_errors(errors: DataFrame, tiles: list[Tile]) -> DataFrame:
    """Half-open clip of resolved error rows to their tile's unpadded
    box on 1e7 fixed-point coordinates (run-checks.php:430-443):
    inclusive left/bottom, exclusive right/top."""
    spark = errors.sparkSession
    rows = [
        (
            t.name,
            int(round(1e7 * t.left)),
            int(round(1e7 * t.right)),
            int(round(1e7 * t.top)),
            int(round(1e7 * t.bottom)),
        )
        for t in tiles
    ]
    tdf = F.broadcast(
        spark.createDataFrame(
            rows, "tile string, l7 long, r7 long, t7 long, b7 long"
        )
    )
    return (
        errors.join(tdf, "tile")
        .filter(
            (F.col("lat") >= F.col("b7"))
            & (F.col("lat") < F.col("t7"))
            & (F.col("lon") >= F.col("l7"))
            & (F.col("lon") < F.col("r7"))
        )
        .drop("l7", "r7", "t7", "b7")
    )
