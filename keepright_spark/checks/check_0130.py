"""Check 0130 — floating islands.

Reference: /root/reference/checks/0130_islands.php (561 LoC).

Member ways (0130:372-393): highways (minus emergency_access_point /
construction / services / preproposed / proposed / rest_area) ∪
route=ferry ∪ man_made=pier ∪ aeroway taxiway/runway/apron ∪
amenity=parking ∪ railway|public_transport=platform ∪ W-members of
route=ferry relations.  Junction nodes = nodes used by ≥2 distinct
member ways (0130:403-413).

* error (upfront, 0130:424-444): member way with no junction node at
  all — unless it is a connector-only class (pier/aeroway/parking/
  platform);
* BFS from the configured seed ways over way→junction-node→way until
  fixpoint (0130:494-525); member ways with junctions that remain
  unreached are errors (0130:532-547), connector classes excluded.

Seed ways come from the dataset manifest (datagen.island_seeds — the
twin of the reference's hand-picked per-region list, 0130:26-335).

Spark: tile-local union-find inside a vectorized applyInPandas
operator — one shuffle keyed by tile; rounds do not scale with
component diameter.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..codec import OsmViews
from ..errors import finish_errors
from ..lib import materialize

MSGID = "This way is not connected to the rest of the map"
HW_EXCLUDED = [
    "emergency_access_point", "construction", "services", "preproposed",
    "proposed", "rest_area",
]


def _member_ways(v: OsmViews) -> DataFrame:
    t = v.way_tags
    direct = t.filter(
        ((F.col("k") == "highway") & ~F.col("v").isin(HW_EXCLUDED))
        | ((F.col("k") == "route") & (F.col("v") == "ferry"))
        | ((F.col("k") == "man_made") & (F.col("v") == "pier"))
        | ((F.col("k") == "aeroway") & F.col("v").isin("taxiway", "runway", "apron"))
        | ((F.col("k") == "amenity") & (F.col("v") == "parking"))
        | (F.col("k").isin("railway", "public_transport") & (F.col("v") == "platform"))
    ).select("tile", "way_id")
    ferry_rel = (
        v.relation_tags.filter((F.col("k") == "route") & (F.col("v") == "ferry"))
        .select("tile", "relation_id")
        .distinct()
    )
    ferry_members = (
        v.relation_members.filter(F.col("member_type") == "W")
        .join(ferry_rel, ["tile", "relation_id"], "left_semi")
        .select("tile", F.col("member_id").alias("way_id"))
    )
    return direct.unionByName(ferry_members).distinct()


def _connector_only(v: OsmViews) -> DataFrame:
    """(tile, way_id) of classes excluded from error reports
    (0130:433-443)."""
    return (
        v.way_tags.filter(
            ((F.col("k") == "man_made") & (F.col("v") == "pier"))
            | ((F.col("k") == "aeroway") & F.col("v").isin("taxiway", "runway", "apron"))
            | ((F.col("k") == "amenity") & (F.col("v") == "parking"))
            | (
                F.col("k").isin("railway", "public_transport")
                & (F.col("v") == "platform")
            )
        )
        .select("tile", "way_id")
        .distinct()
    )


def run(v: OsmViews) -> DataFrame:
    mw = _member_ways(v)
    wn = v.way_nodes.select("tile", "way_id", "node_id").join(
        mw, ["tile", "way_id"], "left_semi"
    )
    junctions = (
        wn.groupBy("tile", "node_id")
        .agg(F.count_distinct("way_id").alias("nw"))
        .filter(F.col("nw") > 1)
        .select("tile", "node_id")
    )
    # member way_nodes restricted to junction nodes (_tmp_wn)
    wnj = materialize(wn.join(junctions, ["tile", "node_id"], "left_semi"))
    connector = _connector_only(v)

    # error A: member way with no junction at all
    no_junction = (
        mw.join(wnj.select("tile", "way_id").distinct(), ["tile", "way_id"], "left_anti")
        .join(connector, ["tile", "way_id"], "left_anti")
    )

    # seeded reachability: tile-local union-find inside a vectorized
    # applyInPandas operator — a single shuffle keyed by tile instead
    # of diameter-many driver BFS rounds (which scale with component
    # length, not data volume).  Seeds are per tile (dict tile →
    # [way_id], the twin of the reference's per-region curated list);
    # a legacy flat list is treated as global seeds for every tile.
    raw_seeds = v.island_seeds or {}
    if isinstance(raw_seeds, dict):
        seeds_by_tile = {t: {int(s) for s in ids} for t, ids in raw_seeds.items()}
        global_seeds = None
    else:
        seeds_by_tile = None
        global_seeds = {int(s) for s in raw_seeds}

    import pandas as pd
    from pyspark.sql.types import LongType, StringType, StructField, StructType

    out_schema = StructType(
        [StructField("tile", StringType()), StructField("way_id", LongType())]
    )

    def unreached_tile(pdf: "pd.DataFrame") -> "pd.DataFrame":
        parent: dict = {}

        def find(x):
            root = x
            while parent[root] != root:
                root = parent[root]
            while parent[x] != root:
                parent[x], x = root, parent[x]
            return root

        def union(a, b):
            ra, rb = find(a), find(b)
            if ra != rb:
                parent[rb] = ra

        ways_arr = pdf["way_id"].to_numpy()
        nodes_arr = pdf["node_id"].to_numpy()
        for w, nd in zip(ways_arr, nodes_arr):
            wk = ("w", int(w))
            nk = ("n", int(nd))
            if wk not in parent:
                parent[wk] = wk
            if nk not in parent:
                parent[nk] = nk
            union(wk, nk)
        tile_name = str(pdf["tile"].iloc[0]) if len(pdf) else ""
        seeds = (
            seeds_by_tile.get(tile_name, set())
            if seeds_by_tile is not None
            else global_seeds
        )
        seed_roots = {
            find(("w", s)) for s in seeds if ("w", s) in parent
        }
        uniq = sorted({int(w) for w in ways_arr})
        bad = [w for w in uniq if find(("w", w)) not in seed_roots]
        return pd.DataFrame(
            {"tile": pdf["tile"].iloc[0], "way_id": bad}
        ) if bad else pd.DataFrame({"tile": [], "way_id": []}).astype(
            {"tile": str, "way_id": "int64"}
        )

    unreached = (
        wnj.groupBy("tile")
        .applyInPandas(unreached_tile, out_schema)
        .join(connector, ["tile", "way_id"], "left_anti")
    )
    e = (
        no_junction.unionByName(unreached)
        .distinct()
        .select("tile", F.col("way_id").alias("object_id"))
    )
    out = finish_errors(e, 130, "way", MSGID)
    return out


# object types this check can emit (error_view resolution pruning)
EMITS = ("way",)
