"""Span codec: interleaved text+media documents ⇄ relational OSM views.

Input contract (BASELINE.json input_hint / FIXTURES.md §1): one table

    docs(doc_id string,
         spans array<struct<kind:string, text:string,
                            media_ref:string, offset:int>>)

One OSM object = one document.  Span kinds, in fixed order with dense
0-based ``offset``:

    meta     "<object_type>\\t<id>\\t<user_id>\\t<tstamp ISO8601>"
    tag      "<k>\\t<v>"                                (input order)
    coord    "<lat>\\t<lon>"      (7-decimal fixed)     (nodes, one)
    noderef  "<sequence_id>\\t<node_id>"                (ways, asc seq)
    member   "<sequence_id>\\t<type N|W|R>\\t<member_id>\\t<role>"
    media    "<mime>\\t<caption>"  media_ref="media://<sha16>"  (0–3)

The engine only *reads* spans; the pytest-enforced invariant is that
the (kind, text, media_ref, order) sequence of every document survives
the pipeline bit-for-bit (``tests/test_codec.py``).

The decode path is **native Spark SQL expressions** (explode + split +
casts), not UDFs, so Catalyst column pruning / predicate pushdown work
through it; only the Mercator x/y derivation is a vectorized pandas
UDF (mercator.py).  Mirrors the reference ingest that materializes
nodes/ways/... from TSV dumps
(/root/reference/planet/PostgreSqlMyDatasetDumpWriter.java:124-274,
/root/reference/checks/updateDB.php:46-171).
"""

from __future__ import annotations

import hashlib
from dataclasses import dataclass

import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    IntegerType,
    StringType,
    StructField,
    StructType,
)

from .mercator import merc_x_udf, merc_y_udf

SPAN_STRUCT = StructType(
    [
        StructField("kind", StringType()),
        StructField("text", StringType()),
        StructField("media_ref", StringType()),
        StructField("offset", IntegerType()),
    ]
)
DOCS_SCHEMA = StructType(
    [
        StructField("doc_id", StringType()),
        StructField("spans", ArrayType(SPAN_STRUCT)),
    ]
)

DOCS_ARROW_SCHEMA = pa.schema(
    [
        pa.field("doc_id", pa.string()),
        pa.field(
            "spans",
            pa.list_(
                pa.struct(
                    [
                        pa.field("kind", pa.string()),
                        pa.field("text", pa.string()),
                        pa.field("media_ref", pa.string()),
                        pa.field("offset", pa.int32()),
                    ]
                )
            ),
        ),
    ]
)


# ---------------------------------------------------------------------------
# Encode (generator / test-fixture side; plain Python)
# ---------------------------------------------------------------------------


def fmt_coord(v: float) -> str:
    """7-decimal fixed-point coordinate text (FIXTURES.md coord span)."""
    return f"{v:.7f}"


def encode_object(
    object_type: str,
    oid: int,
    user_id: int,
    tstamp_iso: str,
    tags: list[tuple[str, str]],
    *,
    coord: tuple[float, float] | None = None,
    noderefs: list[tuple[int, int]] | None = None,
    members: list[tuple[int, str, int, str]] | None = None,
    n_media: int = 0,
) -> tuple[str, list[tuple[str, str, str | None, int]]]:
    """Encode one OSM object into (doc_id, spans).

    Deterministic: media payloads are derived from the doc_id hash.
    """
    doc_id = f"{object_type}/{oid}"
    spans: list[tuple[str, str, str | None, int]] = []

    def emit(kind: str, text: str, media_ref: str | None = None) -> None:
        spans.append((kind, text, media_ref, len(spans)))

    emit("meta", f"{object_type}\t{oid}\t{user_id}\t{tstamp_iso}")
    for k, v in tags:
        emit("tag", f"{k}\t{v}")
    if coord is not None:
        emit("coord", f"{fmt_coord(coord[0])}\t{fmt_coord(coord[1])}")
    for seq, node_id in noderefs or []:
        emit("noderef", f"{seq}\t{node_id}")
    for seq, mtype, mid, role in members or []:
        emit("member", f"{seq}\t{mtype}\t{mid}\t{role}")
    for i in range(n_media):
        sha16 = hashlib.sha256(f"{doc_id}#{i}".encode()).hexdigest()[:16]
        mime = ("image/jpeg", "audio/ogg", "video/mp4")[i % 3]
        emit("media", f"{mime}\tmedia {i} of {doc_id}", f"media://{sha16}")
    return doc_id, spans


# ---------------------------------------------------------------------------
# Decode (engine side; Spark-native)
# ---------------------------------------------------------------------------


@dataclass
class OsmViews:
    """Relational views decoded from the docs table (FIXTURES.md §1.3;
    mirrors /root/reference/planet/pgsql_simple_schema.sql)."""

    nodes: DataFrame  # id, user_id, tstamp, lat, lon, x, y
    node_tags: DataFrame  # node_id, k, v
    ways: DataFrame  # id, user_id, tstamp, first/last_node_*, node_count
    way_nodes: DataFrame  # way_id, node_id, sequence_id, lat, lon, x, y
    way_tags: DataFrame  # way_id, k, v
    relations: DataFrame  # id, user_id, tstamp
    relation_members: DataFrame  # relation_id, member_id, member_role,
    #                              member_type, sequence_id
    relation_tags: DataFrame  # relation_id, k, v
    # island-seed way ids for check 0130 (dataset config, the twin of
    # the reference's per-region $islands list, 0130_islands.php:26-335):
    # dict tile -> [way_id] (legacy flat list = global seeds); None →
    # no seeds configured
    island_seeds: dict | list | None = None
    # optional materialized helper tables (prepare_helpertables twins,
    # written once by pipeline.prepare so the per-check jobs skip the
    # shared derivations): way_layers, one_ways, way_lengths, segments
    h_layers: DataFrame | None = None
    h_oneways: DataFrame | None = None
    h_lengths: DataFrame | None = None
    h_segments: DataFrame | None = None
    # prepare-time cell-density census (engine_manifest.json,
    # pipeline.prepare): {"max_node_cell64": n, "max_seg_cell64": n} —
    # the occupancy of the hottest 64 m grid cell — plus "many_tiles"
    # (tiled_views' tiles-per-partition rule).  spatial.spread()
    # consults it to skip its balancing exchange on worlds with many
    # tiles where no cell is hot (the cluster analog is Iceberg table
    # statistics).
    cell_stats: dict | None = None


def _exploded(docs: DataFrame) -> DataFrame:
    """One row per span, with object_type/id pre-split from doc_id."""
    s = docs.select(
        F.split("doc_id", "/").getItem(0).alias("object_type"),
        F.split("doc_id", "/").getItem(1).cast("long").alias("id"),
        F.explode("spans").alias("span"),
    )
    return s.select(
        "object_type",
        "id",
        F.col("span.kind").alias("kind"),
        F.col("span.text").alias("text"),
    )


def decode(docs: DataFrame) -> OsmViews:
    """docs → OsmViews.

    Equivalent of the reference ingest pipeline: TSV dump
    (PostgreSqlMyDatasetDumpWriter.java) + external sort/join
    denormalization of node coords into way_nodes
    (updateDB.php:134-171) + first/last/node_count backfill
    (prepare_helpertables.php:115-176) — expressed as one explode and
    a handful of joins/aggregations that Catalyst plans freely.
    """
    ex = _exploded(docs)

    meta = ex.filter(F.col("kind") == "meta").select(
        "object_type",
        "id",
        F.split("text", "\t").getItem(2).cast("long").alias("user_id"),
        F.to_timestamp(F.split("text", "\t").getItem(3)).alias("tstamp"),
    )

    coord = ex.filter((F.col("kind") == "coord") & (F.col("object_type") == "node")).select(
        "id",
        F.split("text", "\t").getItem(0).cast("double").alias("lat"),
        F.split("text", "\t").getItem(1).cast("double").alias("lon"),
    )

    nodes = (
        meta.filter(F.col("object_type") == "node")
        .select("id", "user_id", "tstamp")
        .join(coord, "id", "left")
        .withColumn("x", merc_x_udf("lon"))
        .withColumn("y", merc_y_udf("lat"))
    )

    def tags_for(otype: str, idcol: str) -> DataFrame:
        return ex.filter((F.col("kind") == "tag") & (F.col("object_type") == otype)).select(
            F.col("id").alias(idcol),
            F.split("text", "\t").getItem(0).alias("k"),
            F.split("text", "\t").getItem(1).alias("v"),
        )

    node_tags = tags_for("node", "node_id")
    way_tags = tags_for("way", "way_id")
    relation_tags = tags_for("relation", "relation_id")

    noderef = ex.filter(F.col("kind") == "noderef").select(
        F.col("id").alias("way_id"),
        F.split("text", "\t").getItem(0).cast("int").alias("sequence_id"),
        F.split("text", "\t").getItem(1).cast("long").alias("node_id"),
    )
    # denormalize node coords into way_nodes (reference I4:
    # updateDB.php:134-171 does this with GNU sort/join)
    way_nodes = noderef.join(
        nodes.select("id", "lat", "lon", "x", "y"),
        noderef.node_id == nodes.id,
        "left",
    ).select("way_id", "node_id", "sequence_id", "lat", "lon", "x", "y")

    # ways with redundant first/last/node_count columns
    # (prepare_helpertables.php:115-176)
    agg = way_nodes.groupBy("way_id").agg(
        F.count("node_id").alias("node_count"),
        F.min_by("node_id", "sequence_id").alias("first_node_id"),
        F.max_by("node_id", "sequence_id").alias("last_node_id"),
        F.min_by("lat", "sequence_id").alias("first_node_lat"),
        F.min_by("lon", "sequence_id").alias("first_node_lon"),
        F.min_by("x", "sequence_id").alias("first_node_x"),
        F.min_by("y", "sequence_id").alias("first_node_y"),
        F.max_by("lat", "sequence_id").alias("last_node_lat"),
        F.max_by("lon", "sequence_id").alias("last_node_lon"),
        F.max_by("x", "sequence_id").alias("last_node_x"),
        F.max_by("y", "sequence_id").alias("last_node_y"),
    )
    ways = (
        meta.filter(F.col("object_type") == "way")
        .select("id", "user_id", "tstamp")
        .join(agg, meta.id == agg.way_id, "left")
        .drop("way_id")
        .fillna({"node_count": 0})
    )

    relations = meta.filter(F.col("object_type") == "relation").select(
        "id", "user_id", "tstamp"
    )
    relation_members = ex.filter(F.col("kind") == "member").select(
        F.col("id").alias("relation_id"),
        F.split("text", "\t").getItem(0).cast("int").alias("sequence_id"),
        F.split("text", "\t").getItem(1).alias("member_type"),
        F.split("text", "\t").getItem(2).cast("long").alias("member_id"),
        F.split("text", "\t").getItem(3).alias("member_role"),
    ).select("relation_id", "member_id", "member_role", "member_type", "sequence_id")

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
