"""Codec + Mercator unit tests, incl. the span-sequence invariant."""

from __future__ import annotations

import numpy as np
from pyspark.sql import functions as F

from keepright_spark import mercator
from keepright_spark.codec import decode
from keepright_spark.docs_store import read_docs


def test_mercator_reference_values():
    # spot values computed from the reference formula
    # (planet/Mercator.java:10-38): x is linear in lon, y uses the
    # ellipsoidal eccentricity term
    assert mercator.merc_x(np.array([0.0]))[0] == 0.0
    x = mercator.merc_x(np.array([16.3]))[0]
    assert abs(x - 16.3 * np.pi / 180.0 * 6378137.0) < 1e-9
    y = mercator.merc_y(np.array([48.05]))[0]
    # distinct from spherical web-mercator (which would be ~6106672.87)
    assert 6.05e6 < y < 6.12e6
    sph = 6378137.0 * np.log(np.tan(np.pi / 4 + np.radians(48.05) / 2))
    assert abs(y - sph) > 1000  # the eccentricity term matters
    # clamp at ±89.5 (Mercator.java:21-26)
    assert mercator.merc_y(np.array([89.9]))[0] == mercator.merc_y(np.array([89.5]))[0]


def test_mercator_roundtrip():
    lats = np.linspace(-85, 85, 101)
    lons = np.linspace(-180, 180, 101)
    assert np.allclose(mercator.merc_lat(mercator.merc_y(lats)), lats, atol=1e-7)
    assert np.allclose(mercator.merc_lon(mercator.merc_x(lons)), lons, atol=1e-12)


def test_span_sequence_invariant(spark, tiny_dir):
    """The engine must never rewrite documents: decoding and rebuilding
    the (kind, text, media_ref, order) sequence is the identity."""
    docs = read_docs(spark, tiny_dir)
    n_docs = docs.count()
    assert n_docs > 0

    # spans are well-formed: offsets dense 0..n-1 in array order
    bad = docs.select(
        F.exists(
            F.zip_with(
                "spans",
                F.sequence(F.lit(0), F.size("spans") - 1),
                lambda s, i: s.getField("offset") != i,
            ),
            lambda x: x,
        ).alias("bad")
    ).filter("bad")
    assert bad.count() == 0

    # round-trip: explode to spans and re-assemble; compare to original
    exploded = docs.select("doc_id", F.explode("spans").alias("s"))
    rebuilt = exploded.groupBy("doc_id").agg(
        F.array_sort(
            F.collect_list(F.struct("s.offset", "s.kind", "s.text", "s.media_ref"))
        ).alias("resp")
    )
    orig = docs.select(
        "doc_id",
        F.transform(
            "spans", lambda s: F.struct(
                s.getField("offset").alias("offset"),
                s.getField("kind").alias("kind"),
                s.getField("text").alias("text"),
                s.getField("media_ref").alias("media_ref"),
            )
        ).alias("orig"),
    )
    diff = orig.join(rebuilt, "doc_id").filter(F.col("orig") != F.col("resp"))
    assert diff.count() == 0


def test_decode_views(spark, tiny_dir):
    import duckdb

    docs = read_docs(spark, tiny_dir)
    v = decode(docs)
    con = duckdb.connect()

    # node count and coordinate equality vs the independently written
    # oracle views (pre-tiling, so compare distinct ids)
    o_nodes = con.sql(
        f"SELECT DISTINCT id, lat, lon, x, y FROM read_parquet('{tiny_dir}/oracle/nodes.parquet')"
    ).df()
    e_nodes = v.nodes.select("id", "lat", "lon", "x", "y").toPandas()
    assert len(e_nodes) == len(o_nodes)
    m = o_nodes.sort_values("id").reset_index(drop=True)
    e = e_nodes.sort_values("id").reset_index(drop=True)
    assert (m["id"].to_numpy() == e["id"].to_numpy()).all()
    # bit-identical doubles: same parse, same numpy Mercator
    assert (m["lat"].to_numpy() == e["lat"].to_numpy()).all()
    assert (m["lon"].to_numpy() == e["lon"].to_numpy()).all()
    assert (m["x"].to_numpy() == e["x"].to_numpy()).all()
    assert (m["y"].to_numpy() == e["y"].to_numpy()).all()

    # ways: first/last/node_count parity
    o_ways = con.sql(
        f"SELECT DISTINCT id, first_node_id, last_node_id, node_count FROM read_parquet('{tiny_dir}/oracle/ways.parquet')"
    ).df()
    e_ways = v.ways.select("id", "first_node_id", "last_node_id", "node_count").toPandas()
    assert len(o_ways) == len(e_ways)
    mo = o_ways.sort_values("id").reset_index(drop=True)
    me = e_ways.sort_values("id").reset_index(drop=True)
    for c in ["first_node_id", "last_node_id", "node_count"]:
        assert (mo[c].to_numpy() == me[c].to_numpy()).all(), c
