"""OSM XML source round-trip: the synthetic world's relational views,
serialized to a real .osm file (+ a bz2 copy) and re-ingested via
osm_xml.load_osm_xml, must decode to the SAME eight views — proving a
user can start the engine from raw OSM XML instead of pre-encoded
docs.
"""

from __future__ import annotations

import bz2
import xml.etree.ElementTree as ET

import pytest

from keepright_spark import codec, docs_store, osm_xml, pipeline
from keepright_spark.datagen import ensure_dataset

VIEW_COLS = {
    "nodes": ["id", "user_id", "tstamp", "lat", "lon"],
    "node_tags": ["node_id", "k", "v"],
    "ways": ["id", "user_id", "tstamp", "first_node_id", "last_node_id",
             "node_count"],
    "way_nodes": ["way_id", "sequence_id", "node_id"],
    "way_tags": ["way_id", "k", "v"],
    "relations": ["id", "user_id", "tstamp"],
    "relation_members": ["relation_id", "sequence_id", "member_type",
                         "member_id", "member_role"],
    "relation_tags": ["relation_id", "k", "v"],
}


def _write_xml(base, path: str) -> None:
    """Serialize decoded views to a .osm file (document order by
    type/id; nd/member order by sequence_id)."""
    root = ET.Element("osm", version="0.6", generator="keepright_spark-test")

    def ts(t):
        return t.strftime("%Y-%m-%dT%H:%M:%S") + "Z"

    ntags: dict = {}
    for r in base.node_tags.collect():
        ntags.setdefault(r.node_id, []).append((r.k, r.v))
    wtags: dict = {}
    for r in base.way_tags.collect():
        wtags.setdefault(r.way_id, []).append((r.k, r.v))
    rtags: dict = {}
    for r in base.relation_tags.collect():
        rtags.setdefault(r.relation_id, []).append((r.k, r.v))
    wnodes: dict = {}
    for r in base.way_nodes.collect():
        wnodes.setdefault(r.way_id, []).append((r.sequence_id, r.node_id))
    rmem: dict = {}
    tname = {"N": "node", "W": "way", "R": "relation"}
    for r in base.relation_members.collect():
        rmem.setdefault(r.relation_id, []).append(
            (r.sequence_id, tname[r.member_type], r.member_id, r.member_role)
        )

    for r in sorted(base.nodes.collect(), key=lambda r: r.id):
        e = ET.SubElement(
            root, "node", id=str(r.id), uid=str(r.user_id),
            timestamp=ts(r.tstamp), lat=f"{r.lat:.7f}", lon=f"{r.lon:.7f}",
        )
        for k, v in ntags.get(r.id, []):
            ET.SubElement(e, "tag", k=k, v=v)
    for r in sorted(base.ways.collect(), key=lambda r: r.id):
        e = ET.SubElement(
            root, "way", id=str(r.id), uid=str(r.user_id),
            timestamp=ts(r.tstamp),
        )
        for _seq, nid in sorted(wnodes.get(r.id, [])):
            ET.SubElement(e, "nd", ref=str(nid))
        for k, v in wtags.get(r.id, []):
            ET.SubElement(e, "tag", k=k, v=v)
    for r in sorted(base.relations.collect(), key=lambda r: r.id):
        e = ET.SubElement(
            root, "relation", id=str(r.id), uid=str(r.user_id),
            timestamp=ts(r.tstamp),
        )
        for _seq, mt, mid, role in sorted(rmem.get(r.id, [])):
            ET.SubElement(e, "member", type=mt, ref=str(mid), role=role)
        for k, v in rtags.get(r.id, []):
            ET.SubElement(e, "tag", k=k, v=v)
    ET.ElementTree(root).write(path, encoding="utf-8", xml_declaration=True)


def _norm(df, cols):
    pdf = df.select(cols).toPandas().astype(str)
    return pdf.sort_values(cols).reset_index(drop=True)


@pytest.fixture(scope="module")
def tiny_dir():
    return ensure_dataset("t")


def test_xml_roundtrip_decodes_to_identical_views(spark, tiny_dir, tmp_path):
    docs = docs_store.read_docs(spark, tiny_dir)
    base = codec.decode(docs)
    xml_path = str(tmp_path / "world.osm")
    _write_xml(base, xml_path)
    # compressed twin exercises the in-stream bz2 path
    with open(xml_path, "rb") as f:
        raw = f.read()
    with open(str(tmp_path / "world2.osm.bz2"), "wb") as f:
        f.write(bz2.compress(raw))

    docs2 = osm_xml.load_osm_xml(spark, xml_path)
    got = codec.decode(docs2)
    for view, cols in VIEW_COLS.items():
        a = _norm(getattr(base, view), cols)
        b = _norm(getattr(got, view), cols)
        assert a.equals(b), f"{view} diverged\n{a.head()}\n{b.head()}"

    # the bz2 copy parses to the same doc count
    n_bz2 = osm_xml.load_osm_xml(
        spark, str(tmp_path / "world2.osm.bz2")
    ).count()
    assert n_bz2 == docs.count()


def test_multi_file_ingest_parallelism(spark, tiny_dir, tmp_path):
    """Path-based ingest: N files fan out to N parse tasks (only paths
    are distributed, each task streams its own file), and a gzip copy
    parses identically to the plain file."""
    import gzip

    from pyspark.sql import functions as F

    docs = docs_store.read_docs(spark, tiny_dir)
    base = codec.decode(docs)
    xml_path = str(tmp_path / "w0.osm")
    _write_xml(base, xml_path)
    with open(xml_path, "rb") as f:
        raw = f.read()
    for i in (1, 2):
        with open(str(tmp_path / f"w{i}.osm"), "wb") as f:
            f.write(raw)
    with open(str(tmp_path / "w3.osm.gz"), "wb") as f:
        f.write(gzip.compress(raw))

    out = osm_xml.load_osm_xml(spark, str(tmp_path / "w*.osm*"))
    per_part = (
        out.withColumn("pid", F.spark_partition_id())
        .groupBy("pid").count().collect()
    )
    n_docs = docs.count()
    # one task per file, each carrying one full copy of the world
    assert len(per_part) == 4
    assert all(r["count"] == n_docs for r in per_part)


def test_ingested_dataset_runs_checks(spark, tiny_dir, tmp_path):
    """A dataset directory materialized from XML must run the check
    pipeline end-to-end (MANIFEST copied so tiling matches)."""
    import shutil

    docs = docs_store.read_docs(spark, tiny_dir)
    base = codec.decode(docs)
    xml_path = str(tmp_path / "world.osm")
    _write_xml(base, xml_path)
    ds = str(tmp_path / "xmlds")
    osm_xml.ingest_osm_xml(spark, xml_path, ds, n_files=2)
    shutil.copy(f"{tiny_dir}/MANIFEST.json", f"{ds}/MANIFEST.json")
    ev = pipeline.run_dataset(spark, ds, [20])
    ref = pipeline.run_dataset(spark, tiny_dir, [20])
    a = sorted(tuple(str(x) for x in r) for r in ev.collect())
    b = sorted(tuple(str(x) for x in r) for r in ref.collect())
    assert a == b and len(a) > 0
