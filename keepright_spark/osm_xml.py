"""OSM XML source — ingest raw ``.osm`` files into the engine's
interleaved-doc table (the osmosis-free path).

The reference feeds on planet files cut by an external osmosis
process into per-schema pbf + TSV dumps (planet.php:37-41,
updateDB.php:67-130); this source lets the Spark engine start from
the OSM XML itself: every ``<node>``/``<way>``/``<relation>`` element
becomes a (doc_id, spans) row via ``codec.encode_object`` — the SAME
span encoding the synthetic generator writes — so decode, tiling and
every check run unchanged downstream.

Scale shape: one XML file is one stream (exactly as it is for
osmosis), so parallelism is per FILE — the planet workflow ships
per-region extracts, and Spark fans out one task per file.  What is
distributed is the file *path*, never the file *content*: each task
opens its file Python-side and parses it with ``iterparse`` straight
off the (possibly decompressing) file object, yielding Arrow batches
of at most ``ROWS_PER_BATCH`` docs.  A reference-sized tile (≤4 GB
uncompressed XML, README:296-300) therefore never materializes as a
single Arrow value — neither on the input side (no ``binaryFile``
content column) nor on the output side (chunked yield).  Memory per
task is O(batch): the parser clears each element after use AND drops
it from the root element's child list (the root otherwise keeps a
reference to every "cleared" child and memory grows with element
count).  This is Python at the ingest boundary — the reference's
equivalent stage is an external osmosis JVM — not in any per-row
query path.

Compressed planets: ``.osm.bz2``/``.osm.gz`` payloads are
decompressed in-stream per file (magic-byte sniff on the open file
object), matching the reference's ``bzcat``-style piping.
"""

from __future__ import annotations

from collections.abc import Iterator

from pyspark.sql import DataFrame, SparkSession

from .codec import encode_object

DOCS_SCHEMA = (
    "doc_id string, spans array<struct<kind string, text string, "
    "media_ref string, offset int>>"
)

_MEMBER_TYPE = {"node": "N", "way": "W", "relation": "R"}

# docs per yielded Arrow batch from the parse task (bounds task memory
# regardless of input file size)
ROWS_PER_BATCH = 16384


def _open_path(path: str):
    """Streaming file-like over a (possibly compressed) XML file.

    ``path`` is a Hadoop-style URI as listed by Spark (``file:/…``) or
    a bare POSIX path.  Decompression wraps the open file object —
    bytes stream through bz2/gzip incrementally, the payload is never
    whole-file-buffered.  Non-local schemes would open via a Hadoop /
    fsspec filesystem on a cluster; this sandbox has only ``file:``.
    """
    import bz2
    import gzip
    from urllib.parse import unquote, urlparse

    if "://" in path or path.startswith("file:"):
        u = urlparse(path)
        if u.scheme not in ("", "file"):
            raise NotImplementedError(
                f"scheme {u.scheme!r}: open via a Hadoop/fsspec filesystem "
                "on a cluster; the sandbox ingests local files"
            )
        path = unquote(u.path)
    f = open(path, "rb")
    magic = f.read(3)
    f.seek(0)
    if magic[:3] == b"BZh":
        return bz2.BZ2File(f)
    if magic[:2] == b"\x1f\x8b":
        return gzip.GzipFile(fileobj=f)
    return f


def _parse_stream(stream) -> Iterator[tuple[str, list]]:
    """Yield (doc_id, spans) per OSM object, in document order.

    iterparse with start events so the root ``<osm>`` element is in
    hand: after each yielded object the element is cleared AND removed
    from the root's children (``del root[:]``) — without the latter
    the root accumulates a reference to every element and memory
    grows with the file (the round-4 O(1)-per-element claim only
    holds with both).
    """
    import xml.etree.ElementTree as ET

    it = ET.iterparse(stream, events=("start", "end"))
    _, root = next(it)  # the enclosing <osm> element
    for ev, elem in it:
        if ev != "end":
            continue
        kind = elem.tag
        if kind not in ("node", "way", "relation"):
            continue
        oid = int(elem.get("id"))
        uid = int(elem.get("uid") or 0)
        ts = (elem.get("timestamp") or "1970-01-01T00:00:00").rstrip("Z")
        tags = [(t.get("k"), t.get("v")) for t in elem.findall("tag")]
        if kind == "node":
            doc_id, spans = encode_object(
                "node", oid, uid, ts, tags,
                coord=(float(elem.get("lat")), float(elem.get("lon"))),
            )
        elif kind == "way":
            noderefs = [
                (seq, int(nd.get("ref")))
                for seq, nd in enumerate(elem.findall("nd"), start=1)
            ]
            doc_id, spans = encode_object(
                "way", oid, uid, ts, tags, noderefs=noderefs
            )
        else:
            members = [
                (seq, _MEMBER_TYPE[m.get("type")], int(m.get("ref")),
                 m.get("role") or "")
                for seq, m in enumerate(elem.findall("member"), start=1)
            ]
            doc_id, spans = encode_object(
                "relation", oid, uid, ts, tags, members=members
            )
        yield doc_id, spans
        elem.clear()
        del root[:]  # drop processed top-level children from the tree


def load_osm_xml(spark: SparkSession, path: str) -> DataFrame:
    """Docs table (doc_id, spans) from ``.osm``/``.osm.bz2``/``.osm.gz``
    files under ``path`` (glob ok) — one parse task per file.

    Only file *paths* reach the tasks; each task streams its own
    file.  The listing itself is driver-side and bounded (it is a
    file listing — the same work Spark's own scan planning does), and
    ``parallelize(paths, n_files)`` slices it one path per partition,
    which a round-robin ``repartition(n)`` cannot guarantee (two
    files may land in one task while another sits idle).
    """
    import pandas as pd

    path_rows = (
        spark.read.format("binaryFile").load(path).select("path").collect()
    )
    path_list = sorted(r["path"] for r in path_rows)
    n_files = max(len(path_list), 1)
    files = spark.createDataFrame(
        spark.sparkContext.parallelize(
            [(p,) for p in path_list], numSlices=n_files
        ),
        "path string",
    )

    def parse(batches):
        def flush(ids, span_lists):
            return pd.DataFrame({"doc_id": ids, "spans": span_lists})

        for pdf in batches:
            for p in pdf["path"]:
                stream = _open_path(p)
                try:
                    ids: list = []
                    span_lists: list = []
                    for doc_id, spans in _parse_stream(stream):
                        ids.append(doc_id)
                        span_lists.append(
                            [
                                {"kind": k, "text": t, "media_ref": m,
                                 "offset": o}
                                for k, t, m, o in spans
                            ]
                        )
                        if len(ids) >= ROWS_PER_BATCH:
                            yield flush(ids, span_lists)
                            ids, span_lists = [], []
                    if ids:
                        yield flush(ids, span_lists)
                finally:
                    stream.close()

    return files.mapInPandas(parse, DOCS_SCHEMA)


def ingest_osm_xml(
    spark: SparkSession, xml_path: str, dataset_dir: str,
    n_files: int | None = None,
) -> str:
    """Materialize an engine dataset directory from raw OSM XML:
    writes ``<dataset_dir>/docs.parquet``, the plain layout of the
    docs table (docs_store).  It writes no MANIFEST.json: copy one in
    to set the tiles, else the engine uses DEFAULT_TILES
    (pipeline.dataset_tiles)."""
    import os

    docs = load_osm_xml(spark, xml_path)
    if n_files:
        docs = docs.repartition(n_files)
    os.makedirs(dataset_dir, exist_ok=True)
    docs.write.mode("overwrite").parquet(
        os.path.join(dataset_dir, "docs.parquet")
    )
    return dataset_dir
