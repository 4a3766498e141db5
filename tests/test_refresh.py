"""Batch-scoped engine refresh: after a replication upsert, ``prepare``
rewrites only the rows the batch reaches, and its tables must equal a
full ``prepare`` of the merged docs.  Batches it cannot prove
tile-stable, a lost changelog and a crash mid-swap fall back to the
full build."""

from __future__ import annotations

import json
import os
import shutil

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from conftest import spark_jobs

from keepright_spark import docs_store, pipeline
from keepright_spark.tiling import DEFAULT_MARGIN_M, padded_tiles

TABLES = pipeline.VIEW_NAMES + pipeline.HELPER_NAMES
RELATION_TABLES = ["relations", "relation_members", "relation_tags"]
# Spark jobs the refresh's guard may add before it falls back to a full
# prepare: its three probes of the old tables, plus the batch decode and
# its two collects when a move, tombstone or noderef has to be read
# (measured 3 for an added doc, 8-9 for the rest)
FALLBACK_GUARD_JOBS = 10


def _table(ds: str, name: str) -> list[dict]:
    return pq.read_table(os.path.join(ds, "engine", f"{name}.parquet")).to_pylist()


def _stamp(ds: str) -> dict:
    with open(os.path.join(ds, "engine", pipeline.STAMP)) as f:
        return json.load(f)


class World:
    """The prepared base world's docs and engine tables, to place edits."""

    def __init__(self, ds: str, docs_path: str) -> None:
        docs = pq.read_table(docs_path)
        self.schema = docs.schema
        self.docs = {r["doc_id"]: r["spans"] for r in docs.to_pylist()}
        self.tiles = pipeline.dataset_tiles(ds)
        nodes = _table(ds, "nodes")
        self.pos = {r["id"]: (r["lat"], r["lon"]) for r in nodes}
        self.way_tiles: dict[int, set] = {}
        self.way_refs: dict[int, set] = {}
        for r in _table(ds, "way_nodes"):
            self.way_tiles.setdefault(r["way_id"], set()).add(r["tile"])
            self.way_refs.setdefault(r["way_id"], set()).add(r["node_id"])
        in_rel = {r["member_id"] for r in _table(ds, "relation_members")
                  if r["member_type"] == "N"}
        used = {n for refs in self.way_refs.values() for n in refs} | in_rel
        self.referenced = sorted(used)
        self.orphans = sorted(n for n in self.pos if n not in used)

    def ways_in(self, tiles: set) -> list[int]:
        return sorted(w for w, ts in self.way_tiles.items() if ts == tiles)

    def direct(self, lat: float, lon: float) -> frozenset:
        return padded_tiles(lat, lon, self.tiles, DEFAULT_MARGIN_M)

    # one edited doc each: (doc_id, spans)
    def tag_edit(self, doc_id: str, text: str = "continue here") -> tuple:
        spans = list(self.docs[doc_id])
        spans.append({"kind": "tag", "text": f"fixme\t{text}",
                      "media_ref": None, "offset": len(spans)})
        return doc_id, spans

    def move(self, nid: int, lat: float, lon: float) -> tuple:
        doc_id = f"node/{nid}"
        return doc_id, [{**s, "text": f"{lat:.7f}\t{lon:.7f}"}
                        if s["kind"] == "coord" else s for s in self.docs[doc_id]]

    def nudge(self, nid: int) -> tuple:
        """A move of about a metre that keeps the node's padded tiles."""
        lat, lon = self.pos[nid]
        for d in (1e-5, -1e-5):
            la, lo = float(f"{lat + d:.7f}"), float(f"{lon + d:.7f}")
            if self.direct(la, lo) == self.direct(lat, lon):
                return self.move(nid, la, lo)
        raise AssertionError(f"node {nid} sits on a padded tile edge")

    def moved_nodes(self, n: int) -> list[int]:
        """Nodes of A1-only ways, so a move reaches their ways too."""
        out = []
        for w in self.ways_in({"A1"}):
            out += sorted(self.way_refs[w] - set(out))
        return out[:n]


def _drop(spark, world: World, ds: str, rows: list[tuple], tmp: str) -> None:
    path = os.path.join(tmp, f"drop_{len(os.listdir(tmp))}.parquet")
    table = pa.Table.from_pylist(
        [{"doc_id": d, "spans": s} for d, s in rows], schema=world.schema
    )
    pq.write_table(table, path)
    docs_store.upsert(spark, ds, spark.read.parquet(path))


def _copy(src: str, dst: str, engine: bool = True) -> str:
    os.makedirs(dst)
    shutil.copytree(os.path.join(src, "docs_store"), os.path.join(dst, "docs_store"))
    shutil.copy(os.path.join(src, "MANIFEST.json"), dst)
    if engine:
        shutil.copytree(os.path.join(src, "engine"), os.path.join(dst, "engine"))
    return dst


def _assert_equals_fresh_build(spark, ds: str, tmp: str) -> int:
    """Every engine table equals a full prepare of a fresh copy of the
    same docs (sorted rows, the tile column included), and so does the
    per-tile summary.  Returns the Spark jobs that full prepare ran."""
    fresh = _copy(ds, os.path.join(tmp, "fresh"), engine=False)
    with spark_jobs(spark) as jobs:
        pipeline.prepare(spark, fresh)
    assert _stamp(fresh)["refresh"] == "full"
    for name in TABLES:
        got, want = _table(ds, name), _table(fresh, name)
        assert sorted(got, key=repr) == sorted(want, key=repr), name
        # one file per tile: refreshes do not pile up small files
        assert _files_per_tile(ds, name) == _files_per_tile(fresh, name), name
    # a refresh re-summarizes only the tiles it rewrote
    assert _stamp(ds)["tile_summary"] == _stamp(fresh)["tile_summary"]
    assert _stamp(ds)["schemas"] == _stamp(fresh)["schemas"]
    return len(jobs)


def _files_per_tile(ds: str, name: str) -> dict:
    root = os.path.join(ds, "engine", f"{name}.parquet")
    return {
        d: sum(fn.endswith(".parquet") for fn in os.listdir(os.path.join(root, d)))
        for d in os.listdir(root) if d.startswith("tile=")
    }


def _file_bytes(ds: str, names: list[str]) -> dict:
    out = {}
    for name in names:
        root = os.path.join(ds, "engine", f"{name}.parquet")
        for d, _, files in os.walk(root):
            for fn in files:
                with open(os.path.join(d, fn), "rb") as f:
                    out[os.path.relpath(os.path.join(d, fn), root), name] = f.read()
    return out


@pytest.fixture(scope="module")
def base(spark, tiny_dir, tmp_path_factory):
    """The t world as a bucketed docs store (version 1) with a full
    prepare."""
    ds = str(tmp_path_factory.mktemp("refresh_base") / "ds")
    os.makedirs(ds)
    shutil.copy(os.path.join(tiny_dir, "docs.parquet"), ds)
    shutil.copy(os.path.join(tiny_dir, "MANIFEST.json"), ds)
    docs_store.migrate(spark, ds)
    pipeline.prepare(spark, ds)
    return ds


@pytest.fixture(scope="module")
def world(base, tiny_dir):
    return World(base, os.path.join(tiny_dir, "docs.parquet"))


@pytest.fixture
def ds(base, tmp_path):
    return _copy(base, str(tmp_path / "ds"))


def test_stamp_schemas_match_inference(spark, base):
    """The schemas the stamp records are the ones a plain read infers."""
    st = _stamp(base)
    assert st["refresh"] == "full" and st["store_version"] == 1
    for name in TABLES:
        inferred = spark.read.parquet(f"{base}/engine/{name}.parquet").schema
        assert st["schemas"][name] == inferred.jsonValue(), name


def test_with_tiles_keys_past_int32(spark):
    """The id → tiles literal is keyed by bigint: an OSM-sized id in the
    frame neither overflows the lookup nor aliases a small key."""
    df = spark.createDataFrame([(5,), (2**32 + 5,), (12_000_000_000,)], "id long")
    got = pipeline._with_tiles(df, "id", {5: {"A1"}, 12_000_000_000: {"A2"}})
    assert sorted(tuple(r) for r in got.collect()) == [(5, "A1"), (12_000_000_000, "A2")]


def test_refresh_equals_full_build(spark, world, ds, tmp_path):
    """Drops of a way tag edit, a tile-keeping node move and an orphan
    tombstone, then one reaching both tiles, take the delta path; the
    tables equal a fresh full build and the relation tables' files do
    not change."""
    tmp = str(tmp_path / "drops")
    os.makedirs(tmp)
    relations_before = _file_bytes(ds, RELATION_TABLES)
    a1_way = world.ways_in({"A1"})[0]
    _drop(spark, world, ds, [
        world.tag_edit(f"way/{a1_way}"),
        world.nudge(world.moved_nodes(1)[0]),
        (f"node/{world.orphans[0]}", []),
    ], tmp)
    pipeline.prepare(spark, ds)
    st = _stamp(ds)
    assert st["refresh"] == "delta" and st["store_version"] == 2
    _assert_equals_fresh_build(spark, ds, str(tmp_path / "one"))
    assert _file_bytes(ds, RELATION_TABLES) == relations_before

    both = world.ways_in({"A1", "A2"})
    _drop(spark, world, ds, [
        world.tag_edit(f"way/{both[0]}", "both tiles"),
        world.tag_edit(f"way/{world.ways_in({'A2'})[0]}"),
        world.nudge(sorted(world.way_refs[both[1]])[0]),
    ], tmp)
    pipeline.prepare(spark, ds)
    assert _stamp(ds)["refresh"] == "delta"
    _assert_equals_fresh_build(spark, ds, str(tmp_path / "two"))
    assert _file_bytes(ds, RELATION_TABLES) == relations_before


def test_delta_prepare_job_budget(spark, world, ds, tmp_path):
    """A 20-doc drop shaped like the follower benchmark's (10 way tag
    edits, 5 tile-keeping moves, 5 orphan tombstones) refreshes in at
    most half the Spark jobs of a full prepare of the same docs — a
    silent fall back to full re-materialization fails here."""
    tmp = str(tmp_path / "drops")
    os.makedirs(tmp)
    ways = world.ways_in({"A1"})[:5] + world.ways_in({"A2"})[:5]
    rows = [world.tag_edit(f"way/{w}", "bench") for w in ways]
    rows += [world.nudge(n) for n in world.moved_nodes(5)]
    rows += [(f"node/{n}", []) for n in world.orphans[-5:]]
    _drop(spark, world, ds, rows, tmp)

    with spark_jobs(spark) as delta_jobs:
        pipeline.prepare(spark, ds)
    assert _stamp(ds)["refresh"] == "delta"

    fresh = _copy(ds, str(tmp_path / "fresh"), engine=False)
    with spark_jobs(spark) as full_jobs:
        pipeline.prepare(spark, fresh)
    assert 0 < len(delta_jobs) <= len(full_jobs) // 2, (len(delta_jobs), len(full_jobs))
    for name in TABLES:
        assert sorted(_table(ds, name), key=repr) == sorted(
            _table(fresh, name), key=repr
        ), name


def _fallback_rows(world: World, case: str) -> list[tuple]:
    if case == "tile_edge_move":
        nid = next(n for n in world.moved_nodes(50)
                   if world.direct(*world.pos[n]) == {"A1"})
        return [world.move(nid, world.pos[nid][0], 16.39)]
    if case == "referenced_tombstone":
        return [(f"node/{world.referenced[0]}", [])]
    if case == "relation_edit":
        rid = sorted(d for d in world.docs if d.startswith("relation/"))[0]
        return [world.tag_edit(rid)]
    if case == "noderef_change":
        wid = world.ways_in({"A1"})[0]
        spans = list(world.docs[f"way/{wid}"])
        ix = [i for i, s in enumerate(spans) if s["kind"] == "noderef"]
        a, b = spans[ix[0]], spans[ix[1]]
        na, nb = a["text"].split("\t")[1], b["text"].split("\t")[1]
        spans[ix[0]] = {**a, "text": a["text"].split("\t")[0] + "\t" + nb}
        spans[ix[1]] = {**b, "text": b["text"].split("\t")[0] + "\t" + na}
        return [(f"way/{wid}", spans)]
    if case == "added_doc":
        doc_id, spans = world.move(world.orphans[0], 48.05, 16.25)
        nid = max(world.pos) + 1
        spans = [{**s, "text": s["text"].replace(doc_id.split("/")[1], str(nid), 1)}
                 if s["kind"] == "meta" else s for s in spans]
        return [(f"node/{nid}", spans)]
    if case == "noncanonical_id":
        # decode reads it as the orphan's id: a second doc for one node
        doc_id, spans = world.tag_edit(f"node/{world.orphans[0]}")
        return [(doc_id.replace("/", "/0"), spans)]
    raise ValueError(case)


@pytest.mark.parametrize("case", [
    "tile_edge_move", "referenced_tombstone", "relation_edit",
    "noderef_change", "added_doc", "noncanonical_id", "changelog_gone",
])
def test_fallback_is_full_build(spark, world, ds, tmp_path, case):
    """Batches the refresh cannot prove tile-stable, and a stamp whose
    changelogs are no longer kept, run a full prepare.  The guard that
    sends them there costs at most FALLBACK_GUARD_JOBS Spark jobs on top
    of a full prepare of the same docs."""
    tmp = str(tmp_path / "drops")
    os.makedirs(tmp)
    if case == "changelog_gone":
        # 9 upserts: the stamp's version 1 is one past the kept window
        for w in world.ways_in({"A1"})[:docs_store.CHANGELOG_KEEP + 1]:
            _drop(spark, world, ds, [world.tag_edit(f"way/{w}")], tmp)
        assert docs_store.changes_since(ds, 1) is None
    else:
        _drop(spark, world, ds, _fallback_rows(world, case), tmp)
    with spark_jobs(spark) as fallback_jobs:
        pipeline.prepare(spark, ds)
    assert _stamp(ds)["refresh"] == "full"
    full_jobs = _assert_equals_fresh_build(spark, ds, str(tmp_path / "cmp"))
    assert len(fallback_jobs) <= full_jobs + FALLBACK_GUARD_JOBS, (
        len(fallback_jobs), full_jobs)


def test_undecodable_id_fails_as_full_build(spark, world, ds, tmp_path):
    """An id decode cannot cast reaches the full build, which fails on
    it with Spark's cast error; the refresh's own id parsing raises
    nothing."""
    tmp = str(tmp_path / "drops")
    os.makedirs(tmp)
    _, spans = world.tag_edit(f"node/{world.orphans[0]}")
    _drop(spark, world, ds, [("node/abc", spans)], tmp)
    with pytest.raises(Exception, match="CAST_INVALID_INPUT"):
        pipeline.prepare(spark, ds)


def test_crash_after_first_swap_rebuilds(spark, world, ds, tmp_path, monkeypatch):
    """A refresh that dies after its first partition swap leaves the
    stamp invalid: the next prepare is a full build."""
    tmp = str(tmp_path / "drops")
    os.makedirs(tmp)
    _drop(spark, world, ds, [
        world.tag_edit(f"way/{world.ways_in({'A1'})[0]}"),
        world.nudge(world.moved_nodes(1)[0]),
    ], tmp)
    swap = pipeline._swap_partition
    calls = []

    def crash_after_first(*args):
        if calls:
            raise RuntimeError("injected crash")
        calls.append(args)
        swap(*args)

    monkeypatch.setattr(pipeline, "_swap_partition", crash_after_first)
    with pytest.raises(RuntimeError, match="injected crash"):
        pipeline.prepare(spark, ds)
    monkeypatch.setattr(pipeline, "_swap_partition", swap)
    pipeline.prepare(spark, ds)
    assert _stamp(ds)["refresh"] == "full"
    _assert_equals_fresh_build(spark, ds, str(tmp_path / "cmp"))
