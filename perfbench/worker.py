"""Benchmark worker: one Spark session, one workload, one result file.

Started by ``perfbench/run.py`` (which sizes the environment and
samples this process tree's memory); not meant to be run by hand.
Everything it reads or writes lives under ``<checkout>/data``.  With
``--build`` it only builds what the measured runs share (the dataset,
the oracle digest, the follower's base state) and exits,
so a measured run never includes, or inherits the warm JVM of, a build.

Workloads (see perfbench/README.md for why each exists):

* ``suite_t``    — closed loop, one client.  One operation = the staged
  check suite (SUITE_CHECKS) plus resolve/clip over the ``t`` world,
  materialized to parquet.
* ``follower_t`` — closed loop, one client.  One operation = one
  replication cycle: a seeded 20-doc drop lands (see make_drop),
  ``docs_store.upsert`` then ``diff.diff_update`` run.  After it, untimed
  by the operation, a few web requests read the table the cycle
  committed.

Every program call goes through the engine's public functions.  With
``--trace 1`` the calls into each layer are wrapped in spans recorded
from this file (spans stay in memory and are written once at the
end); the timed mode (``--trace 0``) runs the same code with a no-op
tracer.
"""

from __future__ import annotations

import argparse
import contextlib
import functools
import hashlib
import json
import math
import os
import re
import shutil
import statistics
import sys
import time

ROOT = os.getcwd()
WORK = os.path.join(ROOT, "data", "perfbench")
BUILD_MARK = os.path.join(WORK, "BUILT.json")

WORLD = "t"
# bump when build() changes what it writes
BUILD_VERSION = 3
# The suite workload's checks: a node check (0020), a spatial self-join
# (0050) and a tag check (0170), run concurrently by the staged runner.
# A run is a fresh JVM's set-up plus one suite operation, kept under a
# minute on 4 cores so that a full measurement of both workloads fits
# an hour next to the follower's minute-long cycles; hence this slice.
SUITE_CHECKS = [20, 50, 170]
# Checks the follower re-runs each cycle: the two the seeded drops move,
# 0020 (node moves and tombstones) and 0170 (the fixme tag edits).
FOLLOWER_CHECKS = [20, 170]
# Web requests after each follower cycle rotate points / gpx / geojson
# (1:1:1, an assumption: no request log is available).  The first
# round warms the serving path and is checked but not timed; the timed
# round gives the per-layer read figures.  Single-client request
# latency is not an end-to-end metric: on a shared host it rose by
# about three times the share of CPU the hypervisor stole.
READ_KINDS = ("points", "gpx", "geojson")
# set-up runs this many times in a run; setup_s is the session start
# plus their median
SETUP_REPEATS = 3
# Drop shape: 20 docs near one seeded centre.  The 10/5/5 mix of way tag
# edits, node moves and orphan-node tombstones is an assumption, not
# taken from replication data: it gives both follower checks changes to
# re-evaluate (0170 the fixme tags, 0020 the moves and tombstones).
DROP_WAYS, DROP_MOVES, DROP_TOMBS = 10, 5, 5
MOVE_M = 15.0
# Seeded spread: each kind is drawn at random from its SPREAD x n
# nearest candidates, so a wide drop (or one whose centre lies near a
# border) touches both tiles of the world and a tight one only one.
DROP_SPREADS = (1, 2, 4, 8)
# no operation starts unless it would end (judged by the previous one)
# within this many seconds of worker time, so a run stays inside the
# 180 s per-run limit
OP_DEADLINE_S = 130.0
M_PER_DEG_LAT = 111132.0


# --------------------------------------------------------------------------
# host and process-tree probes
# --------------------------------------------------------------------------


def steal_s() -> float:
    """Cumulative hypervisor steal time of the host (/proc/stat)."""
    with open("/proc/stat") as f:
        parts = f.readline().split()
    return int(parts[8]) / os.sysconf("SC_CLK_TCK")


def _stat_cpus() -> int:
    with open("/proc/stat") as f:
        return sum(1 for line in f if re.match(r"cpu\d", line))


# steal_s() sums over these CPUs
STAT_CPUS = _stat_cpus()


def unstolen_s(wall: float, steal: float) -> float:
    """Wall time less the host's steal over it, per CPU: the time the
    work would have taken had the hypervisor not held the CPUs.  Every
    workload keeps all cores busy most of the time, and across runs of
    identical code the wall grew by 0.27-0.30 s per steal second on 4
    CPUs, so this removes most of a shared host's stolen windows."""
    return wall - steal / STAT_CPUS


def tree_pids(root_pid: int) -> list[int]:
    """root_pid and all its live descendants."""
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        children.setdefault(ppid, []).append(int(name))
    out, todo = [], [root_pid]
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(children.get(p, ()))
    return out


def tree_write_bytes() -> int:
    """Bytes this process tree (Python + JVM + Python UDF workers) has
    caused to be written to storage (/proc/<pid>/io write_bytes)."""
    total = 0
    for pid in tree_pids(os.getpid()):
        try:
            with open(f"/proc/{pid}/io") as f:
                for line in f:
                    if line.startswith("write_bytes:"):
                        total += int(line.split()[1])
        except OSError:
            continue
    return total


def tree_cpu_s() -> float:
    """CPU seconds (user + system) this process tree has used, reaped
    children included."""
    total = 0
    for pid in tree_pids(os.getpid()):
        try:
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        total += sum(int(x) for x in fields[11:15])  # utime stime cutime cstime
    return total / os.sysconf("SC_CLK_TCK")


def op_start() -> tuple:
    # the /proc scans first, so the clock starts after them
    w, c, s = tree_write_bytes(), tree_cpu_s(), steal_s()
    return time.monotonic(), w, c, s


def op_figures(start: tuple) -> dict:
    """Wall (raw, and less steal), bytes written, CPU seconds and host
    steal since op_start."""
    t, w, c, s = start
    wall, steal = time.monotonic() - t, steal_s() - s
    return {"op_s": unstolen_s(wall, steal), "wall_s": wall,
            "write_mb": (tree_write_bytes() - w) / 1e6,
            "cpu_s": tree_cpu_s() - c, "steal_s": steal}


# --------------------------------------------------------------------------
# tracing
# --------------------------------------------------------------------------


class NullTracer:
    """The timed mode's tracer: records nothing."""

    op, rep = "setup", 0

    def span(self, name: str):
        return contextlib.nullcontext({})

    def wrap(self, module, attr: str, name: str) -> None:
        pass


class Tracer:
    """Spans (name, start, end, parent, op, set-up repeat) kept in
    memory."""

    def __init__(self) -> None:
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.op, self.rep = "setup", 0

    @contextlib.contextmanager
    def span(self, name: str):
        rec = {
            "name": name,
            "start": time.monotonic(),
            "end": None,
            "parent": self._stack[-1] if self._stack else None,
            "op": self.op,
            "rep": self.rep,
        }
        self.spans.append(rec)
        self._stack.append(len(self.spans) - 1)
        try:
            yield rec
        finally:
            rec["end"] = time.monotonic()
            self._stack.pop()

    def wrap(self, module, attr: str, name: str) -> None:
        """Record a span around every call of ``module.attr`` (calls
        the program makes internally included)."""
        fn = getattr(module, attr)

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name) as rec:
                out = fn(*args, **kwargs)
                if isinstance(kwargs.get("timings"), dict):
                    rec["timings"] = dict(kwargs["timings"])
                if isinstance(out, list):
                    rec["n"] = len(out)
                return out

        setattr(module, attr, traced)

    def finish(self) -> list[dict]:
        """Spans with duration and self time (duration minus the part
        of it that child spans cover)."""
        kids: dict[int, list[dict]] = {}
        for s in self.spans:
            if s["parent"] is not None:
                kids.setdefault(s["parent"], []).append(s)
        for i, s in enumerate(self.spans):
            s["dur"] = s["end"] - s["start"]
            covered, last = 0.0, s["start"]
            for c in sorted(kids.get(i, ()), key=lambda c: c["start"]):
                a, b = max(c["start"], last), min(c["end"], s["end"])
                if b > a:
                    covered += b - a
                    last = b
            s["self"] = s["dur"] - covered
        return self.spans


# --------------------------------------------------------------------------
# one-time build (per checkout): dataset, oracle digest, follower base
# --------------------------------------------------------------------------


def build_key() -> str:
    """Changes whenever the engine's source (checks, oracles, datagen)
    or what the build writes changes."""
    h = hashlib.sha256(f"{BUILD_VERSION}:{SUITE_CHECKS}:{FOLLOWER_CHECKS}".encode())
    src = os.path.join(ROOT, "keepright_spark")
    for dirpath, dirnames, files in sorted(os.walk(src)):
        dirnames.sort()
        for name in sorted(files):
            if name.endswith(".py"):
                with open(os.path.join(dirpath, name), "rb") as f:
                    h.update(name.encode() + f.read())
    return h.hexdigest()[:16]


def _normalized_rows(df) -> list[tuple]:
    """Order-insensitive, dtype-insensitive row form (the comparison
    tests/test_checks.py applies)."""
    df = df.reindex(sorted(df.columns), axis=1).astype("string").fillna("<NA>")
    df = df.sort_values(list(df.columns)).reset_index(drop=True)
    return list(df.itertuples(index=False, name=None))


def _digest(rows: list[tuple]) -> str:
    h = hashlib.sha256()
    for r in rows:
        h.update("\x1f".join(r).encode())
        h.update(b"\x1e")
    return h.hexdigest()


def oracle_digest(dataset_dir: str) -> dict:
    """Union of the suite checks' DuckDB oracles over the world."""
    import duckdb
    import pandas as pd

    from keepright_spark import oracles

    con = duckdb.connect()
    try:
        parts = [
            con.sql(getattr(oracles, f"oracle_{cid:04d}")(dataset_dir)).df()
            for cid in SUITE_CHECKS
        ]
    finally:
        con.close()
    rows = _normalized_rows(pd.concat(parts, ignore_index=True))
    return {"rows": len(rows), "digest": _digest(rows)}


def build_record() -> dict | None:
    """What the last completed build recorded (its key and the suite's
    oracle digest), if any."""
    try:
        with open(BUILD_MARK) as f:
            return json.load(f)
    except (OSError, ValueError):
        return None


def built_key() -> str | None:
    return (build_record() or {}).get("key")


def build(spark) -> None:
    """The dataset and its prepared engine dir, the oracle digest and
    the follower's committed base state — once per checkout and engine
    source (``build_key``)."""
    from keepright_spark import diff, docs_store, pipeline
    from keepright_spark.datagen import ensure_dataset

    if os.path.exists(BUILD_MARK):
        os.remove(BUILD_MARK)
    ds = ensure_dataset(WORLD)
    pipeline.prepare(spark, ds)
    digest = oracle_digest(ds)
    base = os.path.join(WORK, "follower_base")
    shutil.rmtree(base, ignore_errors=True)
    os.makedirs(base)
    shutil.copy(os.path.join(ds, "docs.parquet"), base)
    shutil.copy(os.path.join(ds, "MANIFEST.json"), base)
    docs_store.migrate(spark, base)
    diff.diff_update(spark, base, os.path.join(base, "state"),
                     check_ids=FOLLOWER_CHECKS)
    with open(BUILD_MARK, "w") as f:
        json.dump({"key": build_key(), "oracle": digest}, f)


# --------------------------------------------------------------------------
# seeded inputs
# --------------------------------------------------------------------------


class World:
    """The generator's view of the base world (its oracle tables), used
    to place drops and read requests and to build the oracle of a
    merged world; never shown to the program."""

    def __init__(self, dataset_dir: str) -> None:
        import pandas as pd
        import pyarrow.parquet as pq

        from keepright_spark import oracles, pipeline

        self.oracle_dir = os.path.join(dataset_dir, "oracle")
        self.views = {t: pd.read_parquet(os.path.join(self.oracle_dir, f"{t}.parquet"))
                      for t in oracles.ORACLE_TABLES}
        wn, rm = self.views["way_nodes"], self.views["relation_members"]
        self.nodes = self.views["nodes"].drop_duplicates("id").set_index("id")
        first = wn.sort_values("sequence_id").drop_duplicates("way_id")
        in_rel = set(rm.loc[rm.member_type == "W", "member_id"])
        self.way_pos = first.loc[~first.way_id.isin(in_rel)].set_index(
            "way_id")[["lat", "lon"]]
        referenced = set(wn.node_id) | set(
            rm.loc[rm.member_type == "N", "member_id"])
        self.orphans = self.nodes.loc[~self.nodes.index.isin(referenced)]
        docs = pq.read_table(os.path.join(dataset_dir, "docs.parquet"))
        self.docs_schema = docs.schema
        self.docs = {r["doc_id"]: r["spans"] for r in docs.to_pylist()}
        tiles = pipeline.dataset_tiles(dataset_dir)
        with open(os.path.join(dataset_dir, "MANIFEST.json")) as f:
            margin = json.load(f)["margin_m"]
        self.tiles = tiles
        self.padded = {t.name: t.padded(margin) for t in tiles}
        self.left = min(t.left for t in tiles)
        self.right = max(t.right for t in tiles)
        self.bottom = min(t.bottom for t in tiles)
        self.top = max(t.top for t in tiles)

    def tiles_of(self, lat: float, lon: float) -> frozenset:
        """Tiles whose margin-padded box holds the point."""
        return frozenset(n for n, (left, right, top, bottom) in self.padded.items()
                         if bottom <= lat < top and left <= lon < right)

    def centre(self, rng) -> tuple[float, float]:
        """A seeded point anywhere in the world, tile borders included."""
        return (float(rng.uniform(self.bottom, self.top)),
                float(rng.uniform(self.left, self.right)))


def _near(df, lat: float, lon: float, used: set, prefix: str, n: int,
          spread: int, rng):
    """Unused object ids near (lat, lon): the n * spread nearest in
    seeded random order, then the rest by distance."""
    corr = math.cos(math.radians(lat)) ** 2
    d = (df["lat"] - lat) ** 2 + (df["lon"] - lon) ** 2 * corr
    ids = [int(oid) for oid in d.sort_values(kind="stable").index
           if f"{prefix}/{oid}" not in used]
    pool = ids[:n * spread]
    return [pool[i] for i in rng.permutation(len(pool))] + ids[n * spread:]


def no_edits() -> dict:
    """What make_drop accumulates over a run's drops."""
    return {"docs": set(), "tags": [], "moves": {}, "tombs": set()}


def make_drop(world: World, rng, edits: dict, path: str) -> dict:
    """One replication drop: full new versions of 20 docs near a
    seeded centre, with a seeded spread — fixme tag edits on ways,
    small node moves, orphan node tombstones (empty spans).  Written as
    a docs-schema parquet file, the only thing the program sees;
    ``edits`` accumulates what changed, for the merged world's
    oracle."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    used = edits["docs"]
    lat, lon = world.centre(rng)
    spread = int(rng.choice(DROP_SPREADS))
    rows = []
    for wid in _near(world.way_pos, lat, lon, used, "way", DROP_WAYS, spread,
                     rng)[:DROP_WAYS]:
        did = f"way/{wid}"
        text = f"check {int(rng.randint(1000))}"
        spans = list(world.docs[did])
        spans.append({"kind": "tag", "text": f"fixme:bench\t{text}",
                      "media_ref": None, "offset": len(spans)})
        rows.append({"doc_id": did, "spans": spans})
        used.add(did)
        edits["tags"].append((wid, "fixme:bench", text))
    moved = 0
    for nid in _near(world.nodes, lat, lon, used, "node", DROP_MOVES, spread, rng):
        if moved == DROP_MOVES:
            break
        old = world.nodes.loc[nid]
        la = old.lat + rng.uniform(-MOVE_M, MOVE_M) / M_PER_DEG_LAT
        lo = old.lon + rng.uniform(-MOVE_M, MOVE_M) / (
            M_PER_DEG_LAT * math.cos(math.radians(la)))
        text = f"{la:.7f}\t{lo:.7f}"
        la, lo = (float(x) for x in text.split("\t"))  # as the engine parses it
        if world.tiles_of(la, lo) != world.tiles_of(old.lat, old.lon):
            continue  # keep every object's tile set: the oracle tables stay valid
        did = f"node/{nid}"
        spans = [{**s, "text": text} if s["kind"] == "coord" else s
                 for s in world.docs[did]]
        rows.append({"doc_id": did, "spans": spans})
        used.add(did)
        edits["moves"][nid] = (la, lo)
        moved += 1
    for nid in _near(world.orphans, lat, lon, used, "node", DROP_TOMBS, spread,
                     rng)[:DROP_TOMBS]:
        rows.append({"doc_id": f"node/{nid}", "spans": []})
        used.add(f"node/{nid}")
        edits["tombs"].add(nid)
    pq.write_table(pa.Table.from_pylist(rows, schema=world.docs_schema), path)
    return {"centre": [round(lat, 5), round(lon, 5)], "spread": spread,
            "docs": len(rows)}


def merged_oracle(world: World, edits: dict, out_dir: str) -> str:
    """The generator's oracle tables with the drops applied (tombstoned
    orphan nodes gone, moved coordinates, added way tags); the DuckDB
    oracles read them from ``<out_dir>/oracle``."""
    import pandas as pd

    from keepright_spark.mercator import merc_x, merc_y

    v = {k: df.copy() for k, df in world.views.items()}
    tombs, moves = edits["tombs"], edits["moves"]
    v["nodes"] = v["nodes"][~v["nodes"].id.isin(tombs)]
    v["node_tags"] = v["node_tags"][~v["node_tags"].node_id.isin(tombs)]
    for nid, (la, lo) in moves.items():
        pos = {"lat": la, "lon": lo, "x": float(merc_x(lo)), "y": float(merc_y(la))}
        for table, col, pre in (("nodes", "id", ""), ("way_nodes", "node_id", ""),
                                ("ways", "first_node_id", "first_node_"),
                                ("ways", "last_node_id", "last_node_")):
            df = v[table]
            hit = df[col] == nid
            for k, val in pos.items():
                df.loc[hit, pre + k] = val
    ways = v["ways"][["id", "tile"]].rename(columns={"id": "way_id"})
    added = pd.DataFrame(edits["tags"], columns=["way_id", "k", "v"]).merge(ways)
    v["way_tags"] = pd.concat([v["way_tags"], added[v["way_tags"].columns]],
                              ignore_index=True)
    o = os.path.join(out_dir, "oracle")
    shutil.rmtree(out_dir, ignore_errors=True)
    os.makedirs(o)
    for name, df in v.items():
        df.to_parquet(os.path.join(o, f"{name}.parquet"), index=False)
    return out_dir


def read_request(world: World, rng, i: int) -> tuple:
    """Web request number i: points.php at a seeded map centre, then
    GPX and GeoJSON exports of a seeded bbox, in turn."""
    lat = float(rng.uniform(world.bottom, world.top))
    lon = float(rng.uniform(world.left, world.right))
    kind = READ_KINDS[i % len(READ_KINDS)]
    if kind == "points":
        return kind, (lat, lon)
    return kind, (lon - 0.03, lat - 0.02, lon + 0.03, lat + 0.02)


# --------------------------------------------------------------------------
# read path
# --------------------------------------------------------------------------


def do_read(pub, request, tr) -> dict:
    from keepright_spark import export, web

    kind, arg = request
    with tr.span(f"read.{kind}"):
        t0 = time.monotonic()
        if kind == "points":
            rows = web.points_rows(pub, *arg).collect()
            body = [(r["error_id"], r["lat"], r["lon"]) for r in rows]
            n = len(rows)
        elif kind == "gpx":
            body = web.gpx_export(export.bbox_export(pub, *arg))
            n = body.count("<wpt ")
        else:
            body = web.geojson_export(export.bbox_export(pub, *arg))
            n = body.count('"type": "Feature"')
        ms = (time.monotonic() - t0) * 1000.0
    return {"kind": kind, "arg": arg, "ms": ms, "rows": n, "body": body}


def check_reads(errors_path: str, reads: list[dict]) -> int:
    """Compare every read with a DuckDB twin of the same viewport or
    bbox query over the committed errors table; returns mismatches."""
    import duckdb

    con = duckdb.connect()
    bad = 0
    try:
        con.sql(
            f"CREATE TABLE live AS SELECT error_id, lat, lon FROM "
            f"read_parquet('{errors_path}/*.parquet') "
            f"WHERE state NOT IN ('cleared', 'preliminary')"
        )
        for r in reads:
            if r["kind"] == "points":
                lat, lon = r["arg"]
                lat7, lon7 = math.floor(1e7 * lat), math.floor(1e7 * lon)
                corr = math.cos(math.radians(lat7 / 1e7)) ** 2
                cand = con.sql(
                    f"SELECT error_id, CAST((lat - {lat7}) * (lat - {lat7}) AS DOUBLE)"
                    f" + CAST((lon - {lon7}) * (lon - {lon7}) AS DOUBLE) * {corr!r}"
                    f" AS d FROM live WHERE lat BETWEEN {lat7 - 15_000_000} AND "
                    f"{lat7 + 15_000_000} AND lon BETWEEN {lon7 - 15_000_000} AND "
                    f"{lon7 + 15_000_000} ORDER BY d"
                ).fetchall()
                got = {e for e, _, _ in r["body"]}
                want_n = min(350, len(cand))
                ok = len(got) == want_n == len(r["body"])
                if ok and want_n:
                    cut = cand[want_n - 1][1]
                    tol = 1e-9 * max(cut, 1.0)
                    must = {e for e, d in cand if d < cut - tol}
                    may = {e for e, d in cand if d <= cut + tol}
                    ok = must <= got <= may
            else:
                left, bottom, right, top = r["arg"]
                want = sorted(e for (e,) in con.sql(
                    f"SELECT error_id FROM live WHERE "
                    f"lat BETWEEN {int(1e7 * bottom)} AND {int(1e7 * top)} AND "
                    f"lon BETWEEN {int(1e7 * left)} AND {int(1e7 * right)}"
                ).fetchall())
                if r["kind"] == "gpx":
                    got = sorted(int(x) for x in re.findall(r"<id>(\d+)</id>", r["body"]))
                else:
                    got = sorted(f["properties"]["error_id"]
                                 for f in json.loads(r["body"])["features"])
                ok = got == want if len(want) <= 10000 else (
                    len(got) == 10000 and set(got) <= set(want))
            if not ok:
                print(f"perfbench: {r['kind']} {r['arg']} disagrees with its "
                      f"DuckDB twin", file=sys.stderr)
                bad += 1
    finally:
        con.close()
    return bad


# --------------------------------------------------------------------------
# workloads
# --------------------------------------------------------------------------


class Suite:
    """The staged suite (SUITE_CHECKS) + resolve/clip on the t world."""

    def __init__(self, spark, tr, rng, world) -> None:
        from keepright_spark.datagen import ensure_dataset

        self.spark, self.tr, self.rng, self.world = spark, tr, rng, world
        self.ds = ensure_dataset(WORLD)
        self.run_dir = os.path.join(WORK, "run")

    def setup(self) -> None:
        from keepright_spark import pipeline

        # a repeat loads the views afresh, as a new operator process would
        self.spark.catalog.clearCache()
        pipeline.prepare(self.spark, self.ds)
        self.views = pipeline.tiled_views(self.spark, self.ds)
        self.tiles = pipeline.dataset_tiles(self.ds)

    def op(self, i: int) -> dict:
        from keepright_spark import pipeline

        out = os.path.join(self.run_dir, f"suite_{i}.parquet")
        stage = os.path.join(self.run_dir, f"stage_{i}")
        timings: dict = {}
        start = op_start()
        ev = pipeline.run_checks(self.views, SUITE_CHECKS, tiles=self.tiles,
                                 stage_dir=stage, timings=timings)
        with self.tr.span("resolve_clip"):
            ev.write.mode("overwrite").parquet(out)
        return {**op_figures(start), "out": out}

    def verify(self, results: list[dict]) -> int:
        """Rows must equal the union of the checks' DuckDB oracles (as
        the digest the build computed), and no error may appear in more
        than one tile."""
        import pandas as pd

        oracle = build_record()["oracle"]
        bad = 0
        for r in results:
            got = pd.read_parquet(r.pop("out"))
            rows = _normalized_rows(got)
            r["rows"] = len(rows)
            key = got[["error_type", "object_type", "object_id", "lat", "lon"]]
            one_tile = len(key.drop_duplicates()) == len(got)
            r["error_rows_per_s"] = len(rows) / r["op_s"]
            ok = (len(rows) == oracle["rows"] and _digest(rows) == oracle["digest"]
                  and one_tile)
            if not ok:
                print("perfbench: suite output disagrees with the oracle union",
                      file=sys.stderr)
                bad += 1
        return bad


class Follower:
    """Replication cycles over a copy of the committed base state."""

    def __init__(self, spark, tr, rng, world) -> None:
        self.spark, self.tr, self.rng, self.world = spark, tr, rng, world
        self.base = os.path.join(WORK, "follower_base")
        self.ds = os.path.join(WORK, "follower_run")
        self.state = os.path.join(self.ds, "state")
        self.drops = os.path.join(WORK, "drops")
        self.read_failures = 0

    def setup(self) -> None:
        from keepright_spark import pipeline

        shutil.rmtree(self.ds, ignore_errors=True)
        shutil.rmtree(self.drops, ignore_errors=True)
        os.makedirs(self.drops)
        # copy2 keeps mtimes, so the copy's engine dir stays valid for
        # its docs signature (no re-materialization)
        shutil.copytree(self.base, self.ds)
        pipeline.prepare(self.spark, self.ds)
        self.edits = no_edits()

    def op(self, i: int) -> dict:
        from keepright_spark import diff, docs_store

        spark = self.spark
        drop = os.path.join(self.drops, f"drop_{i}.parquet")
        info = make_drop(self.world, self.rng, self.edits, drop)
        start = op_start()
        touched = docs_store.upsert(spark, self.ds, spark.read.parquet(drop))
        diff.diff_update(spark, self.ds, self.state, check_ids=FOLLOWER_CHECKS)
        res = {**op_figures(start), "drop": info, "buckets": len(touched)}
        with open(os.path.join(self.state, "run_manifest.json")) as f:
            manifest = json.load(f)
        seq = manifest["last_run_seq"]
        # tiles the cycle re-checked, as the program recorded its scope
        res["tiles"] = len(manifest[f"run_{seq}"]["scope"])
        lineage = os.path.join(self.state, "lineage")
        res["lineage_s"] = 0.0
        for n in os.listdir(lineage):
            if n.startswith(f"run_{seq}_group_"):
                with open(os.path.join(lineage, n)) as f:
                    res["lineage_s"] += json.load(f)["seconds"]
        res["reads"] = self.reads(i)
        return res

    def reads(self, i: int) -> list[dict]:
        """Publish the table the cycle committed and serve two rounds of
        web requests from it (untimed by the operation); every request
        is checked now, because a later cycle may garbage-collect the
        table."""
        from pyspark.storagelevel import StorageLevel

        from keepright_spark import lifecycle, pipeline

        errors_path = lifecycle.current_errors_path(self.state)
        views = pipeline.tiled_views(self.spark, self.ds, share_partitioning=False)
        with self.tr.span("publish"):
            pub = lifecycle.published_view(
                self.spark.read.parquet(errors_path), views
            ).persist(StorageLevel.MEMORY_ONLY)
            pub.count()
        n = len(READ_KINDS)
        out = [do_read(pub, read_request(self.world, self.rng, j), self.tr)
               for j in range(2 * n)]
        pub.unpersist()
        self.read_failures += check_reads(errors_path, out)
        for r in out:
            del r["body"]
        return out[n:]

    def verify(self, results: list[dict]) -> int:
        """The committed live rows must equal a from-scratch evaluation
        of the merged world: the follower checks' DuckDB oracles over
        the generator's tables with every drop applied (state, ids and
        last_checked aside — they carry history).  Read mismatches
        found after each cycle count too."""
        import duckdb
        import pandas as pd

        from keepright_spark import lifecycle, oracles
        from keepright_spark.errors import ERROR_COLS

        errs = pd.read_parquet(lifecycle.current_errors_path(self.state))
        live = errs[~errs.state.isin(["cleared", "preliminary"])]
        d = merged_oracle(self.world, self.edits, os.path.join(WORK, "run", "merged"))
        con = duckdb.connect()
        try:
            want = pd.concat([con.sql(getattr(oracles, f"oracle_{cid:04d}")(d)).df()
                              for cid in FOLLOWER_CHECKS], ignore_index=True)
        finally:
            con.close()
        got = _normalized_rows(live[ERROR_COLS])
        want = _normalized_rows(want[ERROR_COLS])
        for r in results:
            r["rows"] = len(got)
        if got != want or errs.error_id.duplicated().any():
            print(f"perfbench: committed state ({len(got)} live rows) differs "
                  f"from the merged world's oracle ({len(want)} rows)",
                  file=sys.stderr)
            return 1 + self.read_failures
        return self.read_failures


WORKLOADS = {"suite_t": Suite, "follower_t": Follower}


# --------------------------------------------------------------------------
# metrics
# --------------------------------------------------------------------------


def end_to_end(setup_s: float, results: list[dict]) -> dict:
    return {
        "setup_s": {"value": setup_s, "unit": "s"},
        "op_p50_s": {"value": statistics.median(r["op_s"] for r in results),
                     "unit": "s"},
    }


def median0(vals) -> float:
    vals = list(vals)
    return statistics.median(vals) if vals else 0.0


def per_layer(spans: list[dict], results: list[dict], n_tiles: int,
              profile: dict, steal: float) -> dict:
    ops = [f"op{i}" for i in range(len(results))]

    def per_op(name: str, field: str = "dur") -> list[float]:
        tot = {}
        for s in spans:
            if s["name"] == name and s["op"] in ops:
                tot[s["op"]] = tot.get(s["op"], 0.0) + s[field]
        return list(tot.values())

    def layer(name: str, field: str = "dur") -> float:
        """Median per-operation total; a layer only set-up touches
        reports its median over the set-up repeats."""
        vals = per_op(name, field)
        if vals:
            return statistics.median(vals)
        reps: dict[int, float] = {}
        for s in spans:
            if s["name"] == name and s["op"] == "setup":
                reps[s["rep"]] = reps.get(s["rep"], 0.0) + s[field]
        return median0(reps.values())

    def spans_of(name: str) -> list[dict]:
        return [s for s in spans if s["name"] == name and s["op"] in ops]

    m: dict = {}

    def put(name, value, unit):
        m[name] = {"value": float(value), "unit": unit}

    put("session.start_s", layer("session"), "s")
    put("prepare.s", layer("prepare"), "s")
    put("views.load_s", layer("views", "self"), "s")
    stage = layer("run_checks")
    busy_by_op: dict[str, float] = {}
    per_check: dict[int, dict[str, float]] = {}
    for s in spans_of("run_checks"):
        for cid, sec in s.get("timings", {}).items():
            busy_by_op[s["op"]] = busy_by_op.get(s["op"], 0.0) + sec
            d = per_check.setdefault(int(cid), {})
            d[s["op"]] = d.get(s["op"], 0.0) + sec
    busy = median0(busy_by_op.values())
    put("checks.stage_s", stage, "s")
    put("checks.busy_s", busy, "s")
    put("checks.overlap", busy / stage if stage else 0.0, "ratio")
    for cid in sorted(set(SUITE_CHECKS) | set(FOLLOWER_CHECKS)):
        put(f"check.{cid:04d}.s", median0(per_check.get(cid, {}).values()), "s")
    put("resolve_clip.s", layer("resolve_clip"), "s")
    put("upsert.s", layer("upsert"), "s")
    put("upsert.buckets", median0(r["buckets"] for r in results if "buckets" in r),
        "count")
    put("diff.detect_s", layer("diff.detect", "self"), "s")
    tiles = median0(s.get("n", 0) for s in spans_of("diff.detect"))
    put("diff.tiles", tiles, "count")
    put("diff.tile_share", tiles / n_tiles, "ratio")
    run_s = layer("lifecycle.run")
    checks_s = median0(r["lineage_s"] for r in results if "lineage_s" in r)
    put("lifecycle.run_s", run_s, "s")
    put("lifecycle.checks_s", checks_s, "s")
    put("lifecycle.commit_s", max(run_s - checks_s, 0.0), "s")
    put("snapshot.s", layer("snapshot"), "s")
    put("io.write_mb", median0(r["write_mb"] for r in results), "MB")
    put("publish.s", layer("publish"), "s")
    reads = [q for r in results for q in r.get("reads", ())]
    for kind in READ_KINDS:
        put(f"read.{kind}_ms", median0(r["ms"] for r in reads if r["kind"] == kind),
            "ms")
    put("read.rows", median0(r["rows"] for r in reads), "count")
    put("spark.stages", profile.get("n_stages", 0), "count")
    put("spark.tasks", profile.get("n_tasks", 0), "count")
    put("spark.dispatch_gap_s", profile.get("dispatch_gap_sec", 0.0), "s")
    put("spark.executor_run_s", profile.get("executor_run_sec", 0.0), "s")
    put("spark.executor_cpu_s", profile.get("executor_cpu_sec", 0.0), "s")
    put("spark.utilization", profile.get("utilization", 0.0), "ratio")
    put("spark.shuffle_write_mb", profile.get("shuffle_write_mb", 0.0), "MB")
    put("spark.shuffle_read_mb", profile.get("shuffle_read_mb", 0.0), "MB")
    put("spark.gc_s", profile.get("gc_sec", 0.0), "s")
    put("host.steal_s", steal, "s")
    return m


# --------------------------------------------------------------------------


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM process to exit."""
    from pyspark import SparkContext

    spark.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--build", action="store_true",
                    help="only build what the measured runs share, then exit")
    ap.add_argument("--workload", choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int)
    ap.add_argument("--seconds", type=float)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--cores", type=int, required=True)
    ap.add_argument("--result")
    a = ap.parse_args()

    t_start = time.monotonic()
    sys.path.insert(0, ROOT)
    os.makedirs(WORK, exist_ok=True)
    if a.build:
        from keepright_spark.session import get_spark

        spark = get_spark("perfbench-build", cores=a.cores)
        try:
            build(spark)
        finally:
            stop_spark(spark)
        return 0
    if built_key() != build_key():
        print("perfbench: no build for this engine source; run "
              "worker.py --build first", file=sys.stderr)
        return 1
    tr = Tracer() if a.trace else NullTracer()
    with tr.span("session"):
        t0, steal0 = time.monotonic(), steal_s()
        from keepright_spark.session import get_spark

        conf = {}
        if a.trace:
            conf.update({"spark.ui.enabled": "true", "spark.ui.port": "0",
                         "spark.ui.retainedStages": "100000",
                         "spark.ui.retainedJobs": "100000"})
        spark = get_spark("perfbench", cores=a.cores, extra_conf=conf)
        session_s = time.monotonic() - t0
        session_steal = steal_s() - steal0
    try:
        return run(a, spark, tr, session_s, session_steal, t_start)
    finally:
        stop_spark(spark)


def run(a, spark, tr, session_s: float, session_steal: float,
        t_start: float) -> int:
    import numpy as np

    from keepright_spark import diff, docs_store, lifecycle, pipeline
    from keepright_spark.datagen import ensure_dataset

    # layer boundaries inside the program, wrapped from here (trace only)
    tr.wrap(pipeline, "prepare", "prepare")
    tr.wrap(pipeline, "tiled_views", "views")
    tr.wrap(pipeline, "run_checks", "run_checks")
    tr.wrap(docs_store, "upsert", "upsert")
    tr.wrap(diff, "affected_tiles", "diff.detect")
    tr.wrap(lifecycle, "run_persistent", "lifecycle.run")
    tr.wrap(diff, "snapshot_doc_state", "snapshot")

    rng = np.random.RandomState(a.seed)
    world = World(ensure_dataset(WORLD))
    shutil.rmtree(os.path.join(WORK, "run"), ignore_errors=True)
    os.makedirs(os.path.join(WORK, "run"))
    wl = WORKLOADS[a.workload](spark, tr, rng, world)
    reps = []
    for rep in range(SETUP_REPEATS):
        tr.rep = rep
        t0, steal0 = time.monotonic(), steal_s()
        wl.setup()
        wall, steal = time.monotonic() - t0, steal_s() - steal0
        reps.append({"s": unstolen_s(wall, steal), "wall_s": wall, "steal_s": steal})
    setup_s = unstolen_s(session_s, session_steal) + statistics.median(
        r["s"] for r in reps)

    results = []
    steal0 = steal_s()
    t_measure, epoch0 = time.monotonic(), time.time()
    last_op_s = 0.0
    while not results or (
        time.monotonic() - t_measure < a.seconds
        and time.monotonic() - t_start + last_op_s < OP_DEADLINE_S
    ):
        t_op = time.monotonic()
        tr.op = f"op{len(results)}"
        results.append(wl.op(len(results)))
        last_op_s = time.monotonic() - t_op
    wall = time.monotonic() - t_measure
    steal = steal_s() - steal0
    if a.trace:
        from keepright_spark.bench_suite import dump_profile

        prof_path = os.path.join(WORK, "run", "spark_profile.json")
        dump_profile(spark, prof_path, wall, a.cores, since_epoch=epoch0)
        with open(prof_path) as f:
            profile = json.load(f)
    tr.op = "verify"
    failed = wl.verify(results)
    attempted = len(results) + sum(2 * len(r.get("reads", ())) for r in results)

    if a.trace:
        spans = tr.finish()
        metrics = per_layer(spans, results, len(world.tiles), profile, steal)
        trace_path = os.path.join(WORK, f"trace_{a.workload}_{a.seed}.json")
        with open(trace_path, "w") as f:
            json.dump(spans, f)
    else:
        metrics = end_to_end(setup_s, results)
        trace_path = None
    context = {
        "workload": a.workload, "seed": a.seed, "cores": a.cores,
        "setup_s": setup_s, "session_s": session_s,
        "session_steal_s": session_steal, "setup_reps": reps,
        "measure_wall_s": wall, "steal_s": steal,
        "ops": results, "rows": results[0].get("rows", 0),
        "trace_file": trace_path, "e2e": end_to_end(setup_s, results),
    }
    if "error_rows_per_s" in results[0]:
        context["error_rows_per_s"] = statistics.median(
            r["error_rows_per_s"] for r in results)
    with open(a.result, "w") as f:
        json.dump({"correct": failed == 0, "attempted": attempted,
                   "failed": failed, "metrics": metrics, "context": context}, f)
    return 0


if __name__ == "__main__":
    sys.exit(main())
