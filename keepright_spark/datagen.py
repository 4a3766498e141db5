"""Deterministic synthetic OSM world generator.

Produces, for a given scale:

* ``docs.parquet``  — the interleaved text+media document table that is
  the engine's ONLY input (BASELINE.json input_hint);
* ``oracle/*.parquet`` — pre-tiled relational views computed by an
  *independent* pandas/numpy implementation of the decode + tiling
  rules, used by the DuckDB oracle SQL in ``__spark_entry__.py`` for
  differential testing (the Spark engine never reads these).

Everything is seeded (seed 42 ⊕ scale) — no external data.  The world
is a random road/water/rail network over the two-tile region of
tiling.DEFAULT_TILES plus targeted per-check "injections" (FIXTURES.md
§3) so every check has positive and negative cases at every scale.
"""

from __future__ import annotations

import json
import os
from dataclasses import dataclass, field
from datetime import datetime, timedelta

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

from .codec import DOCS_ARROW_SCHEMA, encode_object, fmt_coord
from .mercator import merc_x, merc_y
from .tiling import DEFAULT_MARGIN_M, DEFAULT_TILES, Tile

GEN_VERSION = 18  # bump to force dataset regeneration

# region covering the scale's tile grid + margins; build_world() sets
# these per scale so object DENSITY stays constant as the world grows
# by adding tiles (the planet-growth model — a bigger extract is more
# tiles, not a denser Frankfurt)
LAT_MIN, LAT_MAX = 47.995, 48.105
LON_MIN, LON_MAX = 16.195, 16.405

M_PER_DEG_LAT = 111132.0
M_PER_DEG_LON = 74625.0  # ~cos(48°) * 111320

HIGHWAY_CLASSES = [
    ("residential", 0.30),
    ("secondary", 0.12),
    ("primary", 0.10),
    ("tertiary", 0.08),
    ("motorway", 0.05),
    ("motorway_link", 0.03),
    ("trunk", 0.03),
    ("service", 0.09),
    ("track", 0.08),
    ("footway", 0.07),
    ("path", 0.03),
    ("cycleway", 0.02),
]

AMENITIES_NEED_NAME = ["restaurant", "pub", "cafe", "hotel", "school", "cinema"]


@dataclass
class World:
    """Ground-truth relational content (pre-codec)."""

    nodes: list = field(default_factory=list)  # (id, user_id, lat7, lon7)
    node_tags: list = field(default_factory=list)  # (node_id, k, v)
    ways: list = field(default_factory=list)  # (id, user_id)
    way_nodes: list = field(default_factory=list)  # (way_id, seq, node_id)
    way_tags: list = field(default_factory=list)  # (way_id, k, v)
    relations: list = field(default_factory=list)  # (id, user_id)
    relation_members: list = field(default_factory=list)  # (rid, seq, type, mid, role)
    relation_tags: list = field(default_factory=list)  # (rid, k, v)
    webcache: list = field(default_factory=list)  # (url, http_code, body)

    _next_node: int = 1_000_000
    _next_way: int = 5_000_000
    _next_rel: int = 9_000_000

    def nd(self, lat7: int, lon7: int, tags: list | None = None) -> int:
        nid = self._next_node
        self._next_node += 1
        self.nodes.append((nid, 1 + nid % 97, int(lat7), int(lon7)))
        for k, v in tags or []:
            self.node_tags.append((nid, k, v))
        return nid

    def wy(self, node_ids: list, tags: list | None = None) -> int:
        wid = self._next_way
        self._next_way += 1
        self.ways.append((wid, 1 + wid % 97))
        for i, nid in enumerate(node_ids):
            self.way_nodes.append((wid, i + 1, nid))
        for k, v in tags or []:
            self.way_tags.append((wid, k, v))
        return wid

    def rl(self, members: list, tags: list | None = None) -> int:
        """members: list of (member_type 'N'|'W'|'R', member_id, role)."""
        rid = self._next_rel
        self._next_rel += 1
        self.relations.append((rid, 1 + rid % 97))
        for i, (mt, mid, role) in enumerate(members):
            self.relation_members.append((rid, i + 1, mt, mid, role))
        for k, v in tags or []:
            self.relation_tags.append((rid, k, v))
        return rid


def _snap7(deg: float) -> int:
    return int(round(deg * 1e7))


def _rand_pt(rng: np.random.RandomState) -> tuple[int, int]:
    return (
        _snap7(rng.uniform(LAT_MIN, LAT_MAX)),
        _snap7(rng.uniform(LON_MIN, LON_MAX)),
    )


def _step7(lat7: int, lon7: int, heading: float, dist_m: float) -> tuple[int, int]:
    dlat = dist_m * np.cos(heading) / M_PER_DEG_LAT
    dlon = dist_m * np.sin(heading) / M_PER_DEG_LON
    return lat7 + int(round(dlat * 1e7)), lon7 + int(round(dlon * 1e7))


def _pick(rng, weighted: list[tuple[str, float]]) -> str:
    names = [n for n, _ in weighted]
    w = np.array([p for _, p in weighted])
    return names[rng.choice(len(names), p=w / w.sum())]


# ---------------------------------------------------------------------------
# Background network
# ---------------------------------------------------------------------------


def gen_network(b: World, rng: np.random.RandomState, n_ways: int) -> None:
    """Random polyline network with a shared junction pool so ways
    connect; tags drawn so the generic tag checks (0060/0070/0090/...)
    and topology checks all have organic positives and negatives."""
    junction_pool: list[int] = []  # node ids reusable as way endpoints
    junction_pos: dict[int, tuple[int, int]] = {}

    for _ in range(n_ways):
        # start point: reuse a junction 60% of the time
        if junction_pool and rng.rand() < 0.6:
            start = junction_pool[rng.randint(len(junction_pool))]
            lat7, lon7 = junction_pos[start]
            node_ids = [start]
        else:
            lat7, lon7 = _rand_pt(rng)
            start = b.nd(lat7, lon7)
            node_ids = [start]
            junction_pool.append(start)
            junction_pos[start] = (lat7, lon7)

        heading = rng.uniform(0, 2 * np.pi)
        n_seg = rng.randint(1, 9)
        for _ in range(n_seg):
            heading += rng.uniform(-0.6, 0.6)
            lat7, lon7 = _step7(lat7, lon7, heading, rng.uniform(30, 180))
            node_ids.append(b.nd(lat7, lon7))
        # share the end node as a junction sometimes
        if rng.rand() < 0.5:
            junction_pool.append(node_ids[-1])
            junction_pos[node_ids[-1]] = (lat7, lon7)

        tags: list[tuple[str, str]] = []
        kind = rng.rand()
        if kind < 0.62:
            hw = _pick(rng, HIGHWAY_CLASSES)
            tags.append(("highway", hw))
            if rng.rand() < 0.55:
                tags.append(("name", f"Street {node_ids[0] % 10000}"))
            if hw in ("motorway", "trunk", "primary", "secondary"):
                if rng.rand() < 0.55:
                    tags.append(("maxspeed", str(int(rng.choice([50, 80, 100, 130])))))
                if hw == "motorway" and rng.rand() < 0.75:
                    tags.append(("ref", f"A{node_ids[0] % 30}"))
            if hw == "track" and rng.rand() < 0.55:
                tags.append(("tracktype", f"grade{1 + node_ids[0] % 5}"))
            if rng.rand() < 0.08:
                tags.append(("oneway", "yes"))
            if rng.rand() < 0.03:
                tags.append(("bridge", "yes"))
                if rng.rand() < 0.5:
                    tags.append(("layer", "1"))
            elif rng.rand() < 0.02:
                tags.append(("tunnel", "yes"))
                if rng.rand() < 0.5:
                    tags.append(("layer", "-1"))
            if rng.rand() < 0.02:
                tags.append(("fixme", "check this"))
            if rng.rand() < 0.015:
                tags.append(("highway", "road") if False else ("note", "FIXME: verify"))
        elif kind < 0.72:
            tags.append(("waterway", str(rng.choice(["stream", "river", "ditch"]))))
            if rng.rand() < 0.3:
                tags.append(("name", f"Bach {node_ids[0] % 1000}"))
        elif kind < 0.77:
            tags.append(("railway", "rail"))
        elif kind < 0.85:
            # building: close the ring
            node_ids = node_ids + [node_ids[0]]
            tags.append(("building", "yes"))
        elif kind < 0.91:
            # landuse area; 15% left open (check 0030 positives)
            if rng.rand() >= 0.15:
                node_ids = node_ids + [node_ids[0]]
            tags.append(("landuse", str(rng.choice(["forest", "meadow", "farmland"]))))
        elif kind < 0.94:
            tags.append(("barrier", "fence"))
        elif kind < 0.97:
            tags.append(("sport", str(rng.choice(["soccer", "tennis"]))))
            if rng.rand() < 0.5:
                tags.append(("leisure", "pitch"))
        else:
            # untagged / created_by-only ways (check 0071)
            if rng.rand() < 0.5:
                tags.append(("created_by", "JOSM"))

        wid = b.wy(node_ids, tags)

        # occasionally group ways into relations
        if rng.rand() < 0.04:
            rtags = []
            r = rng.rand()
            if r < 0.5:
                rtags = [("type", "route"), ("route", "road")]
            elif r < 0.8:
                rtags = [("type", "multipolygon")]
            # else: relation without type (check 0180)
            b.rl([("W", wid, "outer" if r < 0.8 else "")], rtags)


def gen_pois(b: World, rng: np.random.RandomState, n: int) -> None:
    for _ in range(n):
        lat7, lon7 = _rand_pt(rng)
        r = rng.rand()
        tags: list[tuple[str, str]] = []
        if r < 0.30:
            am = str(rng.choice(AMENITIES_NEED_NAME))
            tags.append(("amenity", am))
            if rng.rand() < 0.7:
                tags.append(("name", f"{am} {lat7 % 1000}"))
        elif r < 0.40:
            tags.append(("amenity", "place_of_worship"))
            if rng.rand() < 0.6:
                tags.append(("religion", "christian"))
        elif r < 0.55:
            tags.append(("natural", "tree"))
        elif r < 0.65:
            tags.append(("place", "hamlet"))
            tags.append(("name", f"Dorf{lat7 % 100}"))
        elif r < 0.72:
            # name-only node (check 0075)
            tags.append(("name", f"Lonely {lat7 % 1000}"))
        elif r < 0.78:
            # empty key or value (check 0074)
            tags.append(("note", "") if rng.rand() < 0.5 else ("", "x"))
        # else: untagged lone node (check 0072)
        b.nd(lat7, lon7, tags)


# ---------------------------------------------------------------------------
# Per-check injections (FIXTURES.md §3) — extended as checks land
# ---------------------------------------------------------------------------


def inj_0020_duplicate_nodes(b: World, rng: np.random.RandomState, n: int) -> None:
    for _ in range(n):
        lat7, lon7 = _rand_pt(rng)
        variant = rng.randint(4)
        if variant == 0:  # k plain duplicates → error
            for _ in range(2 + rng.randint(3)):
                b.nd(lat7, lon7)
        elif variant == 1:  # all-distinct ele → NO error (0020:70-79)
            for i in range(3):
                b.nd(lat7, lon7, [("ele", str(100 + i)), ("man_made", "tower")])
        elif variant == 2:  # same ele twice → error
            for _ in range(2):
                b.nd(lat7, lon7, [("ele", "55")])
        else:  # partial ele coverage → error (count != distinct ele)
            b.nd(lat7, lon7, [("ele", "10")])
            b.nd(lat7, lon7, [("ele", "11")])
            b.nd(lat7, lon7)


def inj_0060_deprecated(b: World, rng: np.random.RandomState, n: int) -> None:
    # real entries from the reference's replacement list (0060:8-118),
    # incl. one '*'-wildcard rule and one object matching TWO rules
    # (bakers + hotel) to exercise the first-rule-wins dedupe
    depr = [
        [("highway", "bridge")], [("highway", "byway")], [("amenity", "bakers")],
        [("amenity", "hotel")], [("abutters", "residential")],
        [("amenity", "bakers"), ("highway", "ford")],
        [("amenity", "hotel"), ("highway", "ford")],
    ]
    for _ in range(n):
        lat7, lon7 = _rand_pt(rng)
        tags = depr[rng.randint(len(depr))]
        if rng.rand() < 0.5:
            b.nd(lat7, lon7, list(tags))
        else:
            n1 = b.nd(lat7, lon7)
            n2 = b.nd(*_step7(lat7, lon7, rng.uniform(0, 6.28), 50))
            b.wy([n1, n2], list(tags))


def inj_0210_loopings(b: World, rng: np.random.RandomState, n: int) -> None:
    for _ in range(n):
        lat7, lon7 = _rand_pt(rng)
        variant = rng.randint(3)
        a = b.nd(lat7, lon7)
        c = b.nd(*_step7(lat7, lon7, 1.0, 60))
        d = b.nd(*_step7(lat7, lon7, 2.0, 60))
        if variant == 0:  # node used 3× → 210
            b.wy([a, c, a, d, a], [("highway", "residential")])
        elif variant == 1:  # two doubled nodes → 210 is not raised, 211 is
            b.wy([a, c, a, d, c], [("highway", "residential")])
        else:  # 2 distinct nodes with repeat → 212
            b.wy([a, c, a], [("highway", "residential")])


def inj_0120_short_ways(b: World, rng: np.random.RandomState, n: int) -> None:
    for _ in range(n):
        lat7, lon7 = _rand_pt(rng)
        nid = b.nd(lat7, lon7)
        b.wy([nid], [("highway", "residential")])


def inj_0150_0160_crossings(b: World, rng: np.random.RandomState, n: int) -> None:
    for _ in range(n):
        lat7, lon7 = _rand_pt(rng)
        variant = rng.randint(4)
        node_tags = []
        if variant == 1:
            node_tags = [("railway", "crossing")]  # negative for 0150
        elif variant in (2, 3):
            node_tags = [("railway", "level_crossing")]
        shared = b.nd(lat7, lon7, node_tags)
        r1 = b.nd(*_step7(lat7, lon7, 0.5, 80))
        r2 = b.nd(*_step7(lat7, lon7, 0.5 + np.pi, 80))
        h1 = b.nd(*_step7(lat7, lon7, 2.0, 80))
        h2 = b.nd(*_step7(lat7, lon7, 2.0 + np.pi, 80))
        rail_tags = [("railway", "rail")]
        hw_tags = [("highway", "residential")]
        if variant == 2:
            hw_tags.append(("layer", "1"))  # 0160 layer conflict
        if variant == 3:
            rail_tags.append(("bridge", "yes"))  # 0160 bridge/tunnel
        b.wy([r1, shared, r2], rail_tags)
        b.wy([h1, shared, h2], hw_tags)


def inj_0320_links(b: World, rng: np.random.RandomState, n: int) -> None:
    for _ in range(n):
        lat7, lon7 = _rand_pt(rng)
        cls = str(rng.choice(["motorway", "trunk", "primary", "secondary"]))
        a = b.nd(lat7, lon7)
        c = b.nd(*_step7(lat7, lon7, 1.0, 120))
        b.wy([a, c], [("highway", f"{cls}_link")])
        if rng.rand() < 0.5:  # negative: connect a same-class road
            e = b.nd(*_step7(lat7, lon7, 2.5, 150))
            b.wy([c, e], [("highway", cls), ("ref", "X1"), ("maxspeed", "100")])


def inj_0350_bridges(b: World, rng: np.random.RandomState, n: int) -> None:
    for _ in range(n):
        lat7, lon7 = _rand_pt(rng)
        p = [b.nd(*_step7(lat7, lon7, 0.0, 90 * i)) for i in range(4)]
        b.wy(p[:2], [("highway", "residential"), ("name", "approach")])
        b.wy(p[2:], [("highway", "residential")])
        bridge_tags = [("bridge", "yes")]
        if rng.rand() < 0.4:  # negative: bridge carries its own way-type
            bridge_tags.append(("highway", "residential"))
        b.wy([p[1], p[2]], bridge_tags)


def inj_0360_language(b: World, rng: np.random.RandomState, n: int) -> None:
    for _ in range(n):
        lat7, lon7 = _rand_pt(rng)
        i = rng.randint(1000)
        tags = [("name", f"London{i}"), ("name:fr", f"Londres{i}"),
                ("place", "town")]
        if rng.rand() < 0.4:  # negative: explicit language tag present
            tags.append(("name:en", f"London{i}"))
        b.nd(lat7, lon7, tags)


def inj_0420_suspicious(b: World, rng: np.random.RandomState, n: int) -> None:
    cases = [
        [("highway", "path"), ("incline", "10 %")],          # 421
        [("highway", "path"), ("incline", "10%")],           # ok
        [("highway", "residential"), ("maxspeed", "50;30")], # 421+422 list
        [("barrier", "fence"), ("height", "2m")],            # 421
        [("barrier", "fence"), ("height", "2 m")],           # ok
        [("building", "yes"), ("addr:housename", "12")],     # 423
        [("golf", "bunker"), ("natural", "beach")],          # 424
        [("highway", "footway"), ("access", "yes; no")],     # 422 yes;no
    ]
    for _ in range(n):
        lat7, lon7 = _rand_pt(rng)
        tags = cases[rng.randint(len(cases))]
        if rng.rand() < 0.5 and tags[0][0] != "building":
            b.nd(lat7, lon7, list(tags))
        else:
            n1 = b.nd(lat7, lon7)
            n2 = b.nd(*_step7(lat7, lon7, 1.2, 70))
            b.wy([n1, n2], list(tags))


def inj_0040_oneways(b: World, rng: np.random.RandomState, n: int) -> None:
    for _ in range(n):
        lat7, lon7 = _rand_pt(rng)
        variant = rng.randint(5)
        if variant in (0, 1):
            # dangling oneway: start connected to a cross way, end free
            a = b.nd(lat7, lon7)
            m = b.nd(*_step7(lat7, lon7, 0.3, 100))
            c = b.nd(*_step7(lat7, lon7, 0.3, 200))
            x = b.nd(*_step7(lat7, lon7, 2.0, 90))
            b.wy([a, x], [("highway", "residential")])  # connects 'a'
            ow = [("highway", "residential"), ("oneway", "yes")]
            if variant == 1:
                ow = [("highway", "residential"), ("oneway", "-1")]  # reversed
            b.wy([a, m, c], ow)
        elif variant == 2:
            # negative: both ends connected
            a = b.nd(lat7, lon7)
            c = b.nd(*_step7(lat7, lon7, 0.3, 150))
            x = b.nd(*_step7(lat7, lon7, 2.0, 90))
            y = b.nd(*_step7(lat7, lon7, 4.0, 90))
            b.wy([a, x], [("highway", "service")])
            b.wy([c, y], [("highway", "service")])
            b.wy([a, c], [("highway", "residential"), ("oneway", "yes")])
        elif variant == 3:
            # black hole / unreachable junction of two oneways
            j = b.nd(lat7, lon7)
            p = b.nd(*_step7(lat7, lon7, 1.0, 150))
            q = b.nd(*_step7(lat7, lon7, 5.0, 150))
            if rng.rand() < 0.5:  # both END at j → 43
                b.wy([p, j], [("highway", "residential"), ("oneway", "yes")])
                b.wy([q, j], [("highway", "residential"), ("oneway", "yes")])
            else:  # both START at j → 42
                b.wy([j, p], [("highway", "residential"), ("oneway", "yes")])
                b.wy([j, q], [("highway", "residential"), ("oneway", "yes")])
        else:
            # closed-loop roundabout: excluded from 40-43
            pts = [b.nd(*_step7(lat7, lon7, 2 * np.pi * i / 5, 40)) for i in range(5)]
            b.wy(pts + [pts[0]], [("highway", "residential"),
                                  ("junction", "roundabout")])


def inj_0230_layers(b: World, rng: np.random.RandomState, n: int) -> None:
    for _ in range(n):
        lat7, lon7 = _rand_pt(rng)
        variant = rng.randint(6)
        if variant == 0:
            # 231: two highways crossing at shared INTERMEDIATE node,
            # different layers
            j = b.nd(lat7, lon7)
            a1 = b.nd(*_step7(lat7, lon7, 0.0, 100))
            a2 = b.nd(*_step7(lat7, lon7, np.pi, 100))
            b1 = b.nd(*_step7(lat7, lon7, 1.6, 100))
            b2 = b.nd(*_step7(lat7, lon7, 1.6 + np.pi, 100))
            b.wy([a1, j, a2], [("highway", "residential")])
            b.wy([b1, j, b2], [("highway", "residential"), ("layer", "1")])
        elif variant == 1:
            # exception: exactly two ways meeting end-to-end
            j = b.nd(lat7, lon7)
            a = b.nd(*_step7(lat7, lon7, 0.0, 120))
            c = b.nd(*_step7(lat7, lon7, np.pi, 120))
            b.wy([a, j], [("highway", "secondary"), ("maxspeed", "50")])
            b.wy([j, c], [("highway", "secondary"), ("bridge", "yes"),
                          ("maxspeed", "50")])
        elif variant == 2:
            # mixed end/intermediate on different layers: candidate but
            # not all_intermediate → no error
            j = b.nd(lat7, lon7)
            a1 = b.nd(*_step7(lat7, lon7, 0.0, 100))
            a2 = b.nd(*_step7(lat7, lon7, np.pi, 100))
            c = b.nd(*_step7(lat7, lon7, 1.6, 100))
            b.wy([a1, j, a2], [("highway", "residential")])
            b.wy([j, c], [("highway", "residential"), ("layer", "1")])
        elif variant == 3:
            a = b.nd(lat7, lon7)
            c = b.nd(*_step7(lat7, lon7, 1.0, 90))
            b.wy([a, c], [("highway", "tertiary"), ("bridge", "yes"),
                          ("layer", "-1")])  # 232
        elif variant == 4:
            a = b.nd(lat7, lon7)
            c = b.nd(*_step7(lat7, lon7, 1.0, 90))
            b.wy([a, c], [("highway", "tertiary"), ("tunnel", "yes"),
                          ("layer", "2")])  # 232
        else:
            pts = [b.nd(*_step7(lat7, lon7, 0.9, 70 * i)) for i in range(4)]
            tags = [("waterway", "stream"), ("layer", "-1")]
            if rng.rand() < 0.4:
                tags.append(("culvert", "yes"))  # negative for 233
            b.wy(pts, tags)


def _pt_at(lat7: int, lon7: int, east_m: float, north_m: float) -> tuple[int, int]:
    """Offset a point by meters east/north (approx, snapped to 1e-7)."""
    return (
        lat7 + int(round(north_m / M_PER_DEG_LAT * 1e7)),
        lon7 + int(round(east_m / M_PER_DEG_LON * 1e7)),
    )


def inj_0050_almost_junctions(b: World, rng: np.random.RandomState, n: int) -> None:
    for _ in range(n):
        lat7, lon7 = _rand_pt(rng)
        variant = rng.randint(5)
        # w2: a 200 m west-east street
        a = b.nd(*_pt_at(lat7, lon7, -100, 0))
        c = b.nd(*_pt_at(lat7, lon7, 100, 0))
        b.wy([a, c], [("highway", "residential"), ("name", "base")])
        if variant in (0, 1, 2):
            # w1 approaches from the north, ending 5 m short of w2
            end_tags = [("noexit", "yes")] if variant == 2 else []
            e = b.nd(*_pt_at(lat7, lon7, 0, 5), end_tags)
            s = b.nd(*_pt_at(lat7, lon7, 0, 80))
            b.wy([s, e], [("highway", "residential")])
            if variant == 1:
                # barrier fence between them vetoes the candidate
                f1 = b.nd(*_pt_at(lat7, lon7, -20, 2.5))
                f2 = b.nd(*_pt_at(lat7, lon7, 20, 2.5))
                b.wy([f1, f2], [("barrier", "fence")])
        elif variant == 3:
            # short spur connected to w2 ~12 m away: 30 m rule excludes
            e = b.nd(*_pt_at(lat7, lon7, 12, 5))
            b.wy([a, e], [("highway", "service")])
        else:
            # two end nodes 5 m apart on different layers → error
            e1 = b.nd(*_pt_at(lat7, lon7, 0, 40))
            s1 = b.nd(*_pt_at(lat7, lon7, 0, 120))
            b.wy([s1, e1], [("highway", "residential")])
            e2 = b.nd(*_pt_at(lat7, lon7, 5, 40))
            s2 = b.nd(*_pt_at(lat7, lon7, 80, 40))
            b.wy([s2, e2], [("highway", "residential"), ("bridge", "yes"),
                            ("layer", "1")])


def inj_0190_intersections(b: World, rng: np.random.RandomState, n: int) -> None:
    for _ in range(n):
        lat7, lon7 = _rand_pt(rng)
        variant = rng.randint(7)
        p1 = b.nd(*_pt_at(lat7, lon7, -80, -3))
        p2 = b.nd(*_pt_at(lat7, lon7, 80, 3))
        p3 = b.nd(*_pt_at(lat7, lon7, -3, -80))
        p4 = b.nd(*_pt_at(lat7, lon7, 3, 80))
        if variant == 0:  # highway × highway, no junction → 191
            b.wy([p1, p2], [("highway", "residential"), ("name", "x1")])
            b.wy([p3, p4], [("highway", "residential"), ("name", "x2")])
        elif variant == 1:  # shared node at the crossing → vetoed
            j = b.nd(lat7, lon7)
            b.wy([p1, j, p2], [("highway", "residential")])
            b.wy([p3, j, p4], [("highway", "residential")])
        elif variant == 2:  # highway × waterway → 192
            b.wy([p1, p2], [("highway", "residential")])
            b.wy([p3, p4], [("waterway", "stream")])
        elif variant == 3:  # different layers → not a pair
            b.wy([p1, p2], [("highway", "residential")])
            b.wy([p3, p4], [("highway", "residential"), ("bridge", "yes"),
                            ("layer", "1")])
        elif variant == 4:  # riverbank × waterway → excluded pair
            b.wy([p1, p2], [("waterway", "riverbank")])
            b.wy([p3, p4], [("waterway", "river")])
        elif variant == 5:  # collinear overlap via shared nodes → 201
            q1 = b.nd(*_pt_at(lat7, lon7, 0, 0))
            q2 = b.nd(*_pt_at(lat7, lon7, 60, 0))
            b.wy([p1, q1, q2], [("highway", "residential")])
            s_ = b.nd(*_pt_at(lat7, lon7, 120, 0))
            b.wy([q1, q2, s_], [("highway", "service")])
        else:  # cycleway × highway → 196
            b.wy([p1, p2], [("highway", "residential")])
            b.wy([p3, p4], [("highway", "cycleway")])


def inj_0070_relation_member(b: World, rng: np.random.RandomState, n: int) -> None:
    for _ in range(n):
        lat7, lon7 = _rand_pt(rng)
        n1 = b.nd(lat7, lon7)
        n2 = b.nd(*_step7(lat7, lon7, 0.8, 100))
        wid = b.wy([n1, n2], [])  # untagged way
        if rng.rand() < 0.5:  # negative for 71: member of tagged relation
            b.rl([("W", wid, "outer")], [("type", "multipolygon")])


def inj_0180_deep_relations(b: World, rng: np.random.RandomState, n: int) -> None:
    """Nested relation chains exercising the recursive location
    descent (helpers.php:469-527): the top relation has only a
    relation member, so its error_view coordinates resolve through
    2-3 levels of member relations down to a node."""
    for i in range(n):
        lat7, lon7 = _rand_pt(rng)
        nid = b.nd(lat7, lon7)
        rid = b.rl([("N", nid, "")], [("type", "route"), ("route", "road")])
        depth = 2 + i % 2  # chains of depth 2 and 3 above the anchor
        for lvl in range(depth):
            top = lvl == depth - 1
            # the topmost relation is untyped -> a 0180 error whose
            # location must resolve through the chain
            rid = b.rl(
                [("R", rid, "")],
                [] if top else [("type", "multipolygon")],
            )


def inj_0400_geometry(b: World, rng: np.random.RandomState, n: int) -> None:
    for _ in range(n):
        lat7, lon7 = _rand_pt(rng)
        variant = rng.randint(6)
        if variant < 4:
            # sharp junction: W1=[a1,j], W2=[j,a2], vectors j→a1 and
            # j→a2 ~11° apart (<20° limit)
            j = b.nd(lat7, lon7)
            a1 = b.nd(*_pt_at(lat7, lon7, -100, 0))
            a2 = b.nd(*_pt_at(lat7, lon7, -100, 20))
            t1 = [("highway", "primary"), ("name", f"P{j % 1000}")]
            t2 = [("highway", "primary"), ("name", f"Q{j % 1000}")]
            if variant == 1:
                # oneway on W1 towards the junction → only "from $2
                # to $1" direction remains an error
                t1.append(("oneway", "yes"))
            elif variant == 2:
                # no_-restriction forbidding W1→W2 clears err_first
                pass
            elif variant == 3:
                # same name on both → excluded entirely
                t2 = [("highway", "primary"), ("name", f"P{j % 1000}")]
            w1 = b.wy([a1, j], t1)
            w2 = b.wy([j, a2], t2)
            if variant == 2:
                b.rl(
                    [("W", w1, "from"), ("N", j, "via"), ("W", w2, "to")],
                    [("type", "restriction"), ("restriction", "no_left_turn")],
                )
        elif variant == 4:
            # zigzag way (402): sharp at B and C, |BC| < 80 m
            a = b.nd(*_pt_at(lat7, lon7, 0, 0))
            bb = b.nd(*_pt_at(lat7, lon7, 100, 0))
            c = b.nd(*_pt_at(lat7, lon7, 60, 20))
            d = b.nd(*_pt_at(lat7, lon7, 160, 30))
            b.wy([a, bb, c, d], [("highway", "residential")])
        else:
            # negative: right-angle zigzag is fine for residential
            a = b.nd(*_pt_at(lat7, lon7, 0, 0))
            bb = b.nd(*_pt_at(lat7, lon7, 100, 0))
            c = b.nd(*_pt_at(lat7, lon7, 100, 60))
            d = b.nd(*_pt_at(lat7, lon7, 160, 60))
            b.wy([a, bb, c, d], [("highway", "residential")])


def inj_0370_double_place(b: World, rng: np.random.RandomState, n: int) -> None:
    for _ in range(n):
        lat7, lon7 = _rand_pt(rng)
        variant = rng.randint(5)
        # closed square, ~120 m sides
        c1 = b.nd(*_pt_at(lat7, lon7, 0, 0))
        c2 = b.nd(*_pt_at(lat7, lon7, 120, 0))
        c3 = b.nd(*_pt_at(lat7, lon7, 120, 120))
        c4 = b.nd(*_pt_at(lat7, lon7, 0, 120))
        name = f"Area {c1 % 1000}"
        wtags = [("landuse", "forest"), ("name", name)]
        if variant == 0:
            # duplicate node inside, same tag + same name → 370
            b.wy([c1, c2, c3, c4, c1], wtags)
            b.nd(*_pt_at(lat7, lon7, 60, 60),
                 [("landuse", "forest"), ("name", name)])
        elif variant == 1:
            # case-insensitive name match → 370
            b.wy([c1, c2, c3, c4, c1], wtags)
            b.nd(*_pt_at(lat7, lon7, 40, 70),
                 [("landuse", "forest"), ("name", name.upper())])
        elif variant == 2:
            # different name → clean
            b.wy([c1, c2, c3, c4, c1], wtags)
            b.nd(*_pt_at(lat7, lon7, 60, 60),
                 [("landuse", "forest"), ("name", "Other")])
        elif variant == 3:
            # node outside the polygon → clean
            b.wy([c1, c2, c3, c4, c1], wtags)
            b.nd(*_pt_at(lat7, lon7, 200, 60),
                 [("landuse", "forest"), ("name", name)])
        else:
            # open way (ends > 10 m apart) → not a polygon → clean
            b.wy([c1, c2, c3, c4], wtags)
            b.nd(*_pt_at(lat7, lon7, 60, 60),
                 [("landuse", "forest"), ("name", name)])


def inj_0290_restrictions(b: World, rng: np.random.RandomState, n: int) -> None:
    for _ in range(n):
        lat7, lon7 = _rand_pt(rng)
        variant = rng.randint(9)
        via = b.nd(lat7, lon7)
        nf = b.nd(*_pt_at(lat7, lon7, -100, 0))
        w_from = b.wy([nf, via], [("highway", "residential")])
        hw = [("highway", "residential")]
        if variant == 0:
            # left geometry + no_left_turn → clean
            nt = b.nd(*_pt_at(lat7, lon7, 0, 100))
            w_to = b.wy([via, nt], hw)
            b.rl([("W", w_from, "from"), ("N", via, "via"), ("W", w_to, "to")],
                 [("type", "restriction"), ("restriction", "no_left_turn")])
        elif variant == 1:
            # right geometry + no_left_turn → 296 (angle +90)
            nt = b.nd(*_pt_at(lat7, lon7, 0, -100))
            w_to = b.wy([via, nt], hw)
            b.rl([("W", w_from, "from"), ("N", via, "via"), ("W", w_to, "to")],
                 [("type", "restriction"), ("restriction", "no_left_turn")])
        elif variant == 2:
            # missing restriction tag → 291
            nt = b.nd(*_pt_at(lat7, lon7, 0, 100))
            w_to = b.wy([via, nt], hw)
            b.rl([("W", w_from, "from"), ("N", via, "via"), ("W", w_to, "to")],
                 [("type", "restriction")])
        elif variant == 3:
            # unknown restriction value → 291
            nt = b.nd(*_pt_at(lat7, lon7, 0, 100))
            w_to = b.wy([via, nt], hw)
            b.rl([("W", w_from, "from"), ("N", via, "via"), ("W", w_to, "to")],
                 [("type", "restriction"), ("restriction", "no_diagonal_turn")])
        elif variant == 4:
            # two from members → 292
            nf2 = b.nd(*_pt_at(lat7, lon7, -100, 40))
            w_from2 = b.wy([nf2, via], hw)
            nt = b.nd(*_pt_at(lat7, lon7, 0, 100))
            w_to = b.wy([via, nt], hw)
            b.rl([("W", w_from, "from"), ("W", w_from2, "from"),
                  ("N", via, "via"), ("W", w_to, "to")],
                 [("type", "restriction"), ("restriction", "no_left_turn")])
        elif variant == 5:
            # from member is a node → 294
            nt = b.nd(*_pt_at(lat7, lon7, 0, 100))
            w_to = b.wy([via, nt], hw)
            b.rl([("N", nf, "from"), ("N", via, "via"), ("W", w_to, "to")],
                 [("type", "restriction"), ("restriction", "no_left_turn")])
        elif variant == 6:
            # via is a middle node of from → 295
            nfx = b.nd(*_pt_at(lat7, lon7, 100, 0))
            w_from_mid = b.wy([nf, via, nfx], hw)
            nt = b.nd(*_pt_at(lat7, lon7, 0, 100))
            w_to = b.wy([via, nt], hw)
            b.rl([("W", w_from_mid, "from"), ("N", via, "via"), ("W", w_to, "to")],
                 [("type", "restriction"), ("restriction", "no_left_turn")])
        elif variant == 7:
            # only_straight_on onto oneway ending at via → 297
            t0 = b.nd(*_pt_at(lat7, lon7, 100, 0))
            w_to = b.wy([t0, via], hw + [("oneway", "yes")])
            b.rl([("W", w_from, "from"), ("N", via, "via"), ("W", w_to, "to")],
                 [("type", "restriction"), ("restriction", "only_straight_on")])
        else:
            # no_straight_on onto oneway ending at via → 298
            t0 = b.nd(*_pt_at(lat7, lon7, 100, 0))
            w_to = b.wy([t0, via], hw + [("oneway", "yes")])
            b.rl([("W", w_from, "from"), ("N", via, "via"), ("W", w_to, "to")],
                 [("type", "restriction"), ("restriction", "no_straight_on")])


def inj_0270_motorway_junctions(b: World, rng: np.random.RandomState, n: int) -> None:
    for _ in range(n):
        lat7, lon7 = _rand_pt(rng)
        variant = rng.randint(6)
        m1 = b.nd(*_pt_at(lat7, lon7, -200, 0))
        j = b.nd(lat7, lon7)
        m2 = b.nd(*_pt_at(lat7, lon7, 200, 0))
        o = b.nd(*_pt_at(lat7, lon7, 0, 150))
        if variant == 0:
            # residential joins motorway mid-way → 270
            b.wy([m1, j, m2], [("highway", "motorway")])
            b.wy([j, o], [("highway", "residential")])
        elif variant == 1:
            # motorway_link joins → clean
            b.wy([m1, j, m2], [("highway", "motorway")])
            b.wy([j, o], [("highway", "motorway_link")])
        elif variant == 2:
            # primary at the END of a single motorway → clean
            b.wy([m1, j], [("highway", "motorway")])
            b.wy([j, o], [("highway", "primary")])
        elif variant == 3:
            # service with access=private → clean
            b.wy([m1, j, m2], [("highway", "motorway")])
            b.wy([j, o], [("highway", "service"), ("access", "private")])
        elif variant == 4:
            # service near a rest-area amenity node (~60 m) → clean
            b.wy([m1, j, m2], [("highway", "motorway")])
            b.wy([j, o], [("highway", "service")])
            b.nd(*_pt_at(lat7, lon7, 40, 100), [("amenity", "fuel")])
        else:
            # plain service, no exception → 270
            b.wy([m1, j, m2], [("highway", "motorway")])
            b.wy([j, o], [("highway", "service")])


def inj_0030_areas(b: World, rng: np.random.RandomState, n: int) -> None:
    for _ in range(n):
        lat7, lon7 = _rand_pt(rng)
        variant = rng.randint(4)
        c1 = b.nd(*_pt_at(lat7, lon7, 0, 0))
        c2 = b.nd(*_pt_at(lat7, lon7, 150, 0))
        c3 = b.nd(*_pt_at(lat7, lon7, 150, 150))
        c4 = b.nd(*_pt_at(lat7, lon7, 0, 150))
        tag = [("landuse", "meadow")]
        if variant == 0:
            # ring split into two open ways, connected → clean
            b.wy([c1, c2, c3], tag)
            b.wy([c3, c4, c1], tag)
        elif variant == 1:
            # lone open area way → 30
            b.wy([c1, c2, c3], tag)
        elif variant == 2:
            # ring split into three ways → clean
            b.wy([c1, c2], tag)
            b.wy([c2, c3], tag)
            b.wy([c3, c4, c1], tag)
        else:
            # open chain (connected at one end only) → both error
            b.wy([c1, c2, c3], tag)
            b.wy([c3, c4], tag)


def inj_0310_roundabouts(b: World, rng: np.random.RandomState, n: int) -> None:
    for _ in range(n):
        lat7, lon7 = _rand_pt(rng)
        variant = rng.randint(7)
        r = 30.0
        # ring points counterclockwise in x/y (east, north)
        ring_pts = [
            _pt_at(lat7, lon7, r * np.cos(2 * np.pi * i / 8),
                   r * np.sin(2 * np.pi * i / 8))
            for i in range(8)
        ]
        ra_tags = [("highway", "residential"), ("junction", "roundabout")]

        def connect(node, dx, dy):
            far = b.nd(*_pt_at(lat7, lon7, dx, dy))
            b.wy([node, far], [("highway", "residential")])

        if variant == 0:
            # closed CCW + 3 roads → clean
            ids = [b.nd(*p) for p in ring_pts]
            b.wy(ids + [ids[0]], ra_tags)
            connect(ids[0], 200, 0)
            connect(ids[2], 0, 200)
            connect(ids[4], -200, 0)
        elif variant == 1:
            # closed CW + 3 roads → 312
            ids = [b.nd(*p) for p in reversed(ring_pts)]
            b.wy(ids + [ids[0]], ra_tags)
            connect(ids[0], 200, 0)
            connect(ids[2], 0, 200)
            connect(ids[4], -200, 0)
        elif variant == 2:
            # two CCW arcs forming a closed ring + 3 roads → clean
            ids = [b.nd(*p) for p in ring_pts]
            b.wy(ids[:5], ra_tags)
            b.wy(ids[4:] + [ids[0]], ra_tags)
            connect(ids[0], 200, 0)
            connect(ids[2], 0, 200)
            connect(ids[6], 0, -200)
        elif variant == 3:
            # open arc → 311
            ids = [b.nd(*p) for p in ring_pts[:5]]
            b.wy(ids, ra_tags)
            connect(ids[0], 200, 0)
            connect(ids[2], 0, 200)
            connect(ids[4], -200, 0)
        elif variant == 4:
            # closed CCW with only 2 roads → 313
            ids = [b.nd(*p) for p in ring_pts]
            b.wy(ids + [ids[0]], ra_tags)
            connect(ids[0], 200, 0)
            connect(ids[4], -200, 0)
        elif variant == 5:
            # mini roundabouts
            d = "clockwise" if rng.rand() < 0.5 else "anticlockwise"
            b.nd(lat7, lon7, [("highway", "mini_roundabout"), ("direction", d)])
        else:
            # UK boundary (LHT) around a CCW roundabout → 312 "left"
            s = 1200.0
            c1 = b.nd(*_pt_at(lat7, lon7, -s, -s))
            c2 = b.nd(*_pt_at(lat7, lon7, s, -s))
            c3 = b.nd(*_pt_at(lat7, lon7, s, s))
            c4 = b.nd(*_pt_at(lat7, lon7, -s, s))
            bway = b.wy([c1, c2, c3, c4, c1], [])
            b.rl(
                [("W", bway, "outer")],
                [("type", "boundary"), ("boundary", "administrative"),
                 ("name", "United Kingdom"), ("admin_level", "2")],
            )
            ids = [b.nd(*p) for p in ring_pts]
            b.wy(ids + [ids[0]], ra_tags)
            connect(ids[0], 200, 0)
            connect(ids[2], 0, 200)
            connect(ids[4], -200, 0)



def inj_0280_boundaries(b: World, rng: np.random.RandomState, n: int) -> None:
    for _ in range(n):
        lat7, lon7 = _rand_pt(rng)
        variant = rng.randint(6)
        sz = 400.0
        c1 = b.nd(*_pt_at(lat7, lon7, -sz, -sz))
        c2 = b.nd(*_pt_at(lat7, lon7, sz, -sz))
        c3 = b.nd(*_pt_at(lat7, lon7, sz, sz))
        c4 = b.nd(*_pt_at(lat7, lon7, -sz, sz))
        nm = f"District {c1 % 1000}"
        if variant == 0:
            # proper closed two-way relation boundary -> clean
            w1 = b.wy([c1, c2, c3], [])
            w2 = b.wy([c3, c4, c1], [])
            b.rl([("W", w1, "outer"), ("W", w2, "outer")],
                 [("type", "boundary"), ("boundary", "administrative"),
                  ("name", nm), ("admin_level", "6")])
        elif variant == 1:
            # missing name -> 281
            w1 = b.wy([c1, c2, c3, c4, c1], [])
            b.rl([("W", w1, "outer")],
                 [("type", "boundary"), ("boundary", "administrative"),
                  ("admin_level", "6")])
        elif variant == 2:
            # bad admin_level -> 282 (missing or 6;7)
            w1 = b.wy([c1, c2, c3, c4, c1], [])
            tags = [("type", "boundary"), ("boundary", "administrative"),
                    ("name", nm)]
            if rng.rand() < 0.5:
                tags.append(("admin_level", "6;7"))
            b.rl([("W", w1, "outer")], tags)
        elif variant == 3:
            # open ring -> 283
            w1 = b.wy([c1, c2, c3], [])
            w2 = b.wy([c3, c4], [])
            b.rl([("W", w1, "outer"), ("W", w2, "outer")],
                 [("type", "boundary"), ("boundary", "administrative"),
                  ("name", nm), ("admin_level", "6")])
        elif variant == 4:
            # splitting boundary: endpoint used 3x in one part -> 284
            w1 = b.wy([c1, c2, c3], [])
            w2 = b.wy([c3, c4, c1], [])
            tail = b.nd(*_pt_at(lat7, lon7, 2 * sz, 2 * sz))
            w3 = b.wy([c3, tail], [])
            b.rl([("W", w1, "outer"), ("W", w2, "outer"), ("W", w3, "outer")],
                 [("type", "boundary"), ("boundary", "administrative"),
                  ("name", nm), ("admin_level", "6")])
        else:
            # own-tagged member way with higher admin_level -> 285
            w1 = b.wy([c1, c2, c3, c4, c1],
                      [("boundary", "administrative"),
                       ("left:state", f"L{c1 % 100}"), ("admin_level", "8")])
            b.rl([("W", w1, "outer")],
                 [("type", "boundary"), ("boundary", "administrative"),
                  ("name", nm), ("admin_level", "6")])



def inj_0220_misspelled(b: World, rng: np.random.RandomState, n: int) -> None:
    for _ in range(n):
        lat7, lon7 = _rand_pt(rng)
        variant = rng.randint(5)
        if variant == 0:
            # key typo vs the frequent 'highway' key -> 220
            a = b.nd(lat7, lon7)
            c = b.nd(*_step7(lat7, lon7, 1.0, 120))
            b.wy([a, c], [("higway", "residential")])
        elif variant == 1:
            # node key typo vs frequent 'amenity' -> 220
            b.nd(lat7, lon7, [("amenty", "restaurant"), ("name", "Typo Inn")])
        elif variant == 2:
            # literal 'key' key -> 221
            a = b.nd(lat7, lon7)
            c = b.nd(*_step7(lat7, lon7, 2.0, 120))
            b.wy([a, c], [("highway", "service"), ("key", "value")])
        elif variant == 3:
            # relation with a literal 'key' tag -> 221
            a = b.nd(lat7, lon7)
            c = b.nd(*_step7(lat7, lon7, 2.0, 120))
            w = b.wy([a, c], [("highway", "service")])
            b.rl([("W", w, "outer")], [("type", "site"), ("key", "x")])
        else:
            # clean control
            a = b.nd(lat7, lon7)
            c = b.nd(*_step7(lat7, lon7, 1.5, 120))
            b.wy([a, c], [("highway", "residential"), ("name", "Clean St")])


def inj_0410_websites(b: World, rng: np.random.RandomState, n: int) -> None:
    """Check 0410 fixtures: POI nodes with URL tags plus the
    deterministic web cache (``World.webcache``) standing in for the
    reference's live HTTP fetch (0410_website.php) — the fetch itself
    is the environmental boundary, the cache row is what the fetch
    would have returned.  One node per scenario per unit; every
    outcome class (411 http error, 412 squat, 413 non-match, the
    match-cascade passes, whitelist skip, accessibility-only, meta
    refresh, frameset) has a fixture."""
    for _ in range(n):
        def poi(tags: list, cache: list | None = None) -> int:
            lat7, lon7 = _rand_pt(rng)
            oid = b.nd(lat7, lon7, tags)
            for url, code, body in cache or []:
                b.webcache.append((url, int(code), body))
            return oid

        def u(oid_hint: int | None = None, host: str = "poi") -> str:
            oid = b._next_node if oid_hint is None else oid_hint
            return f"http://{host}{oid}.example.test/"

        oid = b._next_node  # id of the next node created

        # -- 411: http status errors ---------------------------------
        poi([("website", u()), ("name", f"Schlosscafe {oid}")],
            [(u(), 404, "<html>404 not found</html>")])
        oid = b._next_node
        poi([("url", u()), ("name", f"Bergstube {oid}")],
            [(u(), 500, "<html>server error</html>")])
        # -- 412: domain squatting -----------------------------------
        oid = b._next_node
        poi([("website", u()), ("name", f"Talblick {oid}")],
            [(u(), 200, "<html>Buy This Domain today!</html>")])
        # -- pass: exact name match ----------------------------------
        oid = b._next_node
        poi([("website", u()), ("name", f"Gasthaus Alpenrose {oid}")],
            [(u(), 200, f"<html>Willkommen im Gasthaus Alpenrose {oid}</html>")])
        # -- pass: any-word match ------------------------------------
        oid = b._next_node
        poi([("website", u()), ("name", f"Zur Goldenen Sonne {oid}")],
            [(u(), 200, "<html>Die Goldenen Zeiten</html>")])
        # -- pass: accent-stripped match -----------------------------
        oid = b._next_node
        poi([("website", u()), ("name", f"Café Montréal {oid}")],
            [(u(), 200, "<html>Cafe Montreal welcome</html>")])
        # -- pass: umlaut-transliterated match -----------------------
        oid = b._next_node
        poi([("website", u()), ("name", f"Müllerstüberl {oid}")],
            [(u(), 200, "<html>Muellerstueberl zur Stube</html>")])
        # -- 413: content non-match ----------------------------------
        oid = b._next_node
        poi([("website", u()), ("name", f"Blaue Lagune {oid}")],
            [(u(), 200, "<html>parked placeholder lorem</html>")])
        # -- pass: punctuation-stripped match ------------------------
        oid = b._next_node
        poi([("website", u()), ("name", f"Rooney's Corner {oid}")],
            [(u(), 200, "<html>Rooneys pint house</html>")])
        # -- skip: whitelisted URL (no cache row on purpose) ---------
        oid = b._next_node
        poi([("website", f"http://www.7-eleven.com/store/{oid}"),
             ("name", f"Seven Corner {oid}")])
        # -- accessibility-only (image key): 2xx passes, 404 errs ----
        oid = b._next_node
        poi([("image", u()), ("name", f"Panorama {oid}")],
            [(u(), 200, "<html>binary-ish, never text-matched</html>")])
        oid = b._next_node
        poi([("image", u()), ("name", f"Aussicht {oid}")],
            [(u(), 404, "<html>gone</html>")])
        # -- pass: scheme-less tag value -----------------------------
        oid = b._next_node
        poi([("website", f"poi{oid}.example.test/"),
             ("name", f"Waldrast {oid}")],
            [(u(), 200, f"<html>Waldrast {oid}</html>")])
        # -- multi-value tag: first URL 404s, second matches ---------
        oid = b._next_node
        poi([("website", f"{u()};{u(host='alt')}"),
             ("name", f"Doppelhaus {oid}")],
            [(u(), 404, "<html>404</html>"),
             (u(host="alt"), 200, f"<html>Doppelhaus {oid}</html>")])
        # -- skip: connection failure (http code 0) ------------------
        oid = b._next_node
        poi([("website", u()), ("name", f"Funkloch {oid}")],
            [(u(), 0, "")])
        # -- pass: no searchable tags at all -------------------------
        poi([("url", u())], [(u(), 200, "<html>anything goes</html>")])
        # -- pass: meta refresh to a relative URL that matches -------
        oid = b._next_node
        poi([("website", u()), ("name", f"Seeblick {oid}")],
            [(u(), 200, '<meta http-equiv="refresh" content="5; url=/landing">'),
             (u() + "landing", 200, f"<html>Seeblick {oid}</html>")])
        # -- 413 after a meta refresh to an absolute URL -------------
        oid = b._next_node
        poi([("website", u()), ("name", f"Felswand {oid}")],
            [(u(), 200,
              f'<meta http-equiv="refresh" content="0; url={u(host="hop")}">'),
             (u(host="hop"), 200, "<html>unrelated rock</html>")])
        # -- skip: refresh loop (A→B→A, gives up silently) -----------
        oid = b._next_node
        poi([("website", u()), ("name", f"Kreisel {oid}")],
            [(u(), 200,
              f'<meta http-equiv="refresh" content="0; url={u(host="loop")}">'),
             (u(host="loop"), 200,
              f'<meta http-equiv="refresh" content="0; url={u()}">')])
        # -- pass: refresh inside NOSCRIPT is ignored ----------------
        oid = b._next_node
        poi([("website", u()), ("name", f"Steinbruch {oid}")],
            [(u(), 200,
              '<noscript><meta http-equiv="refresh" content="0; url=/x">'
              f"</noscript><html>Steinbruch {oid}</html>")])
        # -- pass: frameset content is fetched and appended ----------
        oid = b._next_node
        poi([("website", u()), ("name", f"Rahmenwerk {oid}")],
            [(u(), 200, '<frameset><frame src="/f1"></frameset>'),
             (u() + "f1", 200, f"<html>Rahmenwerk {oid}</html>")])
        # -- 411 after a meta refresh onto a 404 ---------------------
        oid = b._next_node
        poi([("website", u()), ("name", f"Absturz {oid}")],
            [(u(), 200, '<meta http-equiv="refresh" content="1; url=/dead">'),
             (u() + "dead", 404, "<html>404</html>")])
        # -- pass via the name:XX regex key (name itself misses) -----
        oid = b._next_node
        poi([("website", u()), ("name", f"Altes Rathaus {oid}"),
             ("name:de", f"Neues Rathaus {oid}")],
            [(u(), 200, f"<html>Neues Rathaus {oid}</html>")])
        # -- 413 accumulating two keys (name + name:en) --------------
        oid = b._next_node
        poi([("website", u()), ("name", f"Altes Haus {oid}"),
             ("name:en", f"Old House {oid}")],
            [(u(), 200, "<html>nothing relevant</html>")])
        # -- pass: operator key carries the match --------------------
        oid = b._next_node
        poi([("website", u()), ("operator", f"Stadtwerke {oid}")],
            [(u(), 200, f"<html>Stadtwerke Impressum</html>")])
        # -- 413 via phone only --------------------------------------
        oid = b._next_node
        poi([("website", u()), ("phone", f"+43 1 555{oid % 1000}")],
            [(u(), 200, "<html>keine Nummer hier</html>")])


INJECTORS = [
    (inj_0020_duplicate_nodes, 4),
    (inj_0060_deprecated, 4),
    (inj_0210_loopings, 3),
    (inj_0120_short_ways, 2),
    (inj_0150_0160_crossings, 3),
    (inj_0320_links, 3),
    (inj_0350_bridges, 3),
    (inj_0360_language, 2),
    (inj_0420_suspicious, 4),
    (inj_0070_relation_member, 2),
    (inj_0180_deep_relations, 2),
    (inj_0040_oneways, 4),
    (inj_0230_layers, 4),
    (inj_0050_almost_junctions, 5),
    (inj_0190_intersections, 6),
    (inj_0400_geometry, 4),
    (inj_0370_double_place, 3),
    (inj_0290_restrictions, 4),
    (inj_0270_motorway_junctions, 3),
    (inj_0030_areas, 3),
    (inj_0310_roundabouts, 4),
    (inj_0280_boundaries, 3),
    (inj_0220_misspelled, 4),
    (inj_0410_websites, 1),
]


# ---------------------------------------------------------------------------
# Scales
# ---------------------------------------------------------------------------

SCALES = {
    # name: (n_ways, n_pois, injection_unit, grid_cols, grid_rows)
    # grids keep density ≈ (125 ways / tile): the world scales by
    # adding 0.1°×0.1° tiles, not by densifying one box
    "t": (250, 200, 3, 2, 1),
    "s": (2200, 1800, 20, 6, 3),
    "m": (22000, 18000, 200, 16, 11),
    "l": (88000, 72000, 800, 26, 27),
    # dense scaling-probe world: ~8x urban density on 20 tiles makes
    # the pairwise spatial joins compute-bound (the north rule's
    # high-density skew scenario)
    "d": (20000, 4000, 50, 5, 4),
    # scaling-probe world for the N→4N efficiency measurement: 4× the
    # l-world so per-task compute dominates the per-stage scheduling
    # latency of the single-JVM sandbox (BENCH/BASELINE.md)
    "xl": (352000, 288000, 3200, 52, 54),
    # extreme-density world (~3600 ways/tile ≈ 29× organic density):
    # the cell pair joins' per-task compute grows quadratically with
    # density while the stage count stays constant, so executor
    # compute dominates the sandbox's per-stage driver latency — the
    # compute-bound regime a production cluster lives in
    "xd": (72000, 9000, 120, 5, 4),
}
SF_TO_SCALE = {"sf0.001": "t", "sf0.01": "s", "sf0.1": "m", "sf1": "l"}


def scale_tiles(scale: str) -> list[Tile]:
    from .tiling import tile_grid

    _, _, _, cols, rows = SCALES[scale]
    return tile_grid(cols, rows)


def build_world(scale: str) -> World:
    global LAT_MIN, LAT_MAX, LON_MIN, LON_MAX
    n_ways, n_pois, unit, cols, rows = SCALES[scale]
    LON_MIN, LON_MAX = 16.2 - 0.005, 16.2 + cols * 0.1 + 0.005
    LAT_MIN, LAT_MAX = 48.0 - 0.005, 48.0 + rows * 0.1 + 0.005
    rng = np.random.RandomState(42 + sum(map(ord, scale)))
    b = World()
    gen_network(b, rng, n_ways)
    gen_pois(b, rng, n_pois)
    for fn, weight in INJECTORS:
        fn(b, rng, unit * weight)
    return b


# ---------------------------------------------------------------------------
# Output: docs.parquet + oracle views
# ---------------------------------------------------------------------------


def _tstamp_iso(oid: int) -> str:
    dt = datetime(2024, 1, 1) + timedelta(seconds=(oid * 13) % 999983)
    return dt.strftime("%Y-%m-%dT%H:%M:%S")


def _write_docs(b: World, path: str) -> None:
    node_tags: dict[int, list] = {}
    for nid, k, v in b.node_tags:
        node_tags.setdefault(nid, []).append((k, v))
    way_tags: dict[int, list] = {}
    for wid, k, v in b.way_tags:
        way_tags.setdefault(wid, []).append((k, v))
    rel_tags: dict[int, list] = {}
    for rid, k, v in b.relation_tags:
        rel_tags.setdefault(rid, []).append((k, v))
    way_nodes: dict[int, list] = {}
    for wid, seq, nid in b.way_nodes:
        way_nodes.setdefault(wid, []).append((seq, nid))
    rel_members: dict[int, list] = {}
    for rid, seq, mt, mid, role in b.relation_members:
        rel_members.setdefault(rid, []).append((seq, mt, mid, role))

    doc_ids, span_lists = [], []

    def tweak_media(oid: int, spans: list) -> list:
        """Deterministic media anomalies for the multimodal operators:
        objects with oid % 101 == 0 share one media_ref pool (cross-doc
        duplicates; their per-span mimes already differ, giving mime
        conflicts on the shared ref); oid % 103 == 0 drops the first
        media ref (dangling).  Span order/offsets are untouched — the
        pass-through invariant holds."""
        out = []
        first_media = True
        for kind, text, ref, off in spans:
            if kind == "media":
                if oid % 101 == 0:
                    ref = f"media://shared{(oid // 101) % 5}"
                if oid % 103 == 0 and first_media:
                    ref = None
                first_media = False
            out.append((kind, text, ref, off))
        return out

    for nid, uid, lat7, lon7 in b.nodes:
        doc_id, spans = encode_object(
            "node", nid, uid, _tstamp_iso(nid), node_tags.get(nid, []),
            coord=(lat7 / 1e7, lon7 / 1e7), n_media=nid % 4,
        )
        doc_ids.append(doc_id)
        span_lists.append(tweak_media(nid, spans))
    for wid, uid in b.ways:
        doc_id, spans = encode_object(
            "way", wid, uid, _tstamp_iso(wid), way_tags.get(wid, []),
            noderefs=sorted(way_nodes.get(wid, [])), n_media=wid % 4,
        )
        doc_ids.append(doc_id)
        span_lists.append(tweak_media(wid, spans))
    for rid, uid in b.relations:
        doc_id, spans = encode_object(
            "relation", rid, uid, _tstamp_iso(rid), rel_tags.get(rid, []),
            members=sorted(rel_members.get(rid, [])), n_media=rid % 4,
        )
        doc_ids.append(doc_id)
        span_lists.append(tweak_media(rid, spans))

    table = pa.Table.from_pydict(
        {
            "doc_id": doc_ids,
            "spans": [
                [
                    {"kind": k, "text": t, "media_ref": m, "offset": o}
                    for k, t, m, o in spans
                ]
                for spans in span_lists
            ],
        },
        schema=DOCS_ARROW_SCHEMA,
    )
    pq.write_table(table, path)



_BORDER_ITEMS = [
    "city", "village", "departement", "county", "region", "country",
    "border", "district", "commune", "parish", "state", "suburb", "town",
    "municipality", "province", "governate", "arrondissement", "borough",
    "diocese", "unitary", "prefecture",
]
_BORDER_KEYS = {f"{s}:{i}" for i in _BORDER_ITEMS for s in ("left", "right")}


def _oracle_border_parts(ways_t, way_tags_t, relation_tags_t, rm_t):
    """Independent implementation of prepare_countries.php's
    _tmp_border_ways (extraction + 4-case part stitching) for the
    DuckDB oracle."""
    rows = []
    for tile in sorted(set(way_tags_t.tile) | set(relation_tags_t.tile)):
        wt = way_tags_t[way_tags_t.tile == tile]
        rt = relation_tags_t[relation_tags_t.tile == tile]
        rm = rm_t[rm_t.tile == tile]
        wmeta = {
            r.id: (None if pd.isna(r.first_node_id) else int(r.first_node_id),
                   None if pd.isna(r.last_node_id) else int(r.last_node_id))
            for r in ways_t[ways_t.tile == tile].itertuples()
        }
        admin_ways = set(wt[(wt.k == "boundary") & (wt.v == "administrative")].way_id)
        way_admin = wt[wt.k == "admin_level"].groupby("way_id")["v"].max().to_dict()
        recs = []
        for r in wt[wt.k.isin(_BORDER_KEYS)].itertuples():
            if r.way_id in admin_ways:
                recs.append({"name": r.v, "admin_level": way_admin.get(r.way_id),
                             "relation_id": None, "way_id": r.way_id})
        btype = set(rt[(rt.k == "type") & rt.v.isin(["boundary", "multipolygon"])].relation_id)
        badmin = set(rt[(rt.k == "boundary") & (rt.v == "administrative")].relation_id)
        rel_name = rt[rt.k == "name"].groupby("relation_id")["v"].max().to_dict()
        rel_admin = rt[rt.k == "admin_level"].groupby("relation_id")["v"].max().to_dict()
        rel_rows = []
        for rid in sorted(btype & badmin):
            for m in rm[(rm.relation_id == rid) & (rm.member_type == "W")].itertuples():
                rel_rows.append({"name": rel_name.get(rid),
                                 "admin_level": rel_admin.get(rid),
                                 "relation_id": rid, "way_id": m.member_id})
        shadowed = {(x["name"], x["admin_level"], x["way_id"]) for x in rel_rows
                    if x["name"] is not None and x["admin_level"] is not None}
        recs = [x for x in recs
                if (x["name"], x["admin_level"], x["way_id"]) not in shadowed]
        recs += rel_rows
        for x in recs:
            f, l = wmeta.get(x["way_id"], (None, None))
            x["first_node_id"], x["last_node_id"] = f, l
        bad_rels = {x["relation_id"] for x in recs
                    if x["relation_id"] is not None and x["first_node_id"] is None}
        recs = [x for x in recs if x["relation_id"] not in bad_rels
                or x["relation_id"] is None]
        recs = [x for x in recs if x["relation_id"] is None
                or x["relation_id"] not in bad_rels]

        # stitch per (name, admin_level) group — NULL is its own group
        # key, distinct from '' (matching the engine's groupBy NULL
        # semantics in boundaries.stitched_border_ways)
        import itertools
        keyf = lambda x: (
            x["name"] if x["name"] is not None else "\x00NULL",
            x["admin_level"] if x["admin_level"] is not None else "\x00NULL",
        )
        recs.sort(key=lambda x: (keyf(x), x["way_id"]))
        for _, grp_it in itertools.groupby(recs, key=keyf):
            grp = list(grp_it)
            for x in grp:
                x["part"] = None
                x["sequence_id"] = None
                x["direction"] = 1

            def _touch(a, c):
                return (c["first_node_id"] in (a["first_node_id"], a["last_node_id"])
                        or c["last_node_id"] in (a["first_node_id"], a["last_node_id"]))

            neg = -1
            for x in grp:
                if x["first_node_id"] is None:
                    continue
                if x["first_node_id"] == x["last_node_id"] and not any(
                    o is not x and o["way_id"] != x["way_id"]
                    and o["first_node_id"] is not None and _touch(x, o)
                    for o in grp
                ):
                    x["part"], x["sequence_id"] = neg, 0
                    neg -= 1
            pno = 0
            while True:
                left = [x for x in grp if x["sequence_id"] is None
                        and x["first_node_id"] is not None]
                if not left:
                    break
                seed = min(left, key=lambda x: x["way_id"])
                seed["part"], seed["sequence_id"], seed["direction"] = pno, 0, 1
                step = 1
                while True:
                    got = 0
                    done = [x for x in grp if x["sequence_id"] is not None]

                    def eff(x):
                        if x["direction"] == 1:
                            return x["first_node_id"], x["last_node_id"]
                        return x["last_node_id"], x["first_node_id"]

                    for tgt, backward in ((step - 1, False), (1 - step, True)):
                        t0 = [x for x in done if x["sequence_id"] == tgt]
                        if not t0:
                            continue
                        pts = {eff(x)[0] if backward else eff(x)[1] for x in t0}
                        for revd in (False, True):
                            for m in [x for x in grp if x["sequence_id"] is None
                                      and x["first_node_id"] is not None
                                      and ((x["last_node_id"] if (backward != revd)
                                            else x["first_node_id"]) in pts)]:
                                m["part"] = pno
                                m["sequence_id"] = step if not backward else -step
                                m["direction"] = -1 if revd else 1
                                got += 1
                    if got == 0:
                        break
                    step += 1
                pno += 1
            for x in grp:
                rows.append((tile, x["name"], x["admin_level"], x["relation_id"],
                             x["way_id"], x["first_node_id"], x["last_node_id"],
                             x["part"], x["sequence_id"], x["direction"]))
    df = pd.DataFrame(rows, columns=[
        "tile", "name", "admin_level", "relation_id", "way_id",
        "first_node_id", "last_node_id", "part", "sequence_id", "direction"])
    for c in ("relation_id", "first_node_id", "last_node_id"):
        df[c] = df[c].astype("Int64")
    for c in ("part", "sequence_id"):
        df[c] = df[c].astype("Int64")
    return df


def _oracle_roundabout_parts(ways_t: pd.DataFrame, way_tags_t: pd.DataFrame) -> pd.DataFrame:
    """Independent implementation of check 0310's part stitching
    (0310_roundabouts.php:29-127) for the DuckDB oracle: per tile,
    direction-adjusted roundabout ways ordered into parts by the
    closed-loop preassignment + min-way seeding + forward/backward
    sequence growth (with the reference's cross-part T0 matching)."""
    out_rows = []
    ra = way_tags_t[(way_tags_t.k == "junction") & (way_tags_t.v == "roundabout")]
    rev = way_tags_t[(way_tags_t.k == "oneway") & (way_tags_t.v == "-1")]
    for tile in sorted(ra.tile.unique()):
        ra_ids = set(ra[ra.tile == tile].way_id)
        rev_ids = set(rev[rev.tile == tile].way_id)
        wt = ways_t[(ways_t.tile == tile) & ways_t.id.isin(ra_ids)]
        state = {}
        for row in wt.itertuples():
            f, l = row.first_node_id, row.last_node_id
            if row.id in rev_ids:
                f, l = l, f
            state[row.id] = {"first": None if pd.isna(f) else int(f),
                             "last": None if pd.isna(l) else int(l),
                             "part": None, "seq": None}
        ctr = 1
        for wid in state:
            st = state[wid]
            if st["first"] is not None and st["first"] == st["last"]:
                st["part"], st["seq"] = ctr, 0
                ctr += 1
        while True:
            todo = [w for w, st in state.items()
                    if st["seq"] is None and st["first"] is not None]
            if not todo:
                break
            seed = min(todo)
            state[seed]["part"], state[seed]["seq"] = ctr, 0
            step = 1
            while True:
                hits = 0
                fw_ends = {st["last"] for st in state.values() if st["seq"] == step - 1}
                for w, st in state.items():
                    if st["seq"] is None and st["first"] in fw_ends:
                        st["part"], st["seq"] = ctr, step
                        hits += 1
                bw_starts = {st["first"] for st in state.values()
                             if st["seq"] == -step + 1}
                for w, st in state.items():
                    if st["seq"] is None and st["last"] in bw_starts:
                        st["part"], st["seq"] = ctr, -step
                        hits += 1
                if hits == 0:
                    break
                step += 1
            ctr += 1
        for wid, st in state.items():
            if st["seq"] is not None:
                out_rows.append((tile, st["part"], wid, st["seq"],
                                 st["first"], st["last"]))
    return pd.DataFrame(
        out_rows,
        columns=["tile", "part", "way_id", "sequence_id",
                 "first_node_id", "last_node_id"],
    )


def _oracle_views(
    b: World, tiles: list[Tile], margin_m: float
) -> dict[str, pd.DataFrame]:
    """Independent pandas implementation of decode + tiling, for the
    DuckDB differential oracle."""
    nodes = pd.DataFrame(b.nodes, columns=["id", "user_id", "lat7", "lon7"])
    # lat/lon exactly as the engine parses them: float of the 7-decimal text
    nodes["lat"] = np.array([float(fmt_coord(v / 1e7)) for v in nodes["lat7"]])
    nodes["lon"] = np.array([float(fmt_coord(v / 1e7)) for v in nodes["lon7"]])
    nodes["x"] = merc_x(nodes["lon"].to_numpy())
    nodes["y"] = merc_y(nodes["lat"].to_numpy())
    nodes["tstamp"] = pd.to_datetime([_tstamp_iso(i) for i in nodes["id"]])
    nodes = nodes.drop(columns=["lat7", "lon7"])

    node_tags = pd.DataFrame(b.node_tags, columns=["node_id", "k", "v"])
    way_tags = pd.DataFrame(b.way_tags, columns=["way_id", "k", "v"])
    relation_tags = pd.DataFrame(b.relation_tags, columns=["relation_id", "k", "v"])

    way_nodes = pd.DataFrame(b.way_nodes, columns=["way_id", "sequence_id", "node_id"])
    way_nodes = way_nodes.merge(
        nodes[["id", "lat", "lon", "x", "y"]], left_on="node_id", right_on="id"
    ).drop(columns=["id"])

    ways = pd.DataFrame(b.ways, columns=["id", "user_id"])
    ways["tstamp"] = pd.to_datetime([_tstamp_iso(i) for i in ways["id"]])
    wn_sorted = way_nodes.sort_values(["way_id", "sequence_id"])
    firsts = wn_sorted.groupby("way_id").first()
    lasts = wn_sorted.groupby("way_id").last()
    counts = wn_sorted.groupby("way_id").size().rename("node_count")
    ways = ways.merge(
        pd.DataFrame(
            {
                "first_node_id": firsts["node_id"],
                "first_node_lat": firsts["lat"],
                "first_node_lon": firsts["lon"],
                "first_node_x": firsts["x"],
                "first_node_y": firsts["y"],
                "last_node_id": lasts["node_id"],
                "last_node_lat": lasts["lat"],
                "last_node_lon": lasts["lon"],
                "last_node_x": lasts["x"],
                "last_node_y": lasts["y"],
                "node_count": counts,
            }
        ).reset_index(names="id"),
        on="id",
        how="left",
    )
    ways["node_count"] = ways["node_count"].fillna(0).astype("int64")

    relations = pd.DataFrame(b.relations, columns=["id", "user_id"])
    relations["tstamp"] = pd.to_datetime([_tstamp_iso(i) for i in relations["id"]])
    relation_members = pd.DataFrame(
        b.relation_members,
        columns=["relation_id", "sequence_id", "member_type", "member_id", "member_role"],
    )
    relation_members = relation_members[
        ["relation_id", "member_id", "member_role", "member_type", "sequence_id"]
    ]

    # ---- tiling (mirror of tiling.assign_tiles, independent code) ----
    node_tile_parts = []
    for t in tiles:
        pl, pr, pt_, pb = t.padded(margin_m)
        m = (
            (nodes["lat"] >= pb)
            & (nodes["lat"] < pt_)
            & (nodes["lon"] >= pl)
            & (nodes["lon"] < pr)
        )
        part = nodes.loc[m, ["id"]].copy()
        part["tile"] = t.name
        node_tile_parts.append(part)
    node_tile = pd.concat(node_tile_parts, ignore_index=True)

    way_tile = (
        way_nodes.merge(node_tile, left_on="node_id", right_on="id")[
            ["way_id", "tile"]
        ]
        .drop_duplicates()
        .reset_index(drop=True)
    )
    wn_tiled = way_nodes.merge(way_tile, on="way_id")
    node_tile = (
        pd.concat(
            [node_tile, wn_tiled[["node_id", "tile"]].rename(columns={"node_id": "id"})],
            ignore_index=True,
        )
        .drop_duplicates()
        .reset_index(drop=True)
    )

    nodes_t = nodes.merge(node_tile, on="id")
    node_tags_t = node_tags.merge(
        node_tile.rename(columns={"id": "node_id"}), on="node_id"
    )
    ways_t = ways.merge(way_tile.rename(columns={"way_id": "id"}), on="id")
    way_tags_t = way_tags.merge(way_tile, on="way_id")

    # relations: member-seeded tile assignment grown parent-ward to
    # fixpoint — the pandas twin of tiling.assign_tiles (seed from
    # direct N/W members, iterate upward for nested relations)
    local_n = node_tile.assign(member_type="N")
    local_w = way_tile.rename(columns={"way_id": "id"}).assign(member_type="W")
    local_nw = pd.concat([local_n, local_w], ignore_index=True)
    rel_tile = (
        relation_members.merge(
            local_nw.rename(columns={"id": "member_id"}),
            on=["member_id", "member_type"],
        )[["relation_id", "tile"]]
        .drop_duplicates()
        .rename(columns={"relation_id": "id"})
    )
    rm_nested = relation_members[relation_members.member_type == "R"]
    for _ in range(8):
        grown = (
            rm_nested.merge(
                rel_tile.rename(columns={"id": "member_id"}), on="member_id"
            )[["relation_id", "tile"]]
            .drop_duplicates()
            .rename(columns={"relation_id": "id"})
        )
        merged = pd.concat([rel_tile, grown], ignore_index=True).drop_duplicates()
        if len(merged) == len(rel_tile):
            break
        rel_tile = merged

    relations_t = relations.merge(rel_tile, on="id")
    local_objs = pd.concat(
        [local_n, local_w, rel_tile.assign(member_type="R")], ignore_index=True
    )
    rm_t = relation_members.merge(
        rel_tile.rename(columns={"id": "relation_id"}), on="relation_id"
    ).merge(
        local_objs.rename(columns={"id": "member_id"}),
        on=["member_id", "member_type", "tile"],
    )[["relation_id", "member_id", "member_role", "member_type", "sequence_id", "tile"]]
    relation_tags_t = relation_tags.merge(
        rel_tile.rename(columns={"id": "relation_id"}), on="relation_id"
    )

    users = pd.DataFrame(
        {
            "id": range(1, 99),
            "user_name": [f"user_{i}" for i in range(1, 99)],
        }
    )
    tiles_df = pd.DataFrame(
        [(t.name, t.left, t.right, t.top, t.bottom) for t in tiles],
        columns=["tile", "left", "right", "top", "bottom"],
    )

    roundabout_parts = _oracle_roundabout_parts(ways_t, way_tags_t)
    border_parts = _oracle_border_parts(ways_t, way_tags_t, relation_tags_t, rm_t)

    return {
        "nodes": nodes_t,
        "node_tags": node_tags_t,
        "ways": ways_t,
        "way_nodes": wn_tiled,
        "way_tags": way_tags_t,
        "relations": relations_t,
        "relation_members": rm_t,
        "relation_tags": relation_tags_t,
        "users": users,
        "roundabout_parts": roundabout_parts,
        "border_parts": border_parts,
        "tiles": tiles_df,
    }


def island_seeds_per_tile(views: dict) -> dict[str, list[int]]:
    """One well-connected seed way PER TILE for check 0130 — the
    dataset twin of the reference's hand-picked per-region seed list
    (0130_islands.php:26-335, one curated way per schema).  Seeds are
    chosen post-tiling: in each tile, the non-excluded highway way
    touching the most junction nodes (tie: lowest way_id).  A tile
    with no junctioned highway way gets no seed, mirroring a reference
    region absent from the curated list."""
    excluded = {"emergency_access_point", "construction", "services",
                "preproposed", "proposed", "rest_area"}
    wt = views["way_tags"]
    wn = views["way_nodes"]
    hw = wt[(wt.k == "highway") & ~wt.v.isin(excluded)][
        ["tile", "way_id"]
    ].drop_duplicates()
    w = wn[["tile", "way_id", "node_id"]].merge(hw, on=["tile", "way_id"])
    deg = (
        w.groupby(["tile", "node_id"])["way_id"].nunique().reset_index(name="nw")
    )
    jn = deg[deg.nw > 1][["tile", "node_id"]]
    wj = w.merge(jn, on=["tile", "node_id"])
    cnt = (
        wj.groupby(["tile", "way_id"])["node_id"].nunique().reset_index(name="nj")
    )
    cnt = cnt.sort_values(
        ["tile", "nj", "way_id"], ascending=[True, False, True]
    )
    top = cnt.groupby("tile").head(1)
    return {str(r.tile): [int(r.way_id)] for r in top.itertuples()}


def write_dataset(out_dir: str, scale: str) -> None:
    tiles = scale_tiles(scale)
    os.makedirs(os.path.join(out_dir, "oracle"), exist_ok=True)
    b = build_world(scale)
    _write_docs(b, os.path.join(out_dir, "docs.parquet"))
    if b.webcache:
        # deterministic stand-in for check 0410's HTTP fetches: one
        # row per (normalized) URL the checkable tags can reach
        pq.write_table(
            pa.Table.from_pydict(
                {
                    "url": [u for u, _, _ in b.webcache],
                    "http_code": [c for _, c, _ in b.webcache],
                    "body": [bd for _, _, bd in b.webcache],
                },
                schema=pa.schema(
                    [("url", pa.string()), ("http_code", pa.int32()),
                     ("body", pa.string())]
                ),
            ),
            os.path.join(out_dir, "webcache.parquet"),
        )
    views = _oracle_views(b, tiles, DEFAULT_MARGIN_M)
    seeds = island_seeds_per_tile(views)
    for name, df in views.items():
        if "tstamp" in df.columns:
            # microsecond precision: Spark cannot read NANOS parquet
            df = df.assign(tstamp=df["tstamp"].astype("datetime64[us]"))
        pq.write_table(
            pa.Table.from_pandas(df, preserve_index=False),
            os.path.join(out_dir, "oracle", f"{name}.parquet"),
        )
    with open(os.path.join(out_dir, "MANIFEST.json"), "w") as f:
        json.dump(
            {
                "gen_version": GEN_VERSION,
                "scale": scale,
                "n_nodes": len(b.nodes),
                "n_ways": len(b.ways),
                "n_relations": len(b.relations),
                "tiles": [
                    [t.name, t.left, t.right, t.top, t.bottom] for t in tiles
                ],
                "island_seeds": seeds,
                "margin_m": DEFAULT_MARGIN_M,
            },
            f,
        )


DATA_ROOT = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "data")


def dataset_dir(scale: str) -> str:
    return os.path.join(DATA_ROOT, f"osm_{scale}")


def ensure_dataset(scale: str) -> str:
    """Generate the dataset if missing or stale; returns its directory."""
    d = dataset_dir(scale)
    manifest = os.path.join(d, "MANIFEST.json")
    if os.path.exists(manifest):
        try:
            with open(manifest) as f:
                if json.load(f).get("gen_version") == GEN_VERSION:
                    return d
        except (json.JSONDecodeError, OSError):
            pass
    write_dataset(d, scale)
    return d


def scale_for_sf_dir(sf_dir: str) -> str:
    base = os.path.basename(os.path.normpath(sf_dir))
    return SF_TO_SCALE.get(base, "s")
