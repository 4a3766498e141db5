"""DuckDB oracle SQL for the differential correctness gate.

Each ``oracle_XXXX(dataset_dir)`` returns ANSI SQL that DuckDB runs on
the generator's *independently computed* pre-tiled relational views
(datagen._oracle_views) and that must produce exactly the rows of the
matching Spark check query in ``__spark_entry__.queries()`` — same
column names, same types, same values (order-insensitive).

The shared scaffolding mirrors the engine:

* ``err`` CTE  ≙ the check's _tmp_errors rows,
* ``resolved`` ≙ errors.resolve_locations (1e7 fixed-point ints),
* final SELECT ≙ tiling.clip_errors (half-open tile clip,
  run-checks.php:430-443).
"""

from __future__ import annotations

ORACLE_TABLES = [
    "nodes",
    "node_tags",
    "ways",
    "way_nodes",
    "way_tags",
    "relations",
    "relation_members",
    "relation_tags",
    "users",
    "roundabout_parts",
    "border_parts",
    "tiles",
]

NULLTXT = "CAST(NULL AS VARCHAR)"
NULLD = "CAST(NULL AS DOUBLE)"


def preamble(d: str, table_sql: dict[str, str] | None = None) -> str:
    """The oracle-view CTE block.  ``table_sql`` optionally replaces
    a view's SELECT (used by oracle_follower_cycle to re-derive the
    world with planted tombstones applied)."""
    table_sql = table_sql or {}
    return ",\n".join(
        f"{t} AS ({table_sql[t]})" if t in table_sql
        else f"{t} AS (SELECT * FROM read_parquet('{d}/oracle/{t}.parquet'))"
        for t in ORACLE_TABLES
    )


def err_select(
    error_type: str | int,
    object_type: str,
    object_id: str,
    msgid: str,
    txt1: str = NULLTXT,
    txt2: str = NULLTXT,
    txt3: str = NULLTXT,
    txt4: str = NULLTXT,
    txt5: str = NULLTXT,
    lat_d: str = NULLD,
    lon_d: str = NULLD,
    tile: str = "tile",
) -> str:
    """The uniform 12-column projection every ``err`` CTE must yield."""
    et = (
        f"CAST({error_type} AS INTEGER)"
        if isinstance(error_type, int)
        else f"CAST(({error_type}) AS INTEGER)"
    )
    ot = f"'{object_type}'" if object_type in ("node", "way", "relation") else object_type
    return (
        f"{tile} AS tile, {et} AS error_type, {ot} AS object_type, "
        f"{object_id} AS object_id, {lat_d} AS lat_d, {lon_d} AS lon_d, "
        f"{msgid} AS msgid, {txt1} AS txt1, {txt2} AS txt2, {txt3} AS txt3, "
        f"{txt4} AS txt4, {txt5} AS txt5"
    )


# location resolution + half-open clip; expects an ``err`` CTE with the
# err_select columns.  Mirrors errors.dedupe_errors (deterministic
# insert-ignore winner: lexicographically smallest payload, NULLS
# FIRST) + errors.resolve_locations (node → own coords, way → first
# node, relation → pinned member choice).
_FINALIZE_HEAD = """
err_dedup AS (
    SELECT * EXCLUDE (rn) FROM (
        SELECT e.*, ROW_NUMBER() OVER (
            PARTITION BY tile, error_type, object_type, object_id, lat_d, lon_d
            ORDER BY msgid ASC NULLS FIRST, txt1 ASC NULLS FIRST,
                     txt2 ASC NULLS FIRST, txt3 ASC NULLS FIRST,
                     txt4 ASC NULLS FIRST, txt5 ASC NULLS FIRST) AS rn
        FROM err e)
    WHERE rn = 1
),
rel_node_loc AS (
    SELECT m.tile, m.relation_id,
           arg_min(n.lat, m.sequence_id) AS lat,
           arg_min(n.lon, m.sequence_id) AS lon
    FROM relation_members m
    JOIN nodes n ON m.member_type='N' AND m.tile=n.tile AND m.member_id=n.id
    GROUP BY m.tile, m.relation_id
),
rel_way_loc AS (
    SELECT tile, relation_id, lat, lon FROM (
        SELECT m.tile, m.relation_id, wn.lat, wn.lon,
               ROW_NUMBER() OVER (PARTITION BY m.tile, m.relation_id
                                  ORDER BY m.sequence_id, wn.sequence_id) AS rn
        FROM relation_members m
        JOIN way_nodes wn ON m.member_type='W' AND m.tile=wn.tile
                          AND m.member_id=wn.way_id
        WHERE wn.lat IS NOT NULL
    ) WHERE rn=1
),
rel_loc_d0 AS MATERIALIZED (
    SELECT * FROM rel_node_loc
    UNION ALL
    SELECT w.* FROM rel_way_loc w
    WHERE NOT EXISTS (SELECT 1 FROM rel_node_loc n
                      WHERE n.tile=w.tile AND n.relation_id=w.relation_id)
),
"""

_REL_LOC_STEP = """rel_loc_d{d} AS MATERIALIZED (
    SELECT * FROM rel_loc_d{p}
    UNION ALL
    SELECT m.tile, m.relation_id,
           arg_min(c.lat, m.sequence_id) AS lat,
           arg_min(c.lon, m.sequence_id) AS lon
    FROM relation_members m
    JOIN rel_loc_d{p} c ON m.member_type='R' AND m.tile=c.tile
                          AND m.member_id=c.relation_id
    WHERE NOT EXISTS (SELECT 1 FROM rel_loc_d{p} p
                      WHERE p.tile=m.tile AND p.relation_id=m.relation_id)
    GROUP BY m.tile, m.relation_id
),
"""

_FINALIZE_TAIL = """rel_loc AS (SELECT * FROM rel_loc_d{last}),
resolved AS (
    SELECT e.tile, e.error_type, e.object_type, e.object_id,
           CAST(ROUND(COALESCE(e.lat_d, 1e7 * COALESCE(n.lat, w.first_node_lat, r.lat))) AS BIGINT) AS lat,
           CAST(ROUND(COALESCE(e.lon_d, 1e7 * COALESCE(n.lon, w.first_node_lon, r.lon))) AS BIGINT) AS lon,
           e.msgid, e.txt1, e.txt2, e.txt3, e.txt4, e.txt5
    FROM err_dedup e
    LEFT JOIN nodes n ON e.object_type='node' AND e.tile=n.tile AND e.object_id=n.id
    LEFT JOIN ways w  ON e.object_type='way'  AND e.tile=w.tile AND e.object_id=w.id
    LEFT JOIN rel_loc r ON e.object_type='relation' AND e.tile=r.tile
                        AND e.object_id=r.relation_id
)
SELECT r.tile, r.error_type, r.object_type, r.object_id, r.lat, r.lon,
       r.msgid, r.txt1, r.txt2, r.txt3, r.txt4, r.txt5
FROM resolved r JOIN tiles t ON r.tile=t.tile
WHERE r.lat IS NOT NULL AND r.lon IS NOT NULL
  AND r.lat >= CAST(ROUND(1e7*t.bottom) AS BIGINT)
  AND r.lat <  CAST(ROUND(1e7*t.top) AS BIGINT)
  AND r.lon >= CAST(ROUND(1e7*t."left") AS BIGINT)
  AND r.lon <  CAST(ROUND(1e7*t."right") AS BIGINT)
"""


_DEPTH_CACHE: dict[str, int] = {}


def _rel_loc_depth(d: str) -> int:
    """How far the rel_loc chain must unroll for THIS dataset.

    The engine recurses member-relation location descent to depth 100
    (errors.py, mirroring helpers.php's depth brake).  Unrolling 100
    materialized CTEs into every oracle would swamp DuckDB's planner,
    so compute the dataset's true fixpoint depth once (python BFS over
    the relation->relation member edges, seeded by relations locatable
    from a node/way member) and unroll exactly that far, capped at the
    engine's 100.  Identical semantics for any nesting <= 100; beyond
    100 both sides deliberately leave the relation unlocated.
    """
    if d in _DEPTH_CACHE:
        return _DEPTH_CACHE[d]
    import duckdb

    con = duckdb.connect()
    base = set(
        con.sql(
            f"""
        SELECT DISTINCT m.tile, m.relation_id
        FROM read_parquet('{d}/oracle/relation_members.parquet') m
        JOIN read_parquet('{d}/oracle/nodes.parquet') n
          ON m.member_type='N' AND m.tile=n.tile AND m.member_id=n.id
        UNION
        SELECT DISTINCT m.tile, m.relation_id
        FROM read_parquet('{d}/oracle/relation_members.parquet') m
        JOIN read_parquet('{d}/oracle/way_nodes.parquet') wn
          ON m.member_type='W' AND m.tile=wn.tile AND m.member_id=wn.way_id
        WHERE wn.lat IS NOT NULL
        """
        ).fetchall()
    )
    edges = con.sql(
        f"""
        SELECT tile, relation_id, member_id
        FROM read_parquet('{d}/oracle/relation_members.parquet')
        WHERE member_type='R'
        """
    ).fetchall()
    parents: dict[tuple, list] = {}
    for tile, parent, child in edges:
        parents.setdefault((tile, child), []).append((tile, parent))
    located, frontier, depth = set(base), set(base), 0
    while frontier and depth < 100:
        new = set()
        for key in frontier:
            for p in parents.get(key, ()):  # noqa: B007
                if p not in located:
                    new.add(p)
        if not new:
            break
        located |= new
        frontier = new
        depth += 1
    depth = max(depth, 1)
    _DEPTH_CACHE[d] = depth
    return depth


def _finalize(d: str) -> str:
    last = _rel_loc_depth(d)
    steps = "".join(
        _REL_LOC_STEP.format(d=i, p=i - 1) for i in range(1, last + 1)
    )
    return _FINALIZE_HEAD + steps + _FINALIZE_TAIL.format(last=last)


def wrap(d: str, body_ctes: str,
         table_sql: dict[str, str] | None = None) -> str:
    """WITH <views>, <body ctes ending in err>, <finalize>."""
    return f"WITH {preamble(d, table_sql)},\n{body_ctes},\n{_finalize(d)}"


# ---------------------------------------------------------------------------


def oracle_0020(d: str, table_sql: dict[str, str] | None = None) -> str:
    msg = "'There is more than one node in this spot. Offending node IDs: $1'"
    body = f"""
elev AS (
    SELECT n.tile, n.id, MAX(n.lon) AS lon, MAX(n.lat) AS lat, MAX(nt.v) AS ele
    FROM nodes n JOIN node_tags nt ON n.id=nt.node_id AND n.tile=nt.tile
    WHERE nt.k='ele'
    GROUP BY n.tile, n.id
),
dupes AS (
    SELECT tile, lon, lat, COUNT(id) AS nodecount
    FROM nodes GROUP BY tile, lon, lat HAVING COUNT(id) > 1
),
err AS (
    SELECT {err_select(20, 'node', 'MIN(n.id)', msg,
                       txt1="string_agg('#' || n.id, ',' ORDER BY n.id)",
                       tile='n.tile')}
    FROM nodes n JOIN dupes d ON n.tile=d.tile AND n.lon=d.lon AND n.lat=d.lat
    WHERE NOT (d.nodecount = (
        SELECT COUNT(DISTINCT e.ele) FROM elev e
        WHERE e.tile=d.tile AND e.lon=d.lon AND e.lat=d.lat))
    GROUP BY n.tile, d.lon, d.lat
)"""
    return wrap(d, body, table_sql)


# number of planted orphan-node tombstones in the follower-cycle entry
FOLLOWER_TOMBSTONES = 3


def follower_tombstone_sql(d: str) -> str:
    """The deterministic tombstone pick shared by the engine query
    and this oracle: the FOLLOWER_TOMBSTONES smallest node ids that
    (a) no way or relation references (orphans — removing them cannot
    change way/relation tiling, so the post-drop world equals the
    oracle views with these nodes filtered out) and (b) share their
    (tile, lon, lat) spot with another node — so the drop provably
    MOVES the 0020 error set (roster/anchor changes), not just
    re-proves a no-op cycle."""
    nodes = f"read_parquet('{d}/oracle/nodes.parquet')"
    return (
        f"SELECT DISTINCT n.id FROM {nodes} n "
        f"JOIN (SELECT tile, lon, lat FROM {nodes} "
        f"GROUP BY tile, lon, lat HAVING COUNT(id) > 1) dup "
        f"USING (tile, lon, lat) "
        f"WHERE n.id NOT IN (SELECT node_id FROM "
        f"read_parquet('{d}/oracle/way_nodes.parquet')) "
        f"AND n.id NOT IN (SELECT member_id FROM "
        f"read_parquet('{d}/oracle/relation_members.parquet') "
        f"WHERE member_type='N') "
        f"ORDER BY n.id LIMIT {FOLLOWER_TOMBSTONES}"
    )


def oracle_follower_cycle(d: str) -> str:
    """From-scratch 0020 over the world with the planted tombstones
    applied — what the follower's live (non-cleared) error set must
    equal after one replication cycle (streaming.process_available on
    a drop that deletes those docs).  Only nodes/node_tags change: the
    tombstones are orphan nodes by construction."""
    tomb = follower_tombstone_sql(d)
    return oracle_0020(d, table_sql={
        "nodes": f"SELECT * FROM read_parquet('{d}/oracle/nodes.parquet') "
                 f"WHERE id NOT IN ({tomb})",
        "node_tags": f"SELECT * FROM "
                     f"read_parquet('{d}/oracle/node_tags.parquet') "
                     f"WHERE node_id NOT IN ({tomb})",
    })


def oracle_0010_deleted(d: str) -> str:
    """Check 0010 (deleted items) on the planted-deletion world —
    independent SQL twin of check_0010.run_planted: derive the same
    victim rule (the K smallest referenced ids per clause,
    check_0010.VICTIM_*) straight off the docs table, then emit the
    reference's three clauses (0010_deleted_items.php:4-27) as refs
    from surviving docs to victim docs."""
    from .checks.check_0010 import (
        MSG_10, MSG_11, MSG_12,
        VICTIM_REL_NODES, VICTIM_REL_WAYS, VICTIM_WAY_NODES,
    )
    from .docs_store import duckdb_docs_source

    return f"""
WITH ex AS (
    SELECT CAST(split_part(doc_id, '/', 2) AS BIGINT) AS id,
           UNNEST(spans) AS s
    FROM read_parquet({duckdb_docs_source(d)})
),
noderefs AS (
    SELECT id AS way_id,
           CAST(split_part(s.text, chr(9), 2) AS BIGINT) AS ref_id
    FROM ex WHERE s.kind = 'noderef'
),
members AS (
    SELECT id AS rel_id, split_part(s.text, chr(9), 2) AS member_type,
           CAST(split_part(s.text, chr(9), 3) AS BIGINT) AS ref_id
    FROM ex WHERE s.kind = 'member'
),
v1 AS (SELECT DISTINCT ref_id FROM noderefs
       ORDER BY ref_id LIMIT {VICTIM_WAY_NODES}),
v2 AS (SELECT DISTINCT ref_id FROM members WHERE member_type = 'N'
       ORDER BY ref_id LIMIT {VICTIM_REL_NODES}),
v3 AS (SELECT DISTINCT ref_id FROM members WHERE member_type = 'W'
       ORDER BY ref_id LIMIT {VICTIM_REL_WAYS}),
victim_nodes AS (SELECT ref_id FROM v1 UNION SELECT ref_id FROM v2),
victim_ways AS (SELECT ref_id FROM v3)
SELECT DISTINCT CAST(10 AS INT) AS error_type, 'way' AS object_type,
       way_id AS object_id, {_sq(MSG_10)} AS msgid
FROM noderefs
WHERE ref_id IN (SELECT ref_id FROM victim_nodes)
  AND way_id NOT IN (SELECT ref_id FROM victim_ways)
UNION ALL
SELECT DISTINCT CAST(11 AS INT), 'relation', rel_id, {_sq(MSG_11)}
FROM members
WHERE member_type = 'N' AND ref_id IN (SELECT ref_id FROM victim_nodes)
UNION ALL
SELECT DISTINCT CAST(12 AS INT), 'relation', rel_id, {_sq(MSG_12)}
FROM members
WHERE member_type = 'W' AND ref_id IN (SELECT ref_id FROM victim_ways)
"""


def oracle_0410(d: str) -> str:
    """Check 0410 (websites) against the dataset's webcache — the
    independent SQL twin of checks/check_0410.run_cached, sharing only
    the configuration tables (data_tables.*_0410) and the documented
    PHP deviations (see the check module docstring)."""
    from .checks.check_0410 import (
        FRAME_RE, MAX_REDIRECTS, MSG_411, MSG_412, MSG_413, NOSCRIPT_RE,
        REFRESH_RE, WORD_STOPLIST,
    )
    from .data_tables import (
        ACCENT_FROM_0410, ACCENT_TO_0410, ACCESS_ONLY_0410,
        CHECKABLE_TAGS_0410, SEARCH_KEY_REGEX_0410, SEARCH_KEYS_0410,
        SQUAT_STRINGS_0410, UMLAUT_PAIRS_0410, WHITELIST_0410,
    )

    wl_re = _sq("(?i)(" + "|".join(WHITELIST_0410) + ")")
    wc = f"read_parquet('{d}/webcache.parquet')"
    stop = ", ".join(_sq(w) for w in WORD_STOPLIST)

    def words(n: str) -> str:
        return (f"list_filter(regexp_split_to_array({n}, '\\s+'), "
                f"w -> length(w) >= 4 AND w NOT IN ({stop}))")

    def any_found(hl: str, ws: str) -> str:
        return (f"(len({ws}) = 0 OR "
                f"len(list_filter({ws}, w -> instr({hl}, lower(w)) > 0)) > 0)")

    def cat(ws: str) -> str:
        return f"array_to_string({ws}, '')"

    def ascii_(n: str) -> str:
        return f"translate({n}, {_sq(ACCENT_FROM_0410)}, {_sq(ACCENT_TO_0410)})"

    def umlaut(n: str) -> str:
        out = n
        for a, b in UMLAUT_PAIRS_0410:
            out = f"replace({out}, {_sq(a)}, {_sq(b)})"
        return out

    def nopunct(n: str) -> str:
        return f"regexp_replace({n}, '\\pP', '', 'g')"

    # one match() run (0410:862-939) as a struct expression; hl / h3l
    # are the lower()ed haystacks, n the needle
    def match(hl: str, h3l: str, n: str) -> str:
        m1 = f"(instr({hl}, lower({n})) > 0)"
        w2, c2 = words(n), cat(words(n))
        m2 = any_found(hl, w2)
        n3 = ascii_(n)
        run3 = f"({n3} <> {n} AND {n3} <> {c2})"
        w3, c3 = words(n3), cat(words(n3))
        m3 = f"({run3} AND {any_found(hl, w3)})"
        n4 = umlaut(n)
        run4 = (f"({n4} <> {n} AND {n4} <> {c2} "
                f"AND NOT ({run3} AND {n4} = {c3}))")
        w4, c4 = words(n4), cat(words(n4))
        m4 = f"({run4} AND {any_found(hl, w4)})"
        n5 = nopunct(n)
        prior5 = (f"({n5} = {n} OR {n5} = {c2} OR ({run3} AND {n5} = {c3}) "
                  f"OR ({run4} AND {n5} = {c4}))")
        w5, c5 = words(n5), cat(words(n5))
        m5 = f"(NOT {prior5} AND {any_found(hl, w5)})"
        prior6 = f"({prior5} OR {n5} = {c5})"
        m6 = f"(NOT {prior6} AND {any_found(h3l, w5)})"
        matched = f"({m1} OR {m2} OR {m3} OR {m4} OR {m5} OR {m6})"
        variations = (
            f"list_concat(list_concat(list_concat(list_concat([{n}, {c2}], "
            f"CASE WHEN {run3} THEN [{c3}] ELSE [] END), "
            f"CASE WHEN {run4} THEN [{c4}] ELSE [] END), "
            f"CASE WHEN NOT {prior5} THEN [{c5}] ELSE [] END), "
            f"CASE WHEN NOT {prior6} THEN [{c5}] ELSE [] END)"
        )
        # order-preserving unique (PHP array_unique keeps the first
        # occurrence; DuckDB's list_distinct does not guarantee order)
        uniq = (f"list_filter({variations}, "
                f"(x, i) -> list_position({variations}, x) = i)")
        searched = f"array_to_string({uniq}, '✔')"
        return (f"struct_pack(matched := {matched}, searched := {searched})")

    per = match("hl", "h3l", "n")

    # queueURL + normalize_url twins (0410:616-625,963-976)
    def queue_norm(u: str) -> str:
        return (f"(CASE WHEN instr(trim({u}), '://') > 0 THEN trim({u}) "
                f"ELSE 'http://' || trim({u}) END)")

    def normalize_rel(u: str, ref: str) -> str:
        scheme = f"regexp_extract({ref}, '^([a-zA-Z][a-zA-Z0-9+.-]*)://', 1)"
        host = f"regexp_extract({ref}, '^[a-zA-Z][a-zA-Z0-9+.-]*://([^/]*)', 1)"
        joined = (f"({scheme} || '://' || {host} || "
                  f"CASE WHEN starts_with({u}, '/') THEN {u} ELSE '/' || {u} END)")
        return (f"(CASE WHEN instr({u}, '://') > 0 OR instr({u}, 'www.') > 0 "
                f"THEN {u} ELSE {joined} END)")

    ent = "body"
    for e, ch in [("&lt;", "<"), ("&gt;", ">"), ("&quot;", '"'),
                  ("&#039;", "'"), ("&amp;", "&")]:
        ent = f"replace({ent}, {_sq(e)}, {_sq(ch)})"

    quotes = _sq("'" + '"')  # strip both quote kinds from the target
    refresh_t = (f"trim(translate(regexp_extract(regexp_replace(body, "
                 f"{_sq(NOSCRIPT_RE)}, ''), {_sq(REFRESH_RE)}, 1), "
                 f"{quotes}, ''))")
    hop_to = (f"CASE WHEN http_code BETWEEN 200 AND 299 AND NOT access_only "
              f"AND {refresh_t} NOT IN ('', '/') THEN {refresh_t} END")

    squat_structs = ", ".join(
        f"struct_pack(pos := instr(haystack, {_sq(s)}), idx := {i}, s := {_sq(s)})"
        for i, s in enumerate(SQUAT_STRINGS_0410)
    )
    squat = (f"list_sort(list_filter([{squat_structs}], r -> r.pos > 0))[1].s")

    hop_ctes = "".join(
        f""",
s{i} AS (
    SELECT p.object_type, p.id, p.access_only, p.needles, p.url,
           COALESCE(c.http_code, 0) AS http_code,
           CASE WHEN NOT p.access_only
                THEN {ent.replace('body', "COALESCE(c.body, '')")}
                ELSE COALESCE(c.body, '') END AS body
    FROM (SELECT object_type, id, access_only, needles,
                 {queue_norm(normalize_rel('hop_to', 'url'))} AS url
          FROM h{i - 1} WHERE hop_to IS NOT NULL) p
    LEFT JOIN {wc} c ON c.url = p.url
),
h{i} AS (SELECT *, {hop_to} AS hop_to FROM s{i})"""
        for i in range(1, MAX_REDIRECTS + 1)
    )
    resolved_union = "\nUNION ALL\n".join(
        f"    SELECT object_type, id, access_only, needles, url, http_code, body "
        f"FROM h{i} WHERE hop_to IS NULL"
        for i in range(MAX_REDIRECTS + 1)
    )

    fixed_cases = ",\n            ".join(
        f"MAX(CASE WHEN k = {_sq(k)} THEN v END) AS f{i}"
        for i, k in enumerate(SEARCH_KEYS_0410)
    )
    fixed_list = "[" + ", ".join(f"f{i}" for i in range(len(SEARCH_KEYS_0410))) + "]"

    return f"""
WITH all_tags AS (
    SELECT DISTINCT 'node' AS object_type, node_id AS id, k, v
    FROM read_parquet('{d}/oracle/node_tags.parquet')
    UNION
    SELECT DISTINCT 'way', way_id, k, v
    FROM read_parquet('{d}/oracle/way_tags.parquet')
    UNION
    SELECT DISTINCT 'relation', relation_id, k, v
    FROM read_parquet('{d}/oracle/relation_tags.parquet')
),
urltag AS (
    SELECT object_type, id, MAX(v) AS urltag
    FROM all_tags
    WHERE k IN ({", ".join(_sq(k) for k in CHECKABLE_TAGS_0410)})
      AND NOT regexp_matches(v, {wl_re})
    GROUP BY object_type, id
),
fixedk AS (
    SELECT object_type, id, {fixed_cases}
    FROM all_tags
    WHERE k IN ({", ".join(_sq(k) for k in SEARCH_KEYS_0410)})
    GROUP BY object_type, id
),
rexk AS (
    SELECT object_type, id, list(v ORDER BY k) AS rex_needles
    FROM (SELECT object_type, id, k, MAX(v) AS v FROM all_tags
          WHERE regexp_matches(k, {_sq("(?i)" + SEARCH_KEY_REGEX_0410)})
          GROUP BY object_type, id, k)
    GROUP BY object_type, id
),
obj AS (
    SELECT u.object_type, u.id,
           EXISTS (SELECT 1 FROM all_tags t
                   WHERE t.object_type = u.object_type AND t.id = u.id
                     AND t.k IN ({", ".join(_sq(k) for k in ACCESS_ONLY_0410)})
                  ) AS access_only,
           list_concat(
               COALESCE(list_filter({fixed_list}, x -> x IS NOT NULL), []),
               COALESCE(rex_needles, [])
           ) AS needles,
           u.urltag
    FROM urltag u
    LEFT JOIN fixedk f USING (object_type, id)
    LEFT JOIN rexk r USING (object_type, id)
),
urls AS (
    SELECT object_type, id, access_only, needles,
           {queue_norm('rawurl')} AS url
    FROM (SELECT *, unnest(list_transform(
              string_split(replace(urltag, ';;', chr(0)), ';'),
              x -> replace(x, chr(0), ';'))) AS rawurl
          FROM obj)
),
s0 AS (
    SELECT p.object_type, p.id, p.access_only, p.needles, p.url,
           COALESCE(c.http_code, 0) AS http_code,
           CASE WHEN NOT p.access_only
                THEN {ent.replace('body', "COALESCE(c.body, '')")}
                ELSE COALESCE(c.body, '') END AS body
    FROM urls p LEFT JOIN {wc} c ON c.url = p.url
),
h0 AS (SELECT *, {hop_to} AS hop_to FROM s0){hop_ctes},
resolved AS (
{resolved_union}
),
e411 AS (
    SELECT CAST(411 AS INT) AS error_type, object_type, id AS object_id,
           {_sq(MSG_411)} AS msgid, url AS txt1,
           CAST(http_code AS VARCHAR) AS txt2
    FROM resolved
    WHERE http_code <> 0 AND (http_code < 200 OR http_code > 299)
),
content AS (
    SELECT *, regexp_extract_all(body, {_sq(FRAME_RE)}, 1) AS frame_srcs
    FROM resolved
    WHERE http_code BETWEEN 200 AND 299 AND NOT access_only
),
frame_rows AS (
    SELECT object_type, id, url,
           unnest(frame_srcs) AS fsrc,
           generate_subscripts(frame_srcs, 1) AS pos
    FROM content
),
frame_bodies AS (
    SELECT f.object_type, f.id, f.url,
           string_agg(furl || chr(10) || COALESCE(c.body, ''), ''
                      ORDER BY f.pos) AS frame_body
    FROM (SELECT *, {normalize_rel('fsrc', 'url')} AS furl FROM frame_rows) f
    LEFT JOIN {wc} c ON c.url = f.furl
    GROUP BY f.object_type, f.id, f.url
),
hays AS (
    SELECT c.object_type, c.id, c.url, c.needles,
           c.body || COALESCE(fb.frame_body, '') AS haystack
    FROM content c
    LEFT JOIN frame_bodies fb
      ON fb.object_type = c.object_type AND fb.id = c.id AND fb.url = c.url
),
classified AS (
    SELECT object_type, id, url, {squat} AS squat,
           (len(needles) = 0 OR
            len(list_filter(per, r -> r.matched)) > 0) AS matched,
           array_to_string(list_transform(per, r -> r.searched), '') AS searched
    FROM (SELECT *, lower(haystack) AS hl,
                 lower(regexp_replace(haystack, '\\pP', ' ', 'g')) AS h3l,
                 list_transform(needles, n -> {per}) AS per
          FROM hays)
),
e412 AS (
    SELECT CAST(412 AS INT), object_type, id, {_sq(MSG_412)}, url, squat
    FROM classified WHERE squat IS NOT NULL
),
e413 AS (
    SELECT CAST(413 AS INT), object_type, id, {_sq(MSG_413)}, url, searched
    FROM classified
    WHERE squat IS NULL AND NOT matched AND searched <> ''
)
SELECT DISTINCT * FROM (
    SELECT * FROM e411
    UNION ALL SELECT * FROM e412
    UNION ALL SELECT * FROM e413
)
"""


def _sq(s: str) -> str:
    """SQL string literal."""
    return "'" + s.replace("'", "''") + "'"


def _html(expr: str) -> str:
    from .lib import HTML_ESCAPE_SQL

    return HTML_ESCAPE_SQL.format(expr)


ALL_TAGS_SQL = """
all_tags AS (
    SELECT tile, node_id AS id, 'node' AS otype, k, v FROM node_tags
    UNION ALL
    SELECT tile, way_id AS id, 'way' AS otype, k, v FROM way_tags
    UNION ALL
    SELECT tile, relation_id AS id, 'relation' AS otype, k, v FROM relation_tags
)"""


def oracle_0060(d: str) -> str:
    from .data_tables import DEPRECATED_RULES

    vals = ",\n        ".join(
        f"({i}, {_sq(k)}, {'NULL' if v == '*' else _sq(v)}, "
        f"{_sq(r.strip())}, {str(len(r.strip()) > 1).upper()})"
        for i, k, v, r in DEPRECATED_RULES
    )
    # SQL-escaped form of: This $1 uses deprecated tag '$2=$3'
    msg_base = "This $1 uses deprecated tag ''$2=$3''"
    body = f"""
{ALL_TAGS_SQL},
rules(rule_idx, rk, rv, repl, has_repl) AS (
    VALUES {vals}
),
matches AS (
    SELECT t.tile, t.id, t.otype, t.k, t.v, r.repl, r.has_repl,
           ROW_NUMBER() OVER (PARTITION BY t.tile, t.otype, t.id
                              ORDER BY r.rule_idx) AS rn
    FROM all_tags t JOIN rules r
      ON t.k LIKE r.rk AND (r.rv IS NULL OR t.v LIKE r.rv)
),
err AS (
    SELECT {err_select(60, 'otype', 'id',
        f"CASE WHEN has_repl THEN '{msg_base}. Please use &quot;$4&quot; instead!' ELSE '{msg_base}' END",
        txt1='otype', txt2=_html('k'), txt3=_html('v'),
        txt4="CASE WHEN has_repl THEN TRIM(repl) ELSE '' END")}
    FROM matches WHERE rn = 1
)"""
    return wrap(d, body)


def oracle_0070(d: str) -> str:
    taglist = (
        "string_agg('\"' || COALESCE(k,'') || '=' || COALESCE(v,'') || '\"', "
        "', ' ORDER BY k, v)"
    )
    empty = "(k IS NULL OR LENGTH(TRIM(k))=0 OR v IS NULL OR LENGTH(TRIM(v))=0)"
    e74 = "\n    UNION ALL\n".join(
        f"""    SELECT {err_select(74, ot, 'id', "'This $1 has an empty tag: $2'",
            txt1=f"'{ot}'", txt2=_html(taglist))}
    FROM (SELECT tile, {ot}_id AS id, k, v FROM {ot}_tags WHERE {empty})
    GROUP BY tile, id"""
        for ot in ("node", "way", "relation")
    )
    e75 = "\n    UNION ALL\n".join(
        f"""    SELECT {err_select(75, ot, 't.id',
            f"'This {ot} has a name ($1) but no other tag'", txt1='t.v')}
    FROM (SELECT tile, {ot}_id AS id, k, v FROM {ot}_tags) t
    WHERE t.k='name' AND NOT EXISTS (
        SELECT 1 FROM {ot}_tags o
        WHERE o.tile=t.tile AND o.{ot}_id=t.id AND o.k <> 'name')"""
        for ot in ("way", "node")
    )
    body = f"""
err AS (
{e74}
    UNION ALL
    SELECT {err_select(71, 'way', 'w.id', "'This way has no tags'")}
    FROM ways w
    WHERE NOT EXISTS (
        SELECT 1 FROM way_tags t WHERE t.tile=w.tile AND t.way_id=w.id
          AND t.k NOT IN ('created_by','source'))
      AND NOT EXISTS (
        SELECT 1 FROM relation_members rm
        JOIN relation_tags rt ON rm.tile=rt.tile AND rm.relation_id=rt.relation_id
        WHERE rm.tile=w.tile AND rm.member_id=w.id AND rm.member_type='W'
          AND rt.k IS NOT NULL)
    UNION ALL
    SELECT {err_select(72, 'node', 'n.id',
        "'This node is not member of any way and does not have any tags'")}
    FROM nodes n
    WHERE NOT EXISTS (SELECT 1 FROM way_nodes wn
                      WHERE wn.tile=n.tile AND wn.node_id=n.id)
      AND NOT EXISTS (SELECT 1 FROM node_tags nt
                      WHERE nt.tile=n.tile AND nt.node_id=n.id)
      AND NOT EXISTS (SELECT 1 FROM relation_members rm
                      WHERE rm.tile=n.tile AND rm.member_id=n.id
                        AND rm.member_type='N')
    UNION ALL
    SELECT {err_select(73, 'way', 't.way_id',
        "'This way has a $1 tag but no highway tag'", txt1='MIN(t.k)')}
    FROM way_tags t
    WHERE t.k IN ('tracktype','lanes') AND NOT EXISTS (
        SELECT 1 FROM way_tags w
        WHERE w.tile=t.tile AND w.way_id=t.way_id
          AND (w.k IN ('highway','disused:highway','razed:highway',
                       'abandoned:highway','proposed:highway','piste:type')
               OR (w.k='leisure' AND w.v='track')))
    GROUP BY t.tile, t.way_id
    UNION ALL
{e75}
)"""
    return wrap(d, body)


def oracle_0090(d: str) -> str:
    msg = (
        "'This way is tagged as motorway and therefore needs a ref, "
        "nat_ref or int_ref tag'"
    )
    body = f"""
err AS (
    SELECT {err_select(90, 'way', 'b.way_id', msg)}
    FROM (SELECT DISTINCT tile, way_id FROM way_tags
          WHERE k='highway' AND v='motorway') b
    WHERE NOT EXISTS (
        SELECT 1 FROM way_tags wt WHERE wt.tile=b.tile AND wt.way_id=b.way_id
          AND wt.k IN ('noref','ref','nat_ref','int_ref'))
      AND NOT EXISTS (
        SELECT 1 FROM relation_members rm
        JOIN relation_tags rt ON rt.tile=rm.tile AND rt.relation_id=rm.relation_id
        WHERE rm.tile=b.tile AND rm.member_type='W' AND rm.member_id=b.way_id
          AND rt.k IN ('noref','ref','nat_ref','int_ref'))
)"""
    return wrap(d, body)


def oracle_0100(d: str) -> str:
    msg = "'This $1 is tagged as place of worship and therefore needs a religion tag'"
    parts = "\n    UNION ALL\n".join(
        f"""    SELECT {err_select(100, ot, 'b.id', msg, txt1=f"'{ot}'")}
    FROM (SELECT DISTINCT tile, {ot}_id AS id FROM {ot}_tags
          WHERE k='amenity' AND v='place_of_worship') b
    WHERE NOT EXISTS (
        SELECT 1 FROM {ot}_tags t WHERE t.tile=b.tile AND t.{ot}_id=b.id
          AND t.k IN ('religion','denomination'))"""
        for ot in ("node", "way")
    )
    return wrap(d, f"err AS (\n{parts}\n)")


def oracle_0110(d: str) -> str:
    groups = [
        (
            "'place_of_worship','pub','restaurant','school','university',"
            "'hospital','library','theatre','courthouse'",
            "'name'",
            "'This node is tagged as $1 and therefore needs a name tag'",
        ),
        (
            "'bank','cinema','pharmacy','cafe'",
            "'name','operator'",
            "'This node is tagged as $1 and therefore needs a name tag or an operator tag'",
        ),
        (
            "'fast_food','fuel'",
            "'name','operator','brand'",
            "'This node is tagged as $1 and therefore needs a name, operator or brand tag'",
        ),
    ]
    parts = "\n    UNION ALL\n".join(
        f"""    SELECT {err_select(110, 'node', 'b.node_id', msg, txt1=_html('b.v'))}
    FROM (SELECT tile, node_id, MIN(v) AS v FROM node_tags
          WHERE k='amenity' AND v IN ({am}) GROUP BY tile, node_id) b
    WHERE NOT EXISTS (
        SELECT 1 FROM node_tags nt WHERE nt.tile=b.tile AND nt.node_id=b.node_id
          AND nt.k IN ({need}))"""
        for am, need, msg in groups
    )
    return wrap(d, f"err AS (\n{parts}\n)")


def oracle_0120(d: str) -> str:
    body = f"""
err AS (
    SELECT {err_select('node_count + 120', 'way', 'id',
        "CASE WHEN node_count=0 THEN 'This way has no nodes' ELSE 'This way has just one single node' END")}
    FROM ways WHERE node_count < 2
)"""
    return wrap(d, body)


def oracle_0150(d: str) -> str:
    msg = (
        "'This crossing of a highway and a railway needs to be tagged as "
        "railway=crossing or railway=level_crossing'"
    )
    body = f"""
railway_nodes AS (
    SELECT DISTINCT wn.tile, wn.way_id, wn.node_id
    FROM way_tags wt JOIN way_nodes wn
      ON wt.tile=wn.tile AND wt.way_id=wn.way_id
    WHERE wt.k='railway' AND wt.v NOT IN
        ('disused','dismantled','abandoned','preproposed','proposed',
         'tram','tram:disused','tram;disused','construction',
         'platform','Platform','plattform','plateform','razed',
         'station','abandoned_station','station_site','disused_station')
      AND NOT EXISTS (
        SELECT 1 FROM way_tags t WHERE t.tile=wt.tile AND t.way_id=wt.way_id
          AND t.k='disused' AND t.v IN ('yes','true','1'))
),
err AS (
    SELECT DISTINCT {err_select(150, 'node', 'r.node_id', msg, tile='r.tile')}
    FROM railway_nodes r
    WHERE EXISTS (
        SELECT 1 FROM way_nodes wn
        WHERE wn.tile=r.tile AND wn.node_id=r.node_id AND wn.way_id<>r.way_id
          AND EXISTS (SELECT 1 FROM way_tags wt
                      WHERE wt.tile=wn.tile AND wt.way_id=wn.way_id
                        AND wt.k='highway'
                        AND wt.v NOT IN ('construction','preproposed','proposed','service')))
      AND NOT EXISTS (
        SELECT 1 FROM node_tags nt
        WHERE nt.tile=r.tile AND nt.node_id=r.node_id AND nt.k='railway'
          AND nt.v IN ('level_crossing','crossing','station'))
)"""
    return wrap(d, body)


def oracle_0160(d: str) -> str:
    from .lib import WAY_LAYERS_SQL

    m1 = "'There are ways in different layers coming together in this railway crossing'"
    m2 = "'There are ways tagged as tunnel or bridge coming together in this railway crossing'"
    body = f"""
{WAY_LAYERS_SQL.strip().rstrip(')')}),
lc_member AS (
    SELECT DISTINCT wn.tile, wn.way_id, wn.node_id
    FROM way_nodes wn
    WHERE EXISTS (SELECT 1 FROM node_tags nt
                  WHERE nt.tile=wn.tile AND nt.node_id=wn.node_id
                    AND nt.k='railway' AND nt.v='level_crossing')
),
err AS (
    SELECT {err_select(160, 'node', 'm.node_id', m1, tile='m.tile')}
    FROM lc_member m JOIN way_layers l ON m.tile=l.tile AND m.way_id=l.way_id
    GROUP BY m.tile, m.node_id
    HAVING COUNT(DISTINCT l.layer) > 1
    UNION ALL
    SELECT DISTINCT {err_select(160, 'node', 'm.node_id', m2, tile='m.tile')}
    FROM lc_member m
    WHERE EXISTS (SELECT 1 FROM way_tags wt
                  WHERE wt.tile=m.tile AND wt.way_id=m.way_id
                    AND wt.k IN ('bridge','tunnel')
                    AND wt.v NOT IN ('no','false','0'))
)"""
    return wrap(d, body)


def oracle_0170(d: str) -> str:
    cond = (
        "(k ILIKE '%fixme%' OR v ILIKE '%fixme%' OR (k='name' AND v='tbd') "
        "OR (k='ref' AND v='tbd') OR (k='highway' AND v='road'))"
    )
    taglist = (
        "string_agg('\"' || COALESCE(k,'') || '=' || COALESCE(v,'') || '\"', "
        "', ' ORDER BY k, v)"
    )
    parts = "\n    UNION ALL\n".join(
        f"""    SELECT {err_select(170, ot, 'id', "'$1'", txt1=_html(taglist))}
    FROM (SELECT tile, {ot}_id AS id, k, v FROM {ot}_tags WHERE {cond})
    GROUP BY tile, id"""
        for ot in ("node", "way", "relation")
    )
    return wrap(d, f"err AS (\n{parts}\n)")


def oracle_0180(d: str) -> str:
    msg = "'This relation has no type tag, which is mandatory for relations'"
    body = f"""
err AS (
    SELECT {err_select(180, 'relation', 'r.id', msg)}
    FROM relations r
    WHERE NOT EXISTS (SELECT 1 FROM relation_tags t
                      WHERE t.tile=r.tile AND t.relation_id=r.id AND t.k='type')
)"""
    return wrap(d, body)


def oracle_0210(d: str) -> str:
    m210 = "'This way contains node #$1 $2 times. This may or may not be an error'"
    m211 = (
        "'This way contains more than one node at least twice. Nodes are $1. "
        "This may or may not be an error'"
    )
    m212 = (
        "'This way has only two different nodes and contains one of them "
        "more than once'"
    )
    body = f"""
node_count AS (
    SELECT tile, way_id, node_id, COUNT(sequence_id) AS node_count
    FROM way_nodes GROUP BY tile, way_id, node_id
    HAVING COUNT(sequence_id) > 1
),
over2 AS (
    SELECT c.tile, c.way_id, c.node_id, c.node_count,
           1e7*n.lat AS lat, 1e7*n.lon AS lon,
           ROW_NUMBER() OVER (PARTITION BY c.tile, c.way_id, 1e7*n.lat, 1e7*n.lon
                              ORDER BY c.node_count DESC, c.node_id DESC) AS rn
    FROM node_count c JOIN nodes n ON c.tile=n.tile AND c.node_id=n.id
    WHERE c.node_count > 2
),
err AS (
    SELECT {err_select(210, 'way', 'way_id', m210,
        txt1='CAST(node_id AS VARCHAR)', txt2='CAST(node_count AS VARCHAR)',
        lat_d='lat', lon_d='lon')}
    FROM over2 WHERE rn = 1
    UNION ALL
    SELECT {err_select(211, 'way', 'way_id', m211,
        txt1="string_agg('#' || node_id, ', ' ORDER BY node_id)")}
    FROM node_count
    GROUP BY tile, way_id
    HAVING COUNT(node_id) > 1
    UNION ALL
    SELECT DISTINCT {err_select(212, 'way', 'nc.way_id', m212, tile='nc.tile')}
    FROM node_count nc
    WHERE EXISTS (
        SELECT 1 FROM way_nodes wn
        WHERE wn.tile=nc.tile AND wn.way_id=nc.way_id
        GROUP BY wn.tile, wn.way_id
        HAVING COUNT(DISTINCT wn.node_id) <= 2)
)"""
    return wrap(d, body)


def oracle_0300(d: str) -> str:
    from .lib import WAY_LENGTHS_SQL

    body = f"""
{WAY_LENGTHS_SQL.strip().rstrip(')')}),
err AS (
    SELECT {err_select(300, 'way', 'w.id', "'missing maxspeed tag'", tile='w.tile')}
    FROM ways w JOIN way_lengths l ON w.tile=l.tile AND w.id=l.way_id
    WHERE EXISTS (
        SELECT 1 FROM way_tags wt WHERE wt.tile=w.tile AND wt.way_id=w.id
          AND wt.k='highway' AND wt.v IN ('motorway','trunk','primary','secondary'))
      AND NOT EXISTS (
        SELECT 1 FROM way_tags wt WHERE wt.tile=w.tile AND wt.way_id=w.id
          AND (wt.k IN ('maxspeed','maxspeed:forward','maxspeed:backward')
               OR (wt.k='junction' AND wt.v='roundabout')
               OR (wt.k IN ('bridge','tunnel') AND wt.v NOT IN ('no','false','0'))))
      AND l.length > 50
)"""
    return wrap(d, body)


def oracle_0320(d: str) -> str:
    msg = (
        "'This way is tagged as highway=$1_link but doesn''t have a connection "
        "to any other $1 or $1_link'"
    )
    body = f"""
links AS (
    SELECT DISTINCT tile, way_id, substr(v, 1, strpos(v, '_')-1) AS cls
    FROM way_tags
    WHERE k='highway' AND v IN ('motorway_link','trunk_link','primary_link','secondary_link')
),
matched AS (
    SELECT DISTINCT l.tile, l.way_id
    FROM links l
    JOIN way_nodes wn ON wn.tile=l.tile AND wn.way_id=l.way_id
    JOIN way_nodes wn2 ON wn2.tile=l.tile AND wn2.node_id=wn.node_id
                      AND wn2.way_id <> l.way_id
    JOIN way_tags ht ON ht.tile=l.tile AND ht.way_id=wn2.way_id
                    AND ht.k='highway'
                    AND (ht.v=l.cls OR ht.v=l.cls || '_link')
),
err AS (
    SELECT {err_select(320, 'way', 'l.way_id', msg, txt1='l.cls', tile='l.tile')}
    FROM links l
    WHERE NOT EXISTS (SELECT 1 FROM matched m
                      WHERE m.tile=l.tile AND m.way_id=l.way_id)
)"""
    return wrap(d, body)


def oracle_0350(d: str) -> str:
    wt = (
        "'highway','railway','cycleway','waterway','footway','piste',"
        "'piste:type','aerialway','pipeline','building','via_ferrata',"
        "'public_transport','man_made'"
    )
    msg = (
        "'This bridge does not have a tag in common with its surrounding ways "
        "that shows the purpose of this bridge. There should be one of these "
        "tags: $1'"
    )
    body = f"""
bridges AS (
    SELECT b.tile, b.way_id, w.first_node_id, w.last_node_id
    FROM (SELECT DISTINCT tile, way_id FROM way_tags
          WHERE k='bridge' AND v NOT IN ('no','false','0')) b
    JOIN ways w ON w.tile=b.tile AND w.id=b.way_id
),
bridge_tags0 AS (
    SELECT t.tile, t.way_id, t.k, t.v
    FROM way_tags t JOIN bridges b ON t.tile=b.tile AND t.way_id=b.way_id
    WHERE t.k IN ({wt})
),
bridge_tags AS (
    SELECT * FROM bridge_tags0
    UNION ALL
    SELECT tile, way_id, 'building', '' FROM bridge_tags0
    WHERE k='man_made' AND v='pipeline'
),
neighbours AS (
    SELECT DISTINCT b.tile, b.way_id, wn.way_id AS nb_way_id
    FROM bridges b JOIN way_nodes wn
      ON wn.tile=b.tile AND wn.node_id IN (b.first_node_id, b.last_node_id)
),
nb_tags AS (
    SELECT DISTINCT n.tile, n.way_id, t.k, t.v
    FROM neighbours n JOIN way_tags t
      ON t.tile=n.tile AND t.way_id=n.nb_way_id
    WHERE t.k IN ({wt})
),
err AS (
    SELECT {err_select(350, 'way', 'tn.way_id', msg, tile='tn.tile',
        txt1=_html("string_agg(tn.k || '=' || tn.v, ',' ORDER BY tn.k, tn.v)"))}
    FROM nb_tags tn LEFT JOIN bridge_tags tb
      ON tb.tile=tn.tile AND tb.way_id=tn.way_id AND tb.k=tn.k AND tb.v=tn.v
    GROUP BY tn.tile, tn.way_id
    HAVING bool_and(tb.way_id IS NULL)
)"""
    return wrap(d, body)


def oracle_0360(d: str) -> str:
    msg = (
        "'It would be nice if this $1 had an additional tag ''name:XX=$2'' "
        "where XX shows the language of its name ''$2''.'"
    )
    parts = "\n    UNION ALL\n".join(
        f"""    SELECT {err_select(360, ot, 't.id', msg,
            txt1=f"'{ot}'", txt2=_html('MAX(t.v)'))}
    FROM (SELECT tile, {ot}_id AS id, k, v FROM {ot}_tags) t
    WHERE t.k='name' AND EXISTS (
        SELECT 1 FROM {ot}_tags o
        WHERE o.tile=t.tile AND o.{ot}_id=t.id AND o.k LIKE 'name:__')
      AND NOT EXISTS (
        SELECT 1 FROM {ot}_tags o
        WHERE o.tile=t.tile AND o.{ot}_id=t.id AND o.v=t.v AND o.k LIKE 'name:__')
    GROUP BY t.tile, t.id"""
        for ot in ("node", "way", "relation")
    )
    return wrap(d, f"err AS (\n{parts}\n)")


def oracle_0380(d: str) -> str:
    msg = (
        "'This way is tagged $1 but has no physical tag like e.g. leisure, "
        "building, amenity or highway'"
    )
    body = f"""
err AS (
    SELECT {err_select(380, 'way', 't.way_id', msg, tile='t.tile',
        txt1="'sport=' || " + _html('MIN(t.v)'))}
    FROM way_tags t
    WHERE t.k='sport' AND NOT EXISTS (
        SELECT 1 FROM way_tags o
        WHERE o.tile=t.tile AND o.way_id=t.way_id
          AND (o.k IN ('leisure','piste','building','natural','landuse',
                       'highway','bridge','ski_resort','route','tourism',
                       'amenity','shop')
               OR o.k LIKE 'piste:%'))
    GROUP BY t.tile, t.way_id
)"""
    return wrap(d, body)


def oracle_0390(d: str) -> str:
    body = f"""
err AS (
    SELECT {err_select(390, 'way', 't.way_id', quote_msg_390(), tile='t.tile')}
    FROM way_tags t
    WHERE t.k='highway' AND t.v='track' AND NOT EXISTS (
        SELECT 1 FROM way_tags o
        WHERE o.tile=t.tile AND o.way_id=t.way_id AND o.k='tracktype')
    GROUP BY t.tile, t.way_id
)"""
    return wrap(d, body)


def quote_msg_390() -> str:
    return "'This track doesn''t have a tracktype'"


def oracle_0420(d: str) -> str:
    msg_incline = (
        "'This $1 is tagged incline=$2 which seems to not use the correct "
        "number format. The unit should be per cent or degrees and no spaces "
        "should be added'"
    )
    msg_unit = (
        "'This $1 is tagged $2=$3 which seems to not use the correct number "
        "format. The unit should be meter, kilometer, miles or feet/inch. "
        "A space should be added between number and unit'"
    )
    msg_list = (
        "'This way is tagged $1=$2. A list of values does not match the "
        "purpose of this key'"
    )
    msg_yesno = (
        "'This $3 is tagged $1=$2. Having yes and no both in the same value "
        "seems wrong.'"
    )
    msg_combo = (
        "'This object is tagged $1 = $2 and $3 = $4 which seems wrong. "
        "Consider $5.'"
    )
    height_keys = (
        "'height','maxheight','min_height','width','maxwidth','distance',"
        "'length','maxlength'"
    )
    list_keys = (
        "'maxspeed','oneway','cycleway','sidewalk','highway','landuse',"
        "'tracktype','layer','width','lanes','smoothness','trail_visibility'"
    )
    per_type = []
    for ot in ("node", "way", "relation"):
        t = f"{ot}_tags"
        i = f"{ot}_id"
        per_type.append(f"""    SELECT {err_select(421, ot, f'b.{i}', msg_incline,
            txt1=f"'{ot}'", txt2='b.v', tile='b.tile')}
    FROM {t} b
    WHERE b.k='incline' AND b.v <> '0' AND regexp_matches(b.v, '\\d')
      AND NOT regexp_matches(b.v, '^[+-]?\\d+(\\.\\d+)?[%°]?$')
    UNION ALL
    SELECT {err_select(421, ot, f'b.{i}', msg_unit,
            txt1=f"'{ot}'", txt2='b.k', txt3='b.v', tile='b.tile')}
    FROM {t} b
    WHERE b.k IN ({height_keys}) AND regexp_matches(b.v, '\\d')
      AND NOT regexp_matches(b.v, '^[+-]?\\d+(\\.\\d+)?(\\s(m|km|mi|nmi))?$')
      AND NOT regexp_matches(b.v, '^\\d+''\\d+"$')
    UNION ALL
    SELECT {err_select(421, ot, f'b.{i}', msg_unit,
            txt1=f"'{ot}'", txt2='b.k', txt3='b.v', tile='b.tile')}
    FROM {t} b
    WHERE b.k IN ('maxspeed','minspeed') AND regexp_matches(b.v, '\\d')
      AND NOT regexp_matches(b.v, '^\\d+(\\.\\d+)?(\\s(km/h|mph|knots))?$')
    UNION ALL
    SELECT {err_select(422, ot, f'b.{i}', msg_yesno,
            txt1='b.k', txt2='b.v', txt3=f"'{ot}'", tile='b.tile')}
    FROM {t} b
    WHERE regexp_matches(b.v, '(yes|no)\\s*;\\s*(yes|no)')
    UNION ALL
    SELECT {err_select(424, ot, f'b.{i}', msg_combo,
            txt1="'golf'", txt2="'bunker'", txt3="'natural'",
            txt4="'beach'", txt5="'natural=sand'", tile='b.tile')}
    FROM {t} b
    WHERE b.k='golf' AND b.v='bunker' AND EXISTS (
        SELECT 1 FROM {t} w WHERE w.tile=b.tile AND w.{i}=b.{i}
          AND w.k='natural' AND w.v='beach')""")
    parts = "\n    UNION ALL\n".join(per_type)
    body = f"""
err AS (
{parts}
    UNION ALL
    SELECT {err_select(422, 'way', 'b.way_id', msg_list,
        txt1='b.k', txt2='b.v', tile='b.tile')}
    FROM way_tags b
    WHERE b.k IN ({list_keys}) AND b.v LIKE '%;%'
    UNION ALL
    SELECT {err_select(423, 'way', 'b.way_id',
        quote_msg_423('way'), txt1='b.k', tile='b.tile')}
    FROM way_tags b
    WHERE b.k='addr:housename' AND regexp_matches(b.v, '^\\d+$')
    UNION ALL
    SELECT {err_select(423, 'node', 'b.node_id',
        quote_msg_423('node'), txt1='b.k', tile='b.tile')}
    FROM node_tags b
    WHERE b.k='addr:housename' AND regexp_matches(b.v, '^\\d+$')
)"""
    return wrap(d, body)


def quote_msg_423(ot: str) -> str:
    return (
        f"'This {ot} is tagged with $1 and a numeric value. "
        "This is rather unusual.'"
    )


def oracle_0040(d: str) -> str:
    from .lib import FIND_ONEWAYS_SQL

    msg_f = "'The first node (id $1) of this one-way is not connected to any other way'"
    msg_l = "'The last node (id $1) of this one-way is not connected to any other way'"
    msg_42 = "'This node cannot be reached, because one-ways only lead away from here'"
    msg_43 = "'You cannot escape from this node, because one-ways only lead to here'"

    def dangling(which: str, etype: int, msg: str) -> str:
        return f"""    SELECT {err_select(etype, 'way', 'o.way_id', msg,
            txt1=f'CAST(o.{which}_node_id AS VARCHAR)',
            lat_d=f'1e7*o.{which}_node_lat', lon_d=f'1e7*o.{which}_node_lon',
            tile='o.tile')}
    FROM one_ways o
    WHERE o.first_node_id <> o.last_node_id
      AND NOT EXISTS (SELECT 1 FROM node_tags nt
                      WHERE nt.tile=o.tile AND nt.node_id=o.{which}_node_id
                        AND nt.k='amenity' AND nt.v='parking_entrance')
      AND NOT EXISTS (SELECT 1 FROM way_nodes wn
                      WHERE wn.tile=o.tile AND wn.node_id=o.{which}_node_id
                        AND wn.way_id <> o.way_id)
      AND NOT EXISTS (SELECT 1 FROM way_nodes wn2
                      WHERE wn2.tile=o.tile AND wn2.node_id=o.{which}_node_id
                        AND wn2.way_id=o.way_id
                      GROUP BY wn2.way_id, wn2.node_id
                      HAVING COUNT(DISTINCT wn2.sequence_id) > 1)"""

    def junction(which: str, etype: int, msg: str) -> str:
        return f"""    SELECT {err_select(etype, 'node', 'j.node_id', msg, tile='j.tile')}
    FROM (
        SELECT o.tile, o.{which}_node_id AS node_id
        FROM one_ways o
        WHERE o.{which}_node_id IS NOT NULL
          AND NOT EXISTS (SELECT 1 FROM one_ways x
                          WHERE x.tile=o.tile AND x.first_node_id=x.last_node_id
                            AND x.first_node_id=o.{which}_node_id)
        GROUP BY o.tile, o.{which}_node_id
        HAVING COUNT(DISTINCT o.way_id) > 1
    ) j
    WHERE NOT EXISTS (
        SELECT 1 FROM way_nodes wn
        WHERE wn.tile=j.tile AND wn.node_id=j.node_id
          AND wn.way_id NOT IN (SELECT o.way_id FROM one_ways o
                                WHERE o.tile=j.tile
                                  AND o.{which}_node_id=j.node_id))"""

    body = (
        FIND_ONEWAYS_SQL.strip()
        + ",\nerr AS (\n"
        + "\n    UNION ALL\n".join(
            [
                dangling("first", 40, msg_f),
                dangling("last", 41, msg_l),
                junction("first", 42, msg_42),
                junction("last", 43, msg_43),
            ]
        )
        + "\n)"
    )
    return wrap(d, body)


def oracle_0230(d: str) -> str:
    from .lib import WAY_LAYERS_SQL

    m231 = "'This node is a junction of ways on different layers: $1'"
    m232 = (
        "'This $1 is tagged with layer $2. This need not be an error, "
        "but it looks strange'"
    )
    m233 = (
        "'This waterway has layer=-1 but no tag indicating that it actually is "
        "underground. Consider adding a tunnel, culvert or pipeline tag or "
        "remove the layer tag.'"
    )
    waylist = _html("'' || layer || ''")
    body = f"""
{WAY_LAYERS_SQL.strip().rstrip(')')}),
highways AS (
    SELECT DISTINCT tile, way_id FROM way_tags
    WHERE k='highway' AND v <> 'steps'
),
hw_nodes AS (
    SELECT wn.tile, wn.way_id, wn.node_id
    FROM way_nodes wn JOIN highways h ON wn.tile=h.tile AND wn.way_id=h.way_id
),
junctions AS (
    SELECT tile, node_id FROM hw_nodes
    GROUP BY tile, node_id HAVING COUNT(DISTINCT way_id) > 1
),
pinfo AS (
    SELECT p.tile, p.way_id, p.node_id, COALESCE(l.layer, '0') AS layer,
           (p.node_id=w.first_node_id OR p.node_id=w.last_node_id) AS end_node
    FROM (SELECT DISTINCT hn.tile, hn.way_id, hn.node_id
          FROM hw_nodes hn JOIN junctions j
            ON hn.tile=j.tile AND hn.node_id=j.node_id) p
    LEFT JOIN way_layers l ON l.tile=p.tile AND l.way_id=p.way_id
    LEFT JOIN ways w ON w.tile=p.tile AND w.id=p.way_id
),
stats AS (
    SELECT tile, node_id,
           COUNT(DISTINCT layer) AS nlayers,
           COUNT(*) AS nrows,
           bool_and(end_node) AS all_end,
           bool_and(NOT end_node) AS all_intermediate,
           string_agg('#' || way_id || '(' || {waylist} || ')',
                      ',' ORDER BY way_id) AS waylist
    FROM pinfo GROUP BY tile, node_id
),
err AS (
    SELECT {err_select(231, 'node', 'node_id', m231, txt1='waylist')}
    FROM stats
    WHERE nlayers >= 2 AND NOT (nrows = 2 AND all_end) AND all_intermediate
    UNION ALL
    SELECT {err_select(232, 'way', 'bt.way_id', m232, tile='bt.tile',
        txt1=_html('bt.k'), txt2=_html('ly.v'))}
    FROM way_tags bt JOIN way_tags ly
      ON ly.tile=bt.tile AND ly.way_id=bt.way_id AND ly.k='layer'
    WHERE (bt.k='bridge' AND bt.v NOT IN ('no','false','0')
           AND ly.v IN ('-1','-2','-3','-4','-5'))
       OR (bt.k='tunnel' AND bt.v NOT IN ('no','false','0','building_passage')
           AND ly.v IN ('1','2','3','4','5'))
    UNION ALL
    SELECT {err_select(233, 'way', 'wt.way_id', m233, tile='wt.tile')}
    FROM way_tags wt JOIN ways wa ON wt.tile=wa.tile AND wt.way_id=wa.id
    WHERE wt.k='waterway' AND wa.node_count >= 4
      AND EXISTS (SELECT 1 FROM way_tags w WHERE w.tile=wt.tile AND w.way_id=wt.way_id
                    AND w.k='layer' AND w.v IN ('-1','-2','-3','-4','-5'))
      AND NOT EXISTS (SELECT 1 FROM way_tags w WHERE w.tile=wt.tile AND w.way_id=wt.way_id
                    AND w.k='tunnel' AND w.v NOT IN ('no','false','0'))
      AND NOT EXISTS (SELECT 1 FROM way_tags w WHERE w.tile=wt.tile AND w.way_id=wt.way_id
                    AND w.k='culvert' AND w.v='yes')
      AND NOT EXISTS (SELECT 1 FROM way_tags w WHERE w.tile=wt.tile AND w.way_id=wt.way_id
                    AND w.k='covered' AND w.v IN ('yes','true','1'))
      AND NOT EXISTS (SELECT 1 FROM way_tags w WHERE w.tile=wt.tile AND w.way_id=wt.way_id
                    AND w.k='pipeline' AND w.v IN ('yes','true','1'))
      AND NOT EXISTS (SELECT 1 FROM way_tags w WHERE w.tile=wt.tile AND w.way_id=wt.way_id
                    AND w.k='location' AND w.v='underground')
)"""
    return wrap(d, body)


SEGS_SQL = """
all_segs AS (
    SELECT tile, way_id, sequence_id AS seg_id, x AS ax, y AS ay,
           LEAD(x) OVER w AS bx, LEAD(y) OVER w AS by
    FROM way_nodes
    WINDOW w AS (PARTITION BY tile, way_id ORDER BY sequence_id)
    QUALIFY bx IS NOT NULL
)"""


def oracle_0050(d: str) -> str:
    from .lib import WAY_LAYERS_SQL
    from .spatial import seg_cross_sql

    veto_cross = seg_cross_sql(
        "c.x", "c.y", "c.cx", "c.cy", "bs.ax", "bs.ay", "bs.bx", "bs.by"
    )
    msg = "'This node is very close but not connected to way #$1'"
    body = f"""
{WAY_LAYERS_SQL.strip().rstrip(')')}),
{SEGS_SQL.strip().rstrip(')')}),
hw AS (
    SELECT t.tile, t.way_id, l.layer
    FROM (SELECT DISTINCT tile, way_id FROM way_tags
          WHERE k='highway' AND v NOT IN ('construction','proposed','platform')) t
    JOIN way_layers l ON l.tile=t.tile AND l.way_id=t.way_id
),
usage AS (
    SELECT tile, node_id, COUNT(way_id) AS uses FROM way_nodes
    GROUP BY tile, node_id
),
ends0 AS (
    SELECT h.tile, h.way_id, w.first_node_id AS node_id, h.layer, 1 AS src
    FROM hw h JOIN ways w ON w.tile=h.tile AND w.id=h.way_id
    JOIN usage u ON u.tile=h.tile AND u.node_id=w.first_node_id
    WHERE u.uses = 1
    UNION ALL
    SELECT h.tile, h.way_id, w.last_node_id AS node_id, h.layer, 2 AS src
    FROM hw h JOIN ways w ON w.tile=h.tile AND w.id=h.way_id
    JOIN usage u ON u.tile=h.tile AND u.node_id=w.last_node_id
    WHERE u.uses = 1
),
ends1 AS (
    SELECT * EXCLUDE (rn, src) FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY tile, node_id ORDER BY src) rn
        FROM ends0) WHERE rn = 1
),
ends AS (
    SELECT e.*, n.x, n.y
    FROM ends1 e JOIN nodes n ON n.tile=e.tile AND n.id=e.node_id
    WHERE NOT EXISTS (SELECT 1 FROM node_tags nt
                      WHERE nt.tile=e.tile AND nt.node_id=e.node_id
                        AND ((nt.k='noexit' AND nt.v IN ('yes','true','1'))
                          OR (nt.k='highway' AND nt.v IN ('turning_circle','bus_stop'))
                          OR nt.k='amenity'))
      AND NOT EXISTS (SELECT 1 FROM way_tags wt
                      WHERE wt.tile=e.tile AND wt.way_id=e.way_id
                        AND wt.k='noexit' AND wt.v IN ('yes','true','1'))
),
subjects AS (
    SELECT * FROM ends e
    WHERE NOT EXISTS (SELECT 1 FROM node_tags nt
                      WHERE nt.tile=e.tile AND nt.node_id=e.node_id
                        AND (nt.k='barrier'
                          OR (nt.k='railway' AND nt.v='subway_entrance')))
),
hsegs AS (
    SELECT s.*, h.layer FROM all_segs s
    JOIN hw h ON h.tile=s.tile AND h.way_id=s.way_id
),
cand1 AS (
    SELECT * EXCLUDE (len2, traw, tt) FROM (
        SELECT e.tile, e.node_id, e.way_id, s.way_id AS nearby_way_id,
               s.seg_id, e.layer AS layer1, e.layer AS layer2, 1 AS srcq,
               e.x, e.y,
               (s.bx-s.ax)*(s.bx-s.ax) + (s.by-s.ay)*(s.by-s.ay) AS len2,
               ((e.x-s.ax)*(s.bx-s.ax)+(e.y-s.ay)*(s.by-s.ay))/len2 AS traw,
               CASE WHEN len2 = 0 THEN 0.0
                    ELSE GREATEST(0.0, LEAST(1.0, traw)) END AS tt,
               s.ax + tt*(s.bx-s.ax) AS cx,
               s.ay + tt*(s.by-s.ay) AS cy,
               (e.x-cx)*(e.x-cx) + (e.y-cy)*(e.y-cy) AS d2
        FROM subjects e JOIN hsegs s
          ON s.tile=e.tile AND s.layer=e.layer AND s.way_id <> e.way_id
         AND e.x >= LEAST(s.ax,s.bx) - 10 AND e.x <= GREATEST(s.ax,s.bx) + 10
         AND e.y >= LEAST(s.ay,s.by) - 10 AND e.y <= GREATEST(s.ay,s.by) + 10
    ) WHERE d2 <= 100.0
),
cand1m AS (
    SELECT * EXCLUDE (rn) FROM (
        SELECT *, ROW_NUMBER() OVER (
            PARTITION BY tile, node_id, way_id, nearby_way_id
            ORDER BY d2, seg_id, cx, cy) rn
        FROM cand1) WHERE rn = 1
),
cand2 AS (
    SELECT * FROM (
        SELECT e1.tile, e1.node_id, e1.way_id, e2.way_id AS nearby_way_id,
               0 AS seg_id, e1.layer AS layer1, e2.layer AS layer2, 2 AS srcq,
               e1.x, e1.y, e2.x AS cx, e2.y AS cy,
               (e1.x-e2.x)*(e1.x-e2.x) + (e1.y-e2.y)*(e1.y-e2.y) AS d2
        FROM subjects e1 JOIN ends e2
          ON e2.tile=e1.tile AND e2.way_id <> e1.way_id
         AND e2.layer <> e1.layer
    ) WHERE d2 <= 100.0
),
cands AS (
    SELECT tile, node_id, way_id, nearby_way_id, layer1, layer2, srcq,
           x, y, cx, cy, d2
    FROM cand1m
    UNION ALL
    SELECT tile, node_id, way_id, nearby_way_id, layer1, layer2, srcq,
           x, y, cx, cy, d2
    FROM cand2
),
bsegs AS (
    SELECT s.*, l.layer FROM all_segs s
    JOIN (SELECT DISTINCT tile, way_id FROM way_tags WHERE k='barrier') b
      ON b.tile=s.tile AND b.way_id=s.way_id
    JOIN way_layers l ON l.tile=s.tile AND l.way_id=s.way_id
),
kept AS (
    SELECT c.* FROM cands c
    WHERE NOT EXISTS (
        SELECT 1 FROM bsegs bs
        WHERE bs.tile=c.tile
          AND (bs.layer=c.layer1 OR (c.srcq=2 AND bs.layer=c.layer2))
          AND ({veto_cross}))
      AND NOT EXISTS (
        SELECT 1 FROM way_nodes wn1
        JOIN way_nodes wn2 ON wn2.tile=wn1.tile AND wn2.node_id=wn1.node_id
        WHERE wn1.tile=c.tile AND wn1.way_id=c.nearby_way_id
          AND wn2.way_id=c.way_id
          AND (wn1.x-c.x)*(wn1.x-c.x) + (wn1.y-c.y)*(wn1.y-c.y) <= 900.0)
),
err AS (
    SELECT {err_select(50, 'node', 'node_id', msg,
        txt1='CAST(nearby_way_id AS VARCHAR)')}
    FROM (
        SELECT * , ROW_NUMBER() OVER (PARTITION BY tile, node_id
                                      ORDER BY d2, srcq, nearby_way_id) rn
        FROM kept) WHERE rn = 1
)"""
    return wrap(d, body)


def oracle_0190(d: str) -> str:
    from .lib import WAY_LAYERS_SQL, WAY_LENGTHS_SQL
    from .mercator import merc_lat_wrap, merc_lon_sql

    hw_excl = (
        "'cycleway','footway','path','bridleway','track','proposed',"
        "'preproposed','construction','services','rest_area','ford','razed'"
    )
    pathish = "'cycleway','footway','path','bridleway','track'"
    ww_excl = "'riverbank','dock','boatyard','weir','dam'"
    rbish = "'riverbank','dock','boatyard'"
    msg_plain = "This $1 intersects the $2 #$3"
    msg_junc = msg_plain + " but there is no junction node"
    subtype_case = """CASE
        WHEN t1='highway' AND t2='highway' THEN 1
        WHEN (t1='highway' AND t2='waterway') OR (t1='waterway' AND t2='highway') THEN 2
        WHEN (t1='highway' AND t2='riverbank') OR (t1='riverbank' AND t2='highway') THEN 3
        WHEN t1='waterway' AND t2='waterway' THEN 4
        WHEN t1='cycleway/footpath' AND t2='cycleway/footpath' THEN 5
        WHEN (t1='highway' AND t2='cycleway/footpath') OR (t1='cycleway/footpath' AND t2='highway') THEN 6
        WHEN (t1='cycleway/footpath' AND t2='waterway') OR (t1='waterway' AND t2='cycleway/footpath') THEN 7
        WHEN (t1='cycleway/footpath' AND t2='riverbank') OR (t1='riverbank' AND t2='cycleway/footpath') THEN 8
        ELSE -1 END"""

    body = f"""
{WAY_LAYERS_SQL.strip().rstrip(')')}),
{WAY_LENGTHS_SQL.strip().rstrip(')')}),
{SEGS_SQL.strip().rstrip(')')}),
cls AS (
    SELECT * FROM (
        SELECT c.tile, c.way_id,
               CASE WHEN hw_main AND NOT ford THEN 'highway'
                    WHEN hw_path AND NOT ford THEN 'cycleway/footpath'
                    WHEN ww_main THEN 'waterway'
                    WHEN rb THEN 'riverbank' END AS way_type,
               l.layer, c.area
        FROM (
            SELECT w.tile, w.id AS way_id,
                EXISTS(SELECT 1 FROM way_tags t WHERE t.tile=w.tile AND t.way_id=w.id
                       AND t.k='highway' AND t.v NOT IN ({hw_excl})) AS hw_main,
                EXISTS(SELECT 1 FROM way_tags t WHERE t.tile=w.tile AND t.way_id=w.id
                       AND t.k='highway' AND t.v IN ({pathish})) AS hw_path,
                EXISTS(SELECT 1 FROM way_tags t WHERE t.tile=w.tile AND t.way_id=w.id
                       AND t.k='waterway' AND t.v NOT IN ({ww_excl})) AS ww_main,
                EXISTS(SELECT 1 FROM way_tags t WHERE t.tile=w.tile AND t.way_id=w.id
                       AND ((t.k='waterway' AND t.v IN ({rbish}))
                         OR (t.k='natural' AND t.v='water'))) AS rb,
                EXISTS(SELECT 1 FROM way_tags t WHERE t.tile=w.tile AND t.way_id=w.id
                       AND t.k='ford') AS ford,
                EXISTS(SELECT 1 FROM way_tags t WHERE t.tile=w.tile AND t.way_id=w.id
                       AND t.k='area' AND t.v='yes') AS area
            FROM ways w) c
        JOIN way_layers l ON l.tile=c.tile AND l.way_id=c.way_id
    ) WHERE way_type IS NOT NULL AND NOT area
),
csegs AS (
    SELECT s.tile, s.way_id, s.seg_id, s.ax, s.ay, s.bx, s.by,
           c.way_type, c.layer
    FROM all_segs s JOIN cls c ON c.tile=s.tile AND c.way_id=s.way_id
),
scells AS (
    SELECT s.*, (g1.cx + 1048576)*2097152 + (g2.cy + 1048576) AS cell
    FROM csegs s,
         UNNEST(generate_series(CAST(FLOOR(LEAST(s.ax,s.bx)/256.0) AS BIGINT),
                                CAST(FLOOR(GREATEST(s.ax,s.bx)/256.0) AS BIGINT))) g1(cx),
         UNNEST(generate_series(CAST(FLOOR(LEAST(s.ay,s.by)/256.0) AS BIGINT),
                                CAST(FLOOR(GREATEST(s.ay,s.by)/256.0) AS BIGINT))) g2(cy)
),
geom AS (
    SELECT DISTINCT tile, w1, w2, t1, t2, kind, px, py, qx, qy, olen FROM (
        SELECT s1.tile, s1.way_id AS w1, s2.way_id AS w2,
               s1.way_type AS t1, s2.way_type AS t2,
               s1.ax AS ax1, s1.ay AS ay1, s1.bx AS bx1, s1.by AS by1,
               s2.ax AS ax2, s2.ay AS ay2, s2.bx AS bx2, s2.by AS by2,
               (bx1-ax1) AS rx, (by1-ay1) AS ry,
               (bx2-ax2) AS sx, (by2-ay2) AS sy,
               rx*sy - ry*sx AS denom,
               (ax2-ax1) AS qpx, (ay2-ay1) AS qpy,
               qpx*ry - qpy*rx AS qpxr,
               rx*rx + ry*ry AS rr,
               (qpx*sy - qpy*sx)/denom AS t,
               qpxr/denom AS u,
               (qpx*rx + qpy*ry)/rr AS t0,
               ((bx2-ax1)*rx + (by2-ay1)*ry)/rr AS t1_,
               GREATEST(LEAST(t0, t1_), 0.0) AS tmin,
               LEAST(GREATEST(t0, t1_), 1.0) AS tmax,
               (denom = 0 AND qpxr = 0) AS collinear,
               CASE WHEN collinear AND tmax > tmin THEN 2
                    WHEN collinear AND tmax = tmin THEN 1
                    WHEN denom <> 0 AND t >= 0 AND t <= 1 AND u >= 0 AND u <= 1 THEN 1
                    ELSE 0 END AS kind,
               CASE WHEN kind = 2 THEN ax1 + tmin*rx
                    WHEN collinear THEN ax1 + tmin*rx
                    ELSE ax1 + t*rx END AS px,
               CASE WHEN kind = 2 THEN ay1 + tmin*ry
                    WHEN collinear THEN ay1 + tmin*ry
                    ELSE ay1 + t*ry END AS py,
               CASE WHEN kind = 2 THEN ax1 + tmax*rx END AS qx,
               CASE WHEN kind = 2 THEN ay1 + tmax*ry END AS qy,
               CASE WHEN kind = 2 THEN SQRT((qx-px)*(qx-px) + (qy-py)*(qy-py))
                    ELSE 0.0 END AS olen
        FROM scells s1 JOIN scells s2
          ON s2.tile=s1.tile AND s2.cell=s1.cell AND s2.layer=s1.layer
         AND s1.way_id < s2.way_id
         AND NOT ((s1.way_type='waterway' AND s2.way_type='riverbank')
               OR (s1.way_type='riverbank' AND s2.way_type='waterway')
               OR (s1.way_type='riverbank' AND s2.way_type='riverbank')
               OR (s1.way_type='cycleway/footpath' AND s2.way_type='waterway')
               OR (s1.way_type='waterway' AND s2.way_type='cycleway/footpath'))
         AND LEAST(s1.ax,s1.bx) <= GREATEST(s2.ax,s2.bx)
         AND LEAST(s2.ax,s2.bx) <= GREATEST(s1.ax,s1.bx)
         AND LEAST(s1.ay,s1.by) <= GREATEST(s2.ay,s2.by)
         AND LEAST(s2.ay,s2.by) <= GREATEST(s1.ay,s1.by)
    ) WHERE kind > 0
),
wmeta AS (
    SELECT w.tile, w.id AS way_id,
           w.first_node_x AS fx, w.first_node_y AS fy,
           w.last_node_x AS lx, w.last_node_y AS ly,
           wl.length
    FROM ways w JOIN way_lengths wl ON wl.tile=w.tile AND wl.way_id=w.id
),
gint AS (
    SELECT g.*,
           (g.kind = 1
            AND ((m1.fx=m1.lx AND m1.fy=m1.ly)
                 OR (NOT (g.px=m1.fx AND g.py=m1.fy)
                     AND NOT (g.px=m1.lx AND g.py=m1.ly)))
            AND ((m2.fx=m2.lx AND m2.fy=m2.ly)
                 OR (NOT (g.px=m2.fx AND g.py=m2.fy)
                     AND NOT (g.px=m2.lx AND g.py=m2.ly)))) AS interior_both,
           m1.length AS len1, m2.length AS len2
    FROM geom g
    JOIN wmeta m1 ON m1.tile=g.tile AND m1.way_id=g.w1
    JOIN wmeta m2 ON m2.tile=g.tile AND m2.way_id=g.w2
),
pair_stats AS (
    SELECT * FROM (
        SELECT tile, w1, w2, t1, t2,
               bool_or(CASE WHEN kind=2 THEN olen ELSE 0.0 END > 0) AS has_overlap,
               SUM(CASE WHEN kind=2 THEN olen ELSE 0.0 END) AS overlap_total,
               bool_or(interior_both) AS has_interior_cross,
               MIN(CASE WHEN kind=2 THEN
                   CASE WHEN ROW(px, py) <= ROW(qx, qy)
                        THEN struct_pack(px:=px, py:=py)
                        ELSE struct_pack(px:=qx, py:=qy) END END) AS omin,
               ANY_VALUE(len1) AS len1, ANY_VALUE(len2) AS len2
        FROM gint GROUP BY tile, w1, w2, t1, t2
    )
),
actions AS (
    SELECT *, CASE WHEN has_overlap AND NOT (overlap_total >= LEAST(len1, len2) - 1e-6)
                   THEN 'overlaps'
                   WHEN NOT has_overlap AND has_interior_cross THEN 'crosses'
              END AS action
    FROM pair_stats
),
pts AS (
    SELECT g.tile, g.w1, g.w2, g.t1, g.t2, g.px, g.py
    FROM (SELECT DISTINCT tile, w1, w2, t1, t2, px, py
          FROM geom WHERE kind = 1) g
    JOIN actions a ON a.tile=g.tile AND a.w1=g.w1 AND a.w2=g.w2
                  AND a.action='crosses'
),
xings AS (
    SELECT a1.tile, a1.way_id AS w1, b1.way_id AS w2, a1.x AS jx, a1.y AS jy
    FROM way_nodes a1
    JOIN way_nodes b1 ON b1.tile=a1.tile AND b1.node_id=a1.node_id
    WHERE a1.way_id < b1.way_id
),
connected AS (
    SELECT DISTINCT p.tile, p.w1, p.w2, p.px, p.py
    FROM pts p JOIN xings x ON x.tile=p.tile AND x.w1=p.w1 AND x.w2=p.w2
    WHERE (x.jx-p.px)*(x.jx-p.px) + (x.jy-p.py)*(x.jy-p.py) <= 100.0
),
cross_pts AS (
    SELECT p.* FROM pts p
    ANTI JOIN connected c
      ON c.tile=p.tile AND c.w1=p.w1 AND c.w2=p.w2 AND c.px=p.px AND c.py=p.py
),
cross_coords AS (
    SELECT * FROM {merc_lat_wrap(
        f"SELECT tile, w1, w2, t1, t2, {subtype_case} AS subtype, "
        f"{merc_lon_sql('px')} AS mlon, py FROM cross_pts",
        "py")}
),
over_coords AS (
    SELECT * FROM {merc_lat_wrap(
        f"SELECT tile, w1, w2, t1, t2, {subtype_case} AS subtype, "
        f"{merc_lon_sql('omin.px')} AS mlon, omin.py AS py "
        f"FROM actions WHERE action='overlaps'",
        "py")}
),
err AS (
    SELECT {err_select('190 + subtype', 'way', 'w1',
        f"CASE WHEN subtype IN (1,4,5,6) THEN '{msg_junc}' ELSE '{msg_plain}' END",
        txt1='t1', txt2='t2', txt3='CAST(w2 AS VARCHAR)',
        lat_d='ROUND(1e7*mlat)', lon_d='ROUND(1e7*mlon)')}
    FROM cross_coords WHERE subtype <> -1
    UNION ALL
    SELECT {err_select('200 + subtype', 'way', 'w1', f"'{msg_plain.replace('intersects', 'overlaps')}'",
        txt1='t1', txt2='t2', txt3='CAST(w2 AS VARCHAR)',
        lat_d='1e7*mlat', lon_d='1e7*mlon')}
    FROM over_coords WHERE subtype <> -1
)"""
    return wrap(d, body)


def oracle_0400(d: str) -> str:
    from .lib import FIND_ONEWAYS_SQL

    msg_both = (
        "'ways $1 and $2 join in a very sharp angle here and there is no "
        "oneway tag or turn restriction that prevents turning'"
    )
    msg_first = (
        "'ways $1 and $2 join in a very sharp angle here and there is no "
        "oneway tag or turn restriction that prevents turning from way $1 to $2'"
    )
    msg_second = (
        "'ways $1 and $2 join in a very sharp angle here and there is no "
        "oneway tag or turn restriction that prevents turning from way $2 to $1'"
    )
    msg_402 = "'this way bends in a very sharp angle here'"
    excl = (
        "'cycleway','service','track','path','bridleway','footway',"
        "'pedestrian','steps','via_ferrata','emergency_access_point',"
        "'raceway','preproposed','proposed','construction','razed',"
        "'abandoned','rest_area'"
    )
    excl_401 = excl + ",'unclassified','residential'"

    body = f"""
{FIND_ONEWAYS_SQL.strip()},
major_ways AS (
    SELECT DISTINCT wt.tile, wt.way_id
    FROM way_tags wt
    WHERE wt.k='highway' AND wt.v NOT IN ({excl_401})
      AND NOT EXISTS (SELECT 1 FROM way_tags a WHERE a.tile=wt.tile
                      AND a.way_id=wt.way_id AND a.k='area' AND a.v='yes')
),
jnodes AS (
    SELECT wn.tile, wn.node_id
    FROM way_nodes wn JOIN major_ways mw ON wn.tile=mw.tile AND wn.way_id=mw.way_id
    GROUP BY wn.tile, wn.node_id
    HAVING COUNT(DISTINCT wn.way_id) > 1
),
adj AS (
    SELECT wn.tile, wn.way_id, wn.node_id, wn.x, wn.y,
           LEAD(wn.node_id) OVER w AS next_id,
           LEAD(wn.x) OVER w AS next_x, LEAD(wn.y) OVER w AS next_y,
           LAG(wn.node_id) OVER w AS prev_id,
           LAG(wn.x) OVER w AS prev_x, LAG(wn.y) OVER w AS prev_y
    FROM way_nodes wn JOIN major_ways mw ON wn.tile=mw.tile AND wn.way_id=mw.way_id
    WINDOW w AS (PARTITION BY wn.tile, wn.way_id ORDER BY wn.sequence_id)
),
jpartners AS (
    SELECT a.tile, a.node_id AS junction_id, a.next_id AS other_id, a.way_id,
           FALSE AS reversed, a.next_x-a.x AS dx, a.next_y-a.y AS dy
    FROM adj a JOIN jnodes j ON a.tile=j.tile AND a.node_id=j.node_id
    WHERE a.next_id IS NOT NULL
    UNION ALL
    SELECT a.tile, a.node_id, a.prev_id, a.way_id,
           TRUE, a.prev_x-a.x, a.prev_y-a.y
    FROM adj a JOIN jnodes j ON a.tile=j.tile AND a.node_id=j.node_id
    WHERE a.prev_id IS NOT NULL
),
restr AS (
    SELECT f.tile, f.member_id AS from_way, t.member_id AS to_way,
           CASE WHEN EXISTS (SELECT 1 FROM relation_tags rt
                             WHERE rt.tile=f.tile AND rt.relation_id=f.relation_id
                               AND rt.k='restriction' AND rt.v LIKE 'only%')
                THEN 'only'
                WHEN EXISTS (SELECT 1 FROM relation_tags rt
                             WHERE rt.tile=f.tile AND rt.relation_id=f.relation_id
                               AND rt.k='restriction' AND rt.v LIKE 'no%')
                THEN 'no' END AS rtype
    FROM relation_members f JOIN relation_members t
      ON f.tile=t.tile AND f.relation_id=t.relation_id
     AND f.member_type='W' AND t.member_type='W'
     AND f.member_role='from' AND t.member_role='to'
     AND f.member_id <> t.member_id
    WHERE EXISTS (SELECT 1 FROM relation_tags rt
                  WHERE rt.tile=f.tile AND rt.relation_id=f.relation_id
                    AND rt.k='type' AND rt.v='restriction')
),
sharp0 AS (
    SELECT a.tile, a.junction_id, a.way_id AS w1, a.reversed AS rev1,
           b.way_id AS w2, b.reversed AS rev2
    FROM jpartners a JOIN jpartners b
      ON a.tile=b.tile AND a.junction_id=b.junction_id
     AND a.other_id < b.other_id
    WHERE a.dx*b.dx + a.dy*b.dy >
          SQRT((a.dx*a.dx + a.dy*a.dy)*(b.dx*b.dx + b.dy*b.dy)) * COS(20.0*PI()/180.0)
),
sharp1 AS (
    SELECT s.* FROM sharp0 s
    WHERE NOT EXISTS (
        SELECT 1 FROM way_tags wt1 JOIN way_tags wt2
          ON wt1.tile=wt2.tile AND wt1.k=wt2.k AND wt1.v=wt2.v
        WHERE wt1.tile=s.tile AND wt1.way_id=s.w1 AND wt2.way_id=s.w2
          AND wt1.k IN ('name','ref'))
),
sharp2 AS (
    SELECT s.tile, s.junction_id, s.w1, s.w2,
        ((o1.way_id IS NULL OR (o1.reversed <> s.rev1))
         AND (o2.way_id IS NULL OR NOT (o2.reversed <> s.rev2))
         AND NOT EXISTS (SELECT 1 FROM restr r WHERE r.tile=s.tile
                         AND r.from_way=s.w1 AND r.to_way=s.w2 AND r.rtype='no')
         AND NOT EXISTS (SELECT 1 FROM restr r WHERE r.tile=s.tile
                         AND r.from_way=s.w1 AND r.to_way<>s.w2 AND r.rtype='only')
        ) AS err1,
        ((o2.way_id IS NULL OR (o2.reversed <> s.rev2))
         AND (o1.way_id IS NULL OR NOT (o1.reversed <> s.rev1))
         AND NOT EXISTS (SELECT 1 FROM restr r WHERE r.tile=s.tile
                         AND r.from_way=s.w2 AND r.to_way=s.w1 AND r.rtype='no')
         AND NOT EXISTS (SELECT 1 FROM restr r WHERE r.tile=s.tile
                         AND r.from_way=s.w2 AND r.to_way<>s.w1 AND r.rtype='only')
        ) AS err2
    FROM sharp1 s
    LEFT JOIN one_ways o1 ON o1.tile=s.tile AND o1.way_id=s.w1
    LEFT JOIN one_ways o2 ON o2.tile=s.tile AND o2.way_id=s.w2
),
ways_402 AS (
    SELECT DISTINCT wt.tile, wt.way_id
    FROM way_tags wt
    WHERE wt.k='highway' AND wt.v NOT IN ({excl})
      AND NOT EXISTS (SELECT 1 FROM way_tags a WHERE a.tile=wt.tile
                      AND a.way_id=wt.way_id AND a.k='area' AND a.v='yes')
      AND EXISTS (SELECT 1 FROM ways w WHERE w.tile=wt.tile AND w.id=wt.way_id
                  AND w.node_count >= 4)
),
lim AS (
    SELECT m.tile, m.way_id,
       COS((180.0 - (CASE WHEN ra.deg_ra IS NOT NULL
                          AND COALESCE(ms.deg_ms, hw.deg_hw, 100.0) < 80.0
                          THEN 80.0
                          ELSE COALESCE(ms.deg_ms, hw.deg_hw, 100.0) END))
           * PI()/180.0) AS angle_limit
    FROM ways_402 m
    LEFT JOIN (
        SELECT tile, way_id,
           CASE WHEN hv IN ('living_street','residential','unclassified') THEN 110.0
                WHEN hv IN ('primary','secondary','tertiary') THEN 80.0
                WHEN hv IN ('primary_link','secondary_link','tertiary_link',
                            'motorway_link','trunk_link') THEN 60.0
                WHEN hv = 'trunk' THEN 45.0
                WHEN hv = 'motorway' THEN 30.0
                ELSE 100.0 END AS deg_hw
        FROM (SELECT tile, way_id, MAX(v) AS hv FROM way_tags
              WHERE k='highway' GROUP BY tile, way_id)
    ) hw ON m.tile=hw.tile AND m.way_id=hw.way_id
    LEFT JOIN (
        SELECT tile, way_id,
           CASE WHEN mv IN ('zone:30','30','20 mph','20mph')
                     OR mv LIKE '__:living_street' THEN 110.0
                WHEN mv IN ('40','zone:50','50','60','30 mph','30mph')
                     OR mv LIKE '__:urban' THEN 100.0
                WHEN mv IN ('70','80','40 mph','40mph','50 mph','50mph') THEN 80.0
                WHEN mv IN ('90','100','60 mph','60mph')
                     OR mv LIKE '__:rural' THEN 60.0
                WHEN mv IN ('110','120','130','70 mph','70mph')
                     OR mv LIKE '__:motorway' THEN 30.0 END AS deg_ms
        FROM (SELECT tile, way_id, MAX(v) AS mv FROM way_tags
              WHERE k='maxspeed' GROUP BY tile, way_id)
    ) ms ON m.tile=ms.tile AND m.way_id=ms.way_id
    LEFT JOIN (
        SELECT DISTINCT tile, way_id, 1 AS deg_ra FROM way_tags
        WHERE k='junction' AND v='roundabout'
    ) ra ON m.tile=ra.tile AND m.way_id=ra.way_id
),
wn402 AS (
    SELECT wn.tile, wn.way_id, l.angle_limit, wn.x AS ax, wn.y AS ay,
           LEAD(wn.x,1) OVER w AS bx, LEAD(wn.y,1) OVER w AS by,
           LEAD(wn.lon,1) OVER w AS blon, LEAD(wn.lat,1) OVER w AS blat,
           LEAD(wn.x,2) OVER w AS cx, LEAD(wn.y,2) OVER w AS cy,
           LEAD(wn.x,3) OVER w AS dx, LEAD(wn.y,3) OVER w AS dy
    FROM way_nodes wn JOIN lim l ON wn.tile=l.tile AND wn.way_id=l.way_id
    WINDOW w AS (PARTITION BY wn.tile, wn.way_id ORDER BY wn.sequence_id)
),
err AS (
    SELECT DISTINCT {err_select(401, 'node', 'junction_id',
        f"CASE WHEN err1 AND err2 THEN {msg_both} WHEN err1 THEN {msg_first} ELSE {msg_second} END",
        txt1='CAST(w1 AS VARCHAR)', txt2='CAST(w2 AS VARCHAR)')}
    FROM sharp2 WHERE err1 OR err2
    UNION ALL
    SELECT DISTINCT {err_select(402, 'way', 'way_id', msg_402,
        lat_d='1e7*blat', lon_d='1e7*blon')}
    FROM wn402
    WHERE dx IS NOT NULL
      AND ((ax-bx)*(cx-bx) + (ay-by)*(cy-by)) >
          SQRT(((ax-bx)*(ax-bx)+(ay-by)*(ay-by))
               * ((cx-bx)*(cx-bx)+(cy-by)*(cy-by))) * angle_limit
      AND (cx-bx)*(cx-bx) + (cy-by)*(cy-by) < 6400.0
      AND ((bx-cx)*(dx-cx) + (by-cy)*(dy-cy)) >
          SQRT(((dx-cx)*(dx-cx)+(dy-cy)*(dy-cy))
               * ((bx-cx)*(bx-cx)+(by-cy)*(by-cy))) * angle_limit
)"""
    return wrap(d, body)


def oracle_0370(d: str) -> str:
    keylist = (
        "'abutters','aerialway','aeroway','agricultural','amenity','area',"
        "'barrier','basin','boundary','brewery','bridge','building','club',"
        "'craft','emergency','ford','fuel','habitat','harbour','healthcare',"
        "'historic','landmark','landuse','leisure','location','man made',"
        "'mooring','natural','parking','playground','power','railway',"
        "'repair','reservation','resource','route','ruins','school',"
        "'service','shelter','shop','sport','tourism','tunnel','water',"
        "'waterway','wood','zoo'"
    )
    msg = (
        "'This node has tags in common with the surrounding way #$1' || "
        "CASE WHEN p.wname IS NOT NULL THEN "
        "' (including the name ''$2'')' ELSE '' END || "
        "' and seems to be redundant'"
    )
    body = f"""
closed_ways AS (
    SELECT tile, id AS way_id FROM ways
    WHERE node_count > 2
      AND (first_node_x-last_node_x)*(first_node_x-last_node_x)
        + (first_node_y-last_node_y)*(first_node_y-last_node_y) < 100.0
),
poly_edges AS (
    SELECT wn.tile, wn.way_id, wn.x AS ax, wn.y AS ay,
           LEAD(wn.x) OVER w AS bx, LEAD(wn.y) OVER w AS by
    FROM way_nodes wn JOIN closed_ways c ON wn.tile=c.tile AND wn.way_id=c.way_id
    WINDOW w AS (PARTITION BY wn.tile, wn.way_id ORDER BY wn.sequence_id)
    QUALIFY bx IS NOT NULL
    UNION ALL
    SELECT w.tile, w.id, w.last_node_x, w.last_node_y,
           w.first_node_x, w.first_node_y
    FROM ways w JOIN closed_ways c ON w.tile=c.tile AND w.id=c.way_id
    WHERE w.last_node_x <> w.first_node_x OR w.last_node_y <> w.first_node_y
),
cand_nodes AS (
    SELECT n.tile, n.id AS node_id, n.x AS px, n.y AS py
    FROM nodes n
    WHERE EXISTS (SELECT 1 FROM node_tags nt
                  WHERE nt.tile=n.tile AND nt.node_id=n.id)
      AND NOT EXISTS (SELECT 1 FROM way_nodes wn
                      WHERE wn.tile=n.tile AND wn.node_id=n.id)
),
inclusions AS (
    SELECT e.tile, e.way_id, c.node_id
    FROM poly_edges e JOIN cand_nodes c ON e.tile=c.tile
    GROUP BY e.tile, e.way_id, c.node_id
    HAVING SUM(CASE WHEN ((e.ay > c.py) <> (e.by > c.py))
                     AND c.px < e.ax + (e.bx-e.ax)*(c.py-e.ay)/(e.by-e.ay)
               THEN 1 ELSE 0 END) % 2 = 1
),
tag_pairs AS (
    SELECT DISTINCT i.tile, i.way_id, i.node_id
    FROM inclusions i
    WHERE EXISTS (
        SELECT 1 FROM way_tags wt
        WHERE wt.tile=i.tile AND wt.way_id=i.way_id AND wt.k IN ({keylist})
          AND EXISTS (SELECT 1 FROM node_tags nt
                      WHERE nt.tile=i.tile AND nt.node_id=i.node_id
                        AND nt.k=wt.k AND nt.v=wt.v))
),
named AS (
    SELECT p.tile, p.way_id, p.node_id,
           (SELECT MAX(v) FROM way_tags wt WHERE wt.tile=p.tile
            AND wt.way_id=p.way_id AND wt.k='name') AS wname,
           (SELECT MAX(v) FROM node_tags nt WHERE nt.tile=p.tile
            AND nt.node_id=p.node_id AND nt.k='name') AS nname
    FROM tag_pairs p
),
err AS (
    SELECT {err_select(370, 'node', 'p.node_id', msg,
        txt1='CAST(p.way_id AS VARCHAR)', txt2='p.wname', tile='p.tile')}
    FROM named p
    WHERE COALESCE(p.wname, '') ILIKE COALESCE(p.nname, '')
)"""
    return wrap(d, body)


def oracle_0290(d: str) -> str:
    rtypes = (
        "'restriction','restriction:hgv','restriction:caravan',"
        "'restriction:motorcar','restriction:bus','restriction:agricultural',"
        "'restriction:motorcycle','restriction:bicycle','restriction:hazmat'"
    )
    known = (
        "'no_left_turn','no_right_turn','no_u_turn','only_straight_on',"
        "'no_straight_on','only_left_turn','only_right_turn','no_entry','no_exit'"
    )
    msg_card = "'A turn-restriction needs exactly one $1 member. This one has $2'"
    body = f"""
base AS (
    SELECT DISTINCT tile, relation_id FROM relation_tags
    WHERE k='type' AND v IN ({rtypes})
),
pin AS (
    SELECT b.tile, b.relation_id,
        (SELECT member_id FROM relation_members m WHERE m.tile=b.tile
         AND m.relation_id=b.relation_id AND m.member_role='from'
         AND m.member_type='W' ORDER BY m.sequence_id LIMIT 1) AS from_id,
        (SELECT member_id FROM relation_members m WHERE m.tile=b.tile
         AND m.relation_id=b.relation_id AND m.member_role='to'
         AND m.member_type='W' ORDER BY m.sequence_id LIMIT 1) AS to_id,
        (SELECT member_id FROM relation_members m WHERE m.tile=b.tile
         AND m.relation_id=b.relation_id AND m.member_role='via'
         AND m.member_type='N' ORDER BY m.sequence_id LIMIT 1) AS via_id
    FROM base b
),
rr0 AS (
    SELECT p.*, n.lat AS via_lat, n.lon AS via_lon, n.x AS via_x, n.y AS via_y
    FROM pin p LEFT JOIN nodes n ON p.tile=n.tile AND p.via_id=n.id
),
rtags AS (
    SELECT tile, relation_id, v FROM relation_tags WHERE k IN ({rtypes})
),
e291a AS (
    SELECT tile, relation_id FROM base b
    WHERE NOT EXISTS (SELECT 1 FROM rtags t WHERE t.tile=b.tile
                      AND t.relation_id=b.relation_id)
),
e291b AS (
    SELECT DISTINCT b.tile, b.relation_id
    FROM base b JOIN rtags t ON b.tile=t.tile AND b.relation_id=t.relation_id
    WHERE t.v NOT IN ({known})
),
card AS (
    SELECT b.tile, b.relation_id, r.role, COUNT(m.member_id) AS n
    FROM base b CROSS JOIN (SELECT 'from' AS role UNION ALL SELECT 'to') r
    LEFT JOIN relation_members m ON m.tile=b.tile
      AND m.relation_id=b.relation_id AND m.member_role=r.role
    GROUP BY b.tile, b.relation_id, r.role
    HAVING COUNT(m.member_id) <> 1
),
e294 AS (
    SELECT b.tile, b.relation_id,
        string_agg(m.member_role ||
          CASE WHEN m.member_type='N' THEN ' node #' ELSE ' relation #' END ||
          m.member_id, ',' ORDER BY m.sequence_id) AS lst
    FROM base b JOIN relation_members m
      ON b.tile=m.tile AND b.relation_id=m.relation_id
    WHERE m.member_role IN ('from','to') AND m.member_type <> 'W'
    GROUP BY b.tile, b.relation_id
),
bad AS (
    SELECT tile, relation_id FROM e291a
    UNION SELECT tile, relation_id FROM e291b
    UNION SELECT tile, relation_id FROM card
    UNION SELECT tile, relation_id FROM e294
),
rr AS (
    SELECT * FROM rr0 r
    WHERE r.from_id IS NOT NULL AND r.to_id IS NOT NULL AND r.via_id IS NOT NULL
      AND NOT EXISTS (SELECT 1 FROM bad x WHERE x.tile=r.tile
                      AND x.relation_id=r.relation_id)
),
e295 AS (
    SELECT r.tile, r.relation_id, 1e7*r.via_lat AS lat_d, 1e7*r.via_lon AS lon_d,
           CAST(r.via_id AS VARCHAR) AS t1, CAST(r.from_id AS VARCHAR) AS t2,
           'from' AS which
    FROM rr r JOIN ways w ON r.tile=w.tile AND r.from_id=w.id
    WHERE r.via_id <> w.first_node_id AND r.via_id <> w.last_node_id
    UNION ALL
    SELECT r.tile, r.relation_id, 1e7*r.via_lat, 1e7*r.via_lon,
           CAST(r.via_id AS VARCHAR), CAST(r.to_id AS VARCHAR), 'to'
    FROM rr r JOIN ways w ON r.tile=w.tile AND r.to_id=w.id
    WHERE r.via_id <> w.first_node_id AND r.via_id <> w.last_node_id
),
ranked AS (
    SELECT tile, way_id, node_id, x, y,
        ROW_NUMBER() OVER (PARTITION BY tile, way_id ORDER BY sequence_id) AS rn_a,
        ROW_NUMBER() OVER (PARTITION BY tile, way_id ORDER BY sequence_id DESC) AS rn_d
    FROM way_nodes
),
adj_from AS (
    SELECT r.tile, r.relation_id, k.x AS nf_x, k.y AS nf_y
    FROM rr r JOIN ways w ON r.tile=w.tile AND r.from_id=w.id
    JOIN ranked k ON k.tile=r.tile AND k.way_id=r.from_id
     AND CASE WHEN r.via_id=w.first_node_id THEN k.rn_a=2 ELSE k.rn_d=2 END
),
adj_to AS (
    SELECT r.tile, r.relation_id, k.x AS nt_x, k.y AS nt_y
    FROM rr r JOIN ways w ON r.tile=w.tile AND r.to_id=w.id
    JOIN ranked k ON k.tile=r.tile AND k.way_id=r.to_id
     AND CASE WHEN r.via_id=w.first_node_id THEN k.rn_a=2 ELSE k.rn_d=2 END
),
ang AS (
    SELECT r.tile, r.relation_id, r.via_lat, r.via_lon, t.v,
        (CASE WHEN (ATAN2(r.nt_x2-r.via_x, r.nt_y2-r.via_y)
                    - ATAN2(r.via_x-r.nf_x2, r.via_y-r.nf_y2)) > PI()
              THEN ((ATAN2(r.nt_x2-r.via_x, r.nt_y2-r.via_y)
                     - ATAN2(r.via_x-r.nf_x2, r.via_y-r.nf_y2))/PI() - 2)*180
              WHEN (ATAN2(r.nt_x2-r.via_x, r.nt_y2-r.via_y)
                    - ATAN2(r.via_x-r.nf_x2, r.via_y-r.nf_y2)) < -PI()
              THEN ((ATAN2(r.nt_x2-r.via_x, r.nt_y2-r.via_y)
                     - ATAN2(r.via_x-r.nf_x2, r.via_y-r.nf_y2))/PI() + 2)*180
              ELSE (ATAN2(r.nt_x2-r.via_x, r.nt_y2-r.via_y)
                    - ATAN2(r.via_x-r.nf_x2, r.via_y-r.nf_y2))/PI()*180 END) AS dd
    FROM (
        SELECT q.*, f.nf_x AS nf_x2, f.nf_y AS nf_y2, g.nt_x AS nt_x2, g.nt_y AS nt_y2
        FROM rr q
        LEFT JOIN adj_from f ON q.tile=f.tile AND q.relation_id=f.relation_id
        LEFT JOIN adj_to g ON q.tile=g.tile AND q.relation_id=g.relation_id
    ) r
    LEFT JOIN rtags t ON r.tile=t.tile AND r.relation_id=t.relation_id
),
e296 AS (
    SELECT a.tile, a.relation_id, 1e7*a.via_lat AS lat_d, 1e7*a.via_lon AS lon_d,
           a.v AS t1, CAST(CAST(ROUND(a.dd) AS BIGINT) AS VARCHAR) AS t2
    FROM ang a
    WHERE a.dd IS NOT NULL
      AND NOT (CASE
           WHEN a.v IN ('only_straight_on','no_straight_on')
                AND a.dd > -50 AND a.dd < 50 THEN TRUE
           WHEN a.v IN ('only_right_turn','no_right_turn') AND a.dd > 5 THEN TRUE
           WHEN a.v IN ('only_left_turn','no_left_turn') AND a.dd < -5 THEN TRUE
           WHEN a.v = 'no_u_turn' AND (a.dd < -95 OR a.dd > 179.99) THEN TRUE
           ELSE FALSE END)
      AND NOT EXISTS (SELECT 1 FROM e295 x WHERE x.tile=a.tile
                      AND x.relation_id=a.relation_id)
),
to_dir AS (
    SELECT DISTINCT r.tile, r.relation_id, r.via_lat, r.via_lon, r.to_id, t.v
    FROM rr r
    JOIN relation_tags t ON r.tile=t.tile AND r.relation_id=t.relation_id
      AND t.k='restriction'
    JOIN ways w ON r.tile=w.tile AND r.to_id=w.id
    JOIN way_tags wt ON r.tile=wt.tile AND r.to_id=wt.way_id AND wt.k='oneway'
    WHERE (wt.v='yes' AND r.via_id=w.last_node_id)
       OR (wt.v='-1' AND r.via_id=w.first_node_id)
),
err AS (
    SELECT {err_select(291, 'relation', 'relation_id',
        "'This turn-restriction has no restriction type'")} FROM e291a
    UNION ALL
    SELECT {err_select(291, 'relation', 'relation_id',
        "'This turn-restriction has no known restriction type'")} FROM e291b
    UNION ALL
    SELECT {err_select("CASE WHEN role='from' THEN 292 ELSE 293 END",
        'relation', 'relation_id', msg_card,
        txt1='role', txt2='CAST(n AS VARCHAR)')} FROM card
    UNION ALL
    SELECT {err_select(294, 'relation', 'relation_id',
        "'From- and To-members of turn restrictions need to be ways. $1'",
        txt1=_html('lst'))} FROM e294
    UNION ALL
    SELECT {err_select(295, 'relation', 'relation_id',
        '''CASE WHEN which='from'
           THEN 'via (node #$1) is not the first or the last member of from (way #$2)'
           ELSE 'via (node #$1) is not the first or the last member of to (way #$2)' END''',
        txt1='t1', txt2='t2', lat_d='lat_d', lon_d='lon_d')} FROM e295
    UNION ALL
    SELECT {err_select(296, 'relation', 'relation_id',
        "'restriction type is $1, but angle is $2 degrees. Maybe the restriction type is not appropriate?'",
        txt1='t1', txt2='t2', lat_d='lat_d', lon_d='lon_d')} FROM e296
    UNION ALL
    SELECT {err_select(297, 'relation', 'relation_id',
        "'wrong direction of to way $1'",
        txt1='CAST(to_id AS VARCHAR)',
        lat_d='1e7*via_lat', lon_d='1e7*via_lon')} FROM to_dir
    WHERE v IN ('only_straight_on','only_left_turn','only_right_turn')
    UNION ALL
    SELECT {err_select(298, 'relation', 'relation_id',
        "'entry already prohibited by oneway tag on $1'",
        txt1='CAST(to_id AS VARCHAR)',
        lat_d='1e7*via_lat', lon_d='1e7*via_lon')} FROM to_dir
    WHERE v IN ('no_straight_on','no_left_turn','no_right_turn','no_u_turn')
)"""
    return wrap(d, body)


def _psd2(px, py, ax, ay, bx, by) -> str:
    """Inline DuckDB squared point→segment distance mirroring
    spatial.point_seg_dist2 (same operation order)."""
    len2 = f"((({bx})-({ax}))*(({bx})-({ax})) + (({by})-({ay}))*(({by})-({ay})))"
    traw = (
        f"(((({px})-({ax}))*(({bx})-({ax}))"
        f"+(({py})-({ay}))*(({by})-({ay})))/{len2})"
    )
    tt = f"(CASE WHEN {len2} = 0 THEN 0.0 ELSE GREATEST(0.0, LEAST(1.0, {traw})) END)"
    cx = f"(({ax}) + {tt}*(({bx})-({ax})))"
    cy = f"(({ay}) + {tt}*(({by})-({ay})))"
    return f"((({px})-{cx})*(({px})-{cx}) + (({py})-{cy})*(({py})-{cy}))"


def oracle_0270(d: str) -> str:
    from .spatial import seg_cross_sql

    msg = (
        "'This node is a junction of a motorway and a highway other than "
        "motorway, motorway_link, trunk or construction. Service or "
        "unclassified is only valid if it has access=no/private or it leads "
        "to a motorway service area or if it is a service=parking_aisle.'"
    )
    allowed = (
        "'motorway','motorway_link','trunk','construction','preproposed',"
        "'proposed','service','unclassified','track','emergency_bay',"
        "'footway','path','steps'"
    )
    svc = "'service','unclassified','track','footway','path'"
    amen = (
        "((k='amenity' AND v IN ('parking','fuel','restaurant','toilets')) "
        "OR (k='highway' AND v IN ('services','rest_area')))"
    )
    ss_min = "LEAST({}, {}, {}, {})".format(
        _psd2("s.ax", "s.ay", "a.ax", "a.ay", "a.bx", "a.by"),
        _psd2("s.bx", "s.by", "a.ax", "a.ay", "a.bx", "a.by"),
        _psd2("a.ax", "a.ay", "s.ax", "s.ay", "s.bx", "s.by"),
        _psd2("a.bx", "a.by", "s.ax", "s.ay", "s.bx", "s.by"),
    )
    ss_cross = seg_cross_sql(
        "s.ax", "s.ay", "s.bx", "s.by", "a.ax", "a.ay", "a.bx", "a.by"
    )
    body = f"""
{SEGS_SQL.strip().rstrip(')')}),
mw AS (
    SELECT DISTINCT tile, way_id FROM way_tags
    WHERE k='highway' AND v='motorway'
),
junc0 AS (
    SELECT wn.tile, wn.way_id, wn.node_id
    FROM way_nodes wn JOIN mw ON wn.tile=mw.tile AND wn.way_id=mw.way_id
),
endpoint_nodes AS (
    SELECT g.tile, g.node_id
    FROM (SELECT tile, node_id, MAX(way_id) AS way_id
          FROM junc0 GROUP BY tile, node_id
          HAVING COUNT(way_id) = 1) g
    JOIN ways w ON g.tile=w.tile AND g.way_id=w.id
    WHERE g.node_id=w.first_node_id OR g.node_id=w.last_node_id
),
junc AS (
    SELECT * FROM junc0 j
    WHERE NOT EXISTS (SELECT 1 FROM endpoint_nodes e
                      WHERE e.tile=j.tile AND e.node_id=j.node_id)
),
excepted AS (
    SELECT DISTINCT tile, way_id FROM way_tags
    WHERE (k='access' AND v IN ('no','private','emergency'))
       OR (k='vehicle' AND v IN ('no','private','emergency'))
       OR (k='service' AND v='parking_aisle')
),
svc_class AS (
    SELECT DISTINCT tile, way_id FROM way_tags
    WHERE k='highway' AND v IN ({svc})
),
service_pairs AS (
    SELECT DISTINCT wn.tile, wn.node_id, wn.way_id AS oway
    FROM way_nodes wn JOIN junc j ON wn.tile=j.tile AND wn.node_id=j.node_id
    WHERE wn.way_id <> j.way_id
      AND EXISTS (SELECT 1 FROM svc_class s WHERE s.tile=wn.tile
                  AND s.way_id=wn.way_id)
      AND NOT EXISTS (SELECT 1 FROM excepted x WHERE x.tile=wn.tile
                      AND x.way_id=wn.way_id)
),
amen_way_segs AS (
    SELECT s.* FROM all_segs s
    WHERE EXISTS (SELECT 1 FROM way_tags wt WHERE wt.tile=s.tile
                  AND wt.way_id=s.way_id AND {amen})
),
amen_node_pts AS (
    SELECT n.tile, n.x, n.y FROM nodes n
    WHERE EXISTS (SELECT 1 FROM node_tags nt WHERE nt.tile=n.tile
                  AND nt.node_id=n.id AND {amen.replace("k=", "nt.k=").replace("v IN", "nt.v IN")})
),
near_ways AS (
    SELECT DISTINCT s.tile, s.way_id
    FROM (SELECT g.* FROM all_segs g
          WHERE EXISTS (SELECT 1 FROM service_pairs p
                        WHERE p.tile=g.tile AND p.oway=g.way_id)) s
    JOIN amen_way_segs a ON s.tile=a.tile
    WHERE ({ss_cross}) OR {ss_min} <= 10000.0
    UNION
    SELECT DISTINCT s.tile, s.way_id
    FROM (SELECT g.* FROM all_segs g
          WHERE EXISTS (SELECT 1 FROM service_pairs p
                        WHERE p.tile=g.tile AND p.oway=g.way_id)) s
    JOIN amen_node_pts a ON s.tile=a.tile
    WHERE {_psd2("a.x", "a.y", "s.ax", "s.ay", "s.bx", "s.by")} <= 10000.0
),
veto_nodes AS (
    SELECT DISTINCT p.tile, p.node_id FROM service_pairs p
    WHERE EXISTS (SELECT 1 FROM near_ways nw WHERE nw.tile=p.tile
                  AND nw.way_id=p.oway)
),
junc_kept AS (
    SELECT * FROM junc j
    WHERE NOT EXISTS (SELECT 1 FROM veto_nodes vn WHERE vn.tile=j.tile
                      AND vn.node_id=j.node_id)
),
bad_ways AS (
    SELECT DISTINCT tile, way_id FROM way_tags
    WHERE k='highway' AND v NOT IN ({allowed})
    UNION
    SELECT s.tile, s.way_id FROM svc_class s
    WHERE NOT EXISTS (SELECT 1 FROM excepted x WHERE x.tile=s.tile
                      AND x.way_id=s.way_id)
),
err AS (
    SELECT DISTINCT {err_select(270, 'node', 'wn.node_id', msg, tile='wn.tile')}
    FROM way_nodes wn JOIN junc_kept j ON wn.tile=j.tile AND wn.node_id=j.node_id
    WHERE wn.way_id <> j.way_id
      AND EXISTS (SELECT 1 FROM bad_ways b WHERE b.tile=wn.tile
                  AND b.way_id=wn.way_id)
)"""
    return wrap(d, body)


def oracle_0030(d: str) -> str:
    from .data_tables import AREA_RULES

    vals = ",\n        ".join(
        "({}, '{}', {}, '{}')".format(
            i, k, "NULL" if v == "*" else f"'{v}'", v
        )
        for i, (k, v) in enumerate(AREA_RULES)
    )
    msg = "'This way is tagged with ''$1=$2'' and should be closed-loop'"
    body = f"""
rules (rule_id, rk, rv, rv_disp) AS (
    SELECT * FROM (VALUES
        {vals}) t(rule_id, rk, rv, rv_disp)
),
cw AS (
    SELECT DISTINCT wt.tile, r.rule_id, wt.way_id, r.rk AS cls_k,
           r.rv_disp AS cls_v
    FROM way_tags wt JOIN rules r
      ON wt.k=r.rk AND (r.rv IS NULL OR wt.v=r.rv)
),
cwn AS (
    SELECT DISTINCT wn.tile, c.rule_id, wn.way_id, wn.node_id
    FROM way_nodes wn
    JOIN (SELECT DISTINCT tile, rule_id, way_id FROM cw) c
      ON wn.tile=c.tile AND wn.way_id=c.way_id
),
jn AS (
    SELECT tile, rule_id, node_id FROM cwn
    GROUP BY tile, rule_id, node_id
    HAVING COUNT(DISTINCT way_id) > 1
),
cwn_j AS (
    SELECT c.* FROM cwn c
    WHERE EXISTS (SELECT 1 FROM jn j WHERE j.tile=c.tile
                  AND j.rule_id=c.rule_id AND j.node_id=c.node_id)
),
subjects AS (
    SELECT c.tile, c.rule_id, c.way_id AS sw, w.first_node_id,
           w.last_node_id, c.cls_k, c.cls_v
    FROM cw c JOIN ways w ON c.tile=w.tile AND c.way_id=w.id
    WHERE w.first_node_id <> w.last_node_id
),
reach AS (
    SELECT s.tile, s.rule_id, s.sw, s.first_node_id AS node_id
    FROM subjects s
    UNION
    SELECT r.tile, r.rule_id, r.sw, wn2.node_id
    FROM reach r
    JOIN cwn_j wn ON wn.tile=r.tile AND wn.rule_id=r.rule_id
                 AND wn.node_id=r.node_id AND wn.way_id <> r.sw
    JOIN cwn_j wn2 ON wn2.tile=wn.tile AND wn2.rule_id=wn.rule_id
                  AND wn2.way_id=wn.way_id
),
err AS (
    SELECT {err_select(30, 'way', 's.sw', msg,
        txt1='s.cls_k', txt2='s.cls_v', tile='s.tile')}
    FROM subjects s
    WHERE NOT EXISTS (
        SELECT 1 FROM reach r
        WHERE r.tile=s.tile AND r.rule_id=s.rule_id AND r.sw=s.sw
          AND r.node_id=s.last_node_id)
)"""
    return f"WITH RECURSIVE {preamble(d)},\n{body},\n{_finalize(d)}"


def oracle_0130(d: str) -> str:
    import json as _json
    import os as _os

    try:
        with open(_os.path.join(d, "MANIFEST.json")) as f:
            seeds = _json.load(f).get("island_seeds") or {}
    except (OSError, ValueError):
        seeds = {}
    if isinstance(seeds, dict):
        # per-tile seeds (manifest dict tile -> [way_id])
        pairs = [
            (tile, int(s)) for tile, ids in sorted(seeds.items()) for s in ids
        ]
    else:  # legacy flat list: every seed applies in every tile
        pairs = None
    if pairs is not None:
        seed_vals = (
            ", ".join(f"('{t}', {s})" for t, s in pairs) or "('', -1)"
        )
        seeds_cte = f"seeds (tile, way_id) AS (SELECT * FROM (VALUES {seed_vals}) t(tile, way_id))"
        reached_base = (
            "SELECT DISTINCT w.tile, w.way_id FROM wnj w "
            "JOIN seeds s ON s.tile=w.tile AND s.way_id=w.way_id"
        )
    else:
        seed_vals = ", ".join(f"({int(s)})" for s in seeds) or "(-1)"
        seeds_cte = f"seeds (way_id) AS (SELECT * FROM (VALUES {seed_vals}) t(way_id))"
        reached_base = (
            "SELECT DISTINCT w.tile, w.way_id FROM wnj w "
            "WHERE w.way_id IN (SELECT way_id FROM seeds)"
        )
    msg = "'This way is not connected to the rest of the map'"
    body = f"""
mw AS (
    SELECT DISTINCT tile, way_id FROM way_tags
    WHERE (k='highway' AND v NOT IN ('emergency_access_point','construction',
           'services','preproposed','proposed','rest_area'))
       OR (k='route' AND v='ferry')
       OR (k='man_made' AND v='pier')
       OR (k='aeroway' AND v IN ('taxiway','runway','apron'))
       OR (k='amenity' AND v='parking')
       OR (k IN ('railway','public_transport') AND v='platform')
    UNION
    SELECT DISTINCT rm.tile, rm.member_id FROM relation_members rm
    WHERE rm.member_type='W'
      AND EXISTS (SELECT 1 FROM relation_tags rt WHERE rt.tile=rm.tile
                  AND rt.relation_id=rm.relation_id
                  AND rt.k='route' AND rt.v='ferry')
),
wn0 AS (
    SELECT wn.tile, wn.way_id, wn.node_id
    FROM way_nodes wn
    WHERE EXISTS (SELECT 1 FROM mw WHERE mw.tile=wn.tile AND mw.way_id=wn.way_id)
),
junctions AS (
    SELECT tile, node_id FROM wn0
    GROUP BY tile, node_id HAVING COUNT(DISTINCT way_id) > 1
),
wnj AS (
    SELECT w.* FROM wn0 w
    WHERE EXISTS (SELECT 1 FROM junctions j WHERE j.tile=w.tile
                  AND j.node_id=w.node_id)
),
connector AS (
    SELECT DISTINCT tile, way_id FROM way_tags
    WHERE (k='man_made' AND v='pier')
       OR (k='aeroway' AND v IN ('taxiway','runway','apron'))
       OR (k='amenity' AND v='parking')
       OR (k IN ('railway','public_transport') AND v='platform')
),
{seeds_cte},
reached AS (
    {reached_base}
    UNION
    SELECT w2.tile, w2.way_id
    FROM reached r
    JOIN wnj w1 ON w1.tile=r.tile AND w1.way_id=r.way_id
    JOIN wnj w2 ON w2.tile=w1.tile AND w2.node_id=w1.node_id
),
err AS (
    SELECT DISTINCT {err_select(130, 'way', 'e.way_id', msg, tile='e.tile')}
    FROM (
        SELECT m.tile, m.way_id FROM mw m
        WHERE NOT EXISTS (SELECT 1 FROM wnj w WHERE w.tile=m.tile
                          AND w.way_id=m.way_id)
        UNION
        SELECT w.tile, w.way_id FROM (SELECT DISTINCT tile, way_id FROM wnj) w
        WHERE NOT EXISTS (SELECT 1 FROM reached r WHERE r.tile=w.tile
                          AND r.way_id=w.way_id)
    ) e
    WHERE NOT EXISTS (SELECT 1 FROM connector c WHERE c.tile=e.tile
                      AND c.way_id=e.way_id)
)"""
    return f"WITH RECURSIVE {preamble(d)},\n{body},\n{_finalize(d)}"


def oracle_0310(d: str) -> str:
    from .boundaries import BORDER_KEYS, LHT_COUNTRIES

    msg_311 = (
        "'This way is part of a roundabout but is not closed-loop. "
        "(split carriageways approaching a roundabout should not be "
        "tagged as roundabout)'"
    )
    msg_313 = (
        "'This roundabout has only $1 other roads connected. "
        "Roundabouts typically have three.'"
    )
    lht = ", ".join(f"'{c}'" for c in LHT_COUNTRIES)
    bkeys = ", ".join(f"'{k}'" for k in BORDER_KEYS)
    m312 = (
        "'If this ' || CASE WHEN mini THEN 'mini_roundabout' ELSE 'roundabout' END"
        " || ' is in a country with ' || CASE WHEN right_hand THEN 'right' "
        "ELSE 'left' END || '-hand traffic then its orientation goes the "
        "wrong way around'"
    )
    body = f"""
rp AS (SELECT * FROM roundabout_parts),
open_parts AS (
    SELECT b.tile, b.part, f.way_id AS fw
    FROM (SELECT tile, part, MIN(sequence_id) AS mn, MAX(sequence_id) AS mx
          FROM rp GROUP BY tile, part) b
    JOIN rp f ON f.tile=b.tile AND f.part=b.part AND f.sequence_id=b.mn
    JOIN rp l ON l.tile=b.tile AND l.part=b.part AND l.sequence_id=b.mx
    WHERE f.first_node_id <> l.last_node_id
),
centers AS (
    SELECT p.tile, p.part, SUM(wn.y)/COUNT(wn.node_id) AS cy,
           SUM(wn.x)/COUNT(wn.node_id) AS cx
    FROM rp p JOIN way_nodes wn ON wn.tile=p.tile AND wn.way_id=p.way_id
    GROUP BY p.tile, p.part
),
wn12 AS (
    SELECT tile, way_id,
           MIN(CASE WHEN rn=1 THEN x END) AS x1,
           MIN(CASE WHEN rn=1 THEN y END) AS y1,
           MIN(CASE WHEN rn=2 THEN x END) AS x2,
           MIN(CASE WHEN rn=2 THEN y END) AS y2
    FROM (SELECT tile, way_id, x, y,
                 ROW_NUMBER() OVER (PARTITION BY tile, way_id
                                    ORDER BY sequence_id) AS rn
          FROM way_nodes)
    WHERE rn <= 2 GROUP BY tile, way_id
),
rot AS (
    SELECT s.tile, s.part, s.way_id, c.cx, c.cy,
           ((w.x1-c.cx)*(w.y2-c.cy) - (w.y1-c.cy)*(w.x2-c.cx) < 0)
             AS clockwise,
           FALSE AS mini
    FROM (SELECT tile, part, way_id FROM rp WHERE sequence_id=0) s
    JOIN wn12 w ON w.tile=s.tile AND w.way_id=s.way_id
    JOIN centers c ON c.tile=s.tile AND c.part=s.part
),
minis AS (
    SELECT DISTINCT n.tile, -n.id AS part, n.id AS way_id,
           n.x AS cx, n.y AS cy,
           EXISTS (SELECT 1 FROM node_tags nt WHERE nt.tile=n.tile
                   AND nt.node_id=n.id AND nt.k='direction'
                   AND nt.v='clockwise') AS clockwise,
           TRUE AS mini
    FROM nodes n
    WHERE EXISTS (SELECT 1 FROM node_tags nt WHERE nt.tile=n.tile
                  AND nt.node_id=n.id AND nt.k='highway'
                  AND nt.v='mini_roundabout')
      AND EXISTS (SELECT 1 FROM node_tags nt WHERE nt.tile=n.tile
                  AND nt.node_id=n.id AND nt.k='direction'
                  AND nt.v IN ('clockwise','counterclockwise','anticlockwise'))
),
allr AS (SELECT * FROM rot UNION ALL SELECT * FROM minis),
border_rel AS (
    SELECT DISTINCT rt.tile, rt.relation_id,
        (SELECT MAX(v) FROM relation_tags x WHERE x.tile=rt.tile
         AND x.relation_id=rt.relation_id AND x.k='name') AS name,
        (SELECT MAX(v) FROM relation_tags x WHERE x.tile=rt.tile
         AND x.relation_id=rt.relation_id AND x.k='admin_level') AS admin_level
    FROM relation_tags rt
    WHERE rt.k='type' AND rt.v IN ('boundary','multipolygon')
      AND EXISTS (SELECT 1 FROM relation_tags x WHERE x.tile=rt.tile
                  AND x.relation_id=rt.relation_id
                  AND x.k='boundary' AND x.v='administrative')
),
lht_ways AS (
    SELECT DISTINCT br.tile, br.name, rm.member_id AS way_id
    FROM border_rel br JOIN relation_members rm
      ON rm.tile=br.tile AND rm.relation_id=br.relation_id
     AND rm.member_type='W'
    WHERE br.admin_level IN ('1','2') AND br.name IN ({lht})
    UNION
    SELECT DISTINCT wt.tile, wt.v AS name, wt.way_id
    FROM way_tags wt
    WHERE wt.k IN ({bkeys}) AND wt.v IN ({lht})
      AND EXISTS (SELECT 1 FROM way_tags x WHERE x.tile=wt.tile
                  AND x.way_id=wt.way_id AND x.k='boundary'
                  AND x.v='administrative')
      AND COALESCE((SELECT MAX(v) FROM way_tags x WHERE x.tile=wt.tile
                    AND x.way_id=wt.way_id AND x.k='admin_level'), '')
          IN ('1','2')
),
lht_edges AS (
    SELECT s.tile, lw.name, s.ax, s.ay, s.bx, s.by
    FROM (SELECT tile, way_id, x AS ax, y AS ay,
                 LEAD(x) OVER (PARTITION BY tile, way_id
                               ORDER BY sequence_id) AS bx,
                 LEAD(y) OVER (PARTITION BY tile, way_id
                               ORDER BY sequence_id) AS by
          FROM way_nodes) s
    JOIN lht_ways lw ON lw.tile=s.tile AND lw.way_id=s.way_id
    WHERE s.bx IS NOT NULL
),
lht_parts AS (
    SELECT DISTINCT tile, part FROM (
        SELECT a.tile, a.part, e.name,
               SUM(CASE WHEN ((e.ay > a.cy) <> (e.by > a.cy))
                         AND a.cx < e.ax + (e.bx-e.ax)*(a.cy-e.ay)/(e.by-e.ay)
                   THEN 1 ELSE 0 END) AS nc
        FROM allr a JOIN lht_edges e ON e.tile=a.tile
        GROUP BY a.tile, a.part, e.name
    ) WHERE nc % 2 = 1
),
judged AS (
    SELECT a.*, NOT EXISTS (SELECT 1 FROM lht_parts l WHERE l.tile=a.tile
                            AND l.part=a.part) AS right_hand
    FROM allr a
),
conn AS (
    SELECT pn.tile, pn.part, COUNT(wn.way_id) AS cnt
    FROM (SELECT DISTINCT p.tile, p.part, wn.node_id
          FROM rp p JOIN way_nodes wn ON wn.tile=p.tile
           AND wn.way_id=p.way_id) pn
    JOIN way_nodes wn ON wn.tile=pn.tile AND wn.node_id=pn.node_id
    WHERE NOT EXISTS (SELECT 1 FROM rp x WHERE x.tile=wn.tile
                      AND x.part=pn.part AND x.way_id=wn.way_id)
    GROUP BY pn.tile, pn.part
    HAVING COUNT(wn.way_id) < 3
),
err AS (
    SELECT DISTINCT {err_select(311, 'way', 'fw', msg_311)} FROM open_parts
    UNION ALL
    SELECT {err_select(312,
        "CASE WHEN mini THEN 'node' ELSE 'way' END", 'way_id', m312)}
    FROM judged WHERE right_hand = clockwise
    UNION ALL
    SELECT {err_select(313, 'way', 'mw', msg_313,
        txt1='CAST(cnt AS VARCHAR)')}
    FROM (SELECT c.tile, c.cnt, MIN(p.way_id) AS mw
          FROM conn c JOIN rp p ON p.tile=c.tile AND p.part=c.part
          GROUP BY c.tile, c.part, c.cnt)
)"""
    return wrap(d, body)


def oracle_0280(d: str) -> str:
    msg_281 = "'This boundary has no name'"
    msg_282a = "'The boundary of $1 has no admin_level'"
    msg_282b = (
        "'The boundary of $1 has no valid numeric admin_level. Please do "
        "not use admin levels like for example 6;7. Always tag the lowest "
        "admin_level of all boundaries.'"
    )
    msg_283 = "'The boundary of $1 is not closed-loop'"
    msg_284 = "'The boundary of $1 splits here'"
    msg_285 = (
        "'This boundary-way has admin_level $1 but belongs to a relation "
        "with lower admin_level (higher priority); it should have the "
        "lowest admin_level of all relations'"
    )
    ot = "CASE WHEN relation_id IS NULL THEN 'way' ELSE 'relation' END"
    oid = "COALESCE(relation_id, way_id)"
    body = f"""
bw AS (SELECT * FROM border_parts),
openp AS (
    SELECT b1.tile, b1.relation_id, b1.way_id, b1.name,
        CASE WHEN COALESCE(b1.direction,1)=1 THEN b1.first_node_id
             ELSE b1.last_node_id END AS node1,
        CASE WHEN COALESCE(b2.direction,1)=1 THEN b2.last_node_id
             ELSE b2.first_node_id END AS node2
    FROM (SELECT tile, name, admin_level, part,
                 MIN(sequence_id) AS mn, MAX(sequence_id) AS mx
          FROM bw GROUP BY tile, name, admin_level, part) g
    JOIN bw b1 ON b1.tile=g.tile AND b1.name IS NOT DISTINCT FROM g.name
      AND b1.admin_level IS NOT DISTINCT FROM g.admin_level
      AND b1.part=g.part AND b1.sequence_id=g.mn
    JOIN bw b2 ON b2.tile=g.tile AND b2.name IS NOT DISTINCT FROM g.name
      AND b2.admin_level IS NOT DISTINCT FROM g.admin_level
      AND b2.part=g.part AND b2.sequence_id=g.mx
    WHERE (CASE WHEN COALESCE(b1.direction,1)=1 THEN b1.first_node_id
                ELSE b1.last_node_id END)
       <> (CASE WHEN COALESCE(b2.direction,1)=1 THEN b2.last_node_id
                ELSE b2.first_node_id END)
),
openp_kept AS (
    SELECT * FROM openp o
    WHERE o.relation_id IS NOT NULL
       OR NOT EXISTS (SELECT 1 FROM bw t WHERE t.tile=o.tile
                      AND t.way_id=o.way_id AND t.relation_id IS NOT NULL)
),
e283 AS (
    SELECT o.tile, {ot} AS ot2, {oid} AS oid2, n.lat AS nlat, n.lon AS nlon,
           MIN(o.name) AS mname
    FROM openp_kept o JOIN nodes n ON n.tile=o.tile
     AND (n.id=o.node1 OR n.id=o.node2)
    GROUP BY o.tile, ot2, oid2, n.lat, n.lon
),
nodelist AS (
    SELECT tile, name, admin_level, part, first_node_id AS node_id FROM bw
    WHERE name IS NOT NULL AND admin_level IS NOT NULL
    UNION ALL
    SELECT tile, name, admin_level, part, last_node_id FROM bw
    WHERE name IS NOT NULL AND admin_level IS NOT NULL
),
evil AS (
    SELECT tile, name, admin_level, node_id FROM nodelist
    GROUP BY tile, name, admin_level, part, node_id
    HAVING COUNT(*) > 2
),
e284 AS (
    SELECT b.tile, {ot} AS ot2, {oid} AS oid2, n.lat AS nlat, n.lon AS nlon,
           MIN(ev.name) AS mname
    FROM evil ev
    JOIN bw b ON b.tile=ev.tile AND b.name=ev.name
     AND b.admin_level=ev.admin_level
    JOIN nodes n ON n.tile=ev.tile AND n.id=ev.node_id
    GROUP BY b.tile, ot2, oid2, n.lat, n.lon
),
e285 AS (
    SELECT b.tile, b.way_id, MAX(b.admin_level) AS mal
    FROM bw b
    WHERE b.relation_id IS NULL AND TRIM(b.admin_level) SIMILAR TO '[0-9]+'
      AND CAST(b.admin_level AS INT) = (
          SELECT MAX(CAST(t1.admin_level AS INT)) FROM bw t1
          WHERE t1.tile=b.tile AND t1.way_id=b.way_id
            AND t1.relation_id IS NULL
            AND TRIM(t1.admin_level) SIMILAR TO '[0-9]+')
      AND CAST(b.admin_level AS INT) > (
          SELECT MIN(CAST(t2.admin_level AS INT)) FROM bw t2
          WHERE t2.tile=b.tile AND t2.way_id=b.way_id
            AND t2.relation_id IS NOT NULL
            AND TRIM(t2.admin_level) SIMILAR TO '[0-9]+')
    GROUP BY b.tile, b.way_id
),
err AS (
    SELECT DISTINCT {err_select(281, ot, oid, msg_281)}
    FROM bw WHERE name IS NULL
    UNION ALL
    SELECT DISTINCT {err_select(282, ot, oid, msg_282a,
        txt1=_html("COALESCE(name, '(no name)')"))}
    FROM bw WHERE admin_level IS NULL
    UNION ALL
    SELECT DISTINCT {err_select(282, ot, oid, msg_282b,
        txt1=_html("COALESCE(name, '(no name)')"))}
    FROM bw WHERE admin_level IS NOT NULL
      AND NOT (TRIM(admin_level) SIMILAR TO '[0-9]+')
    UNION ALL
    SELECT {err_select(283, 'ot2', 'oid2', msg_283,
        txt1=_html('mname'), lat_d='1e7*nlat', lon_d='1e7*nlon')}
    FROM e283
    UNION ALL
    SELECT {err_select(284, 'ot2', 'oid2', msg_284,
        txt1=_html('mname'), lat_d='1e7*nlat', lon_d='1e7*nlon')}
    FROM e284
    UNION ALL
    SELECT {err_select(285, 'way', 'way_id', msg_285, txt1=_html('mal'))}
    FROM e285
)"""
    return wrap(d, body)


def oracle_0220(d: str) -> str:
    from .data_tables import (
        FALSE_POSITIVES_0220,
        FORCE_IRREGULAR_0220,
        FORCE_REGULAR_0220,
        NEVER_COMPLAIN_LIKE_0220,
        OVERRULES_0220,
    )

    def q(s: str) -> str:
        return "'" + s.replace("'", "''") + "'"

    fp_pairs = sorted(
        {
            (a, b)
            for grp in FALSE_POSITIVES_0220
            for a in grp
            for b in grp
            if a != b
        }
    )
    fp_vals = ",\n        ".join(f"({q(a)}, {q(b)})" for a, b in fp_pairs)
    fi_vals = ",\n        ".join(f"({q(s)})" for s in FORCE_IRREGULAR_0220)
    fr_vals = ",\n        ".join(f"({q(s)})" for s in FORCE_REGULAR_0220)
    ov_vals = ",\n        ".join(
        f"({q(a)}, {q(b)}, {q(c)}, {q(e)})" for a, b, c, e in OVERRULES_0220
    )
    never = " OR ".join(
        f"prefix LIKE {q(p)}" for p in NEVER_COMPLAIN_LIKE_0220
    )
    msg220 = "'This $1 is tagged ''$2=$3'' where $4 looks like $5'"
    never_k = never.replace("prefix LIKE", "k.prefix LIKE")

    per_type = []
    for ot in ("node", "way", "relation"):
        tbl = f"{ot}_tags"
        idc = f"{ot}_id"
        msg221 = f"'The key of this {ot}''s tag is ''key'': $2'"
        per_type.append(f"""
tagsn_{ot} AS (
    SELECT tile,
           string_split(kn, ':') || ['='] || string_split(vn, ':') || ['']
             AS keylist,
           k_orig, v_orig, COUNT(*) AS tag_count
    FROM (
        SELECT tile, k AS k_orig, v AS v_orig,
            regexp_replace(k, '_*[0-9]+([ \\.+/\\(\\)-]+[0-9]+)*', '', 'g') AS kn,
            replace(regexp_replace(v, '[0-9]+([ \\.+/\\(\\)-]+[0-9]+)*', '#', 'g'),
                    '; ', ';') AS vn
        FROM {tbl}
    )
    WHERE LENGTH(kn) > 3
    GROUP BY tile, keylist, k_orig, v_orig
),
keys_{ot} AS (
    SELECT tile, keylen,
           COALESCE(array_to_string(list_slice(keylist, 1, keylen-1), ':'), '') AS prefix,
           keylist[keylen] AS part, SUM(tag_count) AS cnt
    FROM tagsn_{ot} CROSS JOIN (VALUES (1),(2),(3),(4),(5)) kl(keylen)
    WHERE len(keylist) >= keylen
      AND LENGTH(keylist[keylen]) BETWEEN 4 AND 50
    GROUP BY tile, keylen, prefix, part
),
tot_{ot} AS (
    SELECT tile, keylen, GREATEST(SUM(cnt)/100000.0, 50.0) AS climit,
           SQRT(COUNT(*)) AS dlimit
    FROM keys_{ot} GROUP BY tile, keylen
),
div_{ot} AS (
    SELECT k.tile, k.keylen, k.prefix
    FROM keys_{ot} k JOIN tot_{ot} t ON t.tile=k.tile AND t.keylen=k.keylen
    GROUP BY k.tile, k.keylen, k.prefix
    HAVING COUNT(k.part) > MAX(t.dlimit)
),
cand_{ot} AS (
    SELECT k.*, t.climit,
        CASE WHEN EXISTS (SELECT 1 FROM fi WHERE fi.fk = k.prefix || ':' || k.part)
             THEN FALSE
             WHEN EXISTS (SELECT 1 FROM fr WHERE fr.fk = k.prefix || ':' || k.part)
             THEN TRUE
             ELSE k.cnt >= t.climit END AS is_reg
    FROM keys_{ot} k JOIN tot_{ot} t ON t.tile=k.tile AND t.keylen=k.keylen
    WHERE (k.prefix = '' OR k.prefix IS NULL)
       OR (NOT EXISTS (SELECT 1 FROM div_{ot} dv WHERE dv.tile=k.tile
                       AND dv.keylen=k.keylen AND dv.prefix=k.prefix)
           AND NOT ({never_k}))
),
off_{ot} AS (
    SELECT * FROM (
        SELECT i.tile, i.keylen, i.prefix, i.part, o.right_key AS reg_part
        FROM cand_{ot} i JOIN ov o
          ON i.prefix=o.bad_prefix AND i.part=o.bad_key
        WHERE NOT i.is_reg
        UNION ALL
        SELECT i.tile, i.keylen, i.prefix, i.part, MAX(r.part) AS reg_part
        FROM cand_{ot} i JOIN cand_{ot} r
          ON r.tile=i.tile AND r.keylen=i.keylen AND r.prefix=i.prefix
         AND r.is_reg AND levenshtein(i.part, r.part) <= 1
        WHERE NOT i.is_reg
          AND NOT EXISTS (SELECT 1 FROM ov o WHERE i.prefix=o.bad_prefix
                          AND i.part=o.bad_key)
        GROUP BY i.tile, i.keylen, i.prefix, i.part
    ) x
    WHERE NOT EXISTS (SELECT 1 FROM fp WHERE fp.reg=x.reg_part
                      AND fp.irr=x.part)
),
bad_{ot} AS (
    SELECT DISTINCT g.tile, g.k_orig, g.v_orig,
           '"' || o.part || '"' AS wrong_tag,
           '"' || o.reg_part || '"' AS right_tag
    FROM (
        SELECT t.tile, kl.keylen, t.k_orig, t.v_orig,
               COALESCE(array_to_string(list_slice(t.keylist, 1, kl.keylen-1), ':'), '') AS prefix,
               t.keylist[kl.keylen] AS part
        FROM tagsn_{ot} t CROSS JOIN (VALUES (1),(2),(3),(4),(5)) kl(keylen)
        WHERE len(t.keylist) >= kl.keylen
    ) g
    JOIN off_{ot} o ON o.tile=g.tile AND o.keylen=g.keylen
     AND o.prefix=g.prefix AND o.part=g.part
),
err_{ot} AS (
    SELECT DISTINCT {err_select(220, ot, f't.{idc}', msg220,
        txt1=f"'{ot}'", txt2=_html('t.k'), txt3=_html('t.v'),
        txt4=_html('bt.wrong_tag'), txt5=_html('bt.right_tag'),
        tile='t.tile')}
    FROM {tbl} t JOIN bad_{ot} bt
      ON bt.tile=t.tile AND bt.k_orig=t.k AND bt.v_orig=t.v
    UNION ALL
    SELECT {err_select(221, ot, idc, msg221,
        txt1=f"'{ot}'",
        txt2=QUOTED_TAG_LIST_SQL_0220)}
    FROM {tbl} WHERE k='key'
    GROUP BY tile, {idc}
)""")

    body = f"""
fp (reg, irr) AS (SELECT * FROM (VALUES
        {fp_vals}) t(reg, irr)),
fi (fk) AS (SELECT * FROM (VALUES
        {fi_vals}) t(fk)),
fr (fk) AS (SELECT * FROM (VALUES
        {fr_vals}) t(fk)),
ov (bad_prefix, bad_key, right_prefix, right_key) AS (SELECT * FROM (VALUES
        {ov_vals}) t(a, b, c, d)),
{",".join(per_type)},
err AS (
    SELECT * FROM err_node
    UNION ALL SELECT * FROM err_way
    UNION ALL SELECT * FROM err_relation
)"""
    return wrap(d, body)


QUOTED_TAG_LIST_SQL_0220 = (
    "string_agg('\"' || COALESCE(k,'') || '=' || COALESCE(v,'') || '\"', "
    "', ' ORDER BY k, v)"
)


# ---------------------------------------------------------------------------
# Multimodal (media-span) operator oracles — computed straight off the
# docs table (media.py is the engine twin)
# ---------------------------------------------------------------------------


def _media_preamble(d: str) -> str:
    from .docs_store import duckdb_docs_source

    return f"""docs AS (SELECT * FROM read_parquet({duckdb_docs_source(d)})),
sp AS (SELECT doc_id, UNNEST(spans) AS s FROM docs),
m AS (SELECT split_part(doc_id,'/',1) AS object_type,
             CAST(split_part(doc_id,'/',2) AS BIGINT) AS id, doc_id,
             split_part(s.text, chr(9), 1) AS mime, s.media_ref AS media_ref
      FROM sp WHERE s.kind='media'),
ot AS (SELECT DISTINCT 'node' AS object_type, id, tile FROM nodes
       UNION SELECT DISTINCT 'way' AS object_type, id, tile FROM ways
       UNION SELECT DISTINCT 'relation' AS object_type, id, tile FROM relations),
tm AS (SELECT m.*, ot.tile FROM m JOIN ot USING (object_type, id))"""


def oracle_media_census(d: str) -> str:
    return (
        f"WITH {preamble(d)},\n{_media_preamble(d)}\n"
        "SELECT tile, mime, count(*) AS n_spans, "
        "count(DISTINCT media_ref) AS n_refs, "
        "count(DISTINCT doc_id) AS n_docs "
        "FROM tm GROUP BY tile, mime"
    )


def oracle_media_dups(d: str) -> str:
    # roster cap imported from the engine (media.DUP_ROSTER_CAP) so a
    # cap change can never desynchronize engine and oracle
    from .media import DUP_ROSTER_CAP

    return (
        f"WITH {preamble(d)},\n{_media_preamble(d)}\n"
        "SELECT tile, media_ref, max(total) AS n_docs, "
        "string_agg(doc_id, ',' ORDER BY doc_id) AS docs FROM ("
        "SELECT tile, media_ref, doc_id, "
        "count(*) OVER (PARTITION BY tile, media_ref) AS total, "
        "row_number() OVER (PARTITION BY tile, media_ref ORDER BY doc_id) "
        f"AS rn FROM (SELECT DISTINCT tile, media_ref, doc_id FROM tm "
        f"WHERE media_ref IS NOT NULL)) WHERE rn <= {DUP_ROSTER_CAP} "
        "GROUP BY tile, media_ref HAVING max(total) > 1"
    )


def oracle_media_integrity(d: str) -> str:
    return (
        f"WITH {preamble(d)},\n{_media_preamble(d)}\n"
        "SELECT DISTINCT tile, 'dangling_ref' AS violation, doc_id, "
        "CAST(NULL AS VARCHAR) AS media_ref FROM tm WHERE media_ref IS NULL\n"
        "UNION ALL\n"
        "SELECT tile, 'mime_conflict' AS violation, "
        "CAST(NULL AS VARCHAR) AS doc_id, media_ref FROM ("
        "SELECT tile, media_ref, count(DISTINCT mime) AS nm FROM tm "
        "WHERE media_ref IS NOT NULL GROUP BY tile, media_ref) WHERE nm > 1"
    )


def _media_dec_preamble(d: str) -> str:
    """Distinct-ref decode twin of media.decode_refs + the fake codec:
    the same md5 prefixes DuckDB-side (constants imported from the
    engine so a range change can never desynchronize)."""
    from .docs_store import duckdb_docs_source
    from .media import FAKE_MAX_DIM, FAKE_MAX_FRAMES

    return f"""docs AS (SELECT * FROM read_parquet({duckdb_docs_source(d)})),
sp AS (SELECT doc_id, UNNEST(spans) AS s FROM docs),
dref AS (SELECT DISTINCT s.media_ref AS media_ref,
                split_part(s.text, chr(9), 1) AS mime
         FROM sp WHERE s.kind = 'media' AND s.media_ref IS NOT NULL),
dec AS (SELECT media_ref, mime,
        16 + ('0x' || substr(md5(media_ref), 1, 4))::INT % {FAKE_MAX_DIM}
          AS width,
        16 + ('0x' || substr(md5(media_ref), 5, 4))::INT % {FAKE_MAX_DIM}
          AS height,
        CASE WHEN mime LIKE 'image/%' THEN 1
             ELSE 1 + ('0x' || substr(md5(media_ref), 9, 4))::INT
                      % {FAKE_MAX_FRAMES} END AS n_frames
        FROM dref)"""


def oracle_media_resize(d: str) -> str:
    from .media import RESIZE_MAX_PX as px

    return (
        f"WITH {_media_dec_preamble(d)}\n"
        "SELECT media_ref, mime, width, height, "
        f"CASE WHEN greatest(width, height) <= {px} THEN width "
        f"ELSE greatest(1, CAST(FLOOR(width * {px} / "
        "CAST(greatest(width, height) AS DOUBLE)) AS INT)) END AS out_w, "
        f"CASE WHEN greatest(width, height) <= {px} THEN height "
        f"ELSE greatest(1, CAST(FLOOR(height * {px} / "
        "CAST(greatest(width, height) AS DOUBLE)) AS INT)) END AS out_h "
        "FROM dec"
    )


def oracle_media_frames(d: str) -> str:
    from .media import FRAME_SAMPLE_K as k

    return (
        f"WITH {_media_dec_preamble(d)}\n"
        "SELECT DISTINCT media_ref, mime, n_frames, "
        f"CAST(FLOOR(g.range * n_frames / {float(k)}) AS INT) AS frame_idx "
        f"FROM dec, range({k}) g"
    )


def oracle_media_features(d: str) -> str:
    from .media import FAKE_FEATURE_DIM as dim

    return (
        f"WITH {_media_dec_preamble(d)},\n"
        "feats AS (SELECT media_ref, mime, g.range AS j, "
        "('0x' || substr(md5(media_ref || ':f' || g.range::VARCHAR), 1, 4))"
        f"::INT % 256 AS fv FROM dec, range({dim}) g)\n"
        f"SELECT media_ref, mime, CAST({dim} AS INT) AS dim, "
        "CAST(SUM(fv * fv) AS BIGINT) AS ssq, "
        "string_agg(fv::VARCHAR, ',' ORDER BY j) AS feature_q "
        "FROM feats GROUP BY media_ref, mime"
    )


def oracle_zonal_stats(d: str) -> str:
    from .raster import RES as res, VAL_MOD as mod

    # independent DuckDB twin of raster.zonal_stats: same deterministic
    # raster lattice (md5-prefix hash, docops trick), same bbox
    # candidate filter, same even-odd ray cast over way_node edges
    return (
        f"WITH {preamble(d)},\n"
        "cells AS (SELECT t.tile, i.range AS i, j.range AS j, "
        f"t.\"left\" + (i.range + 0.5) * (t.\"right\" - t.\"left\") / {res} "
        "AS cx, "
        f"t.bottom + (j.range + 0.5) * (t.top - t.bottom) / {res} AS cy, "
        "('0x' || substr(md5('rc:' || t.tile || ':' || i.range::VARCHAR "
        f"|| ':' || j.range::VARCHAR), 1, 8))::BIGINT % {mod} AS val "
        f"FROM tiles t, range({res}) i, range({res}) j),\n"
        "zones AS (SELECT w.tile, w.id AS way_id, "
        "wt.k || '=' || wt.v AS zone_kind "
        "FROM ways w JOIN way_tags wt ON wt.way_id = w.id "
        "AND wt.tile = w.tile "
        "WHERE w.first_node_id = w.last_node_id AND w.node_count >= 4 "
        "AND wt.k IN ('landuse', 'natural', 'leisure')),\n"
        "bbox AS (SELECT tile, way_id, min(lon) AS minx, max(lon) AS maxx, "
        "min(lat) AS miny, max(lat) AS maxy FROM way_nodes "
        "GROUP BY tile, way_id),\n"
        "cand AS (SELECT z.tile, z.way_id, z.zone_kind, "
        "c.i, c.j, c.cx, c.cy, c.val "
        "FROM zones z JOIN bbox b ON b.tile = z.tile AND b.way_id = z.way_id "
        "JOIN cells c ON c.tile = z.tile "
        "WHERE c.cx >= b.minx AND c.cx <= b.maxx "
        "AND c.cy >= b.miny AND c.cy <= b.maxy),\n"
        "edges AS (SELECT * FROM (SELECT tile, way_id, "
        "lon AS ax, lat AS ay, "
        "lead(lon) OVER (PARTITION BY tile, way_id ORDER BY sequence_id) "
        "AS bx, "
        "lead(lat) OVER (PARTITION BY tile, way_id ORDER BY sequence_id) "
        "AS byy FROM way_nodes) WHERE bx IS NOT NULL),\n"
        "inside AS (SELECT c.way_id, c.zone_kind, c.tile, c.i, c.j, c.val "
        "FROM cand c JOIN edges e ON e.tile = c.tile AND e.way_id = c.way_id "
        "GROUP BY c.way_id, c.zone_kind, c.tile, c.i, c.j, c.val "
        "HAVING sum(CASE WHEN ((e.ay > c.cy) != (e.byy > c.cy)) "
        "AND c.cx < e.ax + (e.bx - e.ax) * (c.cy - e.ay) / (e.byy - e.ay) "
        "THEN 1 ELSE 0 END) % 2 = 1)\n"
        "SELECT way_id, zone_kind, count(*) AS n_cells, "
        "sum(val)::BIGINT AS sum_val, "
        "min(val) AS min_val, max(val) AS max_val, "
        "sum(val) / count(*) AS mean_val "
        "FROM inside GROUP BY way_id, zone_kind"
    )


def oracle_doc_span_profile(d: str) -> str:
    """DuckDB twin of media.doc_span_profile: list-lambda algebra
    over the raw docs parquet (whatever layout the engine reads)."""
    from .docs_store import duckdb_docs_source

    return f"""
WITH docs AS (SELECT * FROM read_parquet({duckdb_docs_source(d)}))
SELECT doc_id,
  CAST(len(spans) AS BIGINT) AS n_spans,
  CAST(len(list_filter(spans, s -> s.kind = 'text')) AS BIGINT) AS n_text,
  CAST(len(list_filter(spans, s -> s.kind = 'media')) AS BIGINT)
    AS n_media,
  CAST(coalesce(list_aggregate(list_transform(
      list_filter(spans, s -> s.kind = 'text'),
      s -> length(coalesce(s.text, ''))), 'sum'), 0) AS BIGINT)
    AS text_chars,
  array_to_string(list_transform(spans, s -> substr(s.kind, 1, 1)), '')
    AS kind_seq,
  md5(array_to_string(list_transform(spans,
      s -> s.kind || chr(31) || coalesce(s.text, '') || chr(31) ||
           coalesce(s.media_ref, '')), chr(30))) AS span_fingerprint,
  CASE WHEN list_transform(spans, s -> CAST(s."offset" AS BIGINT))
            = range(0, len(spans)) THEN 1 ELSE 0 END AS offsets_dense
FROM docs
"""
