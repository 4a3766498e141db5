"""End-to-end pipeline: docs → views → tiled views → checks → error_view.

Spark-first equivalent of checks/process_schema.php:37-43 +
run-checks.php — but tiles are a data column, not an outer loop, so a
single job covers every tile and all per-tile work shuffles on
(tile, …) keys.

Two stages, mirroring the reference's updateDB (materialize the
relational model) → run-checks (dataflow over it):

1. ``prepare``  — decode the docs table, assign tiles, and *write the
   tiled views out* (parquet here; Iceberg tables on a cluster).  Every
   check re-reads these views many times, so materializing once is the
   scale-correct choice — it also gives each check a small plan with
   parquet pushdown instead of a giant shared lineage.  After a
   replication upsert it refreshes only the tile partitions the
   batch's changelog reaches (docs_store.changes_since), the twin of
   the reference's apply-diff-then-re-crop cycle.
2. ``run_checks`` — stage each check's rows over the materialized
   views and build the clipped error_view from them.
"""

from __future__ import annotations

import atexit
import json
import os
import re
import shutil
import tempfile
import time
from collections import defaultdict
from concurrent.futures import ThreadPoolExecutor
from contextlib import contextmanager
from functools import partial, reduce

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StringType, StructField, StructType

from . import checks as check_registry
from . import docs_store
from .codec import OsmViews, decode
from .datagen import GEN_VERSION
from .errors import build_error_view
from .lib import materialization_scope, materialize, write_json
from .tiling import DEFAULT_MARGIN_M, DEFAULT_TILES, Tile, assign_tiles, padded_tiles

VIEW_NAMES = [
    "nodes",
    "node_tags",
    "ways",
    "way_nodes",
    "way_tags",
    "relations",
    "relation_members",
    "relation_tags",
]
STAMP = "engine_manifest.json"
# a doc id the refresh can key on: a node or way whose id decode's
# bigint cast reads back as the same text (no sign, no leading zero,
# at most 18 digits)
_REFRESH_DOC_ID = re.compile(r"(node|way)/([1-9][0-9]{0,17})")


def _dataset_manifest(dataset_dir: str) -> dict:
    """The dataset's MANIFEST.json, or {} when it has none (an
    ``--ingest-xml`` dataset)."""
    try:
        with open(os.path.join(dataset_dir, "MANIFEST.json")) as f:
            return json.load(f)
    except (OSError, ValueError):
        return {}


def dataset_tiles(dataset_dir: str) -> list[Tile]:
    """The tiling a dataset is prepared, checked and clipped with: the
    tiles its MANIFEST.json records, else DEFAULT_TILES."""
    rows = _dataset_manifest(dataset_dir).get("tiles")
    return [Tile(*row) for row in rows] if rows else list(DEFAULT_TILES)


def prepare(spark: SparkSession, dataset_dir: str) -> str:
    """Bring the decoded + tiled engine tables under
    ``<dataset_dir>/engine/`` up to date with the docs table
    (docs_store) and return that dir.

    The stamp (``engine_manifest.json``) records the generator and
    engine versions, the docs signature (docs_store.signature), the
    docs-store version the tables reflect, how they were last brought
    up to date (``refresh``: ``"full"`` or ``"delta"``), each table's
    Spark schema and the per-tile summary of the tables
    (``_summarize``).  A stamp whose signature matches the docs returns
    at once.  A stamp behind the store whose every later changelog is
    kept refreshes only the rows those batches reach (``_refresh``) and
    re-summarizes only the tiles it rewrote; a tile the refresh left
    empty loses its entry.  Anything else — the first build, a plain
    docs layout, a lost changelog, a batch the refresh cannot prove
    tile-stable, a crash mid-refresh — re-derives every table from all
    docs (``_build``) and summarizes every tile."""
    out = os.path.join(dataset_dir, "engine")
    docs_sig = docs_store.signature(dataset_dir)
    st = _read_stamp(out)
    if st is not None and st.get("docs_sig") == docs_sig:
        return out
    man = docs_store.read_manifest(dataset_dir)
    changed = None
    if st is not None and man is not None and st.get("store_version") is not None:
        changed = docs_store.changes_since(dataset_dir, st["store_version"])
    docs = docs_store.read_docs(spark, dataset_dir)
    rewritten = None
    if changed is not None:
        rewritten = _refresh(spark, dataset_dir, out, st, changed, docs)
    if rewritten is not None:
        refresh, schemas = "delta", st["schemas"]
        summary = {t: e for t, e in st["tile_summary"].items() if t not in rewritten}
    else:
        refresh, schemas = "full", _build(spark, dataset_dir, out, docs)
        summary = {}
    summary.update(_summarize(spark, out, schemas, rewritten))
    write_json(
        os.path.join(out, STAMP),
        {
            "gen_version": GEN_VERSION,
            "engine_version": ENGINE_VERSION,
            "docs_sig": docs_sig,
            "store_version": man["version"] if man is not None else None,
            "refresh": refresh,
            "schemas": schemas,
            "tile_summary": dict(sorted(summary.items())),
        },
    )
    return out


def tile_summary(dataset_dir: str) -> dict:
    """The per-tile summary the engine stamp of a prepared dataset
    records (``_summarize``)."""
    return _read_stamp(os.path.join(dataset_dir, "engine"))["tile_summary"]


def _read_stamp(out: str) -> dict | None:
    """The engine stamp when it was written by this generator and
    engine version, else None."""
    try:
        with open(os.path.join(out, STAMP)) as f:
            st = json.load(f)
    except (OSError, ValueError):
        return None
    if st.get("gen_version") != GEN_VERSION or st.get("engine_version") != ENGINE_VERSION:
        return None
    return st


def _read_table(spark: SparkSession, out: str, name: str, schemas: dict) -> DataFrame:
    """One engine table, read with the schema its stamp records (a
    plain parquet read would launch a schema-inference job)."""
    return spark.read.schema(StructType.fromJson(schemas[name])).parquet(
        f"{out}/{name}.parquet"
    )


def _write_tiled(df: DataFrame, path: str, n_files: int | None) -> dict:
    """Write ``df`` hive-partitioned by tile and return the schema a
    read of the written table has (data columns nullable, tile last).

    Views are partitioned by tile (Iceberg partition spec on a
    cluster): a per-tile-group run prunes to its partitions instead of
    scanning every file, and the layout matches the engine's universal
    (tile, …) shuffle keys.  repartition(n, "tile") first so each tile
    is written by exactly one task → one file per tile, not tasks×tiles
    small files.  ``n_files=None`` skips that shuffle and writes ``df``'s
    partitions as they are: the batch-scoped rewrite hands in one, so a
    tile it rewrites stays one file, as after a full build."""
    if n_files is not None:
        df = df.repartition(n_files, "tile")
    df.write.mode("overwrite").partitionBy("tile").parquet(path)
    fields = [
        StructField(f.name, f.dataType, True) for f in df.schema if f.name != "tile"
    ]
    return StructType(fields + [StructField("tile", StringType(), True)]).jsonValue()


@contextmanager
def _decoded(docs: DataFrame):
    """``decode(docs)`` with its frames cached for the block: tile
    assignment and every table write re-read them."""
    from pyspark.storagelevel import StorageLevel

    base = decode(docs)
    persisted = [getattr(base, n) for n in VIEW_NAMES]
    for df in persisted:
        df.persist(StorageLevel.MEMORY_AND_DISK)
    try:
        yield base
    finally:
        for df in persisted:
            df.unpersist()


def _build(spark: SparkSession, dataset_dir: str, out: str, docs: DataFrame) -> dict:
    """Full prepare: decode every doc, assign tiles, write the 8 views
    and the 4 helpers; returns the tables' schemas."""
    n_files = int(spark.conf.get("spark.sql.shuffle.partitions", "32"))
    schemas = {}
    with materialization_scope():
        with _decoded(docs) as base:
            v = assign_tiles(base, dataset_tiles(dataset_dir), DEFAULT_MARGIN_M)
            for name in VIEW_NAMES:
                schemas[name] = _write_tiled(
                    getattr(v, name), f"{out}/{name}.parquet", n_files
                )
        views = OsmViews(
            **{name: _read_table(spark, out, name, schemas) for name in VIEW_NAMES}
        )
        for name, make in _helper_frames(views).items():
            schemas[name] = _write_tiled(make(), f"{out}/{name}.parquet", n_files)
    return schemas


def _refresh(
    spark: SparkSession,
    dataset_dir: str,
    out: str,
    st: dict,
    changed: list[str],
    docs: DataFrame,
) -> list[str] | None:
    """Batch-scoped prepare: rewrite only the rows the changed docs
    reach, in only the tile partitions that hold them, and return those
    tiles.  Returns None, having written nothing, when the batch is not
    provably tile-stable; the checks run cheapest first, so a batch
    with a relation or an id decode cannot key on costs no Spark job
    and an added doc three small ones.

    The batch C (``changed``) bounds every scan of the old tables — a
    data-induced predicate (*Pushing Data-Induced Predicates Through
    Joins in Big-Data Clusters*, VLDB 2019).  Its nodes N_c and ways
    W_c reach the ways W = W_c ∪ {ways whose old way_nodes reference a
    node of N_c}.  Rows come from ``decode`` over the docs of C, of W
    and of the nodes W references, and from the helper functions over
    that subset; their tiles come from the old tables (a node's from
    ``nodes``, a way's from its ``way_nodes`` rows, the same set as in
    ``ways``).  That is valid when

    1. C holds only node and way docs with ids ``_REFRESH_DOC_ID``
       accepts (no relation);
    2. every node of C was in the tables and keeps its padded-tile set
       (tiling.padded_tiles on the old and new coordinates), or is a
       tombstone no way or relation references;
    3. every way of C was in the tables and keeps its ordered noderefs;
    4. C adds no doc (2 and 3 check that each was in the tables).

    A node's tiles are its direct tiles plus its ways' tiles, and a
    way's tiles are the union of its nodes' direct tiles, so under 1-4
    no object's tile set changes and no relation member appears or
    disappears: the relation tables stay as they are.

    Each rewritten partition is the old one less the affected ids plus
    the rebuilt rows, written under ``engine/_delta/`` and swapped in
    by directory rename once every write has finished.  The stamp is
    invalidated before the first swap (``prepare`` writes the valid
    one after the last), so a crash in between makes the next
    ``prepare`` a full one."""
    ids: dict[str, list[int]] = defaultdict(list)
    for doc_id in changed:
        m = _REFRESH_DOC_ID.fullmatch(doc_id)
        if m is None:
            return None  # a relation, or an id the refresh cannot key on
        ids[m[1]].append(int(m[2]))
    n_c, w_c = ids["node"], ids["way"]
    schemas = st["schemas"]

    def old(name: str) -> DataFrame:
        return _read_table(spark, out, name, schemas)

    # the old tables' view of the batch, collected: O(|batch|) rows
    wn = old("way_nodes")
    seeds = wn.filter(F.col("node_id").isin(n_c) | F.col("way_id").isin(w_c))
    old_nodes, old_wn, old_members = _concurrently(
        old("nodes")
        .filter(F.col("id").isin(n_c))
        .select("id", "tile", "lat", "lon")
        .collect,
        wn.join(seeds.select("way_id"), "way_id", "left_semi")
        .select("way_id", "tile", "sequence_id", "node_id")
        .collect,
        old("relation_members")
        .filter((F.col("member_type") == "N") & F.col("member_id").isin(n_c))
        .select("member_id")
        .collect,
    )
    node_tiles: dict[int, set] = defaultdict(set)
    node_pos = {}
    for r in old_nodes:
        node_tiles[r.id].add(r.tile)
        node_pos[r.id] = (r.lat, r.lon)
    way_tiles: dict[int, set] = defaultdict(set)
    refs: dict[tuple, list] = defaultdict(list)  # (way, tile) -> noderefs
    for r in old_wn:
        way_tiles[r.way_id].add(r.tile)
        refs[r.way_id, r.tile].append((r.sequence_id, r.node_id))
    old_refs = {w: sorted(refs[w, min(ts)]) for w, ts in way_tiles.items()}
    if set(n_c) - node_tiles.keys() or set(w_c) - way_tiles.keys():
        return None  # a doc the tables do not hold: added, or in no tile
    referenced = {n for rs in old_refs.values() for _, n in rs}
    referenced |= {r.member_id for r in old_members}
    ways = sorted(way_tiles)  # W

    want = {f"node/{n}" for n in n_c} | {f"way/{w}" for w in ways}
    want |= {f"node/{n}" for rs in old_refs.values() for _, n in rs}
    docs = docs.filter(F.col("doc_id").isin(sorted(want))).coalesce(1)
    # batch-bounded: materialized once in one partition, so the decode's
    # branches neither re-read the store's files nor fan out tasks
    with materialization_scope(), _decoded(materialize(docs)) as new:
        new_nodes, new_wn = _concurrently(
            new.nodes.filter(F.col("id").isin(n_c)).select("id", "lat", "lon").collect,
            new.way_nodes.filter(F.col("way_id").isin(w_c))
            .select("way_id", "sequence_id", "node_id")
            .collect,
        )
        new_pos = {r.id: (r.lat, r.lon) for r in new_nodes}
        new_refs = defaultdict(list)
        for r in new_wn:
            new_refs[r.way_id].append((r.sequence_id, r.node_id))
        tiles = dataset_tiles(dataset_dir)
        for n in n_c:
            if n not in new_pos:
                if n in referenced:
                    return None  # tombstone of a node still in use
            elif padded_tiles(*new_pos[n], tiles, DEFAULT_MARGIN_M) != padded_tiles(
                *node_pos[n], tiles, DEFAULT_MARGIN_M
            ):
                return None
        if any(sorted(new_refs[w]) != old_refs[w] for w in w_c):
            return None

        # (table, id column, ids to replace, partitions, make rows)
        rewrites = []
        if n_c:
            nodes_of = {n: node_tiles[n] for n in n_c}
            n_parts = sorted(set().union(*nodes_of.values()))
            rewrites += [
                ("nodes", "id", n_c, n_parts,
                 lambda: _with_tiles(new.nodes, "id", nodes_of)),
                ("node_tags", "node_id", n_c, n_parts,
                 lambda: _with_tiles(new.node_tags, "node_id", nodes_of)),
            ]
        if ways:
            w_parts = sorted(set().union(*way_tiles.values()))
            sub = OsmViews(
                nodes=new.nodes,
                node_tags=new.node_tags,
                ways=_with_tiles(new.ways, "id", way_tiles),
                way_nodes=_with_tiles(new.way_nodes, "way_id", way_tiles),
                way_tags=_with_tiles(new.way_tags, "way_id", way_tiles),
                relations=new.relations,
                relation_members=new.relation_members,
                relation_tags=new.relation_tags,
            )
            rewrites += [
                ("ways", "id", ways, w_parts, lambda: sub.ways),
                ("way_nodes", "way_id", ways, w_parts, lambda: sub.way_nodes),
                ("way_tags", "way_id", ways, w_parts, lambda: sub.way_tags),
            ] + [
                (name, "way_id", ways, w_parts, make)
                for name, make in _helper_frames(sub).items()
            ]
        stage = os.path.join(out, "_delta")
        shutil.rmtree(stage, ignore_errors=True)

        def _stage(name, key, drop, parts, make) -> None:
            kept = old(name).filter(
                F.col("tile").isin(parts) & ~F.col(key).isin(drop)
            )
            _write_tiled(
                kept.unionByName(make().select(kept.columns)).coalesce(1),
                f"{stage}/{name}.parquet",
                None,
            )

        # built and written in threads: the plans' analysis overlaps too
        _concurrently(*[partial(_stage, *r) for r in rewrites])

    write_json(os.path.join(out, STAMP),
               {**st, "docs_sig": None, "store_version": None})
    for name, _, _, parts, _ in rewrites:
        for t in parts:
            _swap_partition(out, stage, name, f"tile={t}")
        # a cached read of the table (tiled_views) must not serve the
        # swapped-out files; a Spark overwrite does this on its own
        spark.catalog.refreshByPath(f"{out}/{name}.parquet")
    shutil.rmtree(stage, ignore_errors=True)
    return sorted({t for _, _, _, parts, _ in rewrites for t in parts})


def _concurrently(*calls) -> list:
    """Run the calls in threads and return their results.  Each runs
    small Spark jobs, whose fixed costs (planning, scheduling, commit)
    then overlap."""
    with ThreadPoolExecutor(max_workers=len(calls)) as ex:
        futures = [ex.submit(call) for call in calls]
        return [f.result() for f in futures]


def _with_tiles(df: DataFrame, key: str, tiles_of: dict) -> DataFrame:
    """``df``'s rows whose ``key`` is in ``tiles_of``, one per tile of
    that id.  The id → tiles map is batch-bounded, so it rides in the
    plan as a literal: no join, no exchange.  Its keys are bigint: a
    lookup casts the id to the map's key type."""
    pairs = [
        (F.lit(i).cast("bigint"), F.array(*map(F.lit, sorted(ts))))
        for i, ts in tiles_of.items()
    ]
    m = F.create_map(*[c for pair in pairs for c in pair])
    return df.withColumn("tile", F.explode(m[F.col(key)]))


def _swap_partition(out: str, stage: str, name: str, part: str) -> None:
    """Replace ``engine/<name>/<part>`` with its staged rewrite; a
    partition the rewrite left empty is dropped."""
    cur = os.path.join(out, f"{name}.parquet", part)
    new = os.path.join(stage, f"{name}.parquet", part)
    if os.path.isdir(cur):
        trash = os.path.join(stage, "_old", name)
        os.makedirs(trash, exist_ok=True)
        os.rename(cur, os.path.join(trash, part))
    if os.path.isdir(new):
        os.rename(new, cur)


def _summarize(
    spark: SparkSession, out: str, schemas: dict, tiles: list[str] | None
) -> dict:
    """Per-tile summary of the engine tables over ``tiles`` (every tile
    when None) in one aggregation pass: ``{tile: {<view>: [rows,
    bit_xor(xxhash64(view, row)), sum(hash(view, row))]`` for each of
    the 8 views, ``"max_node_cell64": .., "max_seg_cell64": ..}}``.

    One entry per partition, kept with the tables as an Iceberg manifest
    keeps its partition summaries (and as in *Pushing Data-Induced
    Predicates Through Joins in Big-Data Clusters*, VLDB 2019).  On the
    driver it scopes a cycle (diff.affected_tiles), identifies a staged
    run (lifecycle.run_persistent), guards against an empty view
    (watchdog.assert_base_tables) and sizes spread()'s gate
    (``tiled_views``).  Row counts come from the written tables, so the
    guard checks what the checks read.  Both hash aggregates are
    order-independent; the 32-bit hashes sum into a bigint that cannot
    overflow below 2^32 rows.

    The cell census is the hottest 64 m cell of nodes (point-based, as
    point_cells consumers enroll) and of way segments (every cell the
    bbox covers, padded with the largest consumer pad, check_0050's
    RADIUS, as line_cells / bseg_cells enroll), so it is an upper bound
    for padded bbox-cell joins too.  Rows group by (tile, view, cell),
    the cell null but for these two, then by (tile, view)."""
    from .checks.check_0050 import RADIUS as MAX_CONSUMER_PAD_M
    from .spatial import bbox_cells, point_cells

    def read(name: str) -> DataFrame:
        df = _read_table(spark, out, name, schemas)
        return df if tiles is None else df.filter(F.col("tile").isin(tiles))

    parts = []
    for name in VIEW_NAMES:
        df = read(name)
        row = [F.lit(name), *(F.col(c) for c in df.columns if c != "tile")]
        cell = F.lit(None)
        if name == "nodes":
            cell = point_cells(F.col("x"), F.col("y"), 64.0)
        parts.append(df.select(
            "tile",
            F.lit(name).alias("part"),
            cell.cast("long").alias("c"),
            F.xxhash64(*row).alias("h64"),
            F.hash(*row).alias("h32"),
        ))
    segs = read("h_segments")
    parts.append(segs.select(
        "tile",
        F.lit("h_segments").alias("part"),
        F.explode(
            bbox_cells(
                F.least("ax", "bx"), F.least("ay", "by"),
                F.greatest("ax", "bx"), F.greatest("ay", "by"),
                64.0, MAX_CONSUMER_PAD_M,
            )
        ).alias("c"),
        F.lit(None).cast("long").alias("h64"),
        F.lit(None).cast("int").alias("h32"),
    ))
    rows = (
        reduce(DataFrame.unionByName, parts)
        .groupBy("tile", "part", "c")
        .agg(F.count(F.lit(1)).alias("n"), F.bit_xor("h64").alias("x"),
             F.sum("h32").alias("h"))
        .groupBy("tile", "part")
        .agg(F.sum("n"), F.max("n"), F.bit_xor("x"), F.sum("h"))
        .collect()
    )
    empty = {**{n: [0, 0, 0] for n in VIEW_NAMES}, **dict.fromkeys(CELL_STATS, 0)}
    summary: dict[str, dict] = defaultdict(lambda: dict(empty))
    for t, part, n, top, x, h in rows:
        if part == "h_segments":
            summary[t]["max_seg_cell64"] = top
        else:
            summary[t][part] = [n, x, h]
            if part == "nodes":
                summary[t]["max_node_cell64"] = top
    return dict(summary)


# helper tables materialized alongside the views — the twin of the
# reference's prepare_helpertables.php: every check that needs layers /
# oneways / lengths / segments reads the parquet instead of re-running
# the shared aggregation (saves ~4 stages per consuming check job)
HELPER_NAMES = ["h_layers", "h_oneways", "h_lengths", "h_segments"]
ENGINE_VERSION = 9  # 9: one per-tile summary in the stamp
# the skew census of each summary entry (spatial.spread's gate)
CELL_STATS = ["max_node_cell64", "max_seg_cell64"]


def _helper_frames(v: OsmViews) -> dict:
    """The 4 helper tables over ``v``, each made when called: each row
    depends only on its own (tile, way), so a subset of ways yields
    exactly their rows."""
    from .lib import find_oneways, way_layers, way_lengths
    from .spatial import way_segments

    return {
        "h_layers": lambda: way_layers(v),
        "h_oneways": lambda: find_oneways(v),
        "h_lengths": lambda: way_lengths(v),
        "h_segments": lambda: way_segments(
            v, v.ways.select("tile", F.col("id").alias("way_id"))
        ),
    }


def tiled_views(
    spark: SparkSession,
    dataset_dir: str,
    share_partitioning: bool = True,
) -> OsmViews:
    """Views over the materialized engine tables (prepared on demand).

    With ``share_partitioning`` every view is cached, and, on a world
    with many tiles per partition, hash-partitioned by tile first;
    because every downstream join / aggregation / window keys on a
    (tile, …) prefix, Catalyst then reuses this single partitioning
    across all checks (with
    ``spark.sql.requireAllClusterKeysForCoPartition=false``, set by
    session.get_spark) and the per-check shuffles disappear — the
    cluster analog is Iceberg tables partitioned+bucketed by tile,
    where the scan itself reports the distribution.  ``False`` skips
    caching entirely (per-tile-group runs rely on partition pruning
    instead).

    Exchange elimination is only a win while tiles ≫ partitions: with
    n_tiles within ~4× of the partition count, tile-hash placement is
    balls-in-bins lumpy and every reused-partitioning stage funnels
    whole tiles through single tasks (measured on the 20-tile dense
    world at 4 cores: 0400 28.9 s → 20.1 s, 0050 23.6 s → 15.7 s by
    dropping the tile repartition and letting each join shuffle on
    its full, finer key).  So the rule ``n_tiles ≥ 4 ×
    shuffle_partitions`` is evaluated here, once: it gates the shared
    repartition and rides in ``cell_stats["many_tiles"]`` to
    spatial.spread, whose exchange skip it gates too.
    """
    out = prepare(spark, dataset_dir)
    st = _read_stamp(out)
    n_part = int(spark.conf.get("spark.sql.shuffle.partitions", "32"))
    # the hottest cell over all tiles, and the many-tiles rule
    cell_stats = {
        stat: max((e[stat] for e in st["tile_summary"].values()), default=0)
        for stat in CELL_STATS
    }
    cell_stats["many_tiles"] = len(dataset_tiles(dataset_dir)) >= 4 * n_part
    tile_repart = share_partitioning and cell_stats["many_tiles"]

    def _load(name: str) -> DataFrame:
        df = _read_table(spark, out, name, st["schemas"])
        if share_partitioning:
            from pyspark.storagelevel import StorageLevel

            if tile_repart:
                df = df.repartition(n_part, "tile")
            df = df.persist(StorageLevel.MEMORY_AND_DISK)
        return df

    v = OsmViews(
        **{name: _load(name) for name in VIEW_NAMES + HELPER_NAMES},
        island_seeds=_dataset_manifest(dataset_dir).get("island_seeds"),
        cell_stats=cell_stats,
    )
    if share_partitioning:
        # materialize caches eagerly: the staged runner submits check
        # jobs concurrently, and a cold cache would be computed N times
        # in parallel (wasted work, though not incorrect)
        for name in VIEW_NAMES + HELPER_NAMES:
            getattr(v, name).count()
    return v


STAGE_SLOTS = 8  # concurrent check jobs (BENCH/BASELINE.md: 6-8 is flat)


def run_checks(
    v: OsmViews,
    check_ids: list[int] | None = None,
    tiles: list[Tile] | None = None,
    stage_dir: str | None = None,
    timings: dict | None = None,
) -> DataFrame:
    """Run the requested checks and build the clipped error_view
    (deterministic columns) from their _tmp_errors rows.

    One shape: the reference's per-check temp tables
    (run-checks.php:195-216), run ``STAGE_SLOTS`` at a time like its
    6 connections.  Each check's rows are written to parquet under
    ``stage_dir`` by a concurrently submitted job inside its own
    ``materialization_scope``, longest check first.  One resolve/clip
    pass reads them back; its dedupe is materialized before this
    returns, owned by the caller's scope if one is open.
    ``stage_dir=None`` uses a temp dir that lives until the process
    exits, since the returned frame reads from it.  ``timings``
    receives each check's staged wall seconds.
    """
    registry = check_registry.available_checks()
    if check_ids is None:
        check_ids = sorted(registry)
    emit_types = check_registry.check_emits(check_ids)
    if stage_dir is None:
        stage_dir = tempfile.mkdtemp(prefix="kr_stage_")
        atexit.register(shutil.rmtree, stage_dir, True)
    os.makedirs(stage_dir, exist_ok=True)

    def _stage(cid: int) -> str:
        t0 = time.time()
        out = os.path.join(stage_dir, f"check_{cid:04d}.parquet")
        with materialization_scope():
            registry[cid](v).write.mode("overwrite").parquet(out)
        if timings is not None:
            timings[cid] = round(time.time() - t0, 3)
        return out

    with ThreadPoolExecutor(max_workers=STAGE_SLOTS) as ex:
        paths = list(ex.map(_stage, _lpt_order(check_ids)))
    errors = v.nodes.sparkSession.read.parquet(*paths)
    return build_error_view(errors, v, tiles or DEFAULT_TILES, emit_types)


# Longest-first submission order for the staged runner (LPT makespan
# heuristic).  With STAGE_SLOTS=8 slots, ascending-id submission
# starts the most expensive check (0190, staged wall ~42s on scale m
# — comparable to the whole suite's 54-63s wall) only in the 16th
# slot, so its tail extends the makespan; starting the long poles at
# t=0 lets the cheap checks pack around them.  Ranking = the
# round-5 BENCH/SOLO.md min-of-3 solo walls (re-measured after the
# r5 materialization fixes moved 0400/0050/0290 down).  Checks not
# listed (e.g. a new check before it is ever measured) run after the
# listed ones in id order — the schedule stays deterministic.
_STAGE_COST_ORDER = [
    190, 280, 50, 220, 310, 70, 290, 400, 420, 60, 40, 130, 170, 270,
    360, 30, 370, 230, 210, 180, 20, 150, 350, 110, 160, 100, 380,
    320, 390, 300, 90, 120,
]


def _lpt_order(check_ids: list[int]) -> list[int]:
    rank = {cid: i for i, cid in enumerate(_STAGE_COST_ORDER)}
    return sorted(check_ids, key=lambda c: (rank.get(c, len(rank)), c))


def run_dataset(
    spark: SparkSession, dataset_dir: str, check_ids: list[int] | None = None
) -> DataFrame:
    v = tiled_views(spark, dataset_dir)
    return run_checks(v, check_ids, dataset_tiles(dataset_dir))
