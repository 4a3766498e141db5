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
   parquet pushdown instead of a giant shared lineage.
2. ``run_checks`` — stage each check's rows over the materialized
   views and build the clipped error_view from them.
"""

from __future__ import annotations

import atexit
import json
import os
import shutil
import tempfile
import time
from concurrent.futures import ThreadPoolExecutor

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from . import checks as check_registry
from .codec import OsmViews, decode
from .datagen import GEN_VERSION
from .errors import build_error_view
from .lib import materialization_scope
from .tiling import DEFAULT_MARGIN_M, DEFAULT_TILES, Tile, assign_tiles

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


def load_docs(spark: SparkSession, dataset_dir: str) -> DataFrame:
    """Docs table in either layout: the bucketed store (after any
    streaming upsert — docs_store.py) or the generator/ingest plain
    ``docs.parquet``."""
    from . import docs_store

    if docs_store.read_manifest(dataset_dir) is not None:
        return docs_store.read_docs(spark, dataset_dir)
    return spark.read.parquet(f"{dataset_dir}/docs.parquet")


def dataset_tiles(dataset_dir: str) -> list[Tile] | None:
    """Tile list recorded in the dataset's MANIFEST.json, or None when
    absent."""
    try:
        with open(os.path.join(dataset_dir, "MANIFEST.json")) as f:
            m = json.load(f)
        return [Tile(n, left, right, top, bottom) for n, left, right, top, bottom in m["tiles"]]
    except (OSError, KeyError, ValueError):
        return None


def _tiles(dataset_dir: str) -> list[Tile]:
    """The tiling a dataset is prepared and clipped with."""
    return dataset_tiles(dataset_dir) or DEFAULT_TILES


def prepare(spark: SparkSession, dataset_dir: str) -> str:
    """Materialize the decoded + tiled views under
    ``<dataset_dir>/engine/`` (idempotent per generator version)."""
    out = os.path.join(dataset_dir, "engine")
    stamp = os.path.join(out, "engine_manifest.json")
    docs_sig = _docs_signature(dataset_dir)
    if os.path.exists(stamp):
        try:
            with open(stamp) as f:
                st = json.load(f)
            if (
                st.get("gen_version") == GEN_VERSION
                and st.get("engine_version") == ENGINE_VERSION
                and st.get("docs_sig", docs_sig) == docs_sig
            ):
                return out
        except (json.JSONDecodeError, OSError):
            pass
    from pyspark.storagelevel import StorageLevel

    docs = load_docs(spark, dataset_dir)
    base = decode(docs)
    persisted = [getattr(base, n) for n in VIEW_NAMES]
    for df in persisted:
        df.persist(StorageLevel.MEMORY_AND_DISK)
    # Views are hive-partitioned by tile (Iceberg partition spec on a
    # cluster): a per-tile-group run prunes to its partitions instead
    # of scanning every file, and the layout matches the engine's
    # universal (tile, …) shuffle keys.  repartition(n, "tile") first
    # so each tile is written by exactly one task → one file per tile,
    # not tasks×tiles small files.
    n_files = int(spark.conf.get("spark.sql.shuffle.partitions", "32"))
    with materialization_scope():
        v = assign_tiles(base, _tiles(dataset_dir), DEFAULT_MARGIN_M)
        for name in VIEW_NAMES:
            getattr(v, name).repartition(n_files, "tile").write.mode(
                "overwrite"
            ).partitionBy("tile").parquet(f"{out}/{name}.parquet")
        for df in persisted:
            df.unpersist()
        _write_helpers(spark, out, n_files)
    cell_stats = _cell_census(spark, out)
    with open(stamp, "w") as f:
        json.dump(
            {
                "gen_version": GEN_VERSION,
                "engine_version": ENGINE_VERSION,
                "docs_sig": docs_sig,
                "cell_stats": cell_stats,
            },
            f,
        )
    return out


def _cell_census(spark: SparkSession, out: str) -> dict:
    """Hottest-64 m-cell occupancy of nodes and way segments — the
    prepare-time skew statistic spatial.spread() gates its balancing
    exchange on (the cluster analog is Iceberg table stats, refreshed
    with the table).

    Segment occupancy counts every cell the segment's bbox covers —
    the same enrollment the consumers use (0050's line_cells /
    bseg_cells explode bbox_cells) — so the stat is an upper bound for
    bbox-cell joins too: a cell crossed by many long segments whose
    midpoints lie elsewhere reads exactly as hot as the join will see
    it.  Node occupancy stays midpoint(point)-based, matching
    point_cells consumers.

    The bbox is padded with the LARGEST pad any 64 m-cell consumer
    enrolls with (check_0050's RADIUS) so the census stays a true
    upper bound for padded joins: without the pad, a world whose
    segments cluster just under the hot limit could read cold here
    while 0050's padded enrollment pushes the same cells hot."""
    from .checks.check_0050 import RADIUS as MAX_CONSUMER_PAD_M
    from .spatial import bbox_cells, point_cells

    nodes = spark.read.parquet(f"{out}/nodes.parquet")
    node_max = (
        nodes.groupBy("tile", point_cells(F.col("x"), F.col("y"), 64.0).alias("c"))
        .count()
        .agg(F.coalesce(F.max("count"), F.lit(0)))
        .first()[0]
    )
    segs = spark.read.parquet(f"{out}/h_segments.parquet")
    seg_max = (
        segs.select(
            "tile",
            F.explode(
                bbox_cells(
                    F.least("ax", "bx"), F.least("ay", "by"),
                    F.greatest("ax", "bx"), F.greatest("ay", "by"),
                    64.0, MAX_CONSUMER_PAD_M,
                )
            ).alias("c"),
        )
        .groupBy("tile", "c")
        .count()
        .agg(F.coalesce(F.max("count"), F.lit(0)))
        .first()[0]
    )
    return {"max_node_cell64": int(node_max), "max_seg_cell64": int(seg_max)}


def _docs_signature(dataset_dir: str) -> str:
    """Cheap driver-side change signature of the docs table (file
    names + sizes + mtimes) — a replication diff lands as new parquet
    files, so a stale engine dir is re-materialized automatically."""
    import hashlib

    from . import docs_store

    h = hashlib.sha256()
    store_entries = docs_store.signature_entries(dataset_dir)
    if store_entries is not None:
        for name, size, mtime_ns in store_entries:
            h.update(f"{name}:{size}:{mtime_ns}".encode())
        return h.hexdigest()[:16]
    docs = os.path.join(dataset_dir, "docs.parquet")
    if os.path.isdir(docs):
        for root, _dirs, files in sorted(os.walk(docs)):
            for fn in sorted(files):
                p = os.path.join(root, fn)
                try:
                    st = os.stat(p)
                except OSError:
                    continue
                h.update(f"{fn}:{st.st_size}:{st.st_mtime_ns}".encode())
    return h.hexdigest()[:16]


# helper tables materialized alongside the views — the twin of the
# reference's prepare_helpertables.php: every check that needs layers /
# oneways / lengths / segments reads the parquet instead of re-running
# the shared aggregation (saves ~4 stages per consuming check job)
HELPER_NAMES = ["h_layers", "h_oneways", "h_lengths", "h_segments"]
ENGINE_VERSION = 6  # 6: seg census pad = largest consumer pad (0050 RADIUS)


def _write_helpers(spark: SparkSession, out: str, n_files: int) -> None:
    from .lib import find_oneways, way_layers, way_lengths
    from .spatial import way_segments

    base = OsmViews(
        **{name: spark.read.parquet(f"{out}/{name}.parquet") for name in VIEW_NAMES}
    )
    all_ways = base.ways.select("tile", F.col("id").alias("way_id"))
    helpers = {
        "h_layers": way_layers(base),
        "h_oneways": find_oneways(base),
        "h_lengths": way_lengths(base),
        "h_segments": way_segments(base, all_ways),
    }
    for name, df in helpers.items():
        df.repartition(n_files, "tile").write.mode("overwrite").partitionBy(
            "tile"
        ).parquet(f"{out}/{name}.parquet")


def tiled_views(
    spark: SparkSession,
    dataset_dir: str,
    share_partitioning: bool | str = "auto",
) -> OsmViews:
    """Views over the materialized engine tables (prepared on demand).

    With ``share_partitioning`` every view is hash-partitioned by tile
    once and cached; because every downstream join / aggregation /
    window keys on a (tile, …) prefix, Catalyst reuses this single
    partitioning across all checks (with
    ``spark.sql.requireAllClusterKeysForCoPartition=false``, set by
    session.get_spark) and the per-check shuffles disappear — the
    cluster analog is Iceberg tables partitioned+bucketed by tile,
    where the scan itself reports the distribution.

    Exchange elimination is only a win while tiles ≫ partitions: with
    n_tiles within ~4× of the partition count, tile-hash placement is
    balls-in-bins lumpy and every reused-partitioning stage funnels
    whole tiles through single tasks (measured on the 20-tile dense
    world at 4 cores: 0400 28.9 s → 20.1 s, 0050 23.6 s → 15.7 s by
    dropping the tile repartition and letting each join shuffle on
    its full, finer key).  ``share_partitioning="auto"`` (default)
    therefore caches the views but only applies the shared tile
    repartition when ``n_tiles ≥ 4 × shuffle_partitions``; ``True``
    forces it, ``False`` skips caching entirely (per-tile-group runs
    rely on partition pruning instead).
    """
    out = prepare(spark, dataset_dir)
    seeds = None
    try:
        with open(os.path.join(dataset_dir, "MANIFEST.json")) as f:
            seeds = json.load(f).get("island_seeds")
    except (OSError, ValueError):
        pass
    cell_stats = None
    try:
        with open(os.path.join(out, "engine_manifest.json")) as f:
            cell_stats = json.load(f).get("cell_stats")
    except (OSError, ValueError):
        pass
    # tile count feeds spread()'s lumpy-placement gate (few tiles
    # hashed into ~as-many partitions → balls-in-bins skew)
    n_tiles = len(_tiles(dataset_dir))
    if cell_stats is not None:
        cell_stats = {**cell_stats, "n_tiles": n_tiles}

    n_part = int(spark.conf.get("spark.sql.shuffle.partitions", "32"))
    if share_partitioning == "auto":
        cache, tile_repart = True, n_tiles >= 4 * n_part
    else:
        cache = tile_repart = bool(share_partitioning)

    def _load(path: str) -> DataFrame:
        df = spark.read.parquet(path)
        if cache:
            from pyspark.storagelevel import StorageLevel

            if tile_repart:
                df = df.repartition(n_part, "tile")
            df = df.persist(StorageLevel.MEMORY_AND_DISK)
        return df

    helpers = {}
    for h in HELPER_NAMES:
        hp = f"{out}/{h}.parquet"
        if os.path.exists(hp):
            helpers[h] = _load(hp)
    v = OsmViews(
        **{name: _load(f"{out}/{name}.parquet") for name in VIEW_NAMES},
        island_seeds=seeds,
        cell_stats=cell_stats,
        **helpers,
    )
    if cache:
        # materialize caches eagerly: the staged runner submits check
        # jobs concurrently, and a cold cache would be computed N times
        # in parallel (wasted work, though not incorrect)
        for name in VIEW_NAMES + [h for h in HELPER_NAMES if getattr(v, h) is not None]:
            getattr(v, name).count()
    return v


def run_checks(
    v: OsmViews,
    check_ids: list[int] | None = None,
    tiles: list[Tile] | None = None,
    stage_dir: str | None = None,
    max_parallel: int = 8,
    timings: dict | None = None,
) -> DataFrame:
    """Run the requested checks and build the clipped error_view
    (deterministic columns) from their _tmp_errors rows.

    One shape: the reference's per-check temp tables
    (run-checks.php:195-216), run in parallel like its 6 connections.
    Each check's rows are written to parquet under ``stage_dir`` by a
    concurrently submitted job inside its own
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

    with ThreadPoolExecutor(max_workers=max_parallel) as ex:
        paths = list(ex.map(_stage, _lpt_order(check_ids)))
    errors = v.nodes.sparkSession.read.parquet(*paths)
    return build_error_view(errors, v, tiles or DEFAULT_TILES, emit_types)


# Longest-first submission order for the staged runner (LPT makespan
# heuristic).  With max_parallel=8 slots, ascending-id submission
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
    return run_checks(v, check_ids, _tiles(dataset_dir))
