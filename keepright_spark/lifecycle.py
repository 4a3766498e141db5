"""Persistent error lifecycle, published view, metrics and resume.

Re-expression of run-checks.php's state machinery over a parquet
(Iceberg-on-cluster) errors table:

* ``sync_errors``  — the _tmp_errors ⇄ public.errors state sync
  (run-checks.php:221-277): still-present errors update payload and
  flip cleared→reopened (else →new); vanished errors of the types the
  executed checks own are cleared; fresh errors insert as 'new'
  ('preliminary' for 410-419).  The NULL-safe join of the reference
  (`IS NOT DISTINCT FROM`, :250) is Spark's ``eqNullSafe``.
* ``published_view`` — error_view enrichment (run-checks.php:279-478,
  `:440-466`): drop cleared/preliminary, attach error_name (static
  catalog), user_name, object_timestamp.
* ``run_persistent`` — the per-tile-batch driver with checkpointed
  resume (north rule): tiles are processed in groups; each completed
  group stages its error rows + a lineage row (tile group, checks,
  row count, duration) in the state directory, and a re-run of the
  same world skips staged groups.  Run "timestamps" are deterministic
  run sequence numbers — the reference's NOW() would break replay.
* ``node_density`` — the 0.1°-cell census (run-checks.php:488-514),
  also the skew census feeding hot-cell salting.

State directory layout — ``run_manifest.json`` is the one commit
point, replaced atomically (``lib.write_json``) like the reference's
rename-swap of error_view_shadow (web/updateTables.php:18-27)::

    run_manifest.json             last_run_seq + run_<seq> records
                                  (groups, groups_done, scope,
                                  tile_summary, committed)
    errors_v<seq>.parquet         the errors table run <seq> wrote
    error_statistics/run_<seq>.parquet
    node_density.parquet
    lineage/run_<seq>_group_<g>.json
    stage/run_<seq>/              staged group rows (uncommitted run)

A run record's ``tile_summary`` is the per-tile summary of the world
the run read (the engine stamp's, pipeline._summarize): a staged run
resumes only while its scope and summary equal the current ones, and
the next replication cycle scopes itself by comparing it with the
current stamp's (diff.affected_tiles), so the state dir keeps no
change record of its own.  A run writes its table, statistics and
census first and commits by setting ``run_<seq>.committed`` and
``last_run_seq`` in one manifest replace.  Nothing is read through
``last_run_seq`` before that, so a crash anywhere leaves the previous
run readable, and a resumed run rewrites only its own outputs.  The
manifest keeps the committed run's record and any uncommitted ones;
lineage and error_statistics keep the committed runs' history.
"""

from __future__ import annotations

import json
import os
import shutil
import time

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from . import pipeline
from .checks import available_checks, owned_types
from .data_tables import ERROR_NAMES
from .errors import TXT_COLS
from .lib import materialization_scope, materialize, write_json

MANIFEST = "run_manifest.json"
TILE_GROUP_SIZE = 64  # tiles per staged, resumable group

KEY = ["tile", "error_type", "object_type", "object_id", "lat", "lon"]

ERRORS_SCHEMA = (
    "error_id long, tile string, error_type int, object_type string, "
    "object_id long, lat long, lon long, state string, "
    "first_occurrence long, last_checked long, msgid string, "
    "txt1 string, txt2 string, txt3 string, txt4 string, txt5 string"
)


def sync_errors(
    existing: DataFrame | None,
    fresh: DataFrame,
    executed_checks: list[int],
    run_seq: int,
    tile_scope: list[str] | None = None,
) -> DataFrame:
    """Next state of the persistent errors table.

    ``fresh``: clipped error_view rows of this run (errors.ERROR_COLS).
    ``existing``: previous errors table (ERRORS_SCHEMA) or None.
    ``tile_scope``: tiles this run actually executed (diff update) —
    vanished errors outside the scope keep their state, exactly like
    the reference's per-schema runs never clear other schemas' rows.
    """
    spark = fresh.sparkSession
    if existing is None:
        existing = spark.createDataFrame([], ERRORS_SCHEMA)
    f = fresh.select(
        *KEY, "msgid", *TXT_COLS
    ).withColumnsRenamed({c: f"f_{c}" for c in ["msgid", *TXT_COLS]})

    cond = None
    for k in KEY:
        c = existing[k].eqNullSafe(f[k])
        cond = c if cond is None else cond & c
    j = existing.join(f, cond, "full_outer")

    # a fresh row exists iff any of its key cols is non-null on the f side
    fresh_side = None
    for k in KEY:
        c = f[k].isNotNull()
        fresh_side = c if fresh_side is None else fresh_side | c
    old_side = existing["error_id"].isNotNull()

    # a partial run clears only the types its checks own
    # (run-checks.php:192-218)
    in_scope_old = F.lit(False)
    for cid in executed_checks:
        in_scope_old |= existing["error_type"].between(*owned_types(cid))
    if tile_scope is not None:
        in_scope_old = in_scope_old & existing["tile"].isin(list(tile_scope))

    both = j.filter(old_side & fresh_side).select(
        existing["error_id"],
        *[F.coalesce(existing[k], f[k]).alias(k) for k in KEY],
        F.when(existing["state"] == "cleared", F.lit("reopened"))
        .otherwise(F.lit("new"))
        .alias("state"),
        existing["first_occurrence"],
        F.lit(run_seq).alias("last_checked"),
        f["f_msgid"].alias("msgid"),
        *[f[f"f_{c}"].alias(c) for c in TXT_COLS],
    )
    only_old = j.filter(old_side & ~fresh_side).select(
        existing["error_id"], *[existing[k] for k in KEY],
        F.when(
            in_scope_old & (existing["state"] != "cleared"), F.lit("cleared")
        )
        .otherwise(existing["state"])
        .alias("state"),
        existing["first_occurrence"],
        F.when(
            in_scope_old & (existing["state"] != "cleared"), F.lit(run_seq)
        )
        .otherwise(existing["last_checked"])
        .alias("last_checked"),
        existing["msgid"],
        *[existing[c] for c in TXT_COLS],
    )
    max_id = existing.agg(F.coalesce(F.max("error_id"), F.lit(0))).first()[0]
    # consumed by assign_fresh_ids' tile counts AND its row numbering
    fresh_new = materialize(
        j.filter(~old_side & fresh_side).select(
            *[f[k].alias(k) for k in KEY],
            f["f_msgid"].alias("msgid"),
            *[f[f"f_{c}"].alias(c) for c in TXT_COLS],
        )
    )
    only_new = (
        assign_fresh_ids(fresh_new, max_id)
        .withColumn(
            "state",
            F.when(
                F.col("error_type").between(410, 419), F.lit("preliminary")
            ).otherwise(F.lit("new")),
        )
        .withColumn("first_occurrence", F.lit(run_seq))
        .withColumn("last_checked", F.lit(run_seq))
    )
    cols = [fld.split(" ")[0] for fld in ERRORS_SCHEMA.split(", ")]
    return (
        both.select(cols)
        .unionByName(only_old.select(cols))
        .unionByName(only_new.select(cols))
    )


def assign_fresh_ids(fresh: DataFrame, max_id: int) -> DataFrame:
    """``fresh`` with ``error_id`` = ``max_id`` + its rank in the total
    order of KEY — the id rule of both sinks (sync_errors here,
    iceberg_sink.merge_sync_errors on a cluster).

    Distributed: KEY starts with tile, so a per-tile row_number plus an
    exclusive prefix-sum of per-tile counts reproduces the global
    sequence without funnelling every row through one task.  The
    prefix-sum window runs over the tiny tile-count frame (~#tiles
    rows), not the error rows."""
    w_tile = Window.partitionBy("tile").orderBy(
        *[F.col(k).asc_nulls_first() for k in KEY if k != "tile"]
    )
    tile_off = (
        fresh.groupBy("tile")
        .agg(F.count(F.lit(1)).alias("_n"))
        .withColumn(
            "_off",
            F.coalesce(
                F.sum("_n").over(
                    Window.orderBy("tile").rowsBetween(
                        Window.unboundedPreceding, -1
                    )
                ),
                F.lit(0),
            ),
        )
        .select("tile", "_off")
    )
    return (
        fresh.withColumn("_rn", F.row_number().over(w_tile))
        .join(F.broadcast(tile_off), "tile")
        .withColumn(
            "error_id", (F.lit(max_id) + F.col("_off") + F.col("_rn")).cast("long")
        )
        .drop("_rn", "_off")
    )


def _error_names() -> list[tuple[int, str]]:
    """(error_type, error_name) for every catalogued type and every type
    a registered check owns.  A type with no catalogue entry takes its
    owning check's base name: the named type family (a multiple of 10)
    at or below it in the check's range, else the check's own name —
    0190 owns crossings under 190 and overlaps under 200."""
    names = dict(ERROR_NAMES)
    for cid in available_checks():
        lo, hi = owned_types(cid)
        base = ERROR_NAMES.get(cid, "")
        for t in range(lo, hi + 1):
            if t % 10 == 0:
                base = ERROR_NAMES.get(t, base)
            names.setdefault(t, base)
    return sorted(names.items())


def published_view(errors: DataFrame, v) -> DataFrame:
    """error_view rows (run-checks.php:292-319 + name/user/timestamp
    resolution at :440-478): cleared/preliminary rows excluded."""
    names = errors.sparkSession.createDataFrame(
        _error_names(), "error_type int, error_name string"
    )
    live = (
        errors.filter(~F.col("state").isin("cleared", "preliminary"))
        .join(F.broadcast(names), "error_type", "left")
        .withColumn("error_name", F.coalesce("error_name", F.lit("")))
    )

    def meta(df, id_col, otype):
        return df.select(
            "tile",
            F.col(id_col).alias("object_id"),
            F.lit(otype).alias("object_type"),
            F.col("user_id").alias("_uid"),
            F.col("tstamp").alias("object_timestamp"),
        )

    om = (
        meta(v.nodes, "id", "node")
        .unionByName(meta(v.ways, "id", "way"))
        .unionByName(meta(v.relations, "id", "relation"))
    )
    out = live.join(om, ["tile", "object_id", "object_type"], "left")
    # synthetic users catalog (datagen writes user ids 1..97)
    out = out.withColumn(
        "user_name",
        F.when(
            F.col("_uid").isNotNull(), F.concat(F.lit("user_"), F.col("_uid"))
        ),
    ).drop("_uid")
    return out


def node_density(v) -> DataFrame:
    """Nodes per 0.1° cell (run-checks.php:488-514) — the skew census
    that feeds hot-cell salting decisions."""
    return (
        v.nodes.groupBy(
            (F.round(F.col("lat") * 10) / 10).alias("lat_cell"),
            (F.round(F.col("lon") * 10) / 10).alias("lon_cell"),
        )
        .agg(F.count(F.lit(1)).alias("n_nodes"))
    )


def read_manifest(state_dir: str) -> dict | None:
    """The run manifest of ``state_dir`` (module docstring), or None
    before the first run."""
    try:
        with open(os.path.join(state_dir, MANIFEST)) as f:
            return json.load(f)
    except FileNotFoundError:
        return None


def committed_run(state_dir: str) -> dict | None:
    """The record of the last committed run, or None."""
    m = read_manifest(state_dir) or {}
    seq = m.get("last_run_seq")
    return m[f"run_{seq}"] if seq else None


def current_errors_path(state_dir: str) -> str | None:
    """The committed errors table, ``errors_v<last_run_seq>.parquet``,
    or None when no run has committed."""
    seq = (read_manifest(state_dir) or {}).get("last_run_seq")
    return os.path.join(state_dir, f"errors_v{seq}.parquet") if seq else None


def _same_world(rec: dict, scope: list[str], summary: dict) -> bool:
    """Run identity: a staged run may be resumed only over exactly the
    tiles and the table summary it was staged for — else its groups
    describe a different world than the sync would commit against
    (newly affected tiles would be silently skipped yet fall inside
    the clear scope → false 'cleared' rows)."""
    return rec.get("scope") == scope and rec.get("tile_summary") == summary


def _drop_run(state_dir: str, seq: int) -> None:
    """Delete what uncommitted run ``seq`` wrote."""
    for p in (
        os.path.join(state_dir, "stage", f"run_{seq}"),
        os.path.join(state_dir, f"errors_v{seq}.parquet"),
        os.path.join(state_dir, "error_statistics", f"run_{seq}.parquet"),
    ):
        shutil.rmtree(p, ignore_errors=True)
    lineage = os.path.join(state_dir, "lineage")
    for name in os.listdir(lineage) if os.path.isdir(lineage) else []:
        if name.startswith(f"run_{seq}_group_"):
            os.remove(os.path.join(lineage, name))


def run_persistent(
    spark: SparkSession,
    dataset_dir: str,
    state_dir: str,
    check_ids: list[int] | None = None,
    only_tiles: list[str] | None = None,
) -> DataFrame:
    """Full resumable run: staged per-tile-group check execution with
    lineage, then one state sync into the persistent errors table.

    Returns the new persistent errors DataFrame, written to
    ``state_dir/errors_v<run_seq>.parquet`` and committed by the run
    manifest (module docstring)."""
    os.makedirs(state_dir, exist_ok=True)
    manifest_path = os.path.join(state_dir, MANIFEST)
    manifest = read_manifest(state_dir) or {}
    registry = available_checks()
    if check_ids is None:
        check_ids = sorted(registry)
    tiles = pipeline.dataset_tiles(dataset_dir)
    if only_tiles is not None:
        # diff-update scope: process only the affected tiles; an empty
        # scope (no changes) returns the committed table untouched
        scope_set = set(only_tiles)
        tiles = [t for t in tiles if t.name in scope_set]
        if not tiles:
            cur = current_errors_path(state_dir)
            if cur is not None:
                return spark.read.parquet(cur)
            return spark.createDataFrame([], ERRORS_SCHEMA)
    scope_names = sorted(t.name for t in tiles)
    # no shared cache here: each tile group filters the views to its
    # tiles, and over the raw tile-partitioned parquet that filter is
    # partition pruning — the group's scan touches only its partitions
    v = pipeline.tiled_views(spark, dataset_dir, share_partitioning=False)
    summary = pipeline.tile_summary(dataset_dir)
    # refuse to run over an empty base table (run-checks.php:66-84) —
    # a vanished input would otherwise "clear" every error in scope
    from .watchdog import assert_base_tables

    assert_base_tables(summary)

    # crash-safe resume: pick up the newest uncommitted run of the same
    # world (its groups_done lets us skip completed groups); every other
    # uncommitted run is stale and swept with all it wrote, so crashed
    # runs can't accumulate orphaned output
    seqs = sorted(
        int(k[4:]) for k in manifest if k.startswith("run_") and k[4:].isdigit()
    )
    uncommitted = [s for s in seqs if not manifest[f"run_{s}"].get("committed")]
    same = [
        s for s in uncommitted
        if _same_world(manifest[f"run_{s}"], scope_names, summary)
    ]
    if same:
        run_seq = same[-1]
    else:
        run_seq = max(int(manifest.get("last_run_seq", 0)), *uncommitted, 0) + 1
    stale = [s for s in uncommitted if s != run_seq]
    for s in stale:
        _drop_run(state_dir, s)
        del manifest[f"run_{s}"]
    if stale:
        write_json(manifest_path, manifest)

    # The tile-group layout is part of the run's durable state: a
    # resumed process reads the staged outputs under the grouping it
    # crashed with, not one re-derived from TILE_GROUP_SIZE.
    run_key = f"run_{run_seq}"
    rec = manifest.get(run_key)
    if rec is not None:
        tile_by_name = {t.name: t for t in tiles}
        groups = [[tile_by_name[n] for n in g] for g in rec["groups"]]
    else:
        groups = [
            tiles[i : i + TILE_GROUP_SIZE]
            for i in range(0, len(tiles), TILE_GROUP_SIZE)
        ]
        rec = manifest[run_key] = {
            "groups": [[t.name for t in g] for g in groups],
            "scope": scope_names,
            # the world this run reads, for the next cycle's scope
            # (diff.affected_tiles)
            "tile_summary": summary,
        }
        write_json(manifest_path, manifest)
    done = set(rec.get("groups_done", []))
    lineage_dir = os.path.join(state_dir, "lineage")
    os.makedirs(lineage_dir, exist_ok=True)
    stage_root = os.path.join(state_dir, "stage", run_key)

    for gi, group in enumerate(groups):
        if gi in done:
            continue
        t0 = time.time()
        names = [t.name for t in group]
        vg = type(v)(
            **{
                n: getattr(v, n).filter(F.col("tile").isin(names))
                for n in pipeline.VIEW_NAMES
            },
            island_seeds=v.island_seeds,
            cell_stats=v.cell_stats,
            **{
                h: getattr(v, h).filter(F.col("tile").isin(names))
                for h in pipeline.HELPER_NAMES
                if getattr(v, h) is not None
            },
        )
        timings: dict = {}
        out_path = os.path.join(stage_root, f"ev_{gi}.parquet")
        with materialization_scope():
            ev = pipeline.run_checks(
                vg, check_ids, group, timings=timings,
                stage_dir=os.path.join(stage_root, f"group_{gi}"),
            )
            ev.write.mode("overwrite").parquet(out_path)
        n_rows = spark.read.parquet(out_path).count()
        with open(os.path.join(lineage_dir, f"{run_key}_group_{gi}.json"), "w") as f:
            json.dump(
                {
                    "run_seq": run_seq,
                    "group": gi,
                    "tiles": names,
                    "checks": check_ids,
                    "error_rows": n_rows,
                    "seconds": round(time.time() - t0, 3),
                    "per_check_seconds": timings,
                },
                f,
            )
        done.add(gi)
        rec["groups_done"] = sorted(done)
        write_json(manifest_path, manifest)

    fresh = spark.read.parquet(
        *[os.path.join(stage_root, f"ev_{gi}.parquet") for gi in range(len(groups))]
    )
    cur = current_errors_path(state_dir)
    existing = spark.read.parquet(cur) if cur is not None else None
    # every output of the run goes to a path of its own, none of them
    # referenced until the manifest commits: a resumed run overwrites
    # only what it wrote itself and reads only the committed table
    new_path = os.path.join(state_dir, f"errors_v{run_seq}.parquet")
    with materialization_scope():
        sync_errors(
            existing,
            fresh,
            check_ids,
            run_seq,
            tile_scope=scope_names if only_tiles is not None else None,
        ).write.mode("overwrite").parquet(new_path)
    new_errors = spark.read.parquet(new_path)
    # node-density census alongside (skew metrics)
    node_density(v).write.mode("overwrite").parquet(
        os.path.join(state_dir, "node_density.parquet")
    )
    # error-statistics timeline fill (generate_error_timeline.php -f):
    # one snapshot dir per committed run_seq; comments.error_timeline
    # reads the union
    from .comments import error_statistics_fill

    error_statistics_fill(None, new_errors, run_seq).write.mode(
        "overwrite"
    ).parquet(
        os.path.join(state_dir, "error_statistics", f"run_{run_seq}.parquet")
    )
    # the commit: one atomic manifest replace.  The record of the run
    # it supersedes is dropped, its staged groups after it; lineage and
    # error_statistics keep the history
    superseded = [
        k for k, r in manifest.items() if k.startswith("run_") and r.get("committed")
    ]
    for k in superseded:
        del manifest[k]
    rec["committed"] = True
    manifest["last_run_seq"] = run_seq
    write_json(manifest_path, manifest)
    for k in superseded:
        shutil.rmtree(os.path.join(state_dir, "stage", k), ignore_errors=True)
    # GC superseded versions (keep the previous one as a safety copy)
    for name in os.listdir(state_dir):
        if name.startswith("errors_v") and name.endswith(".parquet"):
            try:
                ver = int(name[len("errors_v"):-len(".parquet")])
            except ValueError:
                continue
            if ver < run_seq - 1:
                shutil.rmtree(os.path.join(state_dir, name), ignore_errors=True)
    return new_errors


def load_error_statistics(spark: SparkSession, state_dir: str) -> DataFrame:
    """The accumulated error_statistics table (one snapshot per
    committed run) — feed to comments.error_timeline for the series."""
    root = os.path.join(state_dir, "error_statistics")
    last = (read_manifest(state_dir) or {}).get("last_run_seq", 0)
    paths = sorted(
        os.path.join(root, n) for n in os.listdir(root)
        if int(n[len("run_"):-len(".parquet")]) <= last
    ) if os.path.isdir(root) else []
    if not paths:
        from .comments import STATS_SCHEMA

        return spark.createDataFrame([], STATS_SCHEMA)
    return spark.read.parquet(*paths)
