"""Incremental diff update: changed docs → affected tiles → scoped run.

Re-expression of the reference's replication cycle
(checks/planet.php:48-129: apply daily diffs with osmosis ``--simc``,
re-crop each schema, re-run checks) for the docs-table world:

1. **Changed-doc detection** — every committed run snapshots
   (doc_id, span-sequence fingerprint, tiles) to
   ``state_dir/doc_state.parquet``.  The next run full-outer-joins the
   current fingerprints against the snapshot; added / removed /
   changed docs fall out of a null-safe fingerprint comparison.
2. **Affected tiles** — the union of each changed doc's tiles in the
   *previous* snapshot and in the *current* views.  Margin semantics
   ride for free: an object inside a neighbouring tile's margin is
   assigned to that tile too (tiling.assign_tiles), so any check that
   could see the edit has its tile in the set — the same reasoning
   the reference's completeWays crop margin encodes.
3. **Scoped re-run** — lifecycle.run_persistent restricted to the
   affected tiles; the state sync clears vanished errors only inside
   the affected tiles (sync_errors ``tile_scope``), so untouched
   tiles keep their rows byte-identically.

The engine views follow the docs on their own: the ``prepare`` stamp
carries a docs-file signature (pipeline._docs_signature) and the
docs-store version its tables reflect, so after a replication upsert
``prepare`` rewrites only the tile partitions the batch's changelog
reaches, or re-derives every table when it cannot prove the batch
tile-stable.

At the north rule's scale the snapshot is an Iceberg table keyed by
doc_id and the fingerprint join shuffles on doc_id only — no
geometry work happens for unchanged docs.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from . import pipeline


def doc_fingerprints(docs: DataFrame) -> DataFrame:
    """(doc_id, fp): deterministic hash of the ordered span sequence —
    the per-row invariant (kind, text, media_ref, order) is exactly
    what the json serialization covers."""
    return docs.select(
        "doc_id",
        F.sha2(F.to_json(F.struct("doc_id", "spans")), 256).alias("fp"),
    )


def doc_tiles(spark: SparkSession, dataset_dir: str) -> DataFrame:
    """(doc_id, tiles array<string>) from the materialized views."""
    v = pipeline.tiled_views(spark, dataset_dir, share_partitioning=False)
    parts = [
        v.nodes.select(
            F.concat(F.lit("node/"), F.col("id")).alias("doc_id"), "tile"
        ),
        v.ways.select(
            F.concat(F.lit("way/"), F.col("id")).alias("doc_id"), "tile"
        ),
        v.relations.select(
            F.concat(F.lit("relation/"), F.col("id")).alias("doc_id"), "tile"
        ),
    ]
    u = parts[0]
    for p in parts[1:]:
        u = u.unionByName(p)
    return u.groupBy("doc_id").agg(F.sort_array(F.collect_set("tile")).alias("tiles"))


def snapshot_doc_state(
    spark: SparkSession, dataset_dir: str, state_dir: str
) -> None:
    """Write the (doc_id, fp, tiles) snapshot the next diff run
    compares against (atomic pointer, like the errors table)."""
    docs = pipeline.load_docs(spark, dataset_dir)
    snap = doc_fingerprints(docs).join(
        doc_tiles(spark, dataset_dir), "doc_id", "left"
    )
    os.makedirs(state_dir, exist_ok=True)
    # versioned dir + pointer: never overwrite the copy being read
    ptr = os.path.join(state_dir, "doc_state_CURRENT")
    ver = 1
    if os.path.exists(ptr):
        with open(ptr) as f:
            cur = f.read().strip()
        try:
            ver = int(cur.rsplit("_v", 1)[1].split(".")[0]) + 1
        except (IndexError, ValueError):
            ver = 1
    path = os.path.join(state_dir, f"doc_state_v{ver}.parquet")
    snap.write.mode("overwrite").parquet(path)
    tmp = ptr + ".tmp"
    with open(tmp, "w") as f:
        f.write(os.path.basename(path))
    os.replace(tmp, ptr)
    prev = os.path.join(state_dir, f"doc_state_v{ver - 2}.parquet")
    if os.path.exists(prev):
        import shutil

        shutil.rmtree(prev, ignore_errors=True)


def _current_doc_state(spark, state_dir: str) -> DataFrame | None:
    ptr = os.path.join(state_dir, "doc_state_CURRENT")
    if not os.path.exists(ptr):
        return None
    with open(ptr) as f:
        path = os.path.join(state_dir, f.read().strip())
    if not os.path.exists(path):
        return None
    return spark.read.parquet(path)


def affected_tiles(
    spark: SparkSession, dataset_dir: str, state_dir: str
) -> list[str] | None:
    """Tiles touched by docs that changed since the last snapshot.

    None = no snapshot exists (caller must run everything); [] = no
    changes.  The result is the partition work-list (one entry per
    tile), so collecting it to the driver is the Iceberg
    partition-listing analog, not a data collect."""
    prev = _current_doc_state(spark, state_dir)
    if prev is None:
        return None
    docs = pipeline.load_docs(spark, dataset_dir)
    cur = doc_fingerprints(docs).join(
        doc_tiles(spark, dataset_dir), "doc_id", "left"
    )
    p = prev.select(
        F.col("doc_id"),
        F.col("fp").alias("p_fp"),
        F.col("tiles").alias("p_tiles"),
    )
    j = cur.join(p, "doc_id", "full_outer").filter(
        ~F.col("fp").eqNullSafe(F.col("p_fp"))
    )
    rows = (
        j.select(
            F.explode(
                F.array_union(
                    F.coalesce(F.col("tiles"), F.array()),
                    F.coalesce(F.col("p_tiles"), F.array()),
                )
            ).alias("tile")
        )
        .distinct()
        .collect()
    )
    return sorted(r["tile"] for r in rows)


def diff_update(
    spark: SparkSession,
    dataset_dir: str,
    state_dir: str,
    check_ids: list[int] | None = None,
    tile_group_size: int = 64,
) -> DataFrame:
    """One replication cycle: detect changes, re-run only affected
    tiles, commit state + a fresh snapshot.  Falls back to a full run
    when no snapshot exists."""
    from . import lifecycle

    scope = affected_tiles(spark, dataset_dir, state_dir)
    errors = lifecycle.run_persistent(
        spark,
        dataset_dir,
        state_dir,
        check_ids=check_ids,
        tile_group_size=tile_group_size,
        only_tiles=scope,
    )
    snapshot_doc_state(spark, dataset_dir, state_dir)
    return errors
