"""Incremental diff update: changed docs → affected tiles → scoped run.

Re-expression of the reference's replication cycle
(checks/planet.php:48-129: apply daily diffs with osmosis ``--simc``,
re-crop each schema, re-run checks) for the docs-table world:

1. **Changed-doc detection** — each cycle snapshots (doc_id,
   span-sequence fingerprint, tiles) once, to
   ``state_dir/doc_state_<docs_sig>.parquet`` keyed by the docs
   signature (pipeline._docs_signature) that every run record also
   stores.  The snapshot of the current docs is full-outer-joined
   against the one of the last committed run; added / removed /
   changed docs fall out of a null-safe fingerprint comparison.  Equal
   signatures mean no change and cost no Spark job.  Only those two
   snapshots are kept, and no pointer file: the run manifest
   (lifecycle) is the one commit point.
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
import shutil

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


DOC_STATE_SCHEMA = "doc_id string, fp string, tiles array<string>"


def _doc_state_path(state_dir: str, docs_sig: str) -> str:
    return os.path.join(state_dir, f"doc_state_{docs_sig}.parquet")


def snapshot_doc_state(spark: SparkSession, dataset_dir: str, state_dir: str) -> str:
    """Write the (doc_id, fp, tiles) snapshot of the current docs unless
    it exists (a finished Spark write leaves ``_SUCCESS``); return its
    path."""
    path = _doc_state_path(state_dir, pipeline._docs_signature(dataset_dir))
    if not os.path.exists(os.path.join(path, "_SUCCESS")):
        docs = pipeline.load_docs(spark, dataset_dir)
        doc_fingerprints(docs).join(
            doc_tiles(spark, dataset_dir), "doc_id", "left"
        ).write.mode("overwrite").parquet(path)
    return path


def affected_tiles(
    spark: SparkSession, dataset_dir: str, state_dir: str
) -> list[str] | None:
    """Tiles touched by docs that changed since the last committed run.

    Snapshots the current docs first (``snapshot_doc_state``).  None =
    no committed run, or no snapshot of its docs (caller must run
    everything); [] = no changes.  The result is the partition
    work-list (one entry per tile), so collecting it to the driver is
    the Iceberg partition-listing analog, not a data collect."""
    from . import lifecycle

    cur_path = snapshot_doc_state(spark, dataset_dir, state_dir)
    rec = lifecycle.committed_run(state_dir)
    prev_path = _doc_state_path(state_dir, rec["docs_sig"]) if rec else None
    for name in os.listdir(state_dir):
        p = os.path.join(state_dir, name)
        if name.startswith("doc_state_") and p not in (cur_path, prev_path):
            shutil.rmtree(p, ignore_errors=True)
    if prev_path == cur_path:
        return []
    if prev_path is None or not os.path.exists(os.path.join(prev_path, "_SUCCESS")):
        return None
    cur = spark.read.schema(DOC_STATE_SCHEMA).parquet(cur_path)
    p = spark.read.schema(DOC_STATE_SCHEMA).parquet(prev_path).select(
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
    """One replication cycle: snapshot and detect changes, then re-run
    only the affected tiles and commit.  Falls back to a full run when
    there is nothing to compare against."""
    from . import lifecycle

    return lifecycle.run_persistent(
        spark,
        dataset_dir,
        state_dir,
        check_ids=check_ids,
        tile_group_size=tile_group_size,
        only_tiles=affected_tiles(spark, dataset_dir, state_dir),
    )
