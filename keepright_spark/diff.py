"""Incremental diff update: changed tiles → scoped run.

Re-expression of the reference's replication cycle
(checks/planet.php:48-129: apply daily diffs with osmosis ``--simc``,
re-crop each schema, re-run checks) for the docs-table world:

1. **Changed-tile detection** — ``prepare`` keeps a per-tile summary
   of the engine tables in the engine stamp (pipeline._summarize:
   each view's row count and content digest, and the tile's cell
   census), and every run record stores the summary of the world it
   read (``tile_summary`` beside ``scope`` in the run manifest,
   lifecycle).  A cycle compares the two on the driver: a tile whose
   entry differs, or exists on one side only, is affected.  A check
   sees only its tile's rows of the views, so an unchanged entry
   means unchanged errors.  Margin semantics ride for free: an
   object inside a neighbouring tile's margin is assigned to that
   tile too (tiling.assign_tiles), so an edit changes the entry of
   every tile whose checks could see it — the same reasoning the
   reference's completeWays crop margin encodes.  A doc change the
   views do not carry (a media span, a re-delivered drop) changes no
   entry and so gives an empty scope.
2. **Scoped re-run** — lifecycle.run_persistent restricted to the
   affected tiles; the state sync clears vanished errors only inside
   the affected tiles (sync_errors ``tile_scope``), so untouched
   tiles keep their rows byte-identically.

The engine views follow the docs on their own: the ``prepare`` stamp
carries the docs table's signature (docs_store.signature) and the
docs-store version its tables reflect, so after a replication upsert
``prepare`` rewrites only the tile partitions the batch's changelog
reaches and re-summarizes only those, or re-derives every table when
it cannot prove the batch tile-stable.  The state dir holds no change
record of its own: the run manifest is the one commit point.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from . import pipeline


def snapshot_doc_state(spark: SparkSession, dataset_dir: str) -> dict:
    """Bring the engine tables up to date with the docs (``prepare``)
    and return the per-tile summary their stamp records."""
    pipeline.prepare(spark, dataset_dir)
    return pipeline.tile_summary(dataset_dir)


def affected_tiles(
    spark: SparkSession, dataset_dir: str, state_dir: str
) -> list[str] | None:
    """Tiles whose summary entry changed since the last committed run.

    None = no committed run, or its record has no summary (the caller
    must run everything); [] = no changes.  The comparison is a dict
    compare on the driver with no Spark job of its own."""
    from . import lifecycle

    cur = snapshot_doc_state(spark, dataset_dir)
    rec = lifecycle.committed_run(state_dir)
    prev = rec.get("tile_summary") if rec else None
    if prev is None:
        return None
    return sorted(t for t in cur.keys() | prev.keys() if cur.get(t) != prev.get(t))


def diff_update(
    spark: SparkSession,
    dataset_dir: str,
    state_dir: str,
    check_ids: list[int] | None = None,
) -> DataFrame:
    """One replication cycle: detect the changed tiles, then re-run
    only those and commit.  Falls back to a full run when there is
    nothing to compare against."""
    from . import lifecycle

    return lifecycle.run_persistent(
        spark,
        dataset_dir,
        state_dir,
        check_ids=check_ids,
        only_tiles=affected_tiles(spark, dataset_dir, state_dir),
    )
