"""Structured-Streaming replication feed — continuous diff updates.

The reference's replication loop is a cron shell cycle: osmosis
applies minutely/daily diffs to the planet file, each schema is
re-cropped, checks re-run (planet.php:48-129).  This module is the
Spark-native version of that loop: a Structured Streaming query
follows a directory of replication drops — parquet files of full
(doc_id, spans) rows, the docs-table analog of an osmosis change
file — and every micro-batch runs one complete ``diff.diff_update``
cycle:

1. **upsert** the batch into the dataset's docs table (a doc row
   replaces its previous version; an empty ``spans`` array is a
   tombstone and deletes the doc);
2. **diff-detect** changed docs by comparing the span-sequence
   fingerprint snapshot of the current docs with the one of the last
   committed run (diff.affected_tiles) — the upsert itself does not
   decide what re-runs, the fingerprints do, so re-delivered
   duplicates cost nothing;
3. **scoped re-run** of only the affected tiles with the persistent
   error lifecycle (clears stay inside the touched tiles).

Exactly-once shape: the stream checkpoints its source offsets
(``checkpoint/`` under the state dir), and every downstream commit is
already idempotent — run_persistent resumes by its run manifest and
commits by replacing it atomically, and re-processing an
already-applied drop yields zero changed fingerprints → zero re-run
scope.  On a cluster
both the docs table and the errors table are Iceberg (MERGE INTO —
iceberg_sink.py); here the docs upsert is bucket-scoped with one
atomic manifest commit (docs_store.py) — only buckets containing
batch doc_ids are rewritten, untouched bucket files stay
byte-identical.

``process_available(...)`` runs with ``trigger(availableNow=True)``:
it drains everything currently in the feed directory and stops — the
deterministic mode tests use.  Pass ``continuous_interval`` to keep a
long-lived follower instead.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

from . import diff, docs_store
from .osm_xml import DOCS_SCHEMA


def upsert_docs(spark: SparkSession, dataset_dir: str,
                batch: DataFrame) -> list[int]:
    """Merge one replication batch into the dataset's docs table.

    Last-writer-wins per doc_id within the batch is not defined (a
    well-formed drop carries one row per doc); an empty spans array
    deletes the doc.  The write is bucket-scoped (docs_store.upsert):
    only buckets containing batch doc_ids are read or rewritten —
    O(|batch|), never O(|docs|) — and the commit is one atomic
    manifest rename (no crash window without a docs table).  The
    production analog is one Iceberg ``MERGE INTO`` on a
    bucket(doc_id)-partitioned table (iceberg_sink.docs_merge_sql).
    Returns the touched bucket list."""
    return docs_store.upsert(spark, dataset_dir, batch)


def follow_docs_updates(
    spark: SparkSession,
    dataset_dir: str,
    state_dir: str,
    updates_dir: str,
    check_ids: list[int] | None = None,
    tile_group_size: int = 64,
    continuous_interval: str | None = None,
):
    """Start the replication follower; returns the StreamingQuery.

    ``updates_dir``: the feed directory replication drops land in
    (parquet files with the docs schema).  With the default
    availableNow trigger the query drains the current feed content
    and finishes; ``continuous_interval`` (e.g. ``"30 seconds"``)
    keeps it running.
    """
    os.makedirs(updates_dir, exist_ok=True)

    def one_cycle(batch: DataFrame, batch_id: int) -> None:
        if not batch.head(1):
            return
        upsert_docs(spark, dataset_dir, batch)
        diff.diff_update(
            spark, dataset_dir, state_dir,
            check_ids=check_ids, tile_group_size=tile_group_size,
        )

    reader = (
        spark.readStream.schema(DOCS_SCHEMA)
        .option("maxFilesPerTrigger", 16)
        .parquet(updates_dir)
    )
    writer = (
        reader.writeStream.foreachBatch(one_cycle)
        .option(
            "checkpointLocation",
            os.path.join(state_dir, "stream_checkpoint"),
        )
    )
    if continuous_interval:
        writer = writer.trigger(processingTime=continuous_interval)
    else:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def process_available(
    spark: SparkSession,
    dataset_dir: str,
    state_dir: str,
    updates_dir: str,
    check_ids: list[int] | None = None,
    tile_group_size: int = 64,
) -> None:
    """Drain the feed directory once (deterministic availableNow run)
    and block until done."""
    q = follow_docs_updates(
        spark, dataset_dir, state_dir, updates_dir,
        check_ids=check_ids, tile_group_size=tile_group_size,
    )
    q.awaitTermination()
