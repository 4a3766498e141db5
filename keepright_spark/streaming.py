"""Structured-Streaming replication feed — continuous diff updates.

The reference's replication loop is a cron shell cycle: osmosis
applies minutely/daily diffs to the planet file, each schema is
re-cropped, checks re-run (planet.php:48-129).  This module is the
Spark-native version of that loop: a Structured Streaming query
follows a directory of replication drops — parquet files of full
(doc_id, spans) rows, the docs-table analog of an osmosis change
file — and every micro-batch runs one complete ``diff.diff_update``
cycle:

1. **upsert** the batch into the dataset's docs table
   (docs_store.upsert: a doc row replaces its previous version; an
   empty ``spans`` array is a tombstone and deletes the doc).  Only
   buckets containing batch doc_ids are read or rewritten —
   O(|batch|), never O(|docs|) — and the commit is one atomic
   manifest replace; the production analog is one Iceberg ``MERGE
   INTO`` on a bucket(doc_id)-partitioned table
   (iceberg_sink.docs_merge_sql);
2. **diff-detect** the changed tiles by comparing the per-tile view
   digest of the refreshed engine tables with the one the last
   committed run recorded (diff.affected_tiles) — the upsert itself
   does not decide what re-runs, the digests do;
3. **scoped re-run** of only the affected tiles with the persistent
   error lifecycle (clears stay inside the touched tiles).

Exactly-once shape: the stream checkpoints its source offsets
(``stream_checkpoint/`` under the state dir), and every downstream
commit is already idempotent — run_persistent resumes by its run
manifest and commits by replacing it atomically, and re-processing an
already-applied drop changes no view row, so no tile digest changes
and the re-run scope is empty.

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


def follow_docs_updates(
    spark: SparkSession,
    dataset_dir: str,
    state_dir: str,
    updates_dir: str,
    check_ids: list[int] | None = None,
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
        docs_store.upsert(spark, dataset_dir, batch)
        diff.diff_update(spark, dataset_dir, state_dir, check_ids=check_ids)

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
) -> None:
    """Drain the feed directory once (deterministic availableNow run)
    and block until done."""
    q = follow_docs_updates(
        spark, dataset_dir, state_dir, updates_dir, check_ids=check_ids
    )
    q.awaitTermination()
