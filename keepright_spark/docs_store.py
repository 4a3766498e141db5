"""The docs table in both layouts, and partition-scoped upserts for
the follower.

A dataset dir holds its docs either as the generator / ingest output
``docs.parquet`` (a file or a directory) or as the bucketed store
below.  This module is the one place that tells them apart:
``docs_files`` lists the files of the current table, and every reader
takes that list — ``read_docs``, the engine stamp's ``signature``,
``duckdb_docs_source`` for the oracles and the watchdog's input rules.

The reference's replication apply touches only changed objects
(osmosis ``--simc`` against the planet file, checks/planet.php:48-129);
the round-4 follower instead rewrote the WHOLE docs table per
micro-batch — correct, but O(|docs|) per drop, which at 100 TB means
rewriting the planet every replication minute.  The store gives the
docs table the same treatment the engine views already get: a
hive-style layout keyed by a deterministic doc-id bucket, where an
upsert rewrites ONLY the buckets containing batch doc_ids.

Layout (under ``<dataset_dir>/docs_store/``)::

    BUCKETS.json            <- the store manifest (single commit point)
    b_empty/part-0.parquet  <- shared zero-row bucket (schema carrier)
    b07_v3/part-*.parquet   <- bucket 7, version 3
    changes_v3.parquet      <- changelog: the doc_ids upsert v3 wrote
    stage_v4/...            <- in-flight write (orphaned by a crash)

``BUCKETS.json`` maps bucket number -> current directory name and
store version -> changelog file, and is flipped with one atomic
``os.replace`` — the whole upsert commits or doesn't (the round-4
two-rename swap had a crash window with no docs table at all; this
has none).  Anything on disk that the manifest does not reference is
a crash leftover and is swept before the next write.

The changelogs of the last ``CHANGELOG_KEEP`` versions are kept:
pipeline.prepare reads those after its stamp's version to refresh
only what the batches changed (``changes_since``); ``migrate`` writes
none, so a stamp older than the kept window rebuilds in full.

Bucket function: ``pmod(xxhash64(doc_id), n_buckets)`` — deterministic
across runs and sessions, computed JVM-side.  Untouched buckets are
not opened, not rewritten, and their files stay byte-identical
(tests/test_streaming.py asserts exactly that).

On a cluster the same statement is one Iceberg ``MERGE INTO`` on a
``bucket(doc_id)``-partitioned table (iceberg_sink.docs_merge_sql —
the flag-gated twin); this layout emulates Iceberg's
partition-level-rewrite + snapshot-pointer semantics on plain parquet.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .lib import write_json

PLAIN_DOCS = "docs.parquet"  # the generator / ingest layout
STORE_DIR = "docs_store"
MANIFEST = "BUCKETS.json"
EMPTY_BUCKET = "b_empty"
DEFAULT_BUCKETS = 64
CHANGELOG_KEEP = 8  # store versions whose changelog stays on disk


def store_root(dataset_dir: str) -> str:
    return os.path.join(dataset_dir, STORE_DIR)


def read_manifest(dataset_dir: str) -> dict | None:
    """The store manifest, or None when the dataset still carries a
    plain ``docs.parquet``."""
    try:
        with open(os.path.join(store_root(dataset_dir), MANIFEST)) as f:
            return json.load(f)
    except (OSError, json.JSONDecodeError):
        return None


def bucket_expr(n_buckets: int):
    """Deterministic doc-id bucket (JVM-side, no Python)."""
    return F.pmod(F.xxhash64("doc_id"), F.lit(n_buckets)).cast("int")


def docs_files(dataset_dir: str) -> list[tuple[str, int, int]]:
    """The files of the current docs table, one entry per path a read
    opens: (path relative to ``dataset_dir``, bytes, newest mtime_ns),
    a directory's over every file below it.

    With a store manifest the paths are its referenced bucket dirs,
    deduped (empty buckets share one zero-row carrier dir) and sorted
    for a stable read order; the manifest is the authority, so a
    leftover plain file is not listed.  Otherwise the path is the
    generator or ingest output ``docs.parquet``, a file or a directory,
    and the list is empty when there is none."""
    man = read_manifest(dataset_dir)
    if man is not None:
        rels = [os.path.join(STORE_DIR, d) for d in sorted(set(man["buckets"].values()))]
    elif os.path.exists(os.path.join(dataset_dir, PLAIN_DOCS)):
        rels = [PLAIN_DOCS]
    else:
        rels = []
    out = []
    for rel in rels:
        path = os.path.join(dataset_dir, rel)
        files = [path] if os.path.isfile(path) else [
            os.path.join(root, fn) for root, _dirs, fns in os.walk(path) for fn in fns
        ]
        sts = [os.stat(f) for f in files]
        out.append((rel, sum(st.st_size for st in sts),
                    max((st.st_mtime_ns for st in sts), default=0)))
    return out


def read_docs(spark: SparkSession, dataset_dir: str) -> DataFrame:
    """The docs table in either layout (``docs_files``).  The bucket
    key lives in the store's directory names, not its rows, so both
    layouts read with the same schema."""
    paths = [os.path.join(dataset_dir, rel) for rel, _, _ in docs_files(dataset_dir)]
    if not paths:
        raise FileNotFoundError(f"no docs table under {dataset_dir}")
    return spark.read.parquet(*paths)


def signature(dataset_dir: str) -> str:
    """Cheap driver-side change signature of the docs table: a hash of
    ``docs_files``, so ``prepare`` sees a stale engine dir without
    reading a row.  An upsert renames the bucket dirs it rewrites, so
    it changes the signature even where sizes and mtimes collide.  The
    paths are relative: a copy of the dataset that keeps mtimes
    (``shutil.copytree``) keeps the signature, and with it the engine
    stamp."""
    h = hashlib.sha256()
    for rel, size, mtime_ns in docs_files(dataset_dir):
        h.update(f"{rel}:{size}:{mtime_ns}\n".encode())
    return h.hexdigest()[:16]


def _sweep_orphans(root: str, man: dict) -> None:
    """Remove anything the manifest does not reference — staging dirs,
    bucket versions and changelogs left by a crash between write and
    commit, superseded versions, and changelogs that left the kept
    window."""
    live = (
        set(man["buckets"].values())
        | set(man.get("changes", {}).values())
        | {EMPTY_BUCKET, MANIFEST}
    )
    for name in os.listdir(root):
        path = os.path.join(root, name)
        if name in live:
            continue
        if os.path.isdir(path):
            shutil.rmtree(path, ignore_errors=True)
        else:
            os.remove(path)


def _move_staged_buckets(
    root: str, stage: str, touched: list[int], version: int, man: dict
) -> dict:
    """Move ``stage/bucket=N`` dirs into place as ``bNN_v<version>``
    and return the updated bucket map (NOT yet committed).  A bucket
    whose rows were all tombstoned produces no staged dir and maps to
    the shared empty carrier."""
    buckets = dict(man["buckets"])
    for t in touched:
        src = os.path.join(stage, f"bucket={t}")
        if os.path.isdir(src):
            dst = f"b{t:02d}_v{version}"
            # a crash mid-move on a PREVIOUS attempt of this same
            # version leaves dst populated but unreferenced (the
            # manifest never committed); rename onto a non-empty dir
            # fails, so clear it first — for upserts _sweep_orphans
            # already did, but a crashed migrate has no manifest yet
            shutil.rmtree(os.path.join(root, dst), ignore_errors=True)
            os.rename(src, os.path.join(root, dst))
            buckets[str(t)] = dst
        else:
            buckets[str(t)] = EMPTY_BUCKET
    return buckets


def migrate(spark: SparkSession, dataset_dir: str) -> dict:
    """One-time conversion of a plain ``docs.parquet`` (generator or
    XML-ingest output) into the bucketed store of ``DEFAULT_BUCKETS``
    buckets.  O(|docs|) exactly once — every later upsert is
    bucket-scoped.  The plain file is removed after the manifest
    commits (the manifest is the authority; a crash in between leaves
    both, and readers prefer the store)."""
    docs_path = os.path.join(dataset_dir, PLAIN_DOCS)

    def _drop_plain() -> None:
        if os.path.isdir(docs_path):
            shutil.rmtree(docs_path, ignore_errors=True)
        elif os.path.exists(docs_path):
            os.remove(docs_path)

    man = read_manifest(dataset_dir)
    if man is not None:
        # a crash between manifest commit and plain-file removal left
        # a stale docs.parquet behind — the manifest is the authority
        _drop_plain()
        return man
    docs = read_docs(spark, dataset_dir)
    root = store_root(dataset_dir)
    os.makedirs(root, exist_ok=True)

    # zero-row carrier: keeps the schema readable for empty buckets
    empty_dir = os.path.join(root, EMPTY_BUCKET)
    if not os.path.isdir(empty_dir):
        docs.limit(0).coalesce(1).write.mode("overwrite").parquet(empty_dir)

    stage = os.path.join(root, "stage_v1")
    shutil.rmtree(stage, ignore_errors=True)
    n_buckets = DEFAULT_BUCKETS
    (
        docs.withColumn("bucket", bucket_expr(n_buckets))
        .repartition(n_buckets, "bucket")
        .write.partitionBy("bucket")
        .mode("overwrite")
        .parquet(stage)
    )
    man = {"n_buckets": n_buckets, "version": 1,
           "buckets": {str(t): EMPTY_BUCKET for t in range(n_buckets)}}
    man["buckets"] = _move_staged_buckets(
        root, stage, list(range(n_buckets)), 1, man
    )
    write_json(os.path.join(root, MANIFEST), man)  # the commit point
    # post-commit cleanup (retried by the next migrate/upsert call if
    # a crash lands here)
    shutil.rmtree(stage, ignore_errors=True)
    _drop_plain()
    return man


def upsert(
    spark: SparkSession,
    dataset_dir: str,
    batch: DataFrame,
) -> list[int]:
    """Merge one replication batch; returns the touched bucket list.

    A batch row replaces its previous doc version; an empty (or
    null) ``spans`` array is a tombstone.  Only buckets containing batch doc_ids are
    read or rewritten — cost is O(|batch| + |touched buckets|), never
    O(|docs|).  The batch's doc_ids are collected once (O(|batch|),
    like the reference's osmosis change file): they give the touched
    buckets, the partition work-list, and the version's changelog,
    which commits with the buckets."""
    man = migrate(spark, dataset_dir)
    n = man["n_buckets"]
    root = store_root(dataset_dir)
    _sweep_orphans(root, man)

    b = batch.dropDuplicates(["doc_id"]).withColumn("bucket", bucket_expr(n))
    ids = b.select("doc_id", "bucket").collect()
    touched = sorted({r["bucket"] for r in ids})
    if not touched:
        return []
    cur_paths = [
        os.path.join(root, man["buckets"][str(t)]) for t in touched
    ]
    cur = spark.read.parquet(*sorted(set(cur_paths))).withColumn(
        "bucket", bucket_expr(n)
    )
    # empty-carrier reads may surface rows of OTHER empty buckets only
    # if the carrier were non-empty — it never is; still, scope to the
    # touched set so the invariant is structural, not incidental
    cur = cur.filter(F.col("bucket").isin(touched))
    merged = (
        cur.join(b.select("doc_id"), "doc_id", "left_anti")
        .unionByName(b.filter(F.size("spans") > 0))
    )

    version = man["version"] + 1
    stage = os.path.join(root, f"stage_v{version}")
    shutil.rmtree(stage, ignore_errors=True)
    (
        merged.repartition(len(touched), "bucket")
        .write.partitionBy("bucket")
        .mode("overwrite")
        .parquet(stage)
    )
    new_buckets = _move_staged_buckets(root, stage, touched, version, man)
    changes = {
        v: f for v, f in man.get("changes", {}).items()
        if int(v) > version - CHANGELOG_KEEP
    }
    changes[str(version)] = f"changes_v{version}.parquet"
    pq.write_table(
        pa.table({"doc_id": pa.array([r["doc_id"] for r in ids], pa.string())}),
        os.path.join(root, changes[str(version)]),
    )
    new_man = {"n_buckets": n, "version": version, "buckets": new_buckets,
               "changes": changes}
    write_json(os.path.join(root, MANIFEST), new_man)  # the commit point
    # post-commit cleanup: the stage, superseded bucket versions and
    # changelogs that left the kept window (a crash here → swept by
    # the next upsert)
    _sweep_orphans(root, new_man)
    return touched


def changes_since(dataset_dir: str, version: int) -> list[str] | None:
    """Sorted doc_ids upserted after store ``version``, or None when
    the store is not past ``version`` or a changelog in between is no
    longer kept (the caller then rebuilds from every doc)."""
    man = read_manifest(dataset_dir)
    if man is None or man["version"] <= version:
        return None
    kept = man.get("changes", {})
    versions = [str(v) for v in range(version + 1, man["version"] + 1)]
    if any(v not in kept for v in versions):
        return None
    root = store_root(dataset_dir)
    ids: set[str] = set()
    for v in versions:
        t = pq.read_table(os.path.join(root, kept[v]), columns=["doc_id"])
        ids.update(t.column("doc_id").to_pylist())
    return sorted(ids)


def duckdb_docs_source(dataset_dir: str) -> str:
    """DuckDB ``read_parquet`` argument for the docs table in either
    layout: the paths of ``docs_files``, a directory's parquet files by
    glob (the oracles read whatever the engine reads)."""
    paths = [os.path.join(dataset_dir, rel) for rel, _, _ in docs_files(dataset_dir)]
    return "[" + ", ".join(
        f"'{p}/*.parquet'" if os.path.isdir(p) else f"'{p}'" for p in paths
    ) + "]"
