"""Structured-Streaming replication follower: a parquet drop in the
feed directory upserts the docs table and triggers a scoped diff
re-run; the resulting live error set must equal a from-scratch run on
the merged docs.
"""

from __future__ import annotations

import os
import shutil

import pytest
from pyspark.sql import functions as F

from keepright_spark import diff, docs_store, lifecycle, streaming
from keepright_spark.datagen import ensure_dataset

CHECKS = [20, 120]
LIVE_COLS = ["tile", "error_type", "object_type", "object_id", "lat",
             "lon", "state", "msgid", "txt1"]


def _clone_dataset(src: str, dst: str) -> str:
    os.makedirs(dst, exist_ok=True)
    # docs live as a single generator file, a directory, or (after a
    # streaming upsert) the bucketed store
    if os.path.isdir(f"{src}/docs_store"):
        shutil.copytree(f"{src}/docs_store", f"{dst}/docs_store")
    elif os.path.isdir(f"{src}/docs.parquet"):
        shutil.copytree(f"{src}/docs.parquet", f"{dst}/docs.parquet")
    else:
        shutil.copy(f"{src}/docs.parquet", f"{dst}/docs.parquet")
    shutil.copy(f"{src}/MANIFEST.json", f"{dst}/MANIFEST.json")
    return dst


def _live(errors):
    rows = (
        errors.filter(F.col("state") != "cleared")
        .select(LIVE_COLS)
        .collect()
    )
    return sorted(tuple(str(x) for x in r) for r in rows)


def test_stream_drop_updates_errors(spark, tmp_path):
    tiny = ensure_dataset("t")
    ds = _clone_dataset(tiny, str(tmp_path / "ds"))
    state = str(tmp_path / "state")
    feed = str(tmp_path / "feed")

    # initial full cycle (no snapshot yet → full run + snapshot)
    diff.diff_update(spark, ds, state, check_ids=CHECKS)

    # build one replication drop: tombstone a node that carries a 0020
    # error (its duplicate partner error must clear), and retag one way
    errs = spark.read.parquet(lifecycle.current_errors_path(state))
    victim = (
        errs.filter(F.col("error_type") == 20)
        .orderBy("object_id")
        .first()["object_id"]
    )
    docs = docs_store.read_docs(spark, ds)
    n_before = docs.count()
    tomb = docs.filter(F.col("doc_id") == f"node/{victim}").select(
        "doc_id", F.expr("array()").cast(docs.schema["spans"].dataType
                                         ).alias("spans")
    )
    assert tomb.count() == 1
    drop_dir = str(tmp_path / "drop")
    tomb.write.mode("overwrite").parquet(drop_dir)
    os.makedirs(feed, exist_ok=True)
    for fn in os.listdir(drop_dir):
        if fn.endswith(".parquet"):
            shutil.copy(os.path.join(drop_dir, fn),
                        os.path.join(feed, "drop1_" + fn))

    streaming.process_available(spark, ds, state, feed, check_ids=CHECKS)

    # the docs table no longer carries the tombstoned doc
    docs2 = docs_store.read_docs(spark, ds)
    assert docs2.filter(F.col("doc_id") == f"node/{victim}").count() == 0
    assert docs2.count() == n_before - 1

    # live errors == a from-scratch run over the merged docs
    scratch_ds = _clone_dataset(ds, str(tmp_path / "scratch_ds"))
    scratch_state = str(tmp_path / "scratch_state")
    scratch = lifecycle.run_persistent(
        spark, scratch_ds, scratch_state, check_ids=CHECKS
    )
    got = _live(spark.read.parquet(lifecycle.current_errors_path(state)))
    want = _live(scratch)
    assert got == want and len(got) > 0

    # draining an empty feed is a no-op (idempotent follower)
    before = got
    streaming.process_available(spark, ds, state, feed, check_ids=CHECKS)
    after = _live(spark.read.parquet(lifecycle.current_errors_path(state)))
    assert after == before


def _store_file_bytes(ds: str):
    """{bucket: {relpath: bytes}} over manifest-referenced files."""
    man = docs_store.read_manifest(ds)
    root = docs_store.store_root(ds)
    out: dict = {}
    for t, d in man["buckets"].items():
        p = os.path.join(root, d)
        for fn in sorted(os.listdir(p)):
            with open(os.path.join(p, fn), "rb") as f:
                out.setdefault(t, {})[f"{d}/{fn}"] = f.read()
    return out


def test_upsert_is_bucket_scoped(spark, tmp_path):
    """An upsert rewrites ONLY buckets containing batch doc_ids —
    every untouched bucket's files stay byte-identical (same relative
    paths, same bytes), and tombstones flow through."""
    tiny = ensure_dataset("t")
    ds = _clone_dataset(tiny, str(tmp_path / "ds"))
    docs = docs_store.read_docs(spark, ds)
    total = docs.count()
    all_ids = sorted(r["doc_id"] for r in docs.select("doc_id").collect())

    docs_store.migrate(spark, ds)
    before = _store_file_bytes(ds)
    sig_before = docs_store.signature(ds)
    assert docs_store.read_docs(spark, ds).count() == total

    # batch: replace one doc with itself + tombstone another
    keep_id, kill_id = all_ids[0], all_ids[1]
    batch = docs_store.read_docs(spark, ds).filter(
        F.col("doc_id").isin([keep_id, kill_id])
    )
    schema = batch.schema["spans"].dataType
    batch = batch.withColumn(
        "spans",
        F.when(F.col("doc_id") == kill_id,
               F.expr("array()").cast(schema)).otherwise(F.col("spans")),
    )
    touched = docs_store.upsert(spark, ds, batch)
    assert 1 <= len(touched) <= 2

    after = _store_file_bytes(ds)
    untouched = [t for t in before if int(t) not in touched]
    assert untouched, "test world too small: every bucket touched"
    for t in untouched:
        assert after[t] == before[t]
    # touched buckets really did move (new version dirs)
    for t in touched:
        assert set(after[str(t)].keys()) != set(before[str(t)].keys())

    # table contents: kill_id gone, everything else intact
    now = docs_store.read_docs(spark, ds)
    assert now.count() == total - 1
    assert now.filter(F.col("doc_id") == kill_id).count() == 0
    assert now.filter(F.col("doc_id") == keep_id).count() == 1

    # the docs signature moved (prepare sees the upsert)
    assert docs_store.signature(ds) != sig_before


def test_store_manifest_is_the_authority(spark, tmp_path):
    """A crash between manifest commit and plain-file removal leaves
    both docs.parquet and the store; readers and re-migration prefer
    the store and drop the stale plain file."""
    tiny = ensure_dataset("t")
    ds = _clone_dataset(tiny, str(tmp_path / "ds"))
    total = docs_store.read_docs(spark, ds).count()
    docs_store.migrate(spark, ds)

    # simulate the crash leftover: a stale plain file reappears
    stale = os.path.join(ds, "docs.parquet")
    with open(stale, "wb") as f:
        f.write(b"not a parquet file")
    assert docs_store.read_docs(spark, ds).count() == total  # store wins
    docs_store.migrate(spark, ds)  # idempotent; sweeps the leftover
    assert not os.path.exists(stale)

    # orphaned staging dirs are swept by the next upsert
    orphan = os.path.join(docs_store.store_root(ds), "stage_v99")
    os.makedirs(orphan, exist_ok=True)
    docs_store.upsert(
        spark, ds, docs_store.read_docs(spark, ds).limit(1)
    )
    assert not os.path.isdir(orphan)


def test_migrate_resumes_after_mid_move_crash(spark, tmp_path):
    """A migrate that died mid-_move_staged_buckets leaves populated
    bNN_v1 dirs at the store root and NO manifest; the retry must not
    trip over them (rename onto a non-empty dir) and must produce the
    full table."""
    tiny = ensure_dataset("t")
    ds = _clone_dataset(tiny, str(tmp_path / "ds"))
    total = docs_store.read_docs(spark, ds).count()

    # simulate the half-done first attempt: stage written, SOME
    # buckets already moved into place, manifest never committed
    root = docs_store.store_root(ds)
    os.makedirs(root, exist_ok=True)
    docs = docs_store.read_docs(spark, ds)
    stage = os.path.join(root, "stage_crashed")
    (
        docs.withColumn("bucket", docs_store.bucket_expr(64))
        .write.partitionBy("bucket").parquet(stage)
    )
    moved = 0
    for name in sorted(os.listdir(stage)):
        if name.startswith("bucket=") and moved < 3:
            t = int(name.split("=")[1])
            os.rename(
                os.path.join(stage, name),
                os.path.join(root, f"b{t:02d}_v1"),
            )
            moved += 1
    assert moved == 3 and docs_store.read_manifest(ds) is None

    man = docs_store.migrate(spark, ds)  # the retry
    assert man is not None
    assert docs_store.read_docs(spark, ds).count() == total
    # the crashed stage dir is unreferenced → swept by the next upsert
    docs_store.upsert(spark, ds, docs_store.read_docs(spark, ds).limit(1))
    assert not os.path.isdir(stage)
