"""Incremental diff update: change detection, tile scoping, state
equivalence with a full re-run."""

from __future__ import annotations

import json
import os
import shutil

from conftest import spark_jobs
from pyspark.sql import functions as F

from keepright_spark import diff, docs_store, lifecycle, pipeline

CHECKS = [20, 170]


def _clone_dataset(src: str, dst: str) -> None:
    os.makedirs(dst)
    docs = os.path.join(src, "docs.parquet")
    if os.path.isdir(docs):
        shutil.copytree(docs, os.path.join(dst, "docs.parquet"))
    else:
        shutil.copy(docs, os.path.join(dst, "docs.parquet"))
    shutil.copy(
        os.path.join(src, "MANIFEST.json"), os.path.join(dst, "MANIFEST.json")
    )


def _edit_one_doc(
    spark, ds: str, wid: int, tmp: str,
    kind: str = "tag", text: str = "fixme\tcontinue here",
    media_ref: str | None = None,
) -> None:
    """Append a span to way/<wid> (a fixme tag by default; span
    invariant intact: new span goes at the end with the next dense
    offset)."""
    docs = spark.read.parquet(os.path.join(ds, "docs.parquet"))
    new_span = F.struct(
        F.lit(kind).alias("kind"),
        F.lit(text).alias("text"),
        F.lit(media_ref).cast("string").alias("media_ref"),
        F.size("spans").cast("int").alias("offset"),
    )
    edited = docs.withColumn(
        "spans",
        F.when(
            F.col("doc_id") == f"way/{wid}",
            F.concat("spans", F.array(new_span)),
        ).otherwise(F.col("spans")),
    )
    tmp_docs = os.path.join(tmp, "docs_new.parquet")
    edited.write.mode("overwrite").parquet(tmp_docs)
    target = os.path.join(ds, "docs.parquet")
    shutil.rmtree(target) if os.path.isdir(target) else os.remove(target)
    shutil.move(tmp_docs, target)


def test_diff_update_scoped_and_state_identical(spark, tiny_dir, tmp_path):
    ds = str(tmp_path / "ds")
    ds_full = str(tmp_path / "ds_full")
    _clone_dataset(tiny_dir, ds)
    _clone_dataset(tiny_dir, ds_full)
    state = str(tmp_path / "state")
    state_full = str(tmp_path / "state_full")

    # cycle 1: no snapshot yet -> full run (both worlds identical)
    e1 = diff.diff_update(spark, ds, state, check_ids=CHECKS)
    n1 = e1.count()
    assert n1 > 0
    lifecycle.run_persistent(spark, ds_full, state_full, check_ids=CHECKS)

    # pick a way that lives only in tile A1 and edit its doc
    v = pipeline.tiled_views(spark, ds, share_partitioning=False)
    wid = (
        v.ways.groupBy("id")
        .agg(F.collect_set("tile").alias("ts"))
        .filter((F.size("ts") == 1) & (F.element_at("ts", 1) == "A1"))
        .orderBy("id")
        .first()["id"]
    )
    _edit_one_doc(spark, ds, wid, str(tmp_path))
    _edit_one_doc(spark, ds_full, wid, str(tmp_path))

    # change detection: exactly the edited doc's tile
    scope = diff.affected_tiles(spark, ds, state)
    assert scope == ["A1"]

    # cycle 2: scoped re-run vs full re-run
    e2 = diff.diff_update(spark, ds, state, check_ids=CHECKS)
    full2 = lifecycle.run_persistent(
        spark, ds_full, state_full, check_ids=CHECKS
    )

    # the edit produced its new error
    assert (
        e2.filter(
            (F.col("error_type") == 170) & (F.col("object_id") == wid)
        ).count()
        == 1
    )
    # run 2 lineage covers only the affected tile
    run2 = [
        json.load(open(os.path.join(state, "lineage", f)))
        for f in os.listdir(os.path.join(state, "lineage"))
        if f.startswith("run_2_")
    ]
    assert run2 and all(set(r["tiles"]) == {"A1"} for r in run2)

    # state-identical to the full re-run, modulo last_checked (the
    # full run touches every tile's last_checked, the diff run only
    # the affected tile's)
    cols = [c for c in e2.columns if c != "last_checked"]
    got = sorted(tuple(r[c] for c in cols) for r in e2.select(cols).collect())
    exp = sorted(
        tuple(r[c] for c in cols) for r in full2.select(cols).collect()
    )
    assert got == exp

    # cycle 3: nothing changed -> empty scope, table untouched
    assert diff.affected_tiles(spark, ds, state) == []
    e3 = diff.diff_update(spark, ds, state, check_ids=CHECKS)
    assert e3.count() == e2.count()

    # a media span on the same doc reaches no view row (decode reads
    # only meta/coord/tag/noderef/member spans): no tile summary
    # changes, so the scope is empty, and comparing summaries runs no
    # Spark job
    _edit_one_doc(
        spark, ds, wid, str(tmp_path), kind="media",
        text="image/png\tphoto of the way", media_ref="media://0123456789abcdef",
    )
    pipeline.prepare(spark, ds)
    with spark_jobs(spark) as jobs:
        assert diff.affected_tiles(spark, ds, state) == []
    assert jobs == []
    # the run manifest is the one change record: no doc snapshots
    assert not [n for n in os.listdir(state) if n.startswith("doc_state_")]
    rec = lifecycle.committed_run(state)
    assert sorted(rec["tile_summary"]) == ["A1", "A2"]


def test_docs_signature_sees_a_rewritten_docs_file(tmp_path):
    """A single-file docs.parquet is part of the docs signature, so
    rewriting it is a change to prepare and to affected_tiles."""
    ds = tmp_path / "ds"
    ds.mkdir()
    (ds / "docs.parquet").write_bytes(b"v1")
    before = docs_store.signature(str(ds))
    (ds / "docs.parquet").write_bytes(b"v2 longer")
    assert docs_store.signature(str(ds)) != before


def test_copied_dataset_keeps_its_engine_stamp(spark, tiny_dir, tmp_path):
    """The docs signature hashes paths relative to the dataset dir, so
    a copytree of a prepared dataset (mtimes kept) is prepared already:
    ``prepare`` on the copy runs no Spark job."""
    pipeline.prepare(spark, tiny_dir)
    ds = str(tmp_path / "copy")
    shutil.copytree(tiny_dir, ds)
    with spark_jobs(spark) as jobs:
        pipeline.prepare(spark, ds)
    assert jobs == []
