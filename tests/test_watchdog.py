"""Watchdog health assertions: empty inputs, stale state, floors."""

from __future__ import annotations

import json
import os
import shutil
import time

import pytest
from conftest import spark_jobs

from keepright_spark import docs_store, lifecycle, pipeline, watchdog
from keepright_spark.watchdog import WatchdogError


def test_base_table_guard(spark, tiny_dir, tmp_path, monkeypatch):
    """The guard reads the views' row counts from the engine stamp's
    per-tile summary: no Spark job, and an empty view is named."""
    pipeline.prepare(spark, tiny_dir)
    summary = pipeline.tile_summary(tiny_dir)
    with spark_jobs(spark) as jobs:
        watchdog.assert_base_tables(summary)  # populated: no raise
    assert jobs == []

    # empty one view -> loud failure naming the view, before any check
    broken = {t: {**e, "nodes": [0, 0, 0]} for t, e in summary.items()}
    with pytest.raises(WatchdogError, match="nodes"):
        watchdog.assert_base_tables(broken)
    monkeypatch.setattr(pipeline, "tile_summary", lambda _: broken)
    with pytest.raises(WatchdogError, match="nodes"):
        lifecycle.run_persistent(spark, tiny_dir, str(tmp_path / "state"), [20])


def test_watchdog_healthy_and_stale(spark, tiny_dir, tmp_path):
    state = str(tmp_path / "state")
    lifecycle.run_persistent(spark, tiny_dir, state, check_ids=[20])
    assert watchdog.run_watchdog(tiny_dir, state) == []

    # stale: pretend 19 days passed since the last lineage write
    lineage = os.path.join(state, "lineage")
    now = os.path.getmtime(os.path.join(lineage, os.listdir(lineage)[0]))
    issues = watchdog.run_watchdog(tiny_dir, state, now=now + 19 * 86400)
    assert any("older than 18 days" in i for i in issues)
    with pytest.raises(WatchdogError):
        watchdog.run_watchdog(
            tiny_dir, state, now=now + 19 * 86400, strict=True
        )

    # a crashed later run's fresh lineage does not make a 19-day-old
    # commit look fresh: the state is dated by the committed run only
    with open(os.path.join(lineage, "run_2_group_0.json"), "w") as f:
        json.dump({"run_seq": 2, "group": 0, "error_rows": 1}, f)
    aged = time.time() - 19 * 86400
    for fn in os.listdir(lineage):
        if fn.startswith("run_1_"):
            os.utime(os.path.join(lineage, fn), (aged, aged))
    issues = watchdog.run_watchdog(tiny_dir, state)
    assert any("older than 18 days" in i for i in issues), issues


def test_watchdog_missing_and_floors(spark, tiny_dir, tmp_path):
    # no committed run at all
    issues = watchdog.run_watchdog(tiny_dir, str(tmp_path / "nostate"))
    assert any("no committed errors table" in i for i in issues)

    # per-group floor: a group lineage row below the floor trips
    state = str(tmp_path / "state")
    lifecycle.run_persistent(spark, tiny_dir, state, check_ids=[20])
    ln = sorted(os.listdir(os.path.join(state, "lineage")))[0]
    p = os.path.join(state, "lineage", ln)
    with open(p) as f:
        row = json.load(f)
    row["error_rows"] = 0
    with open(p, "w") as f:
        json.dump(row, f)
    issues = watchdog.run_watchdog(tiny_dir, state)
    assert any("emitted 0 rows" in i for i in issues)

    # uncommitted latest run trips
    mp = os.path.join(state, "run_manifest.json")
    with open(mp) as f:
        m = json.load(f)
    del m["run_1"]["committed"]
    with open(mp, "w") as f:
        json.dump(m, f)
    issues = watchdog.run_watchdog(tiny_dir, state)
    assert any("not committed" in i for i in issues)


@pytest.mark.parametrize("layout", ["file", "dir", "store"])
def test_watchdog_input_rules(spark, tiny_dir, tmp_path, layout):
    """The input rules (too small, older than 18 days, not found) read
    the files of the current docs table in each layout; a docs-store
    crash orphan does not make an old store look fresh."""
    ds = tmp_path / "ds"
    ds.mkdir()
    src = os.path.join(tiny_dir, "docs.parquet")
    if layout == "dir":
        (ds / "docs.parquet").mkdir()
        shutil.copy(src, ds / "docs.parquet" / "part-0.parquet")
    else:
        shutil.copy(src, ds)
    if layout == "store":
        docs_store.migrate(spark, str(ds))
    ds = str(ds)
    assert watchdog.run_watchdog(ds) == []

    size = sum(n for _, n, _ in docs_store.docs_files(ds))
    issues = watchdog.run_watchdog(ds, limits={"docs_minimum_bytes": size + 1})
    assert issues == [f"input docs table is too small. Size is {size}"]

    aged = time.time() - 19 * 86400
    for root, _dirs, files in os.walk(ds):
        for fn in files:
            os.utime(os.path.join(root, fn), (aged, aged))
    if layout == "store":
        orphan = os.path.join(docs_store.store_root(ds), "stage_v9")
        os.makedirs(orphan)
        with open(os.path.join(orphan, "part-0.parquet"), "wb") as f:
            f.write(b"x" * 2048)
    assert watchdog.run_watchdog(ds) == ["input docs table is older than 18 days"]

    gone = os.path.join(ds, "docs_store" if layout == "store" else "docs.parquet")
    shutil.rmtree(gone) if os.path.isdir(gone) else os.remove(gone)
    assert watchdog.run_watchdog(ds) == [f"input docs table not found under {ds}"]
