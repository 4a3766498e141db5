"""Error-lifecycle state machine + resumable persistent runs."""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest
from pyspark.sql import functions as F

from keepright_spark import lifecycle, pipeline
from keepright_spark.errors import ERROR_COLS


def _fresh(spark, rows):
    return spark.createDataFrame(
        [
            (t, et, ot, oid, lat, lon, msg, None, None, None, None, None)
            for (t, et, ot, oid, lat, lon, msg) in rows
        ],
        "tile string, error_type int, object_type string, object_id long, "
        "lat long, lon long, msgid string, txt1 string, txt2 string, "
        "txt3 string, txt4 string, txt5 string",
    )


def test_state_machine_transitions(spark):
    r1 = _fresh(spark, [("A1", 20, "node", 1, 10, 10, "m"),
                        ("A1", 40, "way", 2, 20, 20, "m")])
    e1 = lifecycle.sync_errors(None, r1, [20, 40], run_seq=1)
    state = {r["object_id"]: r["state"] for r in e1.collect()}
    assert state == {1: "new", 2: "new"}

    # run 2: error 1 persists, error 2 vanishes
    r2 = _fresh(spark, [("A1", 20, "node", 1, 10, 10, "m")])
    e2 = lifecycle.sync_errors(e1, r2, [20, 40], run_seq=2)
    rows = {r["object_id"]: r for r in e2.collect()}
    assert rows[1]["state"] == "new"
    assert rows[1]["first_occurrence"] == 1 and rows[1]["last_checked"] == 2
    assert rows[2]["state"] == "cleared"

    # run 3: error 2 reappears -> reopened; error_id stable
    r3 = _fresh(spark, [("A1", 20, "node", 1, 10, 10, "m"),
                        ("A1", 40, "way", 2, 20, 20, "m")])
    e3 = lifecycle.sync_errors(e2, r3, [20, 40], run_seq=3)
    rows = {r["object_id"]: r for r in e3.collect()}
    assert rows[2]["state"] == "reopened"
    assert rows[2]["error_id"] == [r for r in e1.collect() if r["object_id"] == 2][0]["error_id"]


def test_partial_run_scope(spark):
    r1 = _fresh(spark, [("A1", 20, "node", 1, 10, 10, "m"),
                        ("A1", 40, "way", 2, 20, 20, "m")])
    e1 = lifecycle.sync_errors(None, r1, [20, 40], run_seq=1)
    # partial run of check 40 only: missing error 20 must NOT clear
    r2 = _fresh(spark, [])
    e2 = lifecycle.sync_errors(e1, r2, [40], run_seq=2)
    rows = {r["object_id"]: r for r in e2.collect()}
    assert rows[1]["state"] == "new"      # out of scope, untouched
    assert rows[2]["state"] == "cleared"  # in scope, vanished


def test_persistent_run_resume(spark, tiny_dir, tmp_path):
    state = str(tmp_path / "state")
    errs = lifecycle.run_persistent(spark, tiny_dir, state, check_ids=[20, 120])
    n1 = errs.count()
    assert n1 > 0
    assert errs.filter(F.col("state") == "new").count() == n1
    lineage = os.listdir(os.path.join(state, "lineage"))
    assert lineage, "lineage rows must be written"

    # re-run: same errors, all still 'new' (idempotent recompute),
    # same error ids
    errs2 = lifecycle.run_persistent(spark, tiny_dir, state, check_ids=[20, 120])
    assert errs2.count() == n1
    assert errs2.filter(F.col("state") != "new").count() == 0

    # manifest marks runs committed
    with open(os.path.join(state, "run_manifest.json")) as f:
        m = json.load(f)
    assert m["last_run_seq"] == 2 and m["run_2"]["committed"]

    # error-statistics timeline fill: one snapshot per committed run,
    # per-(date, type) totals equal the live table at each run
    from keepright_spark import comments as cm

    stats = lifecycle.load_error_statistics(spark, state)
    tl = {
        (r["date"], r["error_type"]): (r["count"], r["delta"])
        for r in cm.error_timeline(stats).collect()
    }
    by_type = {
        r["error_type"]: r["c"]
        for r in errs2.groupBy("error_type")
        .agg(F.count(F.lit(1)).alias("c")).collect()
    }
    for et, n in by_type.items():
        assert tl[(1, et)] == (n, None)  # first snapshot, no delta
        assert tl[(2, et)] == (n, 0)     # identical re-run, delta 0


def test_run_without_dataset_manifest(spark, tiny_dir, tmp_path):
    """A dataset dir with no MANIFEST.json (what ``--ingest-xml``
    writes) runs on DEFAULT_TILES.  The t world is tiled with exactly
    those, so a copy of its docs alone commits the same live rows."""
    import shutil

    from keepright_spark.tiling import DEFAULT_TILES

    assert pipeline.dataset_tiles(tiny_dir) == DEFAULT_TILES
    ds = tmp_path / "ds"
    ds.mkdir()
    shutil.copy(os.path.join(tiny_dir, "docs.parquet"), ds)

    def live(df):
        rows = df.filter(F.col("state") != "cleared").select(ERROR_COLS).collect()
        return sorted(tuple(str(x) for x in r) for r in rows)

    got = live(lifecycle.run_persistent(spark, str(ds), str(tmp_path / "s1"), [20]))
    want = live(lifecycle.run_persistent(spark, tiny_dir, str(tmp_path / "s2"), [20]))
    assert got == want and got


def test_crash_resume_uncommitted_run(spark, tiny_dir, tmp_path, monkeypatch):
    """A restart after a crash mid-run must resume the SAME run_seq,
    reuse its completed tile groups, and finish with a committed
    errors table named by the run manifest."""
    import shutil

    monkeypatch.setattr(lifecycle, "TILE_GROUP_SIZE", 1)
    state = str(tmp_path / "state")
    e1 = lifecycle.run_persistent(spark, tiny_dir, state, check_ids=[20])
    n1 = e1.count()
    mp = os.path.join(state, "run_manifest.json")
    with open(mp) as f:
        m = json.load(f)
    # simulate a crash after all tile groups completed but before the
    # table was written: drop the commit and the table
    del m["run_1"]["committed"]
    m.pop("last_run_seq", None)
    with open(mp, "w") as f:
        json.dump(m, f)
    shutil.rmtree(os.path.join(state, "errors_v1.parquet"))
    lineage_mtimes = {
        f: os.path.getmtime(os.path.join(state, "lineage", f))
        for f in os.listdir(os.path.join(state, "lineage"))
    }

    e2 = lifecycle.run_persistent(spark, tiny_dir, state, check_ids=[20])
    with open(mp) as f:
        m = json.load(f)
    assert m["last_run_seq"] == 1 and m["run_1"]["committed"]
    assert e2.count() == n1
    assert lifecycle.current_errors_path(state) == os.path.join(
        state, "errors_v1.parquet"
    )
    # completed tile groups were skipped, not recomputed
    for f_, mt in lineage_mtimes.items():
        assert os.path.getmtime(os.path.join(state, "lineage", f_)) == mt


def _rows(df):
    return sorted(
        tuple(str(x) for x in r) for r in df.select(sorted(df.columns)).collect()
    )


def test_rerun_after_crash_before_commit(spark, tiny_dir, tmp_path):
    """A crash after the run wrote its errors table, statistics and
    census but before the manifest commit leaves every table on disk
    and the manifest without the commit.  The rerun resumes the run,
    reads no uncommitted table and commits the same rows."""
    state = str(tmp_path / "state")
    want = _rows(lifecycle.run_persistent(spark, tiny_dir, state, check_ids=[20]))
    mp = os.path.join(state, "run_manifest.json")
    with open(mp) as f:
        m = json.load(f)
    del m["run_1"]["committed"]
    del m["last_run_seq"]
    with open(mp, "w") as f:
        json.dump(m, f)

    got = _rows(lifecycle.run_persistent(spark, tiny_dir, state, check_ids=[20]))
    with open(mp) as f:
        m = json.load(f)
    assert m["last_run_seq"] == 1 and m["run_1"]["committed"]
    assert got == want
    assert _rows(spark.read.parquet(lifecycle.current_errors_path(state))) == want


def test_manifest_write_failure_keeps_previous_manifest(spark, tiny_dir, tmp_path,
                                                        monkeypatch):
    """A manifest write that fails halfway leaves the previous manifest
    on disk, whole."""
    state = str(tmp_path / "state")
    lifecycle.run_persistent(spark, tiny_dir, state, check_ids=[20])
    mp = os.path.join(state, "run_manifest.json")
    with open(mp) as f:
        before = json.load(f)

    real_dumps = json.dumps

    def torn_dump(obj, f, **kw):
        text = real_dumps(obj, **kw)
        f.write(text[: len(text) // 2])
        raise OSError("disk full")

    monkeypatch.setattr(json, "dump", torn_dump)
    with pytest.raises(OSError, match="disk full"):
        lifecycle.run_persistent(spark, tiny_dir, state, check_ids=[20])
    monkeypatch.undo()
    with open(mp) as f:
        assert json.load(f) == before


def test_manifest_keeps_one_committed_record(spark, tiny_dir, tmp_path):
    """Committing a run drops the record of the run it supersedes."""
    state = str(tmp_path / "state")
    for _ in range(3):
        lifecycle.run_persistent(spark, tiny_dir, state, check_ids=[20])
    m = lifecycle.read_manifest(state)
    assert [k for k in m if k.startswith("run_")] == ["run_3"]
    assert m["last_run_seq"] == 3 and m["run_3"]["committed"]
    assert os.listdir(os.path.join(state, "stage")) == ["run_3"]


def test_id_assignment_distributed_and_dense(spark):
    # ids must be dense 1..N, follow the KEY total order, and the
    # row_number window must be tile-partitioned (no global funnel)
    rows = [("A%d" % (i % 7), 20, "node", i, i * 10, i * 10, "m")
            for i in range(40)]
    e = lifecycle.sync_errors(None, _fresh(spark, rows), [20], run_seq=1)
    got = sorted(r["error_id"] for r in e.collect())
    assert got == list(range(1, 41))
    # deterministic: same input -> same ids
    e2 = lifecycle.sync_errors(None, _fresh(spark, rows), [20], run_seq=1)
    m1 = {(r["tile"], r["object_id"]): r["error_id"] for r in e.collect()}
    m2 = {(r["tile"], r["object_id"]): r["error_id"] for r in e2.collect()}
    assert m1 == m2
    # plan gate: every row_number window spec is partitioned by tile
    plan = e._jdf.queryExecution().executedPlan().toString()
    for line in plan.splitlines():
        if "row_number()" in line:
            assert "windowspecdefinition(tile#" in line, line


def test_published_view(spark, tiny_dir):
    v = pipeline.tiled_views(spark, tiny_dir)
    ev = pipeline.run_dataset(spark, tiny_dir, [20])
    errs = lifecycle.sync_errors(None, ev, [20], run_seq=1)
    pub = lifecycle.published_view(errs, v)
    rows = pub.limit(5).collect()
    assert rows
    for r in rows:
        assert r["error_name"] == "multiple nodes on the same spot"
        assert r["user_name"] and r["user_name"].startswith("user_")
        assert r["object_timestamp"] is not None


def test_published_names_equal_decade_rule(spark, tiny_dir):
    """Every catalogued type and every type a registered check owns is
    published under the name the decade rule (exact entry, else the
    entry of error_type - error_type % 10) gives it."""
    from keepright_spark.checks import available_checks, owned_types
    from keepright_spark.data_tables import ERROR_NAMES

    types = set(ERROR_NAMES)
    for cid in available_checks():
        lo, hi = owned_types(cid)
        types.update(range(lo, hi + 1))
    errs = spark.createDataFrame(
        [(t, "A1", t, "node", t, 0, 0, "new", 1, 1, "m", None, None, None, None, None)
         for t in sorted(types)],
        lifecycle.ERRORS_SCHEMA,
    )
    v = pipeline.tiled_views(spark, tiny_dir, share_partitioning=False)
    got = {
        r["error_type"]: r["error_name"]
        for r in lifecycle.published_view(errs, v).collect()
    }
    want = {t: ERROR_NAMES.get(t) or ERROR_NAMES.get(t - t % 10, "") for t in types}
    assert got == want


def test_stale_staged_run_is_swept(spark, tiny_dir, tmp_path, monkeypatch):
    """An uncommitted run staged for another tile scope is never resumed
    (its groups describe a different world: false-'cleared' hazard).
    The next run sweeps its record, staged groups and lineage, and
    commits under a fresh run_seq."""
    monkeypatch.setattr(lifecycle, "TILE_GROUP_SIZE", 1)
    state = str(tmp_path / "state")
    lifecycle.run_persistent(spark, tiny_dir, state, check_ids=[20])
    mp = os.path.join(state, "run_manifest.json")
    with open(mp) as f:
        m = json.load(f)
    # a crashed run staged against a different tile scope, one group done
    m["run_2"] = {
        "groups": [["bogus_tile"]],
        "groups_done": [0],
        "scope": ["bogus_tile"],
        "tile_summary": m["run_1"]["tile_summary"],
    }
    with open(mp, "w") as f:
        json.dump(m, f)
    os.makedirs(os.path.join(state, "stage", "run_2", "ev_0.parquet"))
    with open(os.path.join(state, "lineage", "run_2_group_0.json"), "w") as f:
        json.dump({"run_seq": 2, "group": 0, "tiles": ["bogus_tile"]}, f)

    lifecycle.run_persistent(spark, tiny_dir, state, check_ids=[20])
    m = lifecycle.read_manifest(state)
    assert [k for k in m if k.startswith("run_")] == ["run_3"]
    assert m["last_run_seq"] == 3 and m["run_3"]["committed"]
    assert not os.path.exists(os.path.join(state, "stage", "run_2"))
    assert not [
        n for n in os.listdir(os.path.join(state, "lineage")) if n.startswith("run_2_")
    ]


def test_oracle_types_within_owned_range(tiny_dir):
    """Every error type a check's DuckDB oracle emits on the t world
    lies in the range the check declares it owns — the range a partial
    run's clear sweep covers."""
    import duckdb

    import __spark_entry__ as entrymod
    from keepright_spark import oracles
    from keepright_spark.checks import owned_types

    con = duckdb.connect()
    try:
        for cid in entrymod.CHECKS_WITH_ORACLE:
            sql = getattr(oracles, f"oracle_{cid:04d}")(tiny_dir)
            types = con.sql(f"SELECT DISTINCT error_type FROM ({sql})").fetchall()
            lo, hi = owned_types(cid)
            outside = sorted(t for (t,) in types if not lo <= t <= hi)
            assert not outside, f"check {cid} emits {outside} outside {lo}..{hi}"
    finally:
        con.close()


def test_persistent_live_rows_equal_staged_0190(spark, tiny_dir, tmp_path):
    """0190 emits crossings (191-198) and overlaps (201-208): the live
    rows run_persistent commits equal the staged run_checks rows,
    overlaps included."""
    errs = lifecycle.run_persistent(
        spark, tiny_dir, str(tmp_path / "state"), check_ids=[190]
    )
    live = errs.filter(~F.col("state").isin("cleared", "preliminary"))
    staged = pipeline.run_dataset(spark, tiny_dir, [190])

    def rows(df):
        return sorted(tuple(str(x) for x in r) for r in df.select(ERROR_COLS).collect())

    want = rows(staged)
    assert any(r[1] == "201" for r in want), "fixture gap: no 0190 overlap row"
    assert rows(live) == want


def test_run_persistent_releases_materializations(spark, tiny_dir, tmp_path):
    """Intermediates materialized during a persistent run are freed when
    their owner's scope closes, not whenever the JVM happens to collect:
    two back-to-back runs leave the session's persisted RDDs as they
    found them.  Compared by id, because the JVM may collect an
    unreachable RDD left by an earlier test while the runs go on."""
    jsc = spark.sparkContext._jsc
    before = set(jsc.getPersistentRDDs().keySet())
    state = str(tmp_path / "state")
    for _ in range(2):
        lifecycle.run_persistent(spark, tiny_dir, state, check_ids=[50, 190])
    after = set(jsc.getPersistentRDDs().keySet())
    assert after <= before, f"persisted RDDs left behind: {sorted(after - before)}"


CHECKPOINT_CHILD = r"""
import glob, json, sys
from keepright_spark.lib import materialization_scope, materialize
from keepright_spark.session import get_spark

spark = get_spark("checkpoint_probe", cores=2)
files = lambda: glob.glob(f"{sys.argv[1]}/*/rdd-*")
df = spark.range(2000).selectExpr("id", "id % 7 AS k")
with materialization_scope():
    held = materialize(df)
    rows = sorted(map(tuple, held.collect()))
    inside = len(files())
print(json.dumps({"inside": inside, "after": len(files()),
                  "equal": rows == sorted(map(tuple, df.collect()))}))
spark.stop()
"""


def test_reliable_checkpoint_files_freed_at_scope_exit(tmp_path):
    """With KR_CHECKPOINT_DIR set, as the cluster recipe sets it,
    ``materialize`` writes reliable checkpoint files; closing the owning
    scope deletes them, and the materialized rows equal the input's."""
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    ckpt = str(tmp_path / "ckpt")
    env = {**os.environ, "KR_CHECKPOINT_DIR": ckpt,
           "PYTHONPATH": os.pathsep.join(p for p in (repo, os.environ.get("PYTHONPATH")) if p)}
    p = subprocess.run([sys.executable, "-c", CHECKPOINT_CHILD, ckpt], cwd=repo,
                       env=env, capture_output=True, text=True, timeout=300)
    assert p.returncode == 0, p.stderr[-2000:]
    got = json.loads(p.stdout.strip().splitlines()[-1])
    assert got == {"inside": 1, "after": 0, "equal": True}, got
