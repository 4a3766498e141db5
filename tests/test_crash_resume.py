"""Crash-resume through a real mid-run kill (VERDICT r2 #9).

A subprocess running ``run_persistent`` is killed (os._exit) between
tile-group commits; a second process resumes the same state dir and
must (a) skip the committed groups, (b) finish, and (c) produce a
final errors table byte-identical to an uninterrupted run.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

CHILD = r"""
import json, os, sys
sys.path.insert(0, {repo!r})
os.chdir({repo!r})
from keepright_spark import lifecycle, pipeline
from keepright_spark.datagen import ensure_dataset
from keepright_spark.session import get_spark

kill_at = int(sys.argv[1])       # os._exit at the START of this group
state_dir = sys.argv[2]
counter_file = sys.argv[3]

real_run_checks = pipeline.run_checks
calls = {{"n": 0}}

def counting_run_checks(*a, **kw):
    calls["n"] += 1
    with open(counter_file, "w") as f:
        json.dump(calls, f)
    if 0 < kill_at == calls["n"]:
        # simulate a hard crash between group commits: the previous
        # group's manifest entry is durable, this one never starts
        os._exit(137)
    return real_run_checks(*a, **kw)

pipeline.run_checks = counting_run_checks
lifecycle.pipeline.run_checks = counting_run_checks
lifecycle.TILE_GROUP_SIZE = 1

spark = get_spark("crash_resume_test", cores=4, shuffle_partitions=4)
d = ensure_dataset("t")
df = lifecycle.run_persistent(spark, d, state_dir, check_ids=[20, 120])
rows = sorted(
    tuple(str(x) for x in r)
    for r in df.select(*sorted(df.columns)).collect()
)
with open(os.path.join(state_dir, "RESULT.json"), "w") as f:
    json.dump(rows, f)
spark.stop()
"""


def _run_child(repo, kill_at, state_dir, counter_file):
    return subprocess.run(
        [sys.executable, "-c", CHILD.format(repo=repo),
         str(kill_at), state_dir, counter_file],
        capture_output=True,
        text=True,
        timeout=600,
    )


def test_kill_between_group_commits(tmp_path):
    repo = os.getcwd()
    crash_state = str(tmp_path / "crash")
    clean_state = str(tmp_path / "clean")
    counter = str(tmp_path / "counter.json")

    # scale "t" has 2 tiles -> 2 groups of one tile each.
    # kill at the start of group 2: group 1 is committed, group 2 not.
    p = _run_child(repo, 2, crash_state, counter)
    assert p.returncode == 137, p.stderr[-2000:]
    manifest = json.load(open(os.path.join(crash_state, "run_manifest.json")))
    rec = manifest["run_1"]
    assert rec["groups_done"] == [0]
    assert not rec.get("committed")

    # resume: must run ONLY the remaining group and commit
    p = _run_child(repo, 0, crash_state, counter)
    assert p.returncode == 0, p.stderr[-2000:]
    assert json.load(open(counter))["n"] == 1  # one group re-run, not two
    manifest = json.load(open(os.path.join(crash_state, "run_manifest.json")))
    assert manifest["run_1"].get("committed")

    # uninterrupted reference run
    p = _run_child(repo, 0, clean_state, counter)
    assert p.returncode == 0, p.stderr[-2000:]

    got = json.load(open(os.path.join(crash_state, "RESULT.json")))
    want = json.load(open(os.path.join(clean_state, "RESULT.json")))
    assert got == want and len(got) > 0
