"""Smoke test of the benchmark itself.

Runs every workload of BENCHMARK.json once untraced and once traced,
one operation each, and checks the result contract: the last stdout
line is the result object, the run is correct, and every metric
BENCHMARK.json names is emitted with its unit.  Also checks that the
follower's seeded drops reach one tile on some seeds and both on
others.  Takes a few minutes
(four fresh Spark sessions on the ``t`` world)::

    python3 -m pytest perfbench/test_smoke.py -q
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
    BENCH = json.load(f)


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", [w["name"] for w in BENCH["workloads"]])
def test_every_metric_emitted(workload, trace):
    p = subprocess.run(
        [*BENCH["command"], "--workload", workload, "--seed", "7",
         "--seconds", "1", "--trace", str(trace)],
        cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL,
        text=True, timeout=900,
    )
    assert p.returncode == 0
    res = json.loads(p.stdout.strip().splitlines()[-1])
    assert set(res) == {"correct", "attempted", "failed", "metrics"}
    assert res["correct"] and res["failed"] == 0 and res["attempted"] >= 1
    wanted = BENCH["per_layer"] if trace else BENCH["end_to_end"]
    assert set(res["metrics"]) == {m["name"] for m in wanted}
    for m in wanted:
        got = res["metrics"][m["name"]]
        assert got["unit"] == m["unit"], m["name"]
        assert isinstance(got["value"], (int, float)), m["name"]
    if not trace:
        assert all(res["metrics"][m["name"]]["value"] > 0 for m in wanted)


def test_drop_spread_varies_tiles(tmp_path):
    """Over seeds, some follower drops stay inside one tile of the
    world and some reach both; every drop has its 20 docs."""
    import numpy as np

    sys.path[:0] = [ROOT, os.path.join(ROOT, "perfbench")]
    try:
        import worker
        from keepright_spark.datagen import ensure_dataset
    finally:
        del sys.path[:2]
    world = worker.World(ensure_dataset(worker.WORLD))
    node_tiles = world.views["nodes"].groupby("id").tile.agg(frozenset)
    way_tiles = world.views["ways"].groupby("id").tile.agg(frozenset)
    counts = set()
    for seed in range(1, 21):
        edits = worker.no_edits()
        info = worker.make_drop(world, np.random.RandomState(seed), edits,
                                str(tmp_path / f"drop_{seed}.parquet"))
        assert info["docs"] == (worker.DROP_WAYS + worker.DROP_MOVES
                                + worker.DROP_TOMBS)
        tiles = frozenset().union(
            *(way_tiles[w] for w, _, _ in edits["tags"]),
            *(node_tiles[n] for n in [*edits["moves"], *edits["tombs"]]))
        counts.add(len(tiles))
    assert counts == {1, 2}


def test_refuses_without_engine(tmp_path):
    """Outside a checkout of the engine the benchmark fails fast and
    prints no result."""
    bench_dir = tmp_path / "perfbench"
    bench_dir.mkdir()
    for name in os.listdir(os.path.join(ROOT, "perfbench")):
        src = os.path.join(ROOT, "perfbench", name)
        if os.path.isfile(src):
            (bench_dir / name).write_bytes(open(src, "rb").read())
    p = subprocess.run(
        [*BENCH["command"], "--workload", BENCH["workloads"][0]["name"],
         "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, stdout=subprocess.PIPE, stderr=subprocess.PIPE,
        text=True, timeout=60,
    )
    assert p.returncode != 0
    assert p.stdout.strip() == ""
