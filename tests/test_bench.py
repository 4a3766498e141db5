"""The bench harness: its worker's output and the environment names
the program reads."""

from __future__ import annotations

import json
import os
import pathlib
import re
import subprocess
import sys

import duckdb

REPO = pathlib.Path(__file__).resolve().parents[1]

# the deployment settings README documents; no other KR_ name may exist
KR_SETTINGS = {
    "KR_SPARK_MASTER",
    "KR_CHECKPOINT_DIR",
    "KR_MAX_PARTITION_BYTES",
    "KR_OPEN_COST_BYTES",
    "KR_ADVISORY_PARTITION_BYTES",
}


def test_bench_worker_rows_equal_oracle_union(tiny_dir):
    """``python -m keepright_spark.bench_suite`` prints one JSON line whose
    rows equal the union of the checks' DuckDB oracles; perfbench imports
    ``dump_profile`` from the same module."""
    from keepright_spark import oracles
    from keepright_spark.bench_suite import dump_profile

    assert callable(dump_profile)
    env = {**os.environ,
           "PYTHONPATH": os.pathsep.join(p for p in (str(REPO), os.environ.get("PYTHONPATH")) if p)}
    p = subprocess.run(
        [sys.executable, "-m", "keepright_spark.bench_suite", tiny_dir, "2", "20,170"],
        cwd=REPO, env=env, capture_output=True, text=True, timeout=600,
    )
    assert p.returncode == 0, p.stderr[-2000:]
    lines = p.stdout.strip().splitlines()
    assert len(lines) == 1, lines
    got = json.loads(lines[0])
    want = sum(len(duckdb.sql(getattr(oracles, f"oracle_{cid:04d}")(tiny_dir)).df())
               for cid in (20, 170))
    assert got["rows"] == want, (got, want)
    assert set(got["timings"]) == {"20", "170"}, got


def test_kr_names_are_documented_settings():
    """Every ``KR_`` environment name in the program or the bench is one of
    the deployment settings README documents: no untested escape hatch."""
    name = re.compile(r"KR_[A-Z_]+")
    files = [REPO / "bench.py", *sorted((REPO / "keepright_spark").rglob("*.py"))]
    found = {m for p in files for m in name.findall(p.read_text())}
    assert found == KR_SETTINGS, sorted(found ^ KR_SETTINGS)
    readme = (REPO / "README.md").read_text()
    assert {s for s in KR_SETTINGS if s not in readme} == set()
