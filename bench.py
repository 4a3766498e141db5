#!/usr/bin/env python3
"""Benchmark: the check suite on the synthetic OSM world, one JSON line.

    python bench.py                # headline + N→4N scaling ladder
    python bench.py solo [cid ...] # each check alone (default: all)

Every measurement is one ``keepright_spark.bench_suite`` worker in a
fresh process and JVM (see its docstring for what is timed).

* **headline** — every registered check + resolve/clip on the world of
  the sf dir (SPARK_GRAFT_SF_DIR) at local[CPUS].
* **scaling** — the north rule's N→4N criterion: the same suite on the
  dense ``xd`` world (compute-bound spatial joins) at local[1] vs
  local[4].  Every level must emit the same number of rows.
* **solo** — the regression-attribution channel: each check alone,
  SOLO_REPS reps, min wall.  Staged concurrent walls spread several
  times over for identical code; a solo wall moves only when the plan
  does.  Writes BENCH/SOLO.md when it runs every registered check.

Reps interleave (headline, 1, 4, headline, 1, 4, …) so host drift hits
every level alike, and each level reports its least-perturbed rep.

Host accounting is perfbench's: each wall is reported less host steal
(``worker.unstolen_s``), with the raw wall and steal beside it; cores
come from the CPU affinity mask unless SPARK_GRAFT_CPUS is set; ``KR_``
variables are dropped from the worker's environment; and the JVM heap
is 40% of MemTotal unless SPARK_DRIVER_MEM is set.

Worker stderr goes to /tmp/kr_bench_logs/.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time

from keepright_spark.datagen import ensure_dataset, scale_for_sf_dir

REPO = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.join(REPO, "perfbench"))
import run as perfbench_run  # noqa: E402  (stdlib-only at import time)

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS") or len(os.sched_getaffinity(0)))
SF_NAME = os.path.basename(os.path.normpath(SF_DIR)).replace("sf", "")
SF = float(SF_NAME) if SF_NAME.replace(".", "").isdigit() else SF_NAME
SCALING_SCALE = "xd"
CORES_LO, CORES_HI = 1, 4
REPS = 2
SOLO_REPS = 3
LOG_DIR = "/tmp/kr_bench_logs"


def _worker_env() -> dict:
    env = {k: v for k, v in os.environ.items() if not k.startswith("KR_")}
    # workers import keepright_spark regardless of the caller's cwd
    env["PYTHONPATH"] = os.pathsep.join(p for p in (REPO, env.get("PYTHONPATH")) if p)
    if not env.get("SPARK_DRIVER_MEM"):
        heap_gb = max(1, int(perfbench_run.mem_total_bytes() * 0.4 / 2**30))
        env["SPARK_DRIVER_MEM"] = f"{heap_gb}g"
    return env


def run_suite(dataset: str, cores: int, tag: str, check_ids: list[int] | None = None) -> dict:
    """One isolated measurement: the worker's JSON line."""
    cmd = [sys.executable, "-m", "keepright_spark.bench_suite", dataset, str(cores)]
    if check_ids:
        cmd.append(",".join(str(c) for c in check_ids))
    os.makedirs(LOG_DIR, exist_ok=True)
    log_path = os.path.join(LOG_DIR, f"{tag}.log")
    with open(log_path, "w") as log:
        p = subprocess.run(
            cmd, stdout=subprocess.PIPE, stderr=log, env=_worker_env(), cwd=REPO, text=True
        )
    if p.returncode != 0:
        raise RuntimeError(f"bench worker {tag} exited {p.returncode}; see {log_path}")
    return json.loads(p.stdout.strip().splitlines()[-1])


def _reps(obs: list[dict]) -> dict:
    return {k: [r[k] for r in obs] for k in ("s", "wall_s", "steal_s")}


def main() -> None:
    t_all = time.monotonic()
    head_ds = ensure_dataset(scale_for_sf_dir(SF_DIR))
    ladder_ds = ensure_dataset(SCALING_SCALE)
    levels = {
        "headline": (head_ds, CPUS),
        "lo": (ladder_ds, CORES_LO),
        "hi": (ladder_ds, CORES_HI),
    }
    obs: dict[str, list[dict]] = {name: [] for name in levels}
    for i in range(REPS):
        for name, (ds, cores) in levels.items():
            obs[name].append(run_suite(ds, cores, f"{name}_{cores}c_r{i}"))
    ladder_rows = {r["rows"] for r in obs["lo"] + obs["hi"]}
    assert len(ladder_rows) == 1, f"ladder levels disagree on rows: {ladder_rows}"
    head, lo, hi = (min(obs[name], key=lambda r: r["s"]) for name in levels)
    efficiency = (lo["s"] / hi["s"]) / (CORES_HI / CORES_LO)
    queries = sorted(head["timings"].items(), key=lambda kv: int(kv[0]))
    result = {
        "metric": "full_checks_suite_sec",
        "value": head["s"],
        "unit": "sec",
        "queries": {f"kr_{int(c):04d}": t for c, t in queries},
        "sf": SF,
        "cores": CPUS,
        "errors_emitted": head["rows"],
        "rows_per_sec": round(head["rows"] / head["s"], 1),
        "scaling": {
            "scale": SCALING_SCALE,
            "cores_lo": CORES_LO,
            "cores_hi": CORES_HI,
            "wall_lo_sec": lo["s"],
            "wall_hi_sec": hi["s"],
            "efficiency": round(efficiency, 3),
            "rows": lo["rows"],
        },
        "reps": {name: _reps(rs) for name, rs in obs.items()},
        "bench_total_sec": round(time.monotonic() - t_all, 1),
    }
    print(json.dumps(result))


def solo_main(cids: list[int]) -> None:
    from keepright_spark.checks import available_checks

    t_all = time.monotonic()
    every = sorted(available_checks())
    cids = cids or every
    scale = scale_for_sf_dir(SF_DIR)
    dataset = ensure_dataset(scale)
    obs: dict[int, list[dict]] = {c: [] for c in cids}
    for i in range(SOLO_REPS):
        for cid in cids:
            obs[cid].append(run_suite(dataset, CPUS, f"solo_{cid:04d}_r{i}", [cid]))
    best = {c: min(r["s"] for r in rs) for c, rs in obs.items()}
    rows = {c: rs[0]["rows"] for c, rs in obs.items()}
    if sorted(cids) == every:
        with open(os.path.join(REPO, "BENCH", "SOLO.md"), "w") as f:
            f.write(
                "# Solo per-check walls (regression-attribution channel)\n\n"
                f"Scale `{scale}` (sf dir `{SF_DIR}`), local[{CPUS}], each "
                "check alone in a fresh JVM (`python bench.py solo`), "
                f"{SOLO_REPS} interleaved reps, min wall less host steal.  "
                "A plan regression moves this table; scheduler noise does "
                "not.\n\n"
                "| check | solo sec (min) | all reps | rows |\n"
                "|---|---|---|---|\n"
                + "".join(
                    f"| kr_{c:04d} | {best[c]:.2f} | "
                    + ", ".join(f"{r['s']:.1f}" for r in obs[c])
                    + f" | {rows[c]} |\n"
                    for c in sorted(obs)
                )
            )
    result = {
        "metric": "solo_check_sec",
        "value": round(sum(best.values()), 2),
        "unit": "sec",
        "queries": {f"kr_{c:04d}": best[c] for c in cids},
        "rows": {f"kr_{c:04d}": rows[c] for c in cids},
        "sf": SF,
        "cores": CPUS,
        "reps": {f"kr_{c:04d}": _reps(obs[c]) for c in cids},
        "bench_total_sec": round(time.monotonic() - t_all, 1),
    }
    print(json.dumps(result))


if __name__ == "__main__":
    if sys.argv[1:2] == ["solo"]:
        solo_main([int(c) for c in sys.argv[2:]])
    else:
        main()
