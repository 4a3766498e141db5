"""Bench worker: one timed check-suite run in its own process and JVM.

Usage::

    python -m keepright_spark.bench_suite <dataset_dir> <cores> [check_ids]

``check_ids`` is a comma list (default: every registered check).  The
session is ``get_spark``'s default at local[<cores>], as perfbench's
worker runs it.  ``prepare`` is warm-up; the timed operation is the
one perfbench's ``suite_t`` times: ``tiled_views``, then
``run_checks``, then writing the error view to parquet.

Prints ONE json line: ``{"rows", "s", "wall_s", "steal_s", "timings"}``,
where ``s`` is the wall less host steal (perfbench's ``unstolen_s``)
and ``timings`` holds each check's staged wall.

One JVM per measurement matters: successive sessions in one process
inherit a fuller JIT code cache, so their walls are not comparable.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

from . import pipeline
from .session import get_spark

PERFBENCH = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "perfbench"
)


def dump_profile(
    spark, path: str, wall: float, cores: int, since_epoch: float | None = None
) -> None:
    """Aggregate per-stage metrics from the UI REST API.

    Where each millisecond of a stage lives:

    * ``executorRunTime``   — task body (the part more cores scale)
    * ``executorDeserializeTime`` — task-binary + closure deserialize
      (driver serializes once per stage, every task deserializes; big
      task binaries show up here AND in the driver's serial time)
    * submission→firstTaskLaunched — pure driver dispatch latency
    * ``jvmGcTime``         — shared-JVM collector pressure
    """
    import urllib.request

    ui = spark.sparkContext.uiWebUrl
    if not ui:
        return
    with urllib.request.urlopen(f"{ui}/api/v1/applications") as r:
        app_id = json.load(r)[0]["id"]
    with urllib.request.urlopen(
        f"{ui}/api/v1/applications/{app_id}/stages?status=complete"
    ) as r:
        stages = json.load(r)

    from datetime import datetime, timezone

    fmt = "%Y-%m-%dT%H:%M:%S.%f%Z"

    def ms(s, a, b):
        try:
            ta = datetime.strptime(s[a], fmt)
            tb = datetime.strptime(s[b], fmt)
            return (tb - ta).total_seconds() * 1000.0
        except (KeyError, ValueError):
            return 0.0

    if since_epoch is not None:
        # scope to the timed region: drop prepare / cache-warm-up
        # stages submitted before the measurement started
        def _in_window(s):
            try:
                t = datetime.strptime(s["submissionTime"], fmt).replace(
                    tzinfo=timezone.utc
                )
                return t.timestamp() >= since_epoch - 0.5
            except (KeyError, ValueError):
                return False

        stages = [s for s in stages if _in_window(s)]

    agg = {
        "wall_sec": wall,
        "cores": cores,
        "n_stages": len(stages),
        "n_tasks": sum(s.get("numCompleteTasks", 0) for s in stages),
        "executor_run_sec": round(
            sum(s.get("executorRunTime", 0) for s in stages) / 1000.0, 1
        ),
        "executor_cpu_sec": round(
            sum(s.get("executorCpuTime", 0) for s in stages) / 1e9, 1
        ),
        "deserialize_sec": round(
            sum(s.get("executorDeserializeTime", 0) for s in stages) / 1000.0, 1
        ),
        "gc_sec": round(sum(s.get("jvmGcTime", 0) for s in stages) / 1000.0, 1),
        "result_ser_sec": round(
            sum(s.get("resultSerializationTime", 0) for s in stages) / 1000.0, 1
        ),
        "shuffle_write_mb": round(
            sum(s.get("shuffleWriteBytes", 0) for s in stages) / 1e6, 1
        ),
        "shuffle_read_mb": round(
            sum(s.get("shuffleReadBytes", 0) for s in stages) / 1e6, 1
        ),
        "input_mb": round(
            sum(s.get("inputBytes", 0) for s in stages) / 1e6, 1
        ),
        "dispatch_gap_sec": round(
            sum(
                ms(s, "submissionTime", "firstTaskLaunchedTime") for s in stages
            )
            / 1000.0,
            1,
        ),
        "stage_wall_sec": round(
            sum(ms(s, "submissionTime", "completionTime") for s in stages)
            / 1000.0,
            1,
        ),
        "utilization": round(
            sum(s.get("executorRunTime", 0) for s in stages)
            / 1000.0
            / max(wall, 1e-9)
            / cores,
            3,
        ),
        "top_stages_by_run": sorted(
            (
                {
                    "stage": s["stageId"],
                    "name": s.get("name", "")[:60],
                    "tasks": s.get("numCompleteTasks", 0),
                    "run_sec": round(s.get("executorRunTime", 0) / 1000.0, 1),
                }
                for s in stages
            ),
            key=lambda x: -x["run_sec"],
        )[:15],
    }
    # per-task time distribution of the heaviest stages: the straggler
    # diagnostic (skewed partitions show as p100 >> p50)
    for st in agg["top_stages_by_run"][:3]:
        try:
            with urllib.request.urlopen(
                f"{ui}/api/v1/applications/{app_id}/stages/{st['stage']}/0/"
                "taskSummary?quantiles=0.0,0.5,0.75,0.95,1.0"
            ) as r:
                q = json.load(r)
            st["task_run_quantiles_sec"] = [
                round(x / 1000.0, 2) for x in q.get("executorRunTime", [])
            ]
            st["shuffle_read_mb_quantiles"] = [
                round(x / 1e6, 1)
                for x in q.get("shuffleReadMetrics", {}).get(
                    "readBytes", []
                )
            ]
        except Exception:
            pass
    with open(path, "w") as f:
        json.dump(agg, f, indent=1)


def main() -> None:
    dataset_dir, cores = sys.argv[1], int(sys.argv[2])
    check_ids = [int(c) for c in sys.argv[3].split(",")] if len(sys.argv) > 3 else None
    sys.path.insert(0, PERFBENCH)
    import worker as host  # perfbench's steal accounting

    spark = get_spark(f"bench_{cores}c", cores=cores)
    pipeline.prepare(spark, dataset_dir)  # warm-up, untimed
    tmp = tempfile.mkdtemp(prefix="kr_bench_")
    out = os.path.join(tmp, "errors.parquet")
    try:
        timings: dict = {}
        t0, steal0 = time.monotonic(), host.steal_s()
        v = pipeline.tiled_views(spark, dataset_dir)
        ev = pipeline.run_checks(
            v,
            check_ids,
            tiles=pipeline.dataset_tiles(dataset_dir),
            stage_dir=os.path.join(tmp, "stage"),
            timings=timings,
        )
        ev.write.parquet(out)
        wall, steal = time.monotonic() - t0, host.steal_s() - steal0
        rows = spark.read.parquet(out).count()
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    print(
        json.dumps(
            {
                "rows": rows,
                "s": round(host.unstolen_s(wall, steal), 2),
                "wall_s": round(wall, 2),
                "steal_s": round(steal, 2),
                "timings": timings,
            }
        ),
        flush=True,
    )
    spark.stop()


if __name__ == "__main__":
    main()
