"""Health watchdog: freshness / size / emptiness assertions.

Re-expression of the reference's health checks over the engine's
dataset + state-directory artifacts:

* base-table population guard — the reference refuses to run checks
  when any base table is empty (``LIMIT 1`` probes,
  checks/run-checks.php:66-84, "one of the base tables is empty");
  ``assert_base_tables`` reads the views' row counts from the engine
  stamp's per-tile summary instead and is called by
  ``lifecycle.run_persistent`` before any check executes.
* input ("planet file") size + age — watchdog.php:39-53 with the
  limits of config/config.php:188-207 (planet_minimum_filesize,
  schema_max_age); here the input is the files of the current docs
  table in either layout (docs_store.docs_files), so a docs-store
  crash orphan cannot mask staleness.
* result freshness + floors — watchdog.php:57-88 checks result files
  exist, are big enough and young enough; here the results are the
  committed errors table and run manifest (read through
  ``lifecycle``), the committed run's lineage rows, and optionally the
  TSV export directory.  The state's age is that of the committed
  run's lineage (``run_<last_run_seq>_*``), so a crashed later run's
  lineage cannot make an old commit look fresh.  The per-tile-group
  floor (every group emitted ≥ ``min_rows_per_group`` error rows)
  replaces the error_view_minimum_filesize byte floor.

Every check is a driver-side metadata read; none runs a Spark job.
"""

from __future__ import annotations

import json
import os
import time

# Scaled analogs of config/config.php:188-207.  The byte floors are
# deliberately tiny: the synthetic worlds are MBs, not the reference's
# 90 MB planets — on a production deployment pass real floors.
DEFAULT_LIMITS = {
    "docs_minimum_bytes": 1024,           # planet_minimum_filesize
    "state_max_age_sec": 18 * 86400,      # schema_max_age
    "export_minimum_bytes": 16,           # error_view_minimum_filesize
    "min_rows_per_group": 1,              # per-tile-group result floor
}


class WatchdogError(RuntimeError):
    """Raised when ``run_watchdog(strict=True)`` finds issues."""


def assert_base_tables(summary: dict) -> None:
    """Refuse to run on an empty base table (run-checks.php:66-84).

    A view is empty when its row counts in ``summary`` (the engine
    stamp's per-tile summary, pipeline.tile_summary) sum to 0 over
    the tiles; raises WatchdogError naming the empty view (unlike the
    reference, which famously "won't tell you which one")."""
    from .pipeline import VIEW_NAMES

    empty = [
        name
        for name in VIEW_NAMES
        if sum(entry[name][0] for entry in summary.values()) == 0
    ]
    if empty:
        raise WatchdogError(
            f"base table(s) empty: {', '.join(empty)} — refusing to run"
        )


def run_watchdog(
    dataset_dir: str,
    state_dir: str | None = None,
    export_dir: str | None = None,
    limits: dict | None = None,
    strict: bool = False,
    now: float | None = None,
) -> list[str]:
    """Evaluate every health rule; returns the issue list (watchdog.php
    prints it).  With ``strict`` raises WatchdogError when non-empty."""
    from .lifecycle import current_errors_path, read_manifest

    cfg = {**DEFAULT_LIMITS, **(limits or {})}
    now = time.time() if now is None else now
    issues: list[str] = []

    # input size + age (watchdog.php:39-53)
    from .docs_store import docs_files

    files = docs_files(dataset_dir)
    if not files:
        issues.append(f"input docs table not found under {dataset_dir}")
    else:
        size = sum(n for _, n, _ in files)
        if size < cfg["docs_minimum_bytes"]:
            issues.append(f"input docs table is too small. Size is {size}")
        if max(m for _, _, m in files) / 1e9 < now - cfg["state_max_age_sec"]:
            issues.append(
                "input docs table is older than "
                f"{cfg['state_max_age_sec'] // 86400} days"
            )

    # committed results exist + freshness + per-group floors
    if state_dir is not None:
        cur = current_errors_path(state_dir)
        if cur is None:
            issues.append(f"no committed errors table under {state_dir}")
        elif not os.path.isdir(cur) or not os.listdir(cur):
            issues.append(f"errors table {cur} is missing or empty")

        manifest = read_manifest(state_dir)
        if manifest is None:
            manifest = {}
            issues.append(f"no run manifest under {state_dir}")
        last = int(manifest.get("last_run_seq", 0))
        if last and not manifest.get(f"run_{last}", {}).get("committed"):
            issues.append(f"run {last} is not committed")

        # freshness and the per-tile-group result floor over the
        # committed run's lineage only
        lineage_dir = os.path.join(state_dir, "lineage")
        names = os.listdir(lineage_dir) if os.path.isdir(lineage_dir) else []
        rows = [
            os.path.join(lineage_dir, fn)
            for fn in sorted(names)
            if fn.startswith(f"run_{last}_")
        ]
        if not rows:
            issues.append(f"no lineage rows of run {last} under {state_dir}")
        elif max(map(os.path.getmtime, rows)) < now - cfg["state_max_age_sec"]:
            issues.append(
                "latest committed run is older than "
                f"{cfg['state_max_age_sec'] // 86400} days"
            )
        for p in rows:
            with open(p) as f:
                row = json.load(f)
            if row.get("error_rows", 0) < cfg["min_rows_per_group"]:
                issues.append(
                    f"tile group {row.get('group')} of run {last} "
                    f"emitted {row.get('error_rows', 0)} rows "
                    f"(< {cfg['min_rows_per_group']})"
                )

    # export dump files (watchdog.php:57-88)
    if export_dir is not None:
        chunk0 = os.path.join(export_dir, "error_view.0.txt")
        if not os.path.exists(chunk0):
            issues.append(f"result file not found: {chunk0}")
        elif os.path.getsize(chunk0) < cfg["export_minimum_bytes"]:
            issues.append(
                "result file is too small. Size is "
                f"{os.path.getsize(chunk0)}"
            )

    if strict and issues:
        raise WatchdogError(f"{len(issues)} issues found: " + "; ".join(issues))
    return issues
