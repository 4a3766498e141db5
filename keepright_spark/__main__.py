"""spark-submit entry point.

Twin of the reference's CLI surface (checks/run-checks.php:14-40 and
checks/main.php): run the full pipeline — or a subset of checks — over
a dataset, with persistent error state, lineage and resume.

    spark-submit --py-files keepright_spark.zip -m keepright_spark \\
        --dataset /path/to/dataset --state /path/to/state \\
        [--checks 20,50,190] [--cores 32] [--export /path/to/export]

Partial runs keep the reference's scoped-clear semantics: only the
executed checks' error decades participate in the cleared-state sweep
(lifecycle.sync_errors).
"""

from __future__ import annotations

import argparse
import json

from . import export as export_mod
from . import lifecycle, pipeline
from pyspark.sql import functions as F

from .session import get_spark


def main() -> None:
    ap = argparse.ArgumentParser(prog="keepright_spark")
    ap.add_argument(
        "--dataset",
        required=True,
        help="dataset directory: the docs table, and optionally a "
        "MANIFEST.json with its tiles (DEFAULT_TILES without one)",
    )
    ap.add_argument("--state", required=True, help="state directory (errors table, lineage, checkpoints)")
    ap.add_argument("--checks", help="comma-separated check ids (default: all)")
    ap.add_argument("--cores", type=int, default=None, help="local[*] cores")
    ap.add_argument("--export", help="write the published error_view TSV dump here")
    ap.add_argument(
        "--diff",
        action="store_true",
        help="incremental replication cycle: re-run only tiles whose "
        "docs changed since the last snapshot (checks/planet.php:48-129)",
    )
    ap.add_argument(
        "--watchdog",
        action="store_true",
        help="run the health assertions (watchdog.php) after the run; "
        "non-zero exit on issues",
    )
    ap.add_argument(
        "--ingest-xml",
        help="materialize the dataset's docs table from raw OSM XML "
        "(.osm/.osm.bz2/.osm.gz files or glob) before running — the "
        "osmosis-free planet cut (osm_xml.load_osm_xml)",
    )
    ap.add_argument(
        "--follow",
        help="instead of one run, follow this replication feed "
        "directory with Structured Streaming: each parquet drop "
        "upserts the docs table and triggers a scoped diff cycle "
        "(streaming.follow_docs_updates); drains what is available "
        "and exits unless --follow-interval is given",
    )
    ap.add_argument(
        "--follow-interval",
        help="keep the follower running with this processing-time "
        "trigger (e.g. '30 seconds')",
    )
    ap.add_argument(
        "--timeline",
        action="store_true",
        help="print the error-statistics time-series (per run_seq and "
        "error_type, with delta vs previous run — "
        "stats/generate_error_timeline.php) instead of running",
    )
    args = ap.parse_args()

    check_ids = (
        [int(c) for c in args.checks.split(",")] if args.checks else None
    )
    spark = get_spark("keepright_spark", cores=args.cores)
    if args.timeline:
        from . import comments as cm

        stats = lifecycle.load_error_statistics(spark, args.state)
        rows = (
            cm.error_timeline(stats)
            .orderBy("date", "error_type")
            .collect()
        )
        print(json.dumps([
            {"date": r["date"], "error_type": r["error_type"],
             "count": r["count"], "delta": r["delta"]}
            for r in rows
        ]))
        spark.stop()
        return
    if args.ingest_xml:
        from . import osm_xml

        osm_xml.ingest_osm_xml(spark, args.ingest_xml, args.dataset)
    if args.follow:
        from . import streaming

        q = streaming.follow_docs_updates(
            spark, args.dataset, args.state, args.follow,
            check_ids=check_ids,
            continuous_interval=args.follow_interval,
        )
        q.awaitTermination()
        cur = lifecycle.current_errors_path(args.state)
        summary = {"followed": args.follow}
        if cur:
            summary["errors_total"] = spark.read.parquet(cur).count()
        print(json.dumps(summary))
        spark.stop()
        return
    if args.diff:
        from . import diff as diff_mod

        errors = diff_mod.diff_update(
            spark, args.dataset, args.state, check_ids=check_ids
        )
    else:
        errors = lifecycle.run_persistent(
            spark, args.dataset, args.state, check_ids=check_ids
        )
    summary = {
        "errors_total": errors.count(),
        "by_state": {
            r["state"]: r["n"]
            for r in errors.groupBy("state").agg(
                F.count("error_id").alias("n")
            ).collect()
        },
    }
    if args.export:
        v = pipeline.tiled_views(spark, args.dataset)
        pub = lifecycle.published_view(errors, v)
        summary["export"] = export_mod.export_error_view(pub, args.export)
    rc = 0
    if args.watchdog:
        from .watchdog import run_watchdog

        issues = run_watchdog(
            args.dataset, args.state, export_dir=args.export or None
        )
        summary["watchdog_issues"] = issues
        rc = 1 if issues else 0
    print(json.dumps(summary))
    spark.stop()
    if rc:
        raise SystemExit(rc)


if __name__ == "__main__":
    main()
