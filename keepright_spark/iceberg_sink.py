"""Iceberg-backed error-state sink — the cluster twin of
``lifecycle.sync_errors`` (SURVEY §1.5's I17 mapping).

The engine's persistent error lifecycle is a pure state function:
given the previous table and this run's fresh error_view rows,

* rows present on both sides  → payload refresh + cleared→reopened
  (else →new), ``last_checked = run_seq``;
* rows only in the old table, inside the run's scope (the types the
  executed checks own × executed tiles) and not already cleared
  → ``state = 'cleared'``, ``last_checked = run_seq``;
* rows only on the fresh side → insert as 'new' ('preliminary' for
  410-419) with a deterministic new ``error_id``.

``lifecycle.sync_errors`` materializes that function as a full-outer
join + versioned parquet write with an atomic pointer swap — correct
on any storage, and what the sandbox exercises end to end.  On a
cluster with a real table format the same transition is ONE ``MERGE
INTO`` against an Iceberg table (snapshot isolation replaces the
pointer swap; Iceberg's own metadata keeps the version history that
``errors_v<seq>.parquet`` emulates):

* ``WHEN MATCHED``                 ↔ the join's both-sides branch
* ``WHEN NOT MATCHED [BY TARGET]`` ↔ the fresh-only branch
* ``WHEN NOT MATCHED BY SOURCE``   ↔ the old-only branch (Spark ≥ 3.4
  MERGE syntax; the scope predicate guards it exactly like
  ``checks.owned_types`` + ``tile_scope``)

Key equality uses ``<=>`` (null-safe), mirroring the reference's
``IS NOT DISTINCT FROM`` (run-checks.php:250) and sync_errors'
``eqNullSafe``.  New ids are assigned on the fresh side *before* the
MERGE by sync_errors' own rule (lifecycle.assign_fresh_ids), so both
sinks produce identical tables row for row.

This module is flag-gated: the sandbox image carries no Iceberg
runtime jar (verified: no lakehouse jars under pyspark/jars, no
network to fetch one), so ``merge_sync_errors`` raises a clear error
unless the session actually has an Iceberg catalog.  The SQL assembly
and the id-assignment plan are pure functions, unit-tested without a
catalog (tests/test_iceberg_sink.py); the execution path is covered
by the same test file under ``pytest.mark.skipif(not
iceberg_available(...))`` and runs wherever the jar is present —
nothing about the plan shape changes, MERGE is one shuffle on the
same key the parquet sink joins on.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

import re

from .checks import owned_types
from .errors import TXT_COLS
from .lifecycle import KEY, assign_fresh_ids

# dotted identifier chain (catalog.db.table / temp view name); anything
# else is rejected rather than interpolated into SQL
_SQL_NAME = re.compile(r"[A-Za-z_][A-Za-z0-9_]*(\.[A-Za-z_][A-Za-z0-9_]*)*")


def iceberg_available(spark: SparkSession) -> bool:
    """True when the JVM can load the Iceberg Spark runtime."""
    try:
        spark._jvm.java.lang.Class.forName(
            "org.apache.iceberg.spark.extensions"
            ".IcebergSparkSessionExtensions"
        )
        return True
    except Exception:
        return False


def merge_sql(
    table: str,
    source: str,
    executed_checks: list[int],
    run_seq: int,
    tile_scope: list[str] | None = None,
) -> str:
    """The MERGE INTO statement implementing one sync_errors step.

    ``source``: a temp view carrying the fresh rows WITH error_id
    already assigned (assign_fresh_ids) and msgid/txt payload columns.
    """
    for name in (table, source):
        if not _SQL_NAME.fullmatch(name):
            raise ValueError(f"unsafe SQL identifier: {name!r}")
    on = " AND ".join(f"t.{k} <=> s.{k}" for k in KEY)
    owned = " OR ".join(
        f"(t.error_type BETWEEN {lo} AND {hi})"
        for lo, hi in map(owned_types, executed_checks)
    )
    scope = f"({owned})"
    if tile_scope is not None:
        # tile names are data, not identifiers: escape single quotes so
        # a hostile/odd tile name cannot break (or inject into) the MERGE
        tiles = ", ".join("'" + t.replace("'", "''") + "'"
                          for t in tile_scope)
        scope += f" AND t.tile IN ({tiles})"
    payload = ", ".join(
        [f"t.msgid = s.msgid"]
        + [f"t.{c} = s.{c}" for c in TXT_COLS]
    )
    cols = ["error_id", *KEY, "state", "first_occurrence", "last_checked",
            "msgid", *TXT_COLS]
    insert_cols = ", ".join(cols)
    insert_vals = ", ".join(
        {
            "state": f"CASE WHEN s.error_type BETWEEN 410 AND 419 "
                     f"THEN 'preliminary' ELSE 'new' END",
            "first_occurrence": str(run_seq),
            "last_checked": str(run_seq),
        }.get(c, f"s.{c}")
        for c in cols
    )
    return f"""MERGE INTO {table} t
USING {source} s
ON {on}
WHEN MATCHED THEN UPDATE SET
  t.state = CASE WHEN t.state = 'cleared' THEN 'reopened' ELSE 'new' END,
  t.last_checked = {run_seq},
  {payload}
WHEN NOT MATCHED THEN INSERT ({insert_cols}) VALUES ({insert_vals})
WHEN NOT MATCHED BY SOURCE AND {scope} AND t.state <> 'cleared'
  THEN UPDATE SET t.state = 'cleared', t.last_checked = {run_seq}"""


def docs_merge_sql(table: str, source: str) -> str:
    """The MERGE INTO statement for one replication-docs upsert — the
    cluster twin of ``docs_store.upsert`` (sandbox: bucket-scoped
    parquet rewrite + atomic manifest commit).  ``table`` is an
    Iceberg table partitioned by ``bucket(N, doc_id)`` so the MERGE
    touches only data files of partitions containing batch doc_ids —
    the same partition-level-rewrite the parquet store emulates.

    ``source``: a temp view with one row per doc_id (the deduped
    batch); an empty ``spans`` array is a tombstone (reference: the
    osmosis diff apply deletes removed objects, checks/planet.php:
    48-129)."""
    for name in (table, source):
        if not _SQL_NAME.fullmatch(name):
            raise ValueError(f"unsafe SQL identifier: {name!r}")
    return f"""MERGE INTO {table} t
USING {source} s
ON t.doc_id = s.doc_id
WHEN MATCHED AND size(s.spans) = 0 THEN DELETE
WHEN MATCHED THEN UPDATE SET t.spans = s.spans
WHEN NOT MATCHED AND size(s.spans) > 0
  THEN INSERT (doc_id, spans) VALUES (s.doc_id, s.spans)"""


def merge_sync_errors(
    spark: SparkSession,
    table: str,
    fresh: DataFrame,
    executed_checks: list[int],
    run_seq: int,
    tile_scope: list[str] | None = None,
) -> None:
    """Execute one sync step against an Iceberg ``table`` (e.g.
    ``catalog.db.errors``).  Requires an Iceberg-enabled session —
    raises otherwise (this sandbox has no Iceberg jar)."""
    if not iceberg_available(spark):
        raise RuntimeError(
            "no Iceberg runtime on the classpath; use "
            "lifecycle.sync_errors (parquet sink) or add "
            "iceberg-spark-runtime + a catalog to the session conf"
        )
    target = spark.table(table)
    max_id = target.agg(F.coalesce(F.max("error_id"), F.lit(0))).first()[0]
    f = fresh.select(*KEY, "msgid", *TXT_COLS)
    tkeys = target.select(*KEY)
    cond = None
    for k in KEY:
        c = f[k].eqNullSafe(tkeys[k])
        cond = c if cond is None else cond & c
    # ids are assigned ONLY over to-be-inserted rows, exactly like
    # sync_errors' fresh_new branch — matched rows must not consume id
    # space, or the two sinks diverge
    fresh_only = f.join(tkeys, cond, "left_anti")
    new_rows = assign_fresh_ids(fresh_only, int(max_id))
    fresh_match = f.join(tkeys, cond, "left_semi").withColumn(
        "error_id", F.lit(None).cast("long")
    )
    source = new_rows.unionByName(fresh_match)
    source.createOrReplaceTempView("_kr_fresh_errors")
    spark.sql(
        merge_sql(table, "_kr_fresh_errors", executed_checks, run_seq,
                  tile_scope)
    )
