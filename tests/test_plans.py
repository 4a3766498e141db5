"""Physical-plan quality gates: predicate pushdown must reach the
parquet scans, hot paths must stay in whole-stage codegen (no
row-at-a-time Python), and broadcast joins must be chosen for the
static rule tables."""

from __future__ import annotations

from keepright_spark import pipeline
from keepright_spark.checks import available_checks


def _plan(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


def test_tag_filter_pushdown(spark, tiny_dir):
    """0100's amenity filter must reach the node_tags parquet scan
    (probed on the uncached views — the shared-partitioning cache
    replaces file scans with InMemoryTableScan)."""
    # the default-mode cache registers the bare parquet scans with the
    # CacheManager, which would substitute InMemoryTableScan into this
    # uncached probe if an earlier test populated it
    spark.catalog.clearCache()
    v = pipeline.tiled_views(spark, tiny_dir, share_partitioning=False)
    plan = _plan(available_checks()[100](v))
    assert "PushedFilters" in plan
    assert "place_of_worship" in plan, "tag literal should be pushed to the scan"


def test_tile_partition_pruning(spark, tiny_dir):
    """The engine views are hive-partitioned by tile: a per-tile-group
    filter must prune at the scan, not post-filter every file."""
    from pyspark.sql import functions as F

    spark.catalog.clearCache()  # see test_tag_filter_pushdown
    v = pipeline.tiled_views(spark, tiny_dir, share_partitioning=False)
    df = v.ways.filter(F.col("tile").isin(["A1"]))
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "tile" in plan.split("PartitionFilters", 1)[1][:200]


def test_shared_tile_partitioning_cuts_exchanges(spark, small_dir):
    """With the tile-partitioned cache + subset co-partition matching,
    a (tile, …)-keyed join over two views must not insert any
    exchange; the single cached repartition serves every consumer.
    The default mode applies it on the 18-tile s world at 4 shuffle
    partitions (18 ≥ 4 × 4)."""
    parts = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "4")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        v = pipeline.tiled_views(spark, small_dir)
        assert v.cell_stats["many_tiles"]
        j = v.way_tags.join(
            v.way_nodes, ["tile", "way_id"]
        ).groupBy("tile", "way_id").count()
        plan = j._jdf.queryExecution().executedPlan().toString()
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", parts)
        spark.conf.set("spark.sql.adaptive.enabled", "true")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "64m")
        # the 4-partition caches must not serve later tests
        spark.catalog.clearCache()
    # the only exchanges allowed are the cache's own REPARTITION_BY_NUM
    # (shown inside the InMemoryRelation lineage); a per-join
    # ENSURE_REQUIREMENTS shuffle means the shared partitioning was
    # not reused
    assert "ENSURE_REQUIREMENTS" not in plan, plan


def test_no_python_row_udfs(spark, tiny_dir):
    """No BatchEvalPython (row-at-a-time Python) anywhere in the check
    plans; vectorized Arrow ops (ArrowEvalPython / FlatMapGroupsInPandas)
    are the only Python allowed (BASELINE.json input_hint)."""
    v = pipeline.tiled_views(spark, tiny_dir)
    for cid, fn in sorted(available_checks().items()):
        plan = _plan(fn(v))
        assert "BatchEvalPython" not in plan, f"check {cid} uses row Python"


def test_codegen_in_flagship(spark, tiny_dir):
    """The 0190 pair join's geometry arithmetic must sit inside
    whole-stage codegen spans (AQE hides codegen in the pre-execution
    explain, so disable it for the probe)."""
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        v = pipeline.tiled_views(spark, tiny_dir)
        plan = _plan(available_checks()[190](v))
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", "true")
    # formatted explain marks codegen'd operators with '*'
    assert "* Project" in plan or "* HashAggregate" in plan or "* Sort" in plan
    assert "* SortMergeJoin" in plan or "* BroadcastHashJoin" in plan or "* Project" in plan


def test_broadcast_rules(spark, tiny_dir):
    """0060's deprecation rule table must broadcast, not shuffle."""
    v = pipeline.tiled_views(spark, tiny_dir)
    plan = _plan(available_checks()[60](v))
    assert "Broadcast" in plan


def test_auto_partitioning_skips_repartition_on_low_tile_worlds(spark, tiny_dir):
    """The default share_partitioning must NOT apply the shared tile
    repartition when tiles are within 4x of the partition count (the
    2-tile test world): tile-hash placement would funnel whole tiles
    through single tasks, so each join shuffles on its full key
    instead."""
    from pyspark.sql import functions as F

    spark.conf.set("spark.sql.adaptive.enabled", "false")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        v = pipeline.tiled_views(spark, tiny_dir)
        assert not v.cell_stats["many_tiles"]
        j = v.way_tags.join(
            v.way_nodes, ["tile", "way_id"]
        ).groupBy("tile", "way_id").count()
        plan = j._jdf.queryExecution().executedPlan().toString()
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", "true")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "64m")
    # the views are cached (scan layout) and the join inserts its own
    # fine-keyed exchange
    assert "InMemory" in plan
    assert "ENSURE_REQUIREMENTS" in plan, plan


def test_staged_lpt_order():
    """Staged submission is longest-first (LPT makespan heuristic),
    deterministic, and covers exactly the requested ids; the cost table
    ranks exactly the registered checks; unmeasured checks go last in
    id order."""
    from keepright_spark.pipeline import _STAGE_COST_ORDER, _lpt_order

    assert len(set(_STAGE_COST_ORDER)) == len(_STAGE_COST_ORDER)
    assert set(_STAGE_COST_ORDER) == set(available_checks())
    ids = sorted(_STAGE_COST_ORDER)
    out = _lpt_order(ids)
    assert sorted(out) == ids
    assert out[0] == 190  # the stable top pole across every round
    # unknown (unmeasured) check ids sort after every measured one
    assert _lpt_order([20, 999, 998, 190]) == [190, 20, 998, 999]


def test_materialization_only_through_lib():
    """Intermediates are materialized only by lib.materialize, which
    gives each one an owner and a lifetime.  The two input caches with
    their own explicit lifetimes are the only exceptions: prepare's
    decode persist/unpersist pair and the tiled_views view cache."""
    import pathlib
    import re

    import keepright_spark

    allowed = {
        ("pipeline.py", "df.persist(StorageLevel.MEMORY_AND_DISK)"),
        ("pipeline.py", "df = df.persist(StorageLevel.MEMORY_AND_DISK)"),
    }
    call = re.compile(r"\.(persist|cache|localCheckpoint|checkpoint)\(")
    root = pathlib.Path(keepright_spark.__file__).parent
    found = [
        (str(p.relative_to(root)), line.strip())
        for p in sorted(root.rglob("*.py"))
        if p != root / "lib.py"
        for line in p.read_text().splitlines()
        if call.search(line)
    ]
    assert set(found) <= allowed and len(found) == len(allowed), found


def test_file_replace_only_through_lib():
    """Every state file the engine commits by rename (the engine stamp,
    the docs-store manifest, the run manifest) goes through
    lib.write_json."""
    import inspect
    import pathlib

    import keepright_spark
    from keepright_spark import lib

    root = pathlib.Path(keepright_spark.__file__).parent
    found = [
        (str(p.relative_to(root)), n)
        for p in sorted(root.rglob("*.py"))
        for n, line in enumerate(p.read_text().splitlines(), 1)
        if "os.replace(" in line
    ]
    lines, start = inspect.getsourcelines(lib.write_json)
    inside = range(start, start + len(lines))
    assert len(found) == 1 and found[0][0] == "lib.py" and found[0][1] in inside, found


def test_docs_table_read_only_through_docs_store():
    """docs_store is the one module that tells the docs layouts apart:
    no other module builds a ``docs.parquet`` path in code, except the
    two writers of the plain layout (datagen, osm_xml).  Docstrings do
    not count."""
    import ast
    import pathlib

    import keepright_spark

    root = pathlib.Path(keepright_spark.__file__).parent
    writers = {root / n for n in ("docs_store.py", "datagen.py", "osm_xml.py")}
    found = []
    for p in [*sorted(root.rglob("*.py")), root.parent / "__spark_entry__.py"]:
        if p in writers:
            continue
        tree = ast.parse(p.read_text())
        docstrings = {
            id(node.body[0].value)
            for node in ast.walk(tree)
            if isinstance(node, (ast.Module, ast.ClassDef, ast.FunctionDef,
                                 ast.AsyncFunctionDef))
            and node.body
            and isinstance(node.body[0], ast.Expr)
        }
        found += [
            (p.name, node.lineno)
            for node in ast.walk(tree)
            if isinstance(node, ast.Constant)
            and isinstance(node.value, str)
            and "docs.parquet" in node.value
            and id(node) not in docstrings
        ]
    assert not found, found
