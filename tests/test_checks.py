"""Differential tests: every check query vs its DuckDB oracle at the
small scale — the same comparison the driver's correctness gate runs.
"""

from __future__ import annotations

import duckdb
import pandas as pd
import pytest

import __spark_entry__ as entrymod


def _normalize(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    df = df.astype({c: "string" for c in df.columns})
    return df.sort_values(list(df.columns)).reset_index(drop=True)


def compare_query(spark, name: str, sf_dir: str) -> None:
    q = entrymod.queries()[name]
    sql = entrymod.oracle_sql()[name]
    got = _normalize(q(spark, sf_dir).toPandas())
    exp = _normalize(duckdb.sql(sql).df())
    assert len(got) == len(exp), f"{name}: row count {len(got)} vs oracle {len(exp)}"
    assert len(got) > 0, f"{name}: oracle produced no rows — fixture gap"
    pd.testing.assert_frame_equal(got, exp, check_dtype=False)


@pytest.mark.parametrize("cid", entrymod.CHECKS_WITH_ORACLE)
def test_check_vs_oracle(spark, small_dir, cid):
    compare_query(spark, f"kr_{cid:04d}", "/root/testdata/sf0.01")


@pytest.mark.parametrize("name", sorted(entrymod.MEDIA_QUERIES))
def test_media_vs_oracle(spark, small_dir, name):
    compare_query(spark, name, "/root/testdata/sf0.01")


@pytest.mark.parametrize("name", sorted(entrymod.MEDIA_REF_QUERIES))
def test_media_transform_vs_oracle(spark, small_dir, name):
    """Resize / frame-sample / feature plumbing through the fake codec
    vs the DuckDB md5 twin."""
    compare_query(spark, name, "/root/testdata/sf0.01")


@pytest.mark.parametrize("name", sorted(entrymod.RASTER_QUERIES))
def test_raster_vs_oracle(spark, small_dir, name):
    compare_query(spark, name, "/root/testdata/sf0.01")


def test_0010_deleted_items_vs_oracle(spark, small_dir):
    # Planted-deletion world: every clause (way→node, relation→node,
    # relation→way) must have a positive path and match the SQL twin.
    compare_query(spark, "kr_0010", "/root/testdata/sf0.01")


def test_0010_consistent_world_is_clean(spark, small_dir):
    # On the pristine world nothing is deleted — the scan must be empty.
    from keepright_spark import docs_store
    from keepright_spark.checks import check_0010

    docs = docs_store.read_docs(spark, small_dir)
    assert check_0010.run_docs(docs).count() == 0


def test_0410_websites_vs_oracle(spark, small_dir):
    # Check 0410 against the dataset's deterministic fetch cache —
    # every outcome class (411/412/413 plus the match-cascade passes)
    # has a fixture, and the SQL twin derives the cascade independently.
    compare_query(spark, "kr_0410", "/root/testdata/sf0.01")


def test_follower_cycle_vs_oracle(spark, small_dir):
    # The streaming follower's driver-gated row, mirrored locally: one
    # planted tombstone drop drained through streaming.process_available
    # must converge to the from-scratch 0020 oracle over the merged world
    # (rows + schema + values, same comparison the driver runs).
    compare_query(spark, "kr_follower_cycle", "/root/testdata/sf0.01")


def test_entry_smoke(spark):
    df = entrymod.entry(spark)
    assert df.count() >= 0
