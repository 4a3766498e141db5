from __future__ import annotations

import os
from contextlib import contextmanager

import pytest

# The session default heap (48 GiB, sized for a 32-core host) lets the
# test JVM grow until a 16 GB host's kernel OOM-kills it, failing every
# later test; the t and s worlds run in 4 GiB.  Set before the session
# starts, and inherited by the tests' subprocess workers.
os.environ.setdefault("SPARK_DRIVER_MEM", "4g")

from keepright_spark.datagen import ensure_dataset
from keepright_spark.session import get_spark


@contextmanager
def spark_jobs(spark):
    """Count Spark jobs: the list the block gets holds, once the block
    exits, the ids of the jobs started inside it."""
    tracker = spark.sparkContext.statusTracker()
    before = set(tracker.getJobIdsForGroup(None))
    started: list[int] = []
    try:
        yield started
    finally:
        started += sorted(set(tracker.getJobIdsForGroup(None)) - before)


@pytest.fixture(scope="session")
def spark():
    s = get_spark("keepright_tests", cores=8, shuffle_partitions=8)
    yield s


@pytest.fixture(scope="session")
def tiny_dir():
    return ensure_dataset("t")


@pytest.fixture(scope="session")
def small_dir():
    return ensure_dataset("s")
