from __future__ import annotations

import os

import pytest

# The session default heap (48 GiB, sized for a 32-core host) lets the
# test JVM grow until a 16 GB host's kernel OOM-kills it, failing every
# later test; the t and s worlds run in 4 GiB.  Set before the session
# starts, and inherited by the tests' subprocess workers.
os.environ.setdefault("SPARK_DRIVER_MEM", "4g")

from keepright_spark.datagen import ensure_dataset
from keepright_spark.session import get_spark


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
