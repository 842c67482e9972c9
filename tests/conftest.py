"""Shared fixtures: one SparkSession per test run; temp warehouses.

Mirrors the reference's fixture-driven strategy
(reference:tests/conftest.py:79-92 backend matrix) with a single local
Spark backend; testdata parquet plays the role of the CAISO CSVs.
"""

from __future__ import annotations

import os
import shutil
import tempfile

import numpy as np
import pandas as pd
import pytest

from pandabase_spark import get_spark
from pandabase_spark.io import KeyedCatalog

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF", "/root/testdata/sf0.001")

# Two-tier suite: the DEFAULT invocation (`python -m pytest tests/ -q`)
# runs every FUNCTIONAL test; tests marked ``full_tier`` — randomized
# model walks, multi-writer OCC soaks, the recall sweep, the
# compaction-bound soak: minutes of wall that repeatedly exercise paths
# the functional tests already cover once — are skipped unless
# SPARK_GRAFT_FULL_TESTS=1.
def pytest_configure(config):
    config.addinivalue_line(
        "markers",
        "full_tier: stress/fuzz test, run only with SPARK_GRAFT_FULL_TESTS=1",
    )


def pytest_collection_modifyitems(config, items):
    if os.environ.get("SPARK_GRAFT_FULL_TESTS"):
        return
    skip = pytest.mark.skip(
        reason="stress/fuzz tier — set SPARK_GRAFT_FULL_TESTS=1"
    )
    for it in items:
        if it.get_closest_marker("full_tier"):
            it.add_marker(skip)


@pytest.fixture(scope="session")
def spark():
    os.environ.setdefault("SPARK_GRAFT_CPUS", "8")
    os.environ.setdefault("PANDABASE_SHUFFLE_PARTITIONS", "8")
    s = get_spark("pandabase_spark-tests")
    yield s


@pytest.fixture()
def catalog(spark, tmp_path):
    return KeyedCatalog(spark, str(tmp_path / "wh"), default_buckets=8)


@pytest.fixture()
def simple_pdf():
    """Analogue of the reference's simple_df fixture
    (reference:tests/conftest.py)."""
    n = 100
    df = pd.DataFrame(
        {
            "integer": pd.array(range(n), dtype="Int64"),
            "float": np.linspace(0, 1, n),
            "string": [f"s{i}" for i in range(n)],
            "boolean": [bool(i % 2) for i in range(n)],
            "date": pd.date_range("2021-01-01", periods=n, freq="h", tz="UTC"),
        }
    )
    df.index = pd.RangeIndex(n, name="pk")
    return df


@pytest.fixture(scope="session")
def lineitem(spark):
    return spark.read.parquet(f"{SF_DIR}/lineitem.parquet")


@pytest.fixture(scope="session")
def orders(spark):
    return spark.read.parquet(f"{SF_DIR}/orders.parquet")
