from __future__ import annotations

import os
import sys

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

os.environ.setdefault("SPARK_GRAFT_CPUS", "4")

from data_engineering_1_spark.session import get_spark  # noqa: E402


@pytest.fixture(scope="session")
def spark(tmp_path_factory):
    # managed tables (saveAsTable without a path) land in a temp dir,
    # not in spark-warehouse/ under the working directory
    warehouse = str(tmp_path_factory.mktemp("warehouse"))
    s = get_spark(
        "tests",
        shuffle_partitions=4,
        extra_conf={"spark.sql.warehouse.dir": warehouse},
    )
    yield s


@pytest.fixture(scope="session")
def sf_dir():
    return "/root/testdata/sf0.001"
