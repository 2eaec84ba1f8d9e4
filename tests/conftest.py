from __future__ import annotations

import os
import sys

import duckdb
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from nf2pq_spark.session import get_spark  # noqa: E402
from nf2pq_spark.sources.tables import TABLES  # noqa: E402

SF_DIR = os.environ.get("NF2PQ_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    s = get_spark("nf2pq_spark-tests", cpus=os.environ.get("SPARK_GRAFT_CPUS", "8"))
    yield s


@pytest.fixture
def new_dir(tmp_path):
    """``new_dir(name)`` makes a fresh directory under the test's own
    ``tmp_path`` (pytest keeps only the last few runs' base dirs) and
    returns its path as a string."""
    def make(name: str) -> str:
        path = tmp_path / name
        path.mkdir()
        return str(path)
    return make


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR


@pytest.fixture(scope="session")
def duck():
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF_DIR}/{t}.parquet')"
        )
    yield con
    con.close()
