from __future__ import annotations

import os
import sys

import duckdb
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from myscaledb_spark.session import get_spark  # noqa: E402
from myscaledb_spark.catalog import TABLES, register_views  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    spark = get_spark("myscaledb-spark-tests", master="local[8]")
    spark.conf.set("spark.sql.shuffle.partitions", "8")
    register_views(spark, SF_DIR)
    yield spark
    spark.stop()


@pytest.fixture
def sql_conf(spark):
    """``sql_conf(**{key: value})`` sets SQL confs on the shared session for
    one test; each goes back to its earlier value (or is unset) after it."""
    saved: dict = {}

    def set_confs(**confs):
        for k, v in confs.items():
            saved.setdefault(k, spark.conf.get(k, None))
            spark.conf.set(k, v)

    yield set_confs
    for k, v in saved.items():
        if v is None:
            spark.conf.unset(k)
        else:
            spark.conf.set(k, v)


@pytest.fixture(scope="session")
def duck():
    con = duckdb.connect()
    for name in TABLES:
        con.sql(
            f"CREATE VIEW {name} AS SELECT * FROM '{SF_DIR}/{name}.parquet'"
        )
    yield con
    con.close()


def rows_match(spark_rows, duck_rows, float_tol=1e-6):
    """Order-insensitive compare with float tolerance."""
    def norm(v):
        if isinstance(v, float):
            return round(v, 6)
        return v

    a = sorted(tuple(norm(v) for v in r) for r in spark_rows)
    b = sorted(tuple(norm(v) for v in r) for r in duck_rows)
    assert len(a) == len(b), f"row count {len(a)} != {len(b)}"
    for ra, rb in zip(a, b):
        assert len(ra) == len(rb), f"arity {ra} vs {rb}"
        for va, vb in zip(ra, rb):
            if isinstance(va, float) or isinstance(vb, float):
                assert va == pytest.approx(vb, abs=float_tol, rel=1e-9), f"{ra} vs {rb}"
            else:
                assert va == vb, f"{ra} vs {rb}"
    return True
