import os
import sys

import pytest
from hypothesis import settings

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from timescaledb_spark.session import build_spark  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")

# property tests draw the same examples on every run, so a failure
# reproduces and two runs of the suite are comparable
settings.register_profile("reproducible", derandomize=True)
settings.load_profile("reproducible")

TABLES = (
    "region nation customer supplier part orders lineitem events "
    "documents embeddings"
).split()


@pytest.fixture(scope="session")
def spark():
    s = build_spark(
        app_name="ts_tests",
        extra_conf={"spark.sql.shuffle.partitions": "8"},
    )
    yield s


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR


@pytest.fixture(scope="session")
def duck():
    import duckdb

    con = duckdb.connect()
    con.execute("SET TimeZone='UTC'")
    for t in TABLES:
        p = f"{SF_DIR}/{t}.parquet"
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    yield con
    con.close()


@pytest.fixture(scope="session")
def tsdata(spark):
    """Register the testdata parquet as Spark temp views."""
    from timescaledb_spark.sources import register_views

    register_views(spark, SF_DIR)
    return spark


@pytest.fixture(scope="session")
def ts_root(tmp_path_factory):
    return str(tmp_path_factory.mktemp("ts_root"))
