"""A DML statement whose trigger raises leaves no cached frame behind.

``delete_where`` with a BEFORE ROW delete trigger pins the post-trigger
survivors (``Hypertable._delete_row_triggers``), and ``insert`` with an
AFTER ROW observer pins the written rows (``_insert_prepared``). When a
trigger raises inside ``mapInPandas``, the pin must still be released:
the JVM's persistent-RDD count returns to where it started.
"""

import datetime
import tempfile

import pytest

from timescaledb_spark.session import TSSession


def _pinned(spark) -> int:
    return spark.sparkContext._jsc.getPersistentRDDs().size()


@pytest.fixture()
def ht(spark):
    ts = TSSession(spark, tempfile.mkdtemp(prefix="ts_pin_"))
    ht = ts.create_hypertable("p", "ts", chunk_interval="1 day")
    ht.insert(
        spark.createDataFrame(
            [(datetime.datetime(2024, 1, 1, h), float(h)) for h in range(24)],
            "ts timestamp, v double",
        )
    )
    return ht


def _boom(pdf):
    raise RuntimeError("trigger veto")


def test_raising_delete_row_trigger_releases_pin(spark, ht):
    ht.create_trigger("boom", _boom, when="before_row", ops=("delete",))
    before = _pinned(spark)
    with pytest.raises(Exception, match="trigger veto"):
        ht.delete_where("v > 3")
    assert _pinned(spark) == before
    assert ht.read().count() == 24  # nothing deleted


def test_raising_insert_row_trigger_releases_pin(spark, ht):
    ht.create_trigger("obs", lambda pdf: None, when="after_row")
    ht.create_trigger("boom", _boom, when="before_row")
    before = _pinned(spark)
    with pytest.raises(Exception, match="trigger veto"):
        ht.insert(
            spark.createDataFrame(
                [(datetime.datetime(2024, 1, 2), 1.0)], "ts timestamp, v double"
            )
        )
    assert _pinned(spark) == before
    assert ht.read().count() == 24
