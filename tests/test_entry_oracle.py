"""Local mirror of the driver's correctness gate: run every declared
query and its DuckDB oracle side by side at the test SF and compare."""

import pytest

import __spark_entry__ as entry_mod
from .oracle import assert_match, oracle_rows


def _pairs():
    qs = entry_mod.queries()
    os_ = entry_mod.oracle_sql()
    return [(name, qs[name], os_.get(name)) for name in sorted(qs)]


@pytest.mark.parametrize("name,fn,oracle", _pairs(), ids=[p[0] for p in _pairs()])
def test_query_vs_oracle(tsdata, duck, sf_dir, name, fn, oracle):
    df = fn(tsdata, sf_dir)
    if oracle is None:
        assert df.count() >= 0  # rows-only check (non-SQL-expressible op)
        return
    assert_match(df, duck, oracle, fetch=oracle_rows)


def test_entry_smoke(spark):
    df = entry_mod.entry(spark)
    rows = df.collect()
    assert len(rows) > 0
    assert "bucket" in df.columns
