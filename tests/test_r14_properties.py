"""Round-14 property tests: COPY BINARY round-trip over arbitrary typed
rows and window/stride grid coverage/partition invariants — pure-Python
models, no Spark jobs in the hypothesis loops (the established
property-test discipline: drive the deterministic kernel hard, gate the
distributed shape once elsewhere)."""

import datetime
import math

from hypothesis import given, settings, strategies as st
from pyspark.sql import types as T

from timescaledb_spark.sources.pgcopy import (
    iter_pgcopy_tuples,
    write_pgcopy,
)

# ---- COPY BINARY round-trip --------------------------------------------

_TS = st.datetimes(
    min_value=datetime.datetime(1900, 1, 1),
    max_value=datetime.datetime(2200, 1, 1),
).map(lambda d: d.replace(microsecond=(d.microsecond // 1) ))
_ROW = st.tuples(
    st.one_of(st.none(), st.integers(-(2**63), 2**63 - 1)),
    st.one_of(st.none(), st.floats(allow_nan=False, width=64)),
    st.one_of(st.none(), st.text(max_size=40)),
    st.one_of(st.none(), st.booleans()),
    st.one_of(st.none(), _TS),
    st.one_of(st.none(), st.binary(max_size=24)),
)
_SCHEMA_DDL = (
    "a bigint, b double, c string, d boolean, e timestamp, f binary"
)


@settings(max_examples=60, deadline=None)
@given(rows=st.lists(_ROW, max_size=12))
def test_pgcopy_roundtrip_property(spark, rows):
    blob = write_pgcopy(rows, _SCHEMA_DDL)
    got = list(
        iter_pgcopy_tuples(blob, T.StructType.fromDDL(_SCHEMA_DDL))
    )
    assert got == rows


# ---- window/stride grid model ------------------------------------------


def _starts_model(n, window, stride):
    if n == 0:
        return []
    if n <= window:
        return [0]
    return [
        i * stride
        for i in range(int(math.ceil((n - window) / stride)) + 1)
    ]


@settings(max_examples=120, deadline=None)
@given(
    st.integers(0, 600),
    st.integers(1, 64),
    st.data(),
)
def test_chunk_grid_invariants(n, window, data):
    """Every token is covered at least once; chunks partition exactly
    when stride == window; chunk count is bounded by ceil(n/stride)+1;
    no start begins past the end (stride <= window: a gappy grid would
    leave tokens uncovered)."""
    stride = data.draw(st.integers(1, window))
    starts = _starts_model(n, window, stride)
    covered = set()
    for s in starts:
        assert s < max(n, 1)
        covered.update(range(s, min(s + window, n)))
    assert covered == set(range(n))
    assert len(starts) <= max(1, -(-n // stride) + 1)
    if stride == window and n:
        # exact partition: chunk lengths sum to n with no overlap
        total = sum(min(s + window, n) - s for s in starts)
        assert total == n
