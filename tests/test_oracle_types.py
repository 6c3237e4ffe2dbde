"""Oracle result-type lint.

The driver's correctness gate fetches the DuckDB oracle result through
pandas, which coerces HUGEINT (the default type of ``sum(BIGINT)``) and
DECIMAL columns to float64; values above 10 significant digits then
round in the canonical form and hash-mismatch against Spark's exact
integers even when both engines agree.  This burned ``q_json_props`` in
rounds 3-4 and ``q_state_agg``/``q_heartbeat`` in round 5.

This lint runs every registered oracle through DuckDB ``DESCRIBE`` and
fails if any result column has a pandas-lossy type, so the class of bug
cannot ship again.  Fix is always the same: ``CAST(... AS BIGINT)`` (or
``AS DOUBLE`` when fractional).
"""

from __future__ import annotations

import re

import pytest

from timescaledb_spark.queries import oracle_sql

#: DuckDB types that pandas/float64 cannot represent exactly at the
#: magnitudes our data produces.  DOUBLE is fine (Spark emits double
#: too); BIGINT is fine (pandas int64).
_LOSSY = re.compile(r"^(HUGEINT|UHUGEINT|UBIGINT|DECIMAL|INT128)", re.I)


def test_no_lossy_oracle_result_types(duck):
    bad: list[str] = []
    for name, sql in oracle_sql().items():
        try:
            cur = duck.execute(f"DESCRIBE ({sql})")
        except Exception as e:  # pragma: no cover - surfaced as lint failure
            bad.append(f"{name}: DESCRIBE failed: {e}")
            continue
        for col, typ, *_ in cur.fetchall():
            if _LOSSY.match(str(typ)):
                bad.append(f"{name}.{col}: {typ} (CAST it in the oracle SQL)")
    assert not bad, (
        "oracle columns with pandas-lossy DuckDB types "
        "(driver hashes through float64):\n  " + "\n  ".join(bad)
    )


#: Nested result types the driver's canonicalizer cannot sort —
#: pandas ``sort_values`` raises ``TypeError: unhashable type: 'list'``
#: on LIST/STRUCT/MAP columns (this errored three gates in round 16);
#: the convention is to flatten per-position in the gate select
#: (posexplode + LATERAL unnest).
_UNSORTABLE = re.compile(r"(\[\]$|^(STRUCT|MAP|LIST|UNION))", re.I)


def test_no_nested_oracle_result_types(duck):
    bad: list[str] = []
    for name, sql in oracle_sql().items():
        try:
            cur = duck.execute(f"DESCRIBE ({sql})")
        except Exception as e:  # pragma: no cover - surfaced as lint failure
            bad.append(f"{name}: DESCRIBE failed: {e}")
            continue
        for col, typ, *_ in cur.fetchall():
            if _UNSORTABLE.search(str(typ)):
                bad.append(
                    f"{name}.{col}: {typ} (flatten it for the hash gate)"
                )
    assert not bad, (
        "oracle columns with driver-unsortable nested types "
        "(pandas sort_values cannot order them):\n  " + "\n  ".join(bad)
    )
