"""Guards for the driver-gate rotation (queries.py gate_order).

The driver verifies only the first GATE_WINDOW entries of queries();
the ordering must guarantee no registered query can fall permanently
outside that window: anything rotated out must have been driver-green
within the natural rotation period — ceil(tail / GATE_WINDOW) rounds,
the tightest bound a 50-per-round rotation can satisfy (2 rounds while
≤150 gates were registered, 3 from 151–200, …).
"""

import math

import __spark_entry__ as entry_mod
from timescaledb_spark.queries import (
    GATE_WINDOW,
    gate_history,
    gate_order,
    oracle_sql,
    queries,
)


def test_rotated_out_queries_recently_green():
    hist = gate_history()
    order = list(queries())
    tail = order[GATE_WINDOW:]
    if not hist:  # no driver artifacts yet: everything is in-window by definition
        assert not tail or len(order) <= GATE_WINDOW
        return
    last_round = max(r for r, _ in hist.values())
    # the recorded rounds rotated through the registry of their time, and
    # gates removed since still took window slots in them: size the period
    # by every gate the last recorded rotation cycled through (the same as
    # the tail alone while the history names only registered gates)
    cycle = math.ceil(len(set(order) | set(hist)) / GATE_WINDOW)
    cycled = set(order) | {n for n, (r, _) in hist.items() if r > last_round - cycle}
    period = max(2, math.ceil((len(cycled) - GATE_WINDOW) / GATE_WINDOW))
    stale = [
        n
        for n in tail
        if n not in hist
        or not hist[n][1]
        or hist[n][0] < last_round - (period - 1)
    ]
    assert not stale, (
        f"queries rotated outside the {GATE_WINDOW}-entry driver window "
        f"without a green driver check in the last {period} rounds: {stale}"
    )


def test_never_verified_sort_first():
    hist = {"a": (3, True), "b": (1, True), "c": (2, False)}
    order = gate_order(["a", "b", "zz_new", "c", "aa_new"], hist)
    # never-verified first (name tie-break), then FAILED (any round —
    # a failure re-verifies next round, it cannot queue behind the
    # green backlog), then greens oldest-round-first
    assert order == ["aa_new", "zz_new", "c", "b", "a"]


def test_failed_sort_before_green_same_round():
    hist = {"ok": (4, True), "bad": (4, False)}
    assert gate_order(["ok", "bad"], hist) == ["bad", "ok"]


def test_queries_and_oracles_share_ordering():
    qs = list(queries())
    os_ = list(oracle_sql())
    # oracle keys must be a subset of query keys and appear in the same
    # relative order so the driver pairs them correctly
    assert set(os_) <= set(qs)
    pos = {n: i for i, n in enumerate(qs)}
    assert os_ == sorted(os_, key=pos.__getitem__)


def test_entry_module_exposes_same_window():
    assert list(entry_mod.queries()) == list(queries())
