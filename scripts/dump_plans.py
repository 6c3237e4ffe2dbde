#!/usr/bin/env python
"""Write ``.explain("formatted")`` for registered gates, non-interactively.

The batch form of ``prof_shell.py``'s ``planq``: one Spark session, one
``OUT_DIR/<gate>.txt`` per gate. With no gate names it dumps every
continuous-aggregate gate (``q_cagg_*``, ``q_ddsketch_rollup``,
``q_hll_rollup``, ``q_sql_join_rollup``); ``--all`` dumps every
registered gate.

Usage:
    python scripts/dump_plans.py OUT_DIR [GATE ...]
    python scripts/dump_plans.py --all OUT_DIR
    python scripts/dump_plans.py --diff BEFORE_DIR AFTER_DIR

``--diff`` compares two dump directories after normalizing what differs
between any two runs of the same plan (expression ids ``#123``, plan ids,
temp-dir names), and prints per gate whether the plans are identical and
how the counts of Exchange/Sort/Window/Aggregate nodes moved.

Env: SPARK_GRAFT_SF_DIR — parquet dir (default: ``local_mirror.py``'s,
the oracle gates' scale).
"""

from __future__ import annotations

import contextlib
import io
import os
import re
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from local_mirror import SF_DIR  # noqa: E402  (same data as the oracle)

CAGG_GATES = re.compile(
    r"^(q_cagg_\w+|q_ddsketch_rollup|q_hll_rollup|q_sql_join_rollup)$"
)
#: node families whose count a refactor must not grow
HEAVY = ("Exchange", "Sort", "Window", "Aggregate")


def normalize(text: str) -> str:
    """Strip run-to-run noise from a formatted plan."""
    text = re.sub(r"#\d+L?", "#N", text)
    text = re.sub(r"plan_id=\d+", "plan_id=N", text)
    text = re.sub(r"/tmp/[^/\s,\]]+", "/tmp/D", text)
    text = re.sub(r"_common_expr_\d+", "_common_expr_N", text)
    return text


def node_counts(text: str) -> dict[str, int]:
    """Heavy-node counts from the plan tree (the part above the first
    numbered node detail)."""
    tree = text.split("\n\n\n", 1)[0]
    out = {}
    for kind in HEAVY:
        pat = r"\w*Aggregate\b" if kind == "Aggregate" else rf"\b{kind}\b"
        out[kind] = len(re.findall(rf"[+-] ({pat}) \(", tree)) + len(
            re.findall(rf"^({pat}) \(", tree, re.M)
        )
    return out


def diff(before_dir: str, after_dir: str) -> int:
    names = sorted(
        set(os.listdir(before_dir)) | set(os.listdir(after_dir))
    )
    grown = 0
    for fn in names:
        pa, pb = os.path.join(before_dir, fn), os.path.join(after_dir, fn)
        if not (os.path.exists(pa) and os.path.exists(pb)):
            print(f"{fn}: only in {'before' if os.path.exists(pa) else 'after'}")
            continue
        a, b = open(pa).read(), open(pb).read()
        ca, cb = node_counts(a), node_counts(b)
        moved = {k: (ca[k], cb[k]) for k in HEAVY if ca[k] != cb[k]}
        grown += any(cb[k] > ca[k] for k in HEAVY)
        same = normalize(a) == normalize(b)
        print(
            f"{fn}: {'identical' if same else 'differs'}"
            + (f" nodes {moved}" if moved else "")
        )
    return 1 if grown else 0


def dump(out_dir: str, gates: list[str], every: bool = False) -> int:
    from timescaledb_spark.queries import queries
    from timescaledb_spark.session import build_spark

    qs = queries()
    if every:
        gates = list(qs)
    elif not gates:
        gates = [g for g in qs if CAGG_GATES.match(g)]
    unknown = [g for g in gates if g not in qs]
    if unknown:
        print(f"unknown gates: {unknown}", file=sys.stderr)
        return 2
    os.makedirs(out_dir, exist_ok=True)
    spark = build_spark(app_name="ts_dump_plans")
    failed = 0
    try:
        for g in gates:
            buf = io.StringIO()
            try:
                df = qs[g](spark, SF_DIR)
                with contextlib.redirect_stdout(buf):
                    df.explain("formatted")
            except Exception as e:  # keep going; report at the end
                failed += 1
                print(f"{g}: FAILED {type(e).__name__}: {e}", file=sys.stderr)
                continue
            # the data dir is a per-host path: keep dumps comparable
            text = buf.getvalue().replace(SF_DIR, "$SPARK_GRAFT_SF_DIR")
            with open(os.path.join(out_dir, f"{g}.txt"), "w") as f:
                f.write(text)
            print(f"wrote {g}")
    finally:
        spark.stop()
    return 1 if failed else 0


def main(argv: list[str]) -> int:
    if len(argv) == 3 and argv[0] == "--diff":
        return diff(argv[1], argv[2])
    if len(argv) == 2 and argv[0] == "--all":
        return dump(argv[1], [], every=True)
    if not argv or argv[0].startswith("-"):
        print(__doc__, file=sys.stderr)
        return 2
    return dump(argv[0], argv[1:])


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
