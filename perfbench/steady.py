"""Steadiness report: run workloads repeatedly and show how much each
metric spreads between runs, relative to its regression bound.

    python3 perfbench/steady.py --workloads tsbs_read,cagg_realtime --seeds 1-10
    python3 perfbench/steady.py --workloads ingest_policy --seeds 1-5 --sets 2

Each run uses the next seed. For every end-to-end metric the report
prints the median, the quartiles (``statistics.quantiles(n=4)``), the
spread (Q3 - Q1) / median, and that spread as a share of the metric's
``bound`` in BENCHMARK.json: a share below 1/3 is steady. With
``--sets 2`` the seed list runs twice and the report adds how far the
second median moved from the first, in the direction that is worse.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def seeds_of(spec: str) -> list[int]:
    out = []
    for part in spec.split(","):
        a, _, b = part.partition("-")
        out.extend(range(int(a), int(b or a) + 1))
    return out


def run_once(workload: str, seed: int, seconds: int, trace: int) -> dict:
    cmd = [
        sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
        "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace),
    ]
    p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=900)
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or not lines:
        sys.stderr.write(p.stderr[-2000:])
        raise SystemExit(f"{workload} seed {seed}: exit {p.returncode}")
    return json.loads(lines[-1])


def spread(values: list[float]) -> tuple[float, float, float, float]:
    q1, med, q3 = statistics.quantiles(values, n=4)
    return med, q1, q3, (q3 - q1) / med if med else float("inf")


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workloads", required=True)
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--sets", type=int, default=1)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    spec = {m["name"]: m for m in bench["end_to_end"] + bench["per_layer"]}
    seeds = seeds_of(args.seeds)
    for w in args.workloads.split(","):
        sets = []
        for s in range(args.sets):
            runs = [run_once(w, seed, bench["run_seconds"], args.trace) for seed in seeds]
            sets.append(runs)
            print(f"{w} set {s + 1}: correct={[r['correct'] for r in runs]}", flush=True)
        print(f"\n{w}: {len(seeds)} runs per set, seeds {args.seeds}")
        print(f"{'metric':40} {'median':>12} {'q1':>12} {'q3':>12} {'spread':>8} {'/bound':>7} {'drift':>7}")
        for name in sets[0][0]["metrics"]:
            m = spec.get(name, {})
            meds = []
            for runs in sets:
                med, q1, q3, sp = spread([r["metrics"][name]["value"] for r in runs])
                meds.append(med)
            bound = m.get("bound")
            share = f"{sp / bound:7.2f}" if bound else "      -"
            drift = "      -"
            if len(meds) > 1 and meds[0]:
                d = (meds[-1] - meds[0]) / meds[0]
                drift = f"{(d if m.get('better') == 'lower' else -d):7.3f}"
            print(f"{name:40} {med:12.4f} {q1:12.4f} {q3:12.4f} {sp:8.3f} {share} {drift}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
