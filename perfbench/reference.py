"""Host-speed reference: a fixed unit of Spark work that never touches
the engine, timed right after every timed operation.

The benchmark's host is a few cores of a shared machine whose speed
drifts by 2x and more, over minutes and from second to second, and the
operations of a run slow down together. A raw latency then moves with
the host more than with the code. The reference runs the kind of work an
engine query does (Catalyst planning, a parquet scan and an aggregation
across a shuffle on the local executor, a collect through py4j) on fixed
inputs, in its own session with fixed settings.
The harness samples it right after every timed operation and scales each
operation's latency by ``NOMINAL_MS`` over the mean of the samples just
before and just after it, so the figure reads as on the 4-vCPU box the
benchmark was calibrated on, at the speed of its fastest runs (about
``NOMINAL_MS`` per sample).

Over ten runs of each workload on that box (seeds 1-10, the reference's
median 113-192 ms), the spread (Q3 - Q1) / median of the latency and
throughput figures was 0.15-0.22 unscaled and 0.03-0.07 scaled. Scaling
each operation by the samples around it rather than the whole run by
their median follows changes within a run too (throughput spread 0.03
against 0.04-0.08). A pure-Python loop does not serve as the reference:
in a pair of runs where Spark work slowed by 40%, its time stayed flat.
"""

from __future__ import annotations

import os
import time

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import functions as F

NOMINAL_MS = 120.0
ROWS = 200_000


class Reference:
    def __init__(self, spark, work_dir: str):
        # fixed content, independent of the workload's seed
        rng = np.random.default_rng(0)
        os.makedirs(work_dir, exist_ok=True)
        self.path = os.path.join(work_dir, "reference.parquet")
        pq.write_table(
            pa.table({"k": rng.integers(0, 100, ROWS), "v": np.round(rng.uniform(0, 100, ROWS), 2)}),
            self.path,
        )
        # own session and settings, so a change to the engine's session
        # conf does not move the reference
        self.session = spark.newSession()
        self.session.conf.set("spark.sql.shuffle.partitions", "4")
        self.session.conf.set("spark.sql.adaptive.enabled", "true")
        self.samples: list[float] = []
        self.total_s = 0.0  # time spent sampling, left out of the timed phase
        self._query()  # warm-up: class loading and codegen

    def _query(self) -> None:
        df = self.session.read.schema("k long, v double").parquet(self.path)
        rows = df.where("k = 7").agg(F.max("v"), F.count("*")).collect()
        if not rows[0][1]:
            raise RuntimeError("reference query returned no rows")

    def sample(self) -> float:
        """Run the reference once; its time in ms."""
        t0 = time.perf_counter()
        self._query()
        dt = time.perf_counter() - t0
        self.samples.append(dt * 1e3)
        self.total_s += dt
        return dt * 1e3

    def p50_ms(self) -> float:
        return float(np.median(self.samples)) if self.samples else 0.0
