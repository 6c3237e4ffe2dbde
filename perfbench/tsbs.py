"""Seeded TSBS cpu-only data generator.

Rows follow the TSBS ``cpu-only`` use case: one row per host every
``step_s`` seconds with the tags ``hostname`` and ``region`` and ten
``usage_*`` gauges. Each gauge is a bounded random walk (reflected into
[0, 100], rounded to 0.01) so that compression sees smooth, realistic
series rather than hashes. A host is sometimes offline for a whole
10-minute window; those gaps are what ``time_bucket_gapfill`` + ``locf``
fills on read.

The generator is stateful: successive :meth:`CpuGenerator.rows` calls
continue every walk where the previous call stopped, so a workload can
cut the timeline into ordered batches. The same seed always yields the
same rows.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

METRICS = (
    "usage_user",
    "usage_system",
    "usage_idle",
    "usage_nice",
    "usage_iowait",
    "usage_irq",
    "usage_softirq",
    "usage_steal",
    "usage_guest",
    "usage_guest_nice",
)
REGIONS = (
    "us-east-1",
    "us-west-1",
    "us-west-2",
    "eu-west-1",
    "eu-central-1",
    "ap-southeast-1",
    "ap-southeast-2",
    "ap-northeast-1",
    "sa-east-1",
)
US = 1_000_000
# 2024-01-01T00:00:00Z — every workload's timeline starts here
EPOCH_US = 1_704_067_200 * US
OUTAGE_WINDOW_US = 600 * US
OUTAGE_PROB = 0.01
WALK_SIGMA = 1.5


class CpuGenerator:
    def __init__(self, seed: int, hosts: int, step_s: int):
        self.rng = np.random.default_rng(seed)
        self.hosts = hosts
        self.step_us = step_s * US
        self.hostnames = np.array([f"host_{i}" for i in range(hosts)])
        self.regions = self.rng.choice(np.array(REGIONS), hosts)
        self.level = self.rng.uniform(0.0, 100.0, (hosts, len(METRICS)))
        self.outage_seed = int(self.rng.integers(0, 2**31))

    def _online(self, t_us: int) -> np.ndarray:
        """Hosts reporting at ``t_us``: a host is offline for whole
        10-minute windows, decided per (window, host) from the seed."""
        window = t_us // OUTAGE_WINDOW_US
        r = np.random.default_rng((self.outage_seed, int(window))).random(self.hosts)
        return r >= OUTAGE_PROB

    def rows(self, t0_us: int, t1_us: int) -> pa.Table:
        """All readings with ``t0_us <= time < t1_us`` (a non-empty range
        aligned to the step), advancing every walk one step per timestamp."""
        times = np.arange(t0_us, t1_us, self.step_us, dtype=np.int64)
        cols_t, cols_h, cols_r, vals = [], [], [], []
        for t in times:
            step = self.rng.normal(0.0, WALK_SIGMA, self.level.shape)
            lvl = np.abs(self.level + step)
            self.level = np.where(lvl > 100.0, 200.0 - lvl, lvl)
            on = self._online(int(t))
            n = int(on.sum())
            cols_t.append(np.full(n, t, dtype=np.int64))
            cols_h.append(self.hostnames[on])
            cols_r.append(self.regions[on])
            vals.append(np.round(self.level[on], 2))
        v = np.concatenate(vals)
        data = {
            "time": pa.array(np.concatenate(cols_t)).cast(pa.timestamp("us", tz="UTC")),
            "hostname": pa.array(np.concatenate(cols_h), pa.string()),
            "region": pa.array(np.concatenate(cols_r), pa.string()),
        }
        for i, m in enumerate(METRICS):
            data[m] = pa.array(v[:, i], pa.float64())
        return pa.table(data)


class BatchFiles:
    """Parquet batches written during set-up, with the totals the
    correctness check and ``stored_bytes_per_row`` use."""

    def __init__(self, directory: str):
        self.dir = directory
        os.makedirs(directory, exist_ok=True)
        self.paths: list[str] = []
        self.rows: list[int] = []
        self.raw_bytes = 0

    def add(self, table: pa.Table) -> None:
        path = os.path.join(self.dir, f"batch_{len(self.paths):05d}.parquet")
        pq.write_table(table, path, compression="none")
        self.paths.append(path)
        self.rows.append(table.num_rows)
        self.raw_bytes += table.nbytes
