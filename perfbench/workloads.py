"""The three workloads. Each is one closed-loop client (see harness.py).

Every workload makes its inputs from the seed during set-up, writes them
as parquet, and hands the engine only those batches. Background jobs run
on a simulated clock (``JobRegistry.run_pending(now=...)``), so the
maintenance a run performs repeats exactly from run to run.

- ``tsbs_read``: dashboard queries over a preloaded, fully compressed
  TSBS cpu-only hypertable. Narrow queries (one host, one hour) are bound
  by planning and catalog work, wide ones (all hosts, lastpoint) by scan
  and execution; the write, compression and job layers stay idle.
- ``ingest_policy``: time-ordered insert batches, each followed by one
  scheduler tick that runs an hourly compression policy (compress after
  1 h) and an hourly cagg refresh policy. Nothing reads.
- ``cagg_realtime``: a week preloaded and compressed up to the last day,
  an hourly cagg with max/avg/count and a DDSketch; then appends above
  the watermark, late inserts into compressed chunks, realtime dashboard
  reads from the cagg and refresh-policy ticks. A change that speeds
  serving by moving work into refresh or inserts shows here.
"""

from __future__ import annotations

import duckdb
import numpy as np
import pyarrow as pa

from queries import DAY_US, HOUR_US, MIN_US, QUERY_TYPES, canon, query_pair, rows_match
from timescaledb_spark import compression
from tsbs import EPOCH_US, METRICS, US, BatchFiles, CpuGenerator


def _duck(paths) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    con.execute("SET TimeZone = 'UTC'")
    files = ", ".join(f"'{p}'" for p in paths)
    con.execute(f"CREATE VIEW cpu AS SELECT * FROM read_parquet([{files}])")
    return con


class Workload:
    """Set-up, timed loop and correctness check of one workload."""

    primary = "read"  # class of the operation whose latency is op_p50_ms
    CYCLE_S = 1.0  # nominal seconds per cycle of the mix on a 4-vCPU box

    def __init__(self, spark, ts, harness, seed: int, seconds: float, data_dir: str):
        self.spark = spark
        self.ts = ts
        self.h = harness
        self.seed = seed
        self.seconds = seconds
        self.files = BatchFiles(data_dir)
        self.consumed: list[int] = []  # indices of batches inserted
        self.rows_per_write = 0.0

    def insert(self, ht, i: int, kind: str = "insert", traced: bool = False) -> None:
        path = self.files.paths[i]
        if self.h.run(kind, "write", lambda: ht.insert(self.spark.read.parquet(path)), traced) is not None:
            self.consumed.append(i)

    def n_cycles(self) -> int:
        """Whole cycles of the mix in the timed phase, sized so the phase
        lasts about ``seconds`` on the reference box; at least two, so a
        traced run has traced and untraced cycles. Every commit does the
        same work on the same inputs."""
        return max(2, round(self.seconds / self.CYCLE_S))

    def cycles(self):
        """Yield (cycle, traced); traced runs alternate whole cycles."""
        for c in range(self.n_cycles()):
            if self.h.elapsed() > 4 * self.seconds:
                break  # a far slower engine still ends within the deadline
            yield c, c % 2 == 1

    def rows_ingested(self) -> int:
        return sum(self.files.rows[i] for i in self.consumed)

    def check_row_count(self) -> None:
        got = self.ts.sql("SELECT count(*) AS n FROM cpu").collect()[0][0]
        self.h.check("rows_ingested_equal_generated", got == self.rows_ingested())


class TsbsRead(Workload):
    HOSTS, HOURS, STEP_S = 40, 12, 10
    CYCLE_S = 3.3  # one pass over the query mix

    def setup(self) -> None:
        gen = CpuGenerator(self.seed, self.HOSTS, self.STEP_S)
        self.hostnames = gen.hostnames
        self.t_hi = EPOCH_US + self.HOURS * HOUR_US
        self.files.add(gen.rows(EPOCH_US, self.t_hi))
        ht = self.ts.create_hypertable(
            "cpu", "time", chunk_interval="1 hour", space_column="hostname", num_partitions=4
        )
        self.insert(ht, 0, "preload")
        compression.enable_columnstore(ht, segmentby=["hostname"], orderby=[("time", "desc")])
        self.h.run("compress", "setup", lambda: compression.compress_chunks(ht))
        # warm-up: one of each query type, each checked against DuckDB
        rng = np.random.default_rng([self.seed, 1])
        duck = _duck(self.files.paths)
        for kind in QUERY_TYPES:
            sql, dsql = query_pair(kind, rng, self.hostnames, EPOCH_US, self.t_hi)
            rows = self.h.run(kind, "read", lambda: self.ts.sql(sql))
            want = duck.execute(dsql).fetchall()
            self.h.check(
                f"oracle:{kind}",
                rows is not None
                and rows_match(rows, want, ordered=kind == "groupby-orderby-limit"),
            )
        duck.close()

    def timed(self) -> None:
        rng = np.random.default_rng([self.seed, 2])
        for _, traced in self.cycles():
            for kind in QUERY_TYPES:
                sql, _ = query_pair(kind, rng, self.hostnames, EPOCH_US, self.t_hi)
                self.h.run(kind, "read", lambda: self.ts.sql(sql), traced)

    def verify(self) -> None:
        self.check_row_count()


class IngestPolicy(Workload):
    primary = "write"
    HOSTS, STEP_S, BATCH_MIN = 100, 10, 20
    PER_HOUR = 3  # batches per simulated hour, the policies' schedule
    CYCLE_S = 3.5  # one simulated hour
    WARMUP = 6  # batches: up to the first compression-policy run at 2 h

    def setup(self) -> None:
        gen = CpuGenerator(self.seed, self.HOSTS, self.STEP_S)
        width = self.BATCH_MIN * MIN_US
        n = self.WARMUP + self.n_cycles() * self.PER_HOUR
        for b in range(n):
            self.files.add(gen.rows(EPOCH_US + b * width, EPOCH_US + (b + 1) * width))
        self.rows_per_write = float(np.mean(self.files.rows))
        ts = self.ts
        ht = self.ht = ts.create_hypertable(
            "cpu", "time", chunk_interval="1 hour", space_column="hostname", num_partitions=4
        )
        self.insert(ht, 0)
        compression.enable_columnstore(ht, segmentby=["hostname"], orderby=[("time", "desc")])
        ts.create_cagg(
            "cpu_hourly",
            ht,
            bucket_width="1 hour",
            aggs={"max_user": "max(usage_user)", "avg_user": "avg(usage_user)", "n": "count(*)"},
            group_by=["hostname"],
        )
        jobs = [
            ts.jobs.add_compression_policy("cpu", compress_after="1 hour", schedule_interval="1 hour"),
            ts.jobs.add_continuous_aggregate_policy(
                "cpu_hourly", start_offset="3 hours", end_offset="1 hour", schedule_interval="1 hour"
            ),
        ]
        t0 = EPOCH_US // US
        for jid in jobs:
            ts.jobs.alter_job(jid, initial_start=t0, next_start=t0)
        self.tick(0)
        for b in range(1, self.WARMUP):
            self.insert(ht, b)
            self.tick(b)

    def tick(self, b: int, traced: bool = False) -> None:
        now = (EPOCH_US + (b + 1) * self.BATCH_MIN * MIN_US) / US
        self.h.run("tick", "maintenance", lambda: self.ts.jobs.run_pending(now=now), traced)

    def timed(self) -> None:
        for c, traced in self.cycles():
            for b in range(self.WARMUP + c * self.PER_HOUR, self.WARMUP + (c + 1) * self.PER_HOUR):
                self.insert(self.ht, b, traced=traced)
                self.tick(b, traced)

    def verify(self) -> None:
        self.check_row_count()
        chunks = self.ht.chunks()
        self.h.check(
            "compression_policy_ran", any(c.get("status") == "columnstore" for c in chunks)
        )
        self.h.check("refresh_policy_ran", self.ts.get_cagg("cpu_hourly").watermark() is not None)


DAILY_MAX = (
    "SELECT time_bucket('1 day', bucket) AS day, hostname, max(max_user) AS max_user "
    "FROM cpu_hourly GROUP BY day, hostname"
)
DAILY_COUNT = (
    "SELECT time_bucket('1 day', bucket) AS day, hostname, sum(n) AS n "
    "FROM cpu_hourly GROUP BY day, hostname"
)


class CaggRealtime(Workload):
    HOSTS, STEP_S, DAYS = 10, 60, 7
    APPEND_MIN = 20  # simulated minutes per append
    LATE_EVERY, LATE_ROWS = 3, 20
    WARMUP = 2  # iterations: a refresh-policy run (0) and a late insert (1)
    # one simulated hour: the refresh-policy run that opens each cycle
    # materializes the hour just completed and the previous cycle's late
    # batch, so every cycle does the same work
    CYCLE_S = 6.0
    ALPHA = 0.01

    def setup(self) -> None:
        gen = CpuGenerator(self.seed, self.HOSTS, self.STEP_S)
        self.t_end = t_end = EPOCH_US + self.DAYS * DAY_US
        self.files.add(gen.rows(EPOCH_US, t_end))
        n = self.WARMUP + self.n_cycles() * self.LATE_EVERY
        width = self.APPEND_MIN * MIN_US
        for i in range(n):
            self.files.add(gen.rows(t_end + i * width, t_end + (i + 1) * width))
        # late readings land in the compressed day before the last one,
        # 30 s off the 60 s grid so they never repeat a reading
        rng = np.random.default_rng([self.seed, 3])
        self.lates = {}
        for i in range(1, n, self.LATE_EVERY):
            minutes = rng.integers(0, 24 * 60, self.LATE_ROWS)
            hosts = rng.integers(0, self.HOSTS, self.LATE_ROWS)
            t = t_end - 2 * DAY_US + minutes * MIN_US + 30 * US
            cols = {
                "time": pa.array(t.astype(np.int64)).cast(pa.timestamp("us", tz="UTC")),
                "hostname": pa.array(gen.hostnames[hosts].tolist(), pa.string()),
                "region": pa.array(gen.regions[hosts].tolist(), pa.string()),
            }
            for m in METRICS:
                cols[m] = pa.array(np.round(rng.uniform(0, 100, self.LATE_ROWS), 2))
            self.files.add(pa.table(cols))
            self.lates[i] = len(self.files.paths) - 1
        self.rows_per_write = float(np.mean(self.files.rows[1:]))

        ts = self.ts
        ht = self.ht = ts.create_hypertable("cpu", "time", chunk_interval="1 day")
        self.insert(ht, 0, "preload")
        compression.enable_columnstore(ht, segmentby=["hostname"], orderby=[("time", "desc")])
        self.h.run("compress", "setup", lambda: compression.compress_chunks(ht, older_than=t_end - DAY_US))
        self.cagg = ts.create_cagg(
            "cpu_hourly",
            ht,
            bucket_width="1 hour",
            aggs={"max_user": "max(usage_user)", "avg_user": "avg(usage_user)", "n": "count(*)"},
            group_by=["hostname"],
            sketches={"sk_user": {"value": "usage_user", "alpha": self.ALPHA}},
        )
        self.h.run("refresh", "setup", self.cagg.refresh)
        jid = self.jid = ts.jobs.add_continuous_aggregate_policy(
            "cpu_hourly", start_offset="3 days", end_offset="0 minutes",
            schedule_interval="1 hour",
        )
        ts.jobs.alter_job(jid, initial_start=t_end // US, next_start=t_end // US)
        for i in range(self.WARMUP):
            self.iteration(i)

    def iteration(self, i: int, traced: bool = False) -> None:
        h = self.h
        self.insert(self.ht, 1 + i, "append", traced)  # batch 0 is the preload
        if i in self.lates:
            self.insert(self.ht, self.lates[i], "late_insert", traced)
        h.run("daily_max", "read", lambda: self.ts.sql(DAILY_MAX), traced)
        h.run(
            "daily_p95",
            "read",
            lambda: self.cagg.quantiles([0.95], grain="1 day", realtime=True),
            traced,
        )
        now = self.now = (self.t_end + (i + 1) * self.APPEND_MIN * MIN_US) / US
        h.run("tick", "maintenance", lambda: self.ts.jobs.run_pending(now=now), traced)

    def timed(self) -> None:
        for c, traced in self.cycles():
            first = self.WARMUP + c * self.LATE_EVERY
            for i in range(first, first + self.LATE_EVERY):
                self.iteration(i, traced)

    def verify(self) -> None:
        self.check_row_count()
        # late rows below the watermark show once the policy has refreshed
        # them; run it once more so the last late batch is covered
        self.h.run("final_refresh", "maintenance", lambda: [self.ts.jobs.run_job(self.jid, now=self.now)])
        duck = _duck([self.files.paths[i] for i in self.consumed])
        day = f"(epoch_us(time) // {DAY_US}) * {DAY_US}"
        want_max = duck.execute(
            f"SELECT {day} AS day, hostname, max(usage_user) FROM cpu GROUP BY 1, 2"
        ).fetchall()
        want_n = duck.execute(f"SELECT {day} AS day, hostname, count(*) FROM cpu GROUP BY 1, 2").fetchall()
        self.h.check("cagg_realtime_max_equals_raw", rows_match(self.ts.sql(DAILY_MAX).collect(), want_max))
        self.h.check("cagg_realtime_count_equals_raw", rows_match(self.ts.sql(DAILY_COUNT).collect(), want_n))
        # DDSketch p95: within the sketch's relative error of the exact
        # value at some rank in [0.94, 0.96]
        lo_hi = {
            (d, hn): (lo, hi)
            for d, hn, lo, hi in duck.execute(
                f"SELECT {day}, hostname, quantile_disc(usage_user, 0.94), "
                f"quantile_disc(usage_user, 0.96) FROM cpu GROUP BY 1, 2"
            ).fetchall()
        }
        duck.close()
        got = self.cagg.quantiles([0.95], grain="1 day", realtime=True).collect()
        ok = len(got) == len(lo_hi)
        for r in got:
            lo, hi = lo_hi.get((canon(r["bucket"]), r["hostname"]), (None, None))
            ok = ok and lo is not None and lo * (1 - 2 * self.ALPHA) <= r["p95"] <= hi * (1 + 2 * self.ALPHA)
        self.h.check("cagg_realtime_p95_within_sketch_error", ok)


WORKLOADS = {"tsbs_read": TsbsRead, "ingest_policy": IngestPolicy, "cagg_realtime": CaggRealtime}
