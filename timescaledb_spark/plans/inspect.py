"""Physical-plan inspection helpers.

The reference asserts plan shape in EXPLAIN-golden tests
(``test/sql/plan_expand_hypertable.sql.in``, ``plan_ordered_append.sql``,
``tsl/test/sql/plan_skip_scan.sql.in``); we assert the Catalyst
equivalents — scanned partition-path counts (chunk exclusion), pushed
parquet filters (sparse-index parity), read-schema pruning, broadcast
joins, and shuffle counts — so a regression that silently turns a
pruned scan into a full scan fails a test instead of a 100 TB bill.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame


def _plan(df: DataFrame) -> str:
    # full QueryExecution text, not executedPlan(): under AQE the latter
    # prints an AdaptiveSparkPlan wrapper that hides scan details until
    # the plan is materialized. Scan metadata (PushedFilters, ReadSchema)
    # is truncated at spark.sql.maxMetadataStringLength (default 100) —
    # raise it while rendering so filters aren't cut mid-name.
    conf = df.sparkSession.conf
    key = "spark.sql.maxMetadataStringLength"
    old = conf.get(key, None)
    conf.set(key, "100000")
    try:
        return df._jdf.queryExecution().toString()
    finally:
        if old is not None:
            conf.set(key, old)
        else:
            conf.unset(key)


def selected_partition_files(df: DataFrame) -> list[str]:
    """One file path per partition dir the file scans select after
    partition pruning (empty partitions skipped), over every scan."""
    out = []
    # sparkPlan, not executedPlan: AQE hides the scans in one leaf
    leaves = df._jdf.queryExecution().sparkPlan().collectLeaves()
    for i in range(leaves.size()):
        try:
            dirs = leaves.apply(i).selectedPartitions().partitionDirectories()
        except Exception:  # not a file scan
            continue
        for d in dirs:
            files = d.files()
            if not files.isEmpty():
                out.append(
                    re.sub(r"^file:(//)?", "", str(files.head().getPath().toString()))
                )
    return out


def scanned_paths(df: DataFrame) -> int:
    """Number of partition dirs the file scans read (sum over scans).

    The Spark analog of "how many chunks survived exclusion": each
    hypertable chunk dir (or its ``_space=k`` sub-dir) that the scan
    selects after partition pruning counts once; an unpartitioned read
    counts one.
    """
    return len(selected_partition_files(df))


def pushed_filters(df: DataFrame) -> list[str]:
    """All parquet PushedFilters entries across scans (deduplicated).
    Split on TOP-LEVEL commas only — multi-arg filters like
    ``In(id, [1,2,3])`` carry commas inside their parens/brackets."""
    out: list[str] = []
    for m in re.finditer(r"PushedFilters: \[(.*?)\](?:,|$|\n)", _plan(df)):
        body, depth, start = m.group(1), 0, 0
        items = []
        for i, ch in enumerate(body):
            if ch in "([":
                depth += 1
            elif ch in ")]":
                depth -= 1
            elif ch == "," and depth == 0:
                items.append(body[start:i].strip())
                start = i + 1
        items.append(body[start:].strip())
        for f in items:
            if f and f not in out:
                out.append(f)
    return out


def read_schema_columns(df: DataFrame) -> list[str]:
    """Columns the parquet scans actually read (union over scans) —
    asserts column pruning reached the scan."""
    cols: list[str] = []
    for m in re.finditer(r"ReadSchema: struct<([^>]*)>", _plan(df)):
        for field in m.group(1).split(","):
            name = field.split(":")[0].strip()
            if name and name not in cols:
                cols.append(name)
    return cols


def broadcast_join_count(df: DataFrame) -> int:
    return len(re.findall(r"BroadcastHashJoin|BroadcastNestedLoopJoin", _plan(df)))


def cartesian_count(df: DataFrame) -> int:
    """Cartesian/cross-product nodes in the plan — the O(n²) shape a
    scale-tier operator must never contain."""
    return len(
        re.findall(
            r"CartesianProduct|BroadcastNestedLoopJoin [^,\n]+, Cross", _plan(df)
        )
    )


def shuffle_count(df: DataFrame) -> int:
    """Exchange nodes in the plan — every one is a full shuffle of its
    input; the number to minimize at scale. Matches every Exchange
    flavor (hashpartitioning, rangepartitioning, SinglePartition,
    RoundRobinPartitioning) but not ReusedExchange (no extra shuffle).

    Matched per line, anchored past the tree-drawing prefix: a
    ReusedExchange line renders as ``ReusedExchange [...], Exchange
    hashpartitioning(...)`` — the embedded child text after the comma
    must not count as a second shuffle."""
    n = 0
    for line in _plan(df).splitlines():
        head = re.match(r"^[^A-Za-z]*(\w+)", line)
        if head and head.group(1) == "Exchange" and re.search(
            r"\bExchange\s+\w*[Pp]artition", line
        ):
            n += 1
    return n
