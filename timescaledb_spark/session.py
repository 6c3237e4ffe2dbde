"""TSSession — the engine's entry point wrapping a SparkSession.

Role parity with the reference's extension loading + catalog
(``src/ts_catalog/catalog.h:33-61``): the session owns the catalog root
directory (a directory of small parquet-backed state tables mirroring
``_timescaledb_catalog``) and hands out hypertable / cagg handles.

Design stance (SURVEY.md §7): a Python library on top of PySpark — no
Spark fork, no custom Catalyst rules. Reads go through builder functions
that inject pruning/union logic; Catalyst does the rest.
"""

from __future__ import annotations

import os
from functools import cached_property
from typing import Optional

from pyspark.sql import SparkSession

from . import storage

DEFAULT_SHUFFLE_PARTITIONS = os.environ.get("SPARK_GRAFT_CPUS", "32")


def build_spark(
    app_name: str = "timescaledb_spark",
    master: Optional[str] = None,
    shuffle_partitions: Optional[str] = None,
    extra_conf: Optional[dict] = None,
) -> SparkSession:
    """Opinionated local SparkSession for this engine.

    Scale notes: AQE on (runtime re-plan, skew-join handling, partition
    coalescing — the analog of the reference's runtime chunk exclusion),
    UTC session timezone (PG session-TZ parity), Arrow enabled for the few
    Pandas-UDF paths.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    # Executor Python workers must be able to import this package for the
    # Pandas-UDF paths (multimodal decode) regardless of the caller's cwd;
    # local-mode workers inherit PYTHONPATH from the driver environment.
    _repo_root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    _pp = os.environ.get("PYTHONPATH", "")
    if _repo_root not in _pp.split(os.pathsep):
        os.environ["PYTHONPATH"] = (
            _repo_root + (os.pathsep + _pp if _pp else "")
        )
    b = (
        SparkSession.builder.appName(app_name)
        .master(master or f"local[{cpus}]")
        .config("spark.sql.shuffle.partitions", shuffle_partitions or cpus)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.compression.codec", "zstd")
        .config("spark.sql.files.maxPartitionBytes", "128m")
        # set up-front (not mid-session by the first events load):
        # TIMESTAMP(NANOS) parquet columns consistently surface as int64
        # ns for the whole session — see sources/testdata.py
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
    )
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


_BROKEN_RULES = (
    # Spark 4.1.2: RemoveRedundantAliases flips a resolved plan into an
    # unresolved one (PLAN_VALIDATION_FAILED_RULE_IN_BATCH) when a
    # CaseWhen/coalesce output column is pruned through a
    # union + window + aggregate stack — the exact shape of every
    # partial-cagg serving accessor over the realtime union. Hit four
    # times across rounds 10-11 (gauge serving at grain='all',
    # dual-partial projections, time_weighted_at_grain); per-plan
    # restructuring fixed individual shapes but new accessors keep
    # re-tripping it, so the rule is excluded session-wide. The rule is
    # purely cosmetic (drops redundant Alias nodes); exclusion does not
    # change physical plans' shuffles/scans.
    "org.apache.spark.sql.catalyst.optimizer.RemoveRedundantAliases",
)


def _exclude_broken_optimizer_rules(spark: SparkSession) -> None:
    """Append the known-broken optimizer rules to the session's
    ``spark.sql.optimizer.excludedRules`` (runtime-settable). Called
    from ``TSSession.__init__`` so the guard applies to ANY session the
    engine is handed — including harnesses that build their own."""
    key = "spark.sql.optimizer.excludedRules"
    try:
        cur = spark.conf.get(key, "") or ""
    except Exception:
        cur = ""
    have = {r.strip() for r in cur.split(",") if r.strip()}
    missing = [r for r in _BROKEN_RULES if r not in have]
    if missing:
        spark.conf.set(key, ",".join(sorted(have | set(missing))))


class TSSession:
    """Engine session: SparkSession + catalog root.

    ``catalog_root`` holds the engine catalog (hypertables, dimensions,
    chunks, caggs, invalidation logs, jobs) and the hypertable data
    directories — the Spark analog of the ``_timescaledb_catalog`` schema
    (``sql/pre_install/tables.sql:42-528``).

    **Session-wide side effect**: by default ``__init__`` appends the
    known-broken Spark 4.1.2 ``RemoveRedundantAliases`` optimizer rule
    to ``spark.sql.optimizer.excludedRules`` on the SparkSession it is
    handed (see ``_BROKEN_RULES`` for the bug shape). This alters
    optimizer behavior for EVERY query on that session, including the
    caller's own — the exclusion is semantically neutral (the rule only
    drops redundant Alias nodes; physical plans keep identical scans/
    shuffles) but callers sharing a session who want their conf
    untouched can pass ``exclude_broken_rules=False`` and accept that
    the partial-cagg serving accessors may then fail analysis on
    affected Spark versions.
    """

    def __init__(
        self,
        spark: SparkSession,
        catalog_root: str,
        exclude_broken_rules: bool = True,
    ):
        from .catalog import Catalog
        from .scan import ScanRelations

        self.spark = spark
        self.catalog_root = catalog_root
        self.catalog = Catalog(spark, catalog_root)
        self.scans = ScanRelations(spark)
        if exclude_broken_rules:
            _exclude_broken_optimizer_rules(spark)

    # -- hypertable lifecycle (src/hypertable.c:1444 create_hypertable) ----
    def create_hypertable(self, name, time_column, **kw):
        from .hypertable import Hypertable

        return Hypertable.create(self, name, time_column, **kw)

    def get_hypertable(self, name):
        from .hypertable import Hypertable

        return Hypertable.get(self, name)

    # -- plain (non-hypertable) tables --------------------------------------
    def create_table(self, name: str, df, mode: str = "error"):
        """Register a regular table (the analog of a plain PG table living
        beside hypertables) — e.g. a dimension table a cagg joins to.
        Stored as parquet under the engine root so refreshes can reload it
        by name."""
        path = os.path.join(self.catalog_root, "tables", name)
        existing = self.catalog.plain_table.find_one(name=name)
        # a schema-only declared table (CREATE TABLE, path=None) is a
        # valid load target, not a conflict
        if existing and existing.get("path") is not None and mode == "error":
            raise ValueError(f"table {name!r} already exists")
        storage.writer(df, "append" if mode == "append" else "overwrite").parquet(path)
        if not existing:
            self.catalog.plain_table.append([{"name": name, "path": path}])
        elif existing.get("path") != path:
            # declared table gains its data path — read_table would
            # otherwise keep serving the empty schema-only frame forever
            self.catalog.plain_table.update({"name": name}, {"path": path})
        return path

    def read_table(self, name: str):
        return self.spark.sql(self.table_sql(name))

    def table_sql(self, name: str) -> str:
        """A registered regular table as a SELECT — what a statement (or a
        cagg's defining-query join) reads it with."""
        row = self.catalog.plain_table.find_one(name=name)
        if not row:
            raise KeyError(f"no table {name!r}")
        if row.get("path") is None:
            # declared via CREATE TABLE, no rows yet — schema-only
            import json as _json

            from pyspark.sql import types as T

            from .scan import q, type_sql

            schema = T.StructType.fromJson(_json.loads(row["schema_ddl"]))
            cols = ", ".join(
                f"CAST(NULL AS {type_sql(f.dataType)}) AS {q(f.name)}"
                for f in schema.fields
            )
            return f"SELECT {cols} WHERE false"
        path = row["path"].replace("`", "``")
        return f"SELECT * FROM parquet.`{path}`"

    # -- continuous aggregates (tsl/src/continuous_aggs/create.c:600) ------
    def create_cagg(self, name, hypertable, **kw):
        from .caggs import ContinuousAggregate

        return ContinuousAggregate.create(self, name, hypertable, **kw)

    def get_cagg(self, name):
        from .caggs import ContinuousAggregate

        return ContinuousAggregate.get(self, name)

    # -- user-defined aggregates (CREATE AGGREGATE analog, SURVEY §2.7) ----
    def register_aggregate(self, name: str, fn, return_type: str = None):
        """``CREATE AGGREGATE`` analog (PostgreSQL lets extensions and
        users add aggregates; the toolkit itself ships as such): make a
        user-defined aggregate callable from :meth:`sql` GROUP BY
        queries (and plain ``df.agg``).

        Two forms:

        - ``register_aggregate("f", plain_fn, "double")`` — ``plain_fn``
          takes a ``pandas.Series`` (one call per group, Arrow-batched —
          never row-at-a-time) and returns a scalar; it is wrapped in a
          grouped-agg ``pandas_udf`` here.
        - ``register_aggregate("f", udf)`` — an already-decorated
          grouped-agg ``pandas_udf`` is registered as-is.

        Returns the registered UDF (usable directly in DataFrame code).
        """
        udf = fn
        if getattr(fn, "evalType", None) is None:
            if return_type is None:
                raise ValueError(
                    "return_type is required when registering a plain "
                    "callable (e.g. 'double')"
                )
            import pandas as pd
            from pyspark.sql.pandas.functions import pandas_udf

            def _agg(v):
                return fn(v)

            # type hints drive pandas_udf's eval-type inference:
            # Series -> scalar == SQL_GROUPED_AGG_PANDAS_UDF
            _agg.__annotations__ = {"v": pd.Series, "return": float}
            _agg.__name__ = name
            udf = pandas_udf(_agg, return_type)
        from pyspark.sql.pandas.functions import PandasUDFType

        if udf.evalType != PandasUDFType.GROUPED_AGG:
            raise ValueError(
                "register_aggregate needs a GROUPED_AGG pandas_udf "
                f"(Series -> scalar); got evalType={udf.evalType}"
            )
        self.spark.udf.register(name, udf)
        return udf

    # -- SQL surface (sql/*.sql hyperfunction API) --------------------------
    @cached_property
    def sql_parser(self):
        """The SparkSession's own SQL parser (one py4j proxy, reused by
        every statement's analysis in ``sqltree.py``)."""
        return self.spark._jsparkSession.sessionState().sqlParser()

    def sql(self, query: str):
        """TimescaleDB-flavored SQL over this session's tables.

        ``time_bucket``, ``first``/``last``, ``histogram``,
        ``approximate_row_count`` are macro-expanded into pure Spark-SQL
        expressions; ``time_bucket_gapfill`` + ``locf``/``interpolate``
        statements route through the gapfill operator; hypertable reads
        are chunk-pruned from the WHERE clause's time predicates. See
        ``sqlapi.py``."""
        from .sqlapi import ts_sql

        return ts_sql(self, query)

    # -- jobs & policies (src/bgw/, tsl/src/bgw_policy/) --------------------
    @property
    def jobs(self):
        from .jobs import JobRegistry

        if not hasattr(self, "_jobs"):
            self._jobs = JobRegistry(self)
        return self._jobs

    # -- restore mode + telemetry (sql/restoring.sql, src/telemetry/) -------
    def pre_restore(self) -> None:
        """``timescaledb_pre_restore()``: pause background job
        scheduling while a dump is restored into the catalog root."""
        meta = self.catalog.metadata
        if meta.find_one(key="restoring"):
            meta.update({"key": "restoring"}, {"value": True})
        else:
            meta.append([{"key": "restoring", "value": True}])

    def post_restore(self) -> None:
        """``timescaledb_post_restore()``: resume background jobs."""
        meta = self.catalog.metadata
        if meta.find_one(key="restoring"):
            meta.update({"key": "restoring"}, {"value": False})

    def get_telemetry_report(self) -> dict:
        """``get_telemetry_report()`` (src/telemetry/telemetry.c): a
        LOCAL report of installation shape — never transmitted anywhere
        (this engine has no phone-home path at all)."""
        cat = self.catalog
        hts = cat.hypertable.read()
        chunks = cat.chunk.read()
        return {
            "engine": "timescaledb_spark",
            "num_hypertables": len(hts),
            "num_chunks": len(chunks),
            "num_continuous_aggs": len(cat.continuous_agg.read()),
            "num_jobs": len(cat.bgw_job.read()),
            "compressed_chunks": sum(
                1 for c in chunks if c.get("status") == "columnstore"
            ),
            "restoring": bool(
                (cat.metadata.find_one(key="restoring") or {}).get("value")
            ),
        }
