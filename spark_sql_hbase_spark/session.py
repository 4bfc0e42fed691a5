"""Engine session — the PySpark-native analogue of the reference's
``HBaseSession`` (reference: ``HBaseSQLContext.scala:243-264``, which swaps
an HBase-backed session state into a ``SparkSession`` subclass).

Instead of subclassing ``SparkSession`` (unsupported / unnecessary in
PySpark), :class:`EngineSession` wraps one and bootstraps the catalog from
a schema registry (see :mod:`spark_sql_hbase_spark.catalog`).  Everything
else — parsing, analysis, optimization, execution — is stock Spark, exactly
as in the reference where the session state builder re-registers the stock
strategy stack (``HBaseSessionStateBuilder.scala:90-107``).
"""

from __future__ import annotations

import os
from typing import Iterable

from pyspark.sql import DataFrame, SparkSession

DEFAULT_SHUFFLE_PARTITIONS = 32


def build_spark(
    app_name: str = "spark_sql_hbase_spark",
    cpus: int | None = None,
    shuffle_partitions: int | None = None,
    warehouse_dir: str | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    """Build a SparkSession tuned for this engine.

    Scale notes (these matter at 100 TB, and are the defaults a cluster
    deployment would keep):

    - AQE on: runtime partition coalescing, skew-join splitting, and
      dynamic join-strategy switching replace hand-tuned plans.
    - shuffle partitions sized to cores locally; on a real cluster AQE's
      coalescing makes the initial number far less sensitive.
    - Arrow enabled: every pandas-UDF operator transfers columnar batches,
      not pickled rows.
    - UTC session timezone: deterministic timestamp semantics (and matches
      the DuckDB oracle used by the correctness gate).
    """
    cpus = cpus or int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    shuffle_partitions = shuffle_partitions or int(
        os.environ.get("SPARK_GRAFT_SHUFFLE_PARTITIONS", str(DEFAULT_SHUFFLE_PARTITIONS))
    )
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # Static broadcast decisions use the *compressed file size*, which
        # wildly underestimates in-memory size and broadcasts fact tables
        # (a 600k-row hash relation built serially on the driver). Disable
        # the static estimator; explicit broadcast() hints still apply, and
        # AQE re-plans shuffle joins into broadcast joins from runtime-exact
        # sizes — the only estimate that survives a 100× scale-up.
        .config("spark.sql.autoBroadcastJoinThreshold", "-1")
        .config("spark.sql.adaptive.autoBroadcastJoinThreshold", "10m")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # Local mode: one JVM; measurements show oversized heaps (48g+)
        # cost 3-4× on short queries via GC behavior — 16g is the sweet
        # spot for sf≤0.1 workloads with headroom for LSH fan-outs.
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"))
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.sql.parquet.filterPushdown", "true")
        .config("spark.sql.parquet.aggregatePushdown", "true")
        # allow Python DataSources (sources/keyed_datasource.py) to receive
        # pushed filters
        .config("spark.sql.python.filterPushdown.enabled", "true")
    )
    if warehouse_dir:
        builder = builder.config("spark.sql.warehouse.dir", warehouse_dir)
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


class EngineSession:
    """Thin session wrapper: ``sql()`` passthrough + catalog bootstrap.

    Mirrors the user surface of the reference's ``HBaseSession`` +
    ``HBaseSQLClient`` REPL (``HBaseSQLClient.scala:31-99``): arbitrary SQL
    including ``SHOW DATABASES``, ``SHOW TABLES``, ``USE db``, DDL and DML
    over namespace-qualified keyed tables with ``cf:qualifier`` columns
    (backtick-quoted, per the reference's ``README.md:16-18``).

    Porting note for HBase ``Table.batch()`` users: the store's batched
    :meth:`KeyedTableStore.mutate` requires DISTINCT row keys per batch —
    HBase permits same-row ops in one batch with UNSPECIFIED ordering;
    this surface refuses that ambiguity loudly, so re-sequence same-row
    ops across successive ``mutate()`` calls when porting.
    """

    def __init__(
        self,
        spark: SparkSession | None = None,
        registry_path: str | None = None,
        warehouse_dir: str | None = None,
    ):
        self.spark = spark or build_spark()
        # imported lazily to avoid a cycle at package import time
        from spark_sql_hbase_spark.catalog import SchemaRegistry

        self.registry = SchemaRegistry.load(registry_path) if registry_path else SchemaRegistry()
        self.store = None
        self._router = None
        if warehouse_dir is not None:
            from spark_sql_hbase_spark.sources.keyed_parquet import KeyedTableStore
            from spark_sql_hbase_spark.sqlfront import KeyedSqlRouter

            self.store = KeyedTableStore(self.spark, warehouse_dir, self.registry)
            self.store.bootstrap_views()
            self._router = KeyedSqlRouter(self.store)

    # -- reference surface ------------------------------------------------
    def sql(self, statement: str) -> DataFrame:
        """Dispatch a SQL statement (reference: ``HBaseSQLClient.scala:98``).

        With a keyed warehouse attached, INSERT / CREATE TABLE ... USING
        keyed / DROP TABLE over registered keyed tables route through the
        store (row-key generation + key-sorted bulk write); everything else
        is stock Spark SQL (see :mod:`spark_sql_hbase_spark.sqlfront`).
        """
        if self._router is not None:
            return self._router.sql(statement)
        return self.spark.sql(statement)

    def use(self, database: str) -> None:
        self.spark.catalog.setCurrentDatabase(database)

    def databases(self) -> list[str]:
        return [d.name for d in self.spark.catalog.listDatabases()]

    def tables(self, database: str | None = None) -> list[str]:
        return [t.name for t in self.spark.catalog.listTables(database)]

    def refresh_table(self, name: str) -> None:
        """Invalidate cached metadata (reference: ``InsertIntoHBaseTable.scala:110``)."""
        self.spark.catalog.refreshTable(name)

    def stop(self) -> None:
        self.spark.stop()

    # -- convenience ------------------------------------------------------
    def read_parquet_tables(self, sf_dir: str, names: Iterable[str]) -> dict[str, DataFrame]:
        """Load driver test tables and register them as temp views."""
        out = {}
        for name in names:
            df = self.spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))
            df.createOrReplaceTempView(name)
            out[name] = df
        return out


def enable_runtime_bloom_filters(
    spark: SparkSession,
    application_side_scan_threshold: str = "0",
    creation_side_threshold: str = "100MB",
) -> dict[str, str | None]:
    """Turn on Spark's runtime bloom-filter join pruning and lower its
    size gates so it fires at local test scale.

    At 100 TB this is the semi-join reduction that matters for
    fact ⋈ filtered-dim shuffle joins: the optimizer builds a bloom
    filter over the FILTERED creation side's join keys and injects a
    ``might_contain`` predicate into the probe side's scan, so rows that
    cannot match never enter the shuffle.  Spark's defaults only inject
    when the probe side scans >10 GB — correct on a cluster, never true
    locally, hence this helper for tests/demos
    (``test_plans.py::test_runtime_bloom_filter_prunes_probe_side``).

    Returns the previous values so callers can restore them.
    """
    conf = {
        "spark.sql.optimizer.runtime.bloomFilter.enabled": "true",
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold":
            application_side_scan_threshold,
        "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold":
            creation_side_threshold,
    }
    old: dict[str, str | None] = {}
    for k, v in conf.items():
        try:
            old[k] = spark.conf.get(k)
        except Exception:
            old[k] = None
        spark.conf.set(k, v)
    return old
