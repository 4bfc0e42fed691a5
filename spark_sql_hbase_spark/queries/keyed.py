"""Keyed-table store queries for the driver correctness gate.

The store's reference-parity behaviors (scan + pushdown + pruning, insert
with row-key generation, CTAS, compaction — SURVEY §2.A A1-A10) are
covered in depth by ``tests/test_keyed_store.py`` against the reference's
own fixture law; these queries additionally exercise the store END TO END
inside the driver's DuckDB-checked gate, by round-tripping driver tables
through a keyed warehouse and querying them back.

Each query materializes into a private temp warehouse per invocation, so
runs are deterministic and side-effect-free.
"""

from __future__ import annotations

import os
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from spark_sql_hbase_spark.queries import (
    assert_multiset_equal,
    register,
    table,
)


def _store(spark: SparkSession):
    from spark_sql_hbase_spark.sources.keyed_parquet import KeyedTableStore

    return KeyedTableStore(spark, tempfile.mkdtemp(prefix="keyed_wh_"))


def _session(spark: SparkSession):
    from spark_sql_hbase_spark.session import EngineSession

    return EngineSession(spark=spark, warehouse_dir=tempfile.mkdtemp(prefix="keyed_wh_"))


# ---------------------------------------------------------------------------
# k01 — CTAS a driver table into a key-sorted keyed table, read it back
# through the store with a key-range + value predicate (A1/A4/A7).
# ---------------------------------------------------------------------------
@register(
    "zd31_keyed_ctas_scan",
    oracle="""
    SELECT lpad(CAST(o_orderkey AS VARCHAR), 10, '0') AS row_key,
           o_orderstatus AS "o:status",
           o_totalprice AS "o:totalprice"
    FROM orders
    WHERE o_orderkey BETWEEN 1000 AND 2000 AND o_totalprice > 150000
    """,
    description="CTAS into keyed store (range-partitioned, key-sorted) + "
    "row-key range scan with value pushdown",
)
def zd31_keyed_ctas_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    from spark_sql_hbase_spark.catalog import TableSpec

    store = _store(spark)
    o = table(spark, sf_dir, "orders").select(
        F.lpad(F.col("o_orderkey").cast("string"), 10, "0").alias("row_key"),
        F.col("o_orderstatus").alias("o:status"),
        F.col("o_totalprice").alias("o:totalprice"),
    )
    spec = TableSpec(
        namespace="gate",
        name="orders_k",
        key_type="string",
        families={"o": {"status": "string", "totalprice": "double"}},
        split_keys=["0000005000", "0000010000"],
    )
    store.ctas(spec, o, mode="overwrite")
    # key-range fast path (sorted-parquet min/max pruning) + value filter
    return store.read("gate.orders_k").filter(
        (F.col("row_key") >= F.lpad(F.lit("1000"), 10, "0"))
        & (F.col("row_key") <= F.lpad(F.lit("2000"), 10, "0"))
        & (F.col("o:totalprice") > 150000)
    )


# ---------------------------------------------------------------------------
# k02 — two inserts + compaction, aggregate readback (A5/A10).
# ---------------------------------------------------------------------------
@register(
    "zd32_keyed_insert_compact",
    oracle="""
    SELECT n_nationkey, count(*) AS n_customers,
           CAST(ROUND(SUM(CAST(c_acctbal AS DECIMAL(38,6))), 2) AS DOUBLE) AS sum_bal
    FROM customer JOIN nation ON c_nationkey = n_nationkey
    GROUP BY n_nationkey
    """,
    description="keyed-store double insert + major compaction + join-agg readback",
)
def zd32_keyed_insert_compact(spark: SparkSession, sf_dir: str) -> DataFrame:
    from spark_sql_hbase_spark.catalog import TableSpec
    from spark_sql_hbase_spark.functions.det import dsum

    store = _store(spark)
    cu = table(spark, sf_dir, "customer").select(
        F.lpad(F.col("c_custkey").cast("string"), 10, "0").alias("row_key"),
        F.col("c_nationkey").alias("c:nationkey"),
        F.col("c_acctbal").alias("c:acctbal"),
    )
    spec = TableSpec(
        namespace="gate",
        name="cust_k",
        key_type="string",
        families={"c": {"nationkey": "long", "acctbal": "double"}},
    )
    store.create_table(spec, ignore_if_exists=True)
    half = F.col("row_key") < F.lpad(F.lit("750"), 10, "0")
    store.insert("gate.cust_k", cu.filter(half), generate_row_key=False)
    store.insert("gate.cust_k", cu.filter(~half), generate_row_key=False)
    store.compact("gate.cust_k", n_regions=4)
    n = table(spark, sf_dir, "nation")
    k = store.read("gate.cust_k")
    return (
        k.join(F.broadcast(n), k["c:nationkey"] == n.n_nationkey)
        .groupBy("n_nationkey")
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            dsum("`c:acctbal`", "sum_bal"),
        )
    )


# ---------------------------------------------------------------------------
# k03 — the reference README's SQL demo flow, verbatim statement shapes
# (README.md:41-66): CREATE TABLE ... USING keyed, USE ns, INSERT INTO ...
# VALUES (the declared sequence generator OVERRIDES the user-supplied key,
# per the README's own note), INSERT INTO ... SELECT, dot-free readback.
# Routed by sqlfront.KeyedSqlRouter — the rebuild of the reference's
# InsertIntoHBaseTable strategy (HBaseStrategies.scala:243-260).
# ---------------------------------------------------------------------------
@register(
    "zd33_sql_insert_readback",
    oracle="""
    SELECT '0001' AS row_key, 'TestSql' AS "cf:name"
    UNION ALL SELECT '0002', 'TestSql'
    UNION ALL SELECT '0003', 'TestSql'
    UNION ALL
    SELECT printf('%04d', 3 + row_number() OVER (ORDER BY n_name)) AS row_key,
           n_name AS "cf:name"
    FROM nation
    """,
    description="SQL INSERT INTO keyed table: VALUES x3 (generator overrides "
    "supplied keys) + INSERT..SELECT, SQL readback",
)
def zd33_sql_insert_readback(spark: SparkSession, sf_dir: str) -> DataFrame:
    sess = _session(spark)
    prev_db = spark.catalog.currentDatabase()
    try:
        sess.sql(
            "CREATE TABLE pw.test_insert (row_key string, `cf:name` string) "
            "USING keyed OPTIONS (generator='sequence')"
        )
        sess.sql("use pw")
        for _ in range(3):
            sess.sql("insert into test_insert values('0000', 'TestSql')")
        table(spark, sf_dir, "nation").createOrReplaceTempView("__k03_nation")
        sess.sql("insert into test_insert select n_name from __k03_nation order by n_name")
        return sess.sql("select * from test_insert")
    finally:
        spark.catalog.setCurrentDatabase(prev_db)


# ---------------------------------------------------------------------------
# k04 — namespace-qualified SQL names + SQL CTAS (README.md:12-18, 49:
# `select * from pw.test where `A:A_00` like "%24%"`): keyed tables live in
# per-namespace session-catalog databases, so plain spark.sql resolves
# `pw.test` dot-qualified with cf:qualifier columns backtick-quoted, and
# the LIKE predicate pushes into the scan. CTAS rebuild of
# CreateHBaseTableAsSelectCommand.scala:18-88.
# ---------------------------------------------------------------------------
@register(
    "zf02_namespace_ctas_select",
    oracle="""
    SELECT lpad(CAST(c_custkey AS VARCHAR), 10, '0') AS row_key,
           c_name AS "A:A_00"
    FROM customer
    WHERE c_name LIKE '%24%'
    """,
    description="SQL CTAS into namespace + CACHE TABLE + dot-qualified "
    "SELECT with LIKE over a cf:qualifier column",
)
def zf02_namespace_ctas_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    sess = _session(spark)
    table(spark, sf_dir, "customer").createOrReplaceTempView("__k04_customer")
    sess.sql(
        "CREATE TABLE pw.test USING keyed AS "
        "SELECT lpad(CAST(c_custkey AS STRING), 10, '0') AS row_key, "
        "       c_name AS `A:A_00` "
        "FROM __k04_customer"
    )
    # caching surface (SURVEY §2.B): CACHE TABLE over the namespace-
    # qualified keyed table; the readback below plans against the
    # InMemoryRelation (cache stays hot for the session; a re-register
    # of the table name drops it)
    sess.sql("CACHE TABLE pw.test")
    return sess.sql(
        "select row_key, `A:A_00` from pw.test where `A:A_00` like '%24%'"
    )


# ---------------------------------------------------------------------------
# k05 — SQL schema evolution over a keyed table (reference
# HBaseExternalCatalog.scala:69 alterTable / :72 alterTableDataSchema):
# CREATE ... USING keyed, INSERT, ALTER TABLE ADD COLUMNS (metadata-only —
# existing parquet files are NOT rewritten; the widened scan reads the new
# qualifier back as NULL), INSERT into the widened schema, readback.
# ---------------------------------------------------------------------------
@register(
    "zd35_sql_alter_add_columns",
    oracle="""
    SELECT printf('%04d', row_number() OVER (ORDER BY n_name)) AS row_key,
           n_name AS "cf:name",
           CAST(NULL AS BIGINT) AS "cf:region"
    FROM nation
    UNION ALL
    SELECT printf('%04d', (SELECT COUNT(*) FROM nation)
                          + row_number() OVER (ORDER BY n_name)),
           n_name,
           CAST(n_regionkey AS BIGINT)
    FROM nation
    """,
    description="ALTER TABLE ADD COLUMNS schema evolution: pre-ALTER rows "
    "read the new qualifier as NULL (no data rewrite), post-ALTER INSERT "
    "fills it",
)
def zd35_sql_alter_add_columns(spark: SparkSession, sf_dir: str) -> DataFrame:
    sess = _session(spark)
    table(spark, sf_dir, "nation").createOrReplaceTempView("__k05_nation")
    sess.sql(
        "CREATE TABLE pw.evolve (row_key string, `cf:name` string) "
        "USING keyed OPTIONS (generator='sequence')"
    )
    sess.sql("insert into pw.evolve select n_name from __k05_nation order by n_name")
    sess.sql("ALTER TABLE pw.evolve ADD COLUMNS (`cf:region` bigint)")
    sess.sql(
        "insert into pw.evolve (`cf:name`, `cf:region`) "
        "select n_name, CAST(n_regionkey AS BIGINT) from __k05_nation order by n_name"
    )
    return sess.sql("select row_key, `cf:name`, `cf:region` from pw.evolve")


# ---------------------------------------------------------------------------
# k06 (was z81) — Phoenix-style covered secondary index (round-5 addition;
# sources/keyed_parquet.py::create_covered_index): value-column access
# on a keyed table via a second keyed table whose row key is
# lpad(value)|primary_key carrying the covered columns — the query is an
# index-only RANGE scan (A4 fast path), the main table untouched.
# Oracle: the plain value predicate over the source relation.
# ---------------------------------------------------------------------------
@register(
    "zf03_secondary_index",
    oracle="""
    SELECT CAST(c_custkey AS BIGINT) AS custkey,
           c_name AS name,
           c_acctbal AS acctbal
    FROM customer
    WHERE c_nationkey = 5
    """,
    description="covered secondary index: value-predicate query served "
    "by an index-only key-range scan, main table untouched",
)
def zf03_secondary_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    from spark_sql_hbase_spark.catalog import TableSpec

    store = _store(spark)
    c = table(spark, sf_dir, "customer").select(
        F.lpad(F.col("c_custkey").cast("string"), 10, "0").alias("row_key"),
        F.col("c_name").alias("c:name"),
        F.col("c_nationkey").alias("c:nationkey"),
        F.col("c_acctbal").alias("c:acctbal"),
    )
    spec = TableSpec(
        namespace="gate",
        name="cust_k",
        key_type="string",
        families={
            "c": {"name": "string", "nationkey": "long", "acctbal": "double"}
        },
    )
    store.ctas(spec, c, mode="overwrite")
    store.create_covered_index(
        "gate.cust_k",
        "gate.cust_by_nation",
        index_col="c:nationkey",
        include=["c:name", "c:acctbal"],
        key_width=5,
        mode="overwrite",
    )
    idx = store.read("gate.cust_by_nation")
    # index-only range scan: every nation-5 row sits in the contiguous
    # '00005|' key range — the sorted layout prunes everything else
    return idx.filter(
        (F.col("row_key") >= "00005|") & (F.col("row_key") < "00005}")
    ).select(
        F.col("`i:src_key`").cast("long").alias("custkey"),
        F.col("`c:name`").alias("name"),
        F.col("`c:acctbal`").alias("acctbal"),
    )


# ---------------------------------------------------------------------------
# k07 (was z82) — versioned cells + as-of read (round-5 addition;
# sources/keyed_parquet.py::read_versions_asof): the append-only keyed
# layout gives HBase timestamp semantics for free — two insert batches
# stamp versions 1 and 2 (batch 2 "updates" every 7th customer's
# balance), and the as-of read returns the latest version per key at
# the cut.  Oracle: the same two-batch construction as plain SQL.
# ---------------------------------------------------------------------------
@register(
    "zf04_versioned_asof_read",
    oracle="""
    SELECT lpad(CAST(c_custkey AS VARCHAR), 10, '0') AS row_key,
           CASE WHEN c_custkey % 7 = 0 THEN c_acctbal + 100.0
                ELSE c_acctbal END AS acctbal,
           CASE WHEN c_custkey % 7 = 0 THEN CAST(2 AS BIGINT)
                ELSE CAST(1 AS BIGINT) END AS v
    FROM customer
    """,
    description="versioned keyed cells: append-only inserts stamp "
    "versions, as-of read returns latest-per-key at the cut",
)
def zf04_versioned_asof_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    from spark_sql_hbase_spark.catalog import TableSpec

    store = _store(spark)
    c = table(spark, sf_dir, "customer")
    spec = TableSpec(
        namespace="gate",
        name="cust_v",
        key_type="string",
        families={"c": {"acctbal": "double", "v": "long"}},
    )
    base = c.select(
        F.lpad(F.col("c_custkey").cast("string"), 10, "0").alias("row_key"),
        F.col("c_acctbal").alias("c:acctbal"),
        F.lit(1).cast("long").alias("c:v"),
    )
    store.ctas(spec, base, mode="overwrite")
    updates = c.filter(F.col("c_custkey") % 7 == 0).select(
        F.lpad(F.col("c_custkey").cast("string"), 10, "0").alias("row_key"),
        (F.col("c_acctbal") + 100.0).alias("c:acctbal"),
        F.lit(2).cast("long").alias("c:v"),
    )
    store.insert("gate.cust_v", updates)
    return store.read_versions_asof("gate.cust_v", "c:v", 2).select(
        "row_key",
        F.col("`c:acctbal`").alias("acctbal"),
        F.col("`c:v`").alias("v"),
    )


# ---------------------------------------------------------------------------
# k08 (was z83) — salted row keys + fan-out range scan (round-5 addition;
# sources/keyed_parquet.py::salted_key / read_salted_key_range — the
# HBase hot-spotting fix, Phoenix SALT_BUCKETS): monotonically
# increasing order keys are salted into 8 buckets at write time so
# ingest spreads across regions; the logical key range fans out to 8
# physical ranges in one OR-of-ranges predicate.  Oracle: the plain
# range predicate over the source relation.
# ---------------------------------------------------------------------------
_SALT_B = 8


@register(
    "zf05_salted_key_range",
    oracle="""
    SELECT lpad(CAST(o_orderkey AS VARCHAR), 10, '0') AS row_key,
           o_totalprice AS totalprice
    FROM orders
    WHERE o_orderkey BETWEEN 1000 AND 2000
    """,
    description="salted row keys: hash-prefix buckets kill ingest "
    "hot-spotting; range scan fans out to B salted ranges",
)
def zf05_salted_key_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    from spark_sql_hbase_spark.catalog import TableSpec
    from spark_sql_hbase_spark.sources.keyed_parquet import KeyedTableStore

    store = _store(spark)
    o = table(spark, sf_dir, "orders")
    key = F.lpad(F.col("o_orderkey").cast("string"), 10, "0")
    spec = TableSpec(
        namespace="gate",
        name="orders_salted",
        key_type="string",
        families={"o": {"totalprice": "double"}},
        split_keys=[f"{b:02d}|" for b in range(1, _SALT_B)],
    )
    store.ctas(
        spec,
        o.select(
            KeyedTableStore.salted_key(key, _SALT_B).alias("row_key"),
            F.col("o_totalprice").alias("o:totalprice"),
        ),
        mode="overwrite",
    )
    return store.read_salted_key_range(
        "gate.orders_salted", _SALT_B, "0000001000", "0000002000"
    ).select("row_key", F.col("`o:totalprice`").alias("totalprice"))


# ---------------------------------------------------------------------------
# k09 (was z84) — version-GC compaction (round-5 addition; sources/keyed_parquet.py
# ::compact_versions): after the z82 two-batch construction, a major
# compaction with VERSIONS=1 semantics physically drops superseded
# cells; the PLAIN read then equals what the as-of read computed —
# compaction is semantically invisible (same oracle as z82 by design).
# ---------------------------------------------------------------------------
@register(
    "zf06_version_gc_compaction",
    oracle="""
    SELECT lpad(CAST(c_custkey AS VARCHAR), 10, '0') AS row_key,
           CASE WHEN c_custkey % 7 = 0 THEN c_acctbal + 100.0
                ELSE c_acctbal END AS acctbal,
           CASE WHEN c_custkey % 7 = 0 THEN CAST(2 AS BIGINT)
                ELSE CAST(1 AS BIGINT) END AS v
    FROM customer
    """,
    description="version-GC major compaction: superseded cells physically "
    "dropped, plain read == pre-compaction as-of read",
)
def zf06_version_gc_compaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    from spark_sql_hbase_spark.catalog import TableSpec

    store = _store(spark)
    c = table(spark, sf_dir, "customer")
    spec = TableSpec(
        namespace="gate",
        name="cust_gc",
        key_type="string",
        families={"c": {"acctbal": "double", "v": "long"}},
    )
    base = c.select(
        F.lpad(F.col("c_custkey").cast("string"), 10, "0").alias("row_key"),
        F.col("c_acctbal").alias("c:acctbal"),
        F.lit(1).cast("long").alias("c:v"),
    )
    store.ctas(spec, base, mode="overwrite")
    updates = c.filter(F.col("c_custkey") % 7 == 0).select(
        F.lpad(F.col("c_custkey").cast("string"), 10, "0").alias("row_key"),
        (F.col("c_acctbal") + 100.0).alias("c:acctbal"),
        F.lit(2).cast("long").alias("c:v"),
    )
    store.insert("gate.cust_gc", updates)
    store.compact_versions("gate.cust_gc", "c:v")
    return store.read("gate.cust_gc").select(
        "row_key",
        F.col("`c:acctbal`").alias("acctbal"),
        F.col("`c:v`").alias("v"),
    )


# ---------------------------------------------------------------------------
# k12 (was z95) — SQL MERGE INTO upsert (round-5 addition; sources/keyed_parquet.py
# ::upsert + sqlfront MERGE routing): the Put-overwrites-the-cell write
# primitive as SQL — MERGE INTO keyed table USING a view ON row_key,
# UPDATE SET * / INSERT *.  Every 5th customer's balance doubled via the
# merge; the oracle replays the same upsert as a CASE.
# ---------------------------------------------------------------------------
@register(
    "zf09_sql_merge_upsert",
    oracle="""
    SELECT lpad(CAST(c_custkey AS VARCHAR), 10, '0') AS row_key,
           CASE WHEN c_custkey % 5 = 0 THEN c_acctbal * 2.0
                ELSE c_acctbal END AS acctbal
    FROM customer
    """,
    description="SQL MERGE INTO over a keyed table: row-key upsert, "
    "matched rows replaced, new rows appended",
)
def zf09_sql_merge_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    from spark_sql_hbase_spark.catalog import TableSpec

    sess = _session(spark)
    store = sess.store
    c = table(spark, sf_dir, "customer")
    spec = TableSpec(
        namespace="gate",
        name="cust_m",
        key_type="string",
        families={"c": {"acctbal": "double"}},
    )
    store.ctas(
        spec,
        c.select(
            F.lpad(F.col("c_custkey").cast("string"), 10, "0").alias("row_key"),
            F.col("c_acctbal").alias("c:acctbal"),
        ),
        mode="overwrite",
    )
    c.filter(F.col("c_custkey") % 5 == 0).select(
        F.lpad(F.col("c_custkey").cast("string"), 10, "0").alias("row_key"),
        (F.col("c_acctbal") * 2.0).alias("c:acctbal"),
    ).createOrReplaceTempView("__z95_updates")
    sess.sql(
        "MERGE INTO gate.cust_m USING __z95_updates ON row_key "
        "WHEN MATCHED THEN UPDATE SET * "
        "WHEN NOT MATCHED THEN INSERT *"
    )
    return store.read("gate.cust_m").select(
        "row_key", F.col("`c:acctbal`").alias("acctbal")
    )


# ---------------------------------------------------------------------------
# k13 (was z96) — SQL DELETE + UPDATE over a keyed table (round-5 addition;
# sources/keyed_parquet.py::delete_where/update_where + sqlfront
# routing): the remaining DML triangle — DELETE removes low-balance
# customers, UPDATE doubles balances in one nation, both as single
# key-sorted rewrites (the HBase Delete-mutation / checked-Put batch
# analogue).  Oracle replays both mutations as a filtered CASE.
# ---------------------------------------------------------------------------
@register(
    "zf10_sql_delete_update",
    oracle="""
    SELECT lpad(CAST(c_custkey AS VARCHAR), 10, '0') AS row_key,
           CASE WHEN c_nationkey = 3 THEN c_acctbal * 2.0
                ELSE c_acctbal END AS acctbal,
           c_nationkey AS nationkey
    FROM customer
    WHERE c_acctbal >= 0
    """,
    description="SQL DELETE + UPDATE over a keyed table: filtered "
    "key-sorted rewrites (Delete mutation / checked Put analogue)",
)
def zf10_sql_delete_update(spark: SparkSession, sf_dir: str) -> DataFrame:
    from spark_sql_hbase_spark.catalog import TableSpec

    sess = _session(spark)
    store = sess.store
    c = table(spark, sf_dir, "customer")
    spec = TableSpec(
        namespace="gate",
        name="cust_d",
        key_type="string",
        families={"c": {"acctbal": "double", "nationkey": "long"}},
    )
    store.ctas(
        spec,
        c.select(
            F.lpad(F.col("c_custkey").cast("string"), 10, "0").alias("row_key"),
            F.col("c_acctbal").alias("c:acctbal"),
            F.col("c_nationkey").alias("c:nationkey"),
        ),
        mode="overwrite",
    )
    sess.sql("DELETE FROM gate.cust_d WHERE `c:acctbal` < 0")
    sess.sql(
        "UPDATE gate.cust_d SET `c:acctbal` = `c:acctbal` * 2.0 "
        "WHERE `c:nationkey` = 3"
    )
    return store.read("gate.cust_d").select(
        "row_key",
        F.col("`c:acctbal`").alias("acctbal"),
        F.col("`c:nationkey`").alias("nationkey"),
    )


# ---------------------------------------------------------------------------
# k14 — batch-DML covered-index maintenance (round-6 addition;
# sources/keyed_parquet.py::_maintain_indexes): MERGE and DELETE on a
# table with a registered covered index rebuild the index in the same
# call (Phoenix index-maintenance semantics; reference analogue: the
# insert path refreshing dependent metadata after write,
# InsertIntoHBaseTable.scala:110).  The gate PROVES freshness by
# answering the value-predicate query from the INDEX ONLY after both
# mutations; the oracle replays the mutations over the source relation.
# ---------------------------------------------------------------------------
@register(
    "zf11_dml_index_maintenance",
    oracle="""
    SELECT CAST(c_custkey AS BIGINT) AS custkey,
           CASE WHEN c_custkey % 5 = 0 THEN c_acctbal * 2.0
                ELSE c_acctbal END AS acctbal
    FROM customer
    WHERE c_nationkey = 5 AND c_acctbal >= 0
    """,
    description="covered index stays fresh through batch MERGE + DELETE: "
    "index-only read reflects both mutations",
)
def zf11_dml_index_maintenance(spark: SparkSession, sf_dir: str) -> DataFrame:
    from spark_sql_hbase_spark.catalog import TableSpec

    sess = _session(spark)
    store = sess.store
    c = table(spark, sf_dir, "customer")
    spec = TableSpec(
        namespace="gate",
        name="cust_im",
        key_type="string",
        families={
            "c": {"nationkey": "long", "acctbal": "double"}
        },
    )
    store.ctas(
        spec,
        c.select(
            F.lpad(F.col("c_custkey").cast("string"), 10, "0").alias("row_key"),
            F.col("c_nationkey").alias("c:nationkey"),
            F.col("c_acctbal").alias("c:acctbal"),
        ),
        mode="overwrite",
    )
    sess.sql(
        "CREATE INDEX gate.cust_im_by_nation ON gate.cust_im (`c:nationkey`) "
        "INCLUDE (`c:acctbal`) OPTIONS (key_width='5')"
    )
    # MERGE: every 5th customer's balance doubled (matched update)
    c.filter(F.col("c_custkey") % 5 == 0).select(
        F.lpad(F.col("c_custkey").cast("string"), 10, "0").alias("row_key"),
        F.col("c_nationkey").alias("c:nationkey"),
        (F.col("c_acctbal") * 2.0).alias("c:acctbal"),
    ).createOrReplaceTempView("__k14_updates")
    sess.sql(
        "MERGE INTO gate.cust_im USING __k14_updates ON row_key "
        "WHEN MATCHED THEN UPDATE SET * "
        "WHEN NOT MATCHED THEN INSERT *"
    )
    # DELETE: negative balances go
    sess.sql("DELETE FROM gate.cust_im WHERE `c:acctbal` < 0")
    # freshness proof: answer from the index alone (key-range scan on
    # the lpad(value)|key layout), never touching the main table
    idx = store.read("gate.cust_im_by_nation")
    return idx.filter(
        (F.col("row_key") >= "00005|") & (F.col("row_key") < "00005}")
    ).select(
        F.col("`i:src_key`").cast("long").alias("custkey"),
        F.col("`c:acctbal`").alias("acctbal"),
    )


# ---------------------------------------------------------------------------
# k10 (was za03) — Z-order (Morton) keyed layout + 2-D box scan (round-5 addition;
# sources/keyed_parquet.py::morton_key): parts keyed by the interleave
# of (p_size, price-in-dollars-bucket); a 2-D box query runs as ONE
# key-range scan (sound superset — the code is monotone per coordinate)
# + the residual exact predicate.  Oracle: the plain 2-D predicate.
# ---------------------------------------------------------------------------
@register(
    "zf07_zorder_box_scan",
    oracle="""
    SELECT CAST(p_partkey AS BIGINT) AS partkey,
           CAST(p_size AS BIGINT) AS size,
           p_retailprice AS price
    FROM part
    WHERE p_size BETWEEN 10 AND 20
      AND CAST(floor(p_retailprice / 10) AS BIGINT) BETWEEN 90 AND 93
    """,
    description="Z-order keyed layout: 2-D box query as one key-range "
    "scan + residual filter (Morton monotonicity)",
)
def zf07_zorder_box_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    from spark_sql_hbase_spark.catalog import TableSpec
    from spark_sql_hbase_spark.sources.keyed_parquet import KeyedTableStore

    store = _store(spark)
    p = table(spark, sf_dir, "part").select(
        F.col("p_partkey"),
        F.col("p_size").cast("long").alias("size"),
        F.floor(F.col("p_retailprice") / 10).cast("long").alias("pb"),
        F.col("p_retailprice").alias("price"),
    )
    store.morton_domain_guard(p, F.col("size"), F.col("pb"))
    mk = KeyedTableStore.morton_key(F.col("size"), F.col("pb"))
    spec = TableSpec(
        namespace="gate",
        name="part_z",
        key_type="string",
        families={
            "p": {"partkey": "long", "size": "long", "pb": "long",
                  "price": "double"}
        },
    )
    store.ctas(
        spec,
        p.select(
            F.concat(
                F.lpad(mk.cast("string"), 6, "0"),
                F.lit("|"),
                F.lpad(F.col("p_partkey").cast("string"), 10, "0"),
            ).alias("row_key"),
            F.col("p_partkey").alias("p:partkey"),
            F.col("size").alias("p:size"),
            F.col("pb").alias("p:pb"),
            F.col("price").alias("p:price"),
        ),
        mode="overwrite",
    )
    lo = KeyedTableStore.morton_value(10, 90)
    hi = KeyedTableStore.morton_value(20, 93)
    scan = store.read("gate.part_z").filter(
        (F.col("row_key") >= f"{lo:06d}|")
        & (F.col("row_key") <= f"{hi:06d}|~")
    )
    return scan.filter(
        F.col("`p:size`").between(10, 20) & F.col("`p:pb`").between(90, 93)
    ).select(
        F.col("`p:partkey`").alias("partkey"),
        F.col("`p:size`").alias("size"),
        F.col("`p:price`").alias("price"),
    )


# ---------------------------------------------------------------------------
# k11 (was za04) — region stats from parquet footers (round-5 addition;
# sources/keyed_parquet.py::region_stats — the list_regions admin
# surface): per-region key ranges + row counts computed from FOOTER
# statistics only (never a data scan — O(files) metadata reads, the
# same stats the range-pruning planner uses).  Oracle: the identical
# relation recomputed FROM THE DATA by assigning rows to regions via
# the split keys — footers must agree with ground truth exactly.
# ---------------------------------------------------------------------------
@register(
    "zf08_region_stats",
    oracle="""
    SELECT 3 AS n_regions,
           CAST(COUNT(*) AS BIGINT) AS total_rows,
           MIN(lpad(CAST(o_orderkey AS VARCHAR), 10, '0')) AS min_key,
           MAX(lpad(CAST(o_orderkey AS VARCHAR), 10, '0')) AS max_key
    FROM orders
    """,
    description="region stats from parquet footers only (list_regions "
    "analogue): footer-derived totals == ground truth; per-region "
    "exactness pinned in pytest",
)
def zf08_region_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from spark_sql_hbase_spark.catalog import TableSpec

    store = _store(spark)
    o = table(spark, sf_dir, "orders").select(
        F.lpad(F.col("o_orderkey").cast("string"), 10, "0").alias("row_key"),
        F.col("o_totalprice").alias("o:totalprice"),
    )
    spec = TableSpec(
        namespace="gate",
        name="orders_r",
        key_type="string",
        families={"o": {"totalprice": "double"}},
    )
    store.ctas(spec, o, mode="overwrite")
    store.compact("gate.orders_r", n_regions=3)
    # region boundaries are data-driven (repartitionByRange samples its
    # own splits), so the oracle checks the boundary-INDEPENDENT truths:
    # region count, total rows, global key range — all from footers; the
    # per-region file-level exactness is pinned by
    # test_region_stats_footers_match_data
    rs = store.region_stats("gate.orders_r")
    return rs.agg(
        F.count(F.lit(1)).cast("int").alias("n_regions"),
        F.sum("n_rows").cast("long").alias("total_rows"),
        F.min("min_key").alias("min_key"),
        F.max("max_key").alias("max_key"),
    )


# ---------------------------------------------------------------------------
# zc01 — string covered secondary index (round-6 addition;
# sources/keyed_parquet.py::create_covered_index encoding="str"): a
# VARCHAR value column indexed order-preservingly via value\x01src_key
# composite keys (the \x01 separator sorts below every admitted data
# character, so composite order == (value, src_key) order — including
# the prefix-of case a left-pad encoding gets wrong).  Point query via
# index_lookup = ONE key-prefix range scan.  Oracle: the plain string
# equality over the source relation.
# ---------------------------------------------------------------------------
@register(
    "zg01_string_secondary_index",
    oracle="""
    SELECT CAST(c_custkey AS BIGINT) AS custkey,
           c_name AS name
    FROM customer
    WHERE c_mktsegment = 'BUILDING'
    """,
    description="string covered index: \\x01-composite keys, point query "
    "as one index key-prefix range scan",
)
def zg01_string_secondary_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    from spark_sql_hbase_spark.catalog import TableSpec

    store = _store(spark)
    c = table(spark, sf_dir, "customer").select(
        F.lpad(F.col("c_custkey").cast("string"), 10, "0").alias("row_key"),
        F.col("c_name").alias("c:name"),
        F.col("c_mktsegment").alias("c:segment"),
    )
    spec = TableSpec(
        namespace="gate",
        name="cust_s",
        key_type="string",
        families={"c": {"name": "string", "segment": "string"}},
    )
    store.ctas(spec, c, mode="overwrite")
    store.create_covered_index(
        "gate.cust_s",
        "gate.cust_by_segment",
        index_col="c:segment",
        include=["c:name"],
        mode="overwrite",
    )
    return store.index_lookup("gate.cust_by_segment", "BUILDING").select(
        F.col("`i:src_key`").cast("long").alias("custkey"),
        F.col("`c:name`").alias("name"),
    )


# ---------------------------------------------------------------------------
# zc02 — fixed-point fractional covered index (round-6 addition): a
# DOUBLE value column indexed through the order-preserving fixed-point
# encoding lpad(round(value*scale)) — round is monotone, so the range
# scan over the scaled bounds is a SOUND SUPERSET and the exact
# predicate on the carried value column is the residual (the za03/k10
# Z-order law applied to a 1-D fractional domain).  Oracle: the plain
# range predicate.
# ---------------------------------------------------------------------------
_ZC02_SCALE = 100


@register(
    "zg02_fixedpoint_index",
    oracle="""
    SELECT CAST(o_orderkey AS BIGINT) AS orderkey,
           o_totalprice AS totalprice
    FROM orders
    WHERE o_totalprice BETWEEN 150000.25 AND 160000.75
    """,
    description="fixed-point covered index over a double column: scaled "
    "key-range scan + exact residual on the carried value",
)
def zg02_fixedpoint_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    from spark_sql_hbase_spark.catalog import TableSpec

    store = _store(spark)
    o = table(spark, sf_dir, "orders").select(
        F.lpad(F.col("o_orderkey").cast("string"), 10, "0").alias("row_key"),
        F.col("o_totalprice").alias("o:totalprice"),
    )
    spec = TableSpec(
        namespace="gate",
        name="orders_f",
        key_type="string",
        families={"o": {"totalprice": "double"}},
    )
    store.ctas(spec, o, mode="overwrite")
    store.create_covered_index(
        "gate.orders_f",
        "gate.orders_by_price",
        index_col="o:totalprice",
        key_width=10,
        fixed_point_scale=_ZC02_SCALE,
        mode="overwrite",
    )
    import math

    lo, hi = 150000.25, 160000.75
    # HALF_UP (floor(x+0.5)) to match the stored keys' F.round encoding
    lo_k = f"{int(math.floor(lo * _ZC02_SCALE + 0.5)):010d}|"
    hi_k = f"{int(math.floor(hi * _ZC02_SCALE + 0.5)):010d}~"
    idx = store.read("gate.orders_by_price")
    scan = idx.filter((F.col("row_key") >= lo_k) & (F.col("row_key") <= hi_k))
    return scan.filter(F.col("`o:totalprice`").between(lo, hi)).select(
        F.col("`i:src_key`").cast("long").alias("orderkey"),
        F.col("`o:totalprice`").alias("totalprice"),
    )


# ---------------------------------------------------------------------------
# zc03 — snapshot / restore_snapshot (round-6 addition;
# sources/keyed_parquet.py::snapshot/restore_snapshot — the HBase
# snapshot admin surface): zero-copy capture (hardlinks to immutable
# parquet files), destructive DML (MERGE doubling balances + DELETE),
# then an atomic-swap rollback.  The gate returns the POST-RESTORE
# table, which must equal the pre-snapshot state — so the oracle is the
# plain source projection, proving the mutations were fully undone.
# ---------------------------------------------------------------------------
@register(
    "zg03_snapshot_restore",
    oracle="""
    SELECT lpad(CAST(c_custkey AS VARCHAR), 10, '0') AS row_key,
           c_acctbal AS acctbal
    FROM customer
    """,
    description="HBase snapshot/restore parity: zero-copy capture, "
    "destructive DML, atomic-swap rollback to the snapshot",
)
def zg03_snapshot_restore(spark: SparkSession, sf_dir: str) -> DataFrame:
    from spark_sql_hbase_spark.catalog import TableSpec

    store = _store(spark)
    c = table(spark, sf_dir, "customer")
    spec = TableSpec(
        namespace="gate",
        name="cust_snap",
        key_type="string",
        families={"c": {"acctbal": "double"}},
    )
    store.ctas(
        spec,
        c.select(
            F.lpad(F.col("c_custkey").cast("string"), 10, "0").alias("row_key"),
            F.col("c_acctbal").alias("c:acctbal"),
        ),
        mode="overwrite",
    )
    store.snapshot("gate.cust_snap", "pre")
    store.upsert(
        "gate.cust_snap",
        c.filter(F.col("c_custkey") % 5 == 0).select(
            F.lpad(F.col("c_custkey").cast("string"), 10, "0").alias("row_key"),
            (F.col("c_acctbal") * 2.0).alias("c:acctbal"),
        ),
    )
    store.delete_where("gate.cust_snap", "`c:acctbal` < 0")
    store.restore_snapshot("gate.cust_snap", "pre")
    return store.read("gate.cust_snap").select(
        "row_key", F.col("`c:acctbal`").alias("acctbal")
    )


# ---------------------------------------------------------------------------
# zc08 — minor compaction (round-6 addition; sources/keyed_parquet.py::
# compact_minor — the HBase minor-compaction analogue): after a tail of
# small ingest batches, merge ONLY the small files into one key-sorted
# run, carrying large files as zero-copy hardlinks — cleanup I/O is
# O(small files), never a table rewrite.  The gate proves semantic
# invisibility: post-compaction content equals the union of all
# inserts.  (File-selectivity + same-inode zero-copy are pinned in
# pytest.)  Oracle: the union the inserts built.
# ---------------------------------------------------------------------------
@register(
    "zg04_minor_compaction",
    oracle="""
    SELECT lpad(CAST(o_orderkey AS VARCHAR), 10, '0') AS row_key,
           o_totalprice AS totalprice
    FROM orders
    WHERE o_orderkey <= 3000
    UNION ALL
    SELECT 'N' || lpad(CAST(n_nationkey AS VARCHAR), 9, '0'),
           CAST(n_nationkey AS DOUBLE)
    FROM nation
    """,
    description="minor compaction: small ingest files merged into one "
    "sorted run, content exactly preserved",
)
def zg04_minor_compaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    from spark_sql_hbase_spark.catalog import TableSpec

    store = _store(spark)
    o = table(spark, sf_dir, "orders").filter(F.col("o_orderkey") <= 3000)
    spec = TableSpec(
        namespace="gate",
        name="orders_mc",
        key_type="string",
        families={"o": {"totalprice": "double"}},
    )
    store.ctas(
        spec,
        o.select(
            F.lpad(F.col("o_orderkey").cast("string"), 10, "0").alias("row_key"),
            F.col("o_totalprice").alias("o:totalprice"),
        ),
        mode="overwrite",
    )
    # a tail of small ingest batches (one per nation slice)
    n = table(spark, sf_dir, "nation")
    for lo, hi in ((0, 8), (8, 16), (16, 25)):
        store.insert(
            "gate.orders_mc",
            n.filter(F.col("n_nationkey").between(lo, hi - 1)).select(
                F.concat(
                    F.lit("N"),
                    F.lpad(F.col("n_nationkey").cast("string"), 9, "0"),
                ).alias("row_key"),
                F.col("n_nationkey").cast("double").alias("o:totalprice"),
            ),
            generate_row_key=False,
        )
    store.compact_minor("gate.orders_mc", small_file_bytes=256 * 1024)
    return store.read("gate.orders_mc").select(
        "row_key", F.col("`o:totalprice`").alias("totalprice")
    )


# ---------------------------------------------------------------------------
# ze03 — previous-generation time travel (round-7 addition;
# sources/keyed_parquet.py::read_generation): the generation-manifest
# swap protocol retains the replaced generation for one grace swap, so
# the store can serve "the table as it was before the last rewrite" for
# free — an HBase-snapshot-like read WITHOUT having taken a snapshot.
# The gate CTAS-es a customer projection, runs a destructive DELETE
# (every even key), then reads generation="previous" — which must equal
# the ORIGINAL full projection (the oracle), proving the retired
# generation is complete and resolvable while the live table shows the
# post-DELETE state.
# ---------------------------------------------------------------------------
@register(
    "zg84_previous_generation_read",
    oracle="""
    SELECT lpad(CAST(c_custkey AS VARCHAR), 10, '0') AS row_key,
           c_acctbal AS acctbal
    FROM customer
    """,
    description="generation time travel: read the pre-rewrite table "
    "state from the retained previous generation after a DELETE",
)
def zg84_previous_generation_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    from spark_sql_hbase_spark.catalog import TableSpec

    store = _store(spark)
    c = table(spark, sf_dir, "customer")
    spec = TableSpec(
        namespace="gate",
        name="cust_tt",
        key_type="string",
        families={"c": {"acctbal": "double"}},
    )
    store.ctas(
        spec,
        c.select(
            F.lpad(F.col("c_custkey").cast("string"), 10, "0").alias("row_key"),
            F.col("c_acctbal").alias("c:acctbal"),
        ),
        mode="overwrite",
    )
    n_before = store.read("gate.cust_tt").count()
    deleted = store.delete_where(
        "gate.cust_tt", "CAST(row_key AS BIGINT) % 2 = 0"
    )
    # live table reflects the DELETE; previous generation must not
    assert store.read("gate.cust_tt").count() == n_before - deleted
    return store.read_generation("gate.cust_tt", "previous").select(
        "row_key", F.col("`c:acctbal`").alias("acctbal")
    )


# ---------------------------------------------------------------------------
# zg85 — conditional mutations end-to-end (HBase checkAndPut/checkAndDelete/
# increment/append + the batched Table.batch() analogue mutate()).  Ops
# whose checks must PASS read their expected value from the table itself
# (always-match); ops that must REFUSE expect an impossible value (-1 —
# n_regionkey is never negative) — so the final state is a deterministic
# pure function of the nation table that plain SQL reproduces.
# Reference analogue: the Table.checkAndMutate/batch client surface the
# reference's puts ride (InsertIntoHBaseTable.scala:80-97).
# ---------------------------------------------------------------------------
@register(
    "zg85_conditional_mutations",
    oracle="""
    SELECT lpad(CAST(n_nationkey AS VARCHAR), 4, '0') AS row_key,
           CASE WHEN n_nationkey = 3 THEN 'CHECKED'
                WHEN n_nationkey = 9 THEN n_name || '_x'
                WHEN n_nationkey = 17 THEN 'PUT17'
                ELSE n_name END AS name,
           CASE WHEN n_nationkey = 3 THEN 100
                WHEN n_nationkey = 7 THEN n_regionkey + 10
                WHEN n_nationkey = 17 THEN 17
                ELSE n_regionkey END AS cnt
    FROM nation
    WHERE n_nationkey NOT IN (11, 13)
    UNION ALL
    SELECT '9999' AS row_key, NULL AS name, 10 AS cnt
    """,
    description="conditional mutations: checkAndPut/checkAndDelete + "
    "batched mutate() (put/increment/append/delete) in one CAS commit, "
    "final state SQL-checked",
)
def zg85_conditional_mutations(spark: SparkSession, sf_dir: str) -> DataFrame:
    from spark_sql_hbase_spark.catalog import TableSpec

    store = _store(spark)
    n = table(spark, sf_dir, "nation")
    spec = TableSpec(
        namespace="gate",
        name="nat_mut",
        key_type="string",
        families={"n": {"name": "string", "cnt": "long"}},
    )
    store.ctas(
        spec,
        n.select(
            F.lpad(F.col("n_nationkey").cast("string"), 4, "0").alias("row_key"),
            F.col("n_name").alias("n:name"),
            F.col("n_regionkey").cast("long").alias("n:cnt"),
        ),
        mode="overwrite",
    )

    def cur_cnt(key: str):
        rows = store.get("gate.nat_mut", [key]).select("`n:cnt`").collect()
        return rows[0][0] if rows else None

    # single-op surfaces: an applying and a refusing checkAndPut
    assert store.check_and_put(
        "gate.nat_mut", "0003", "n:cnt", cur_cnt("0003"),
        {"n:name": "CHECKED", "n:cnt": 100},
    ) is True
    assert store.check_and_put(
        "gate.nat_mut", "0005", "n:cnt", -1, {"n:cnt": 999}
    ) is False

    # one batched commit: existing + absent increments, append, put,
    # delete, passing + refusing check_delete
    results = store.mutate("gate.nat_mut", [
        {"op": "increment", "key": "0007", "col": "n:cnt", "delta": 10},
        {"op": "increment", "key": "9999", "col": "n:cnt", "delta": 10},
        {"op": "append", "key": "0009", "col": "n:name", "value": "_x"},
        {"op": "put", "key": "0017", "row": {"n:name": "PUT17", "n:cnt": 17}},
        {"op": "delete", "key": "0011"},
        {"op": "check_delete", "key": "0013", "col": "n:cnt",
         "expected": cur_cnt("0013")},
        {"op": "check_delete", "key": "0015", "col": "n:cnt",
         "expected": -1},
    ])
    assert [r["applied"] for r in results] == [
        True, True, True, True, True, True, False,
    ]
    assert results[1]["value"] == 10  # absent counter starts from 0
    return store.read("gate.nat_mut").select(
        "row_key",
        F.col("`n:name`").alias("name"),
        F.col("`n:cnt`").alias("cnt"),
    )


# ---------------------------------------------------------------------------
# zg86 — declared retention (HBase VERSIONS => N / TTL attributes): a
# versioned table accumulates 1-3 versions per key; VERSIONS=>2 is
# physically enforced by compact_versions, and the TTL-filtered as-of
# read hides expired cells — keys whose ONLY version fell out of the TTL
# window disappear entirely.  The oracle reproduces the visibility rule
# (version <= asof AND version > asof - ttl, latest per key) in SQL.
# ---------------------------------------------------------------------------
@register(
    "zg86_retention_ttl_read",
    oracle="""
    SELECT row_key, bal FROM (
      SELECT lpad(CAST(c_custkey AS VARCHAR), 10, '0') AS row_key,
             CASE WHEN c_custkey % 3 = 0 THEN c_acctbal + 200
                  WHEN c_custkey % 2 = 0 THEN c_acctbal + 100
                  END AS bal
      FROM customer
    ) WHERE bal IS NOT NULL
    """,
    description="VERSIONS/TTL retention: compact_versions enforces the "
    "declared keep count, TTL as-of read hides expired versions",
)
def zg86_retention_ttl_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    from spark_sql_hbase_spark.catalog import TableSpec

    store = _store(spark)
    c = table(spark, sf_dir, "customer")
    spec = TableSpec(
        namespace="gate",
        name="cust_ttl",
        key_type="string",
        families={"c": {"bal": "double", "v": "long"}},
        properties={"VERSIONS": "2", "TTL": "6"},
    )
    store.create_table(spec)
    key = F.lpad(F.col("c_custkey").cast("string"), 10, "0").alias("row_key")
    store.insert("gate.cust_ttl", c.select(
        key, F.col("c_acctbal").alias("c:bal"), F.lit(1).alias("c:v"),
    ), generate_row_key=False)
    store.insert("gate.cust_ttl", c.filter("c_custkey % 2 = 0").select(
        key, (F.col("c_acctbal") + 100).alias("c:bal"),
        F.lit(5).alias("c:v"),
    ), generate_row_key=False)
    store.insert("gate.cust_ttl", c.filter("c_custkey % 3 = 0").select(
        key, (F.col("c_acctbal") + 200).alias("c:bal"),
        F.lit(9).alias("c:v"),
    ), generate_row_key=False)
    # physical retention: VERSIONS=>2 keeps at most 2 versions per key
    # (v=1 removed wherever 3 exist); the visibility result below is
    # unchanged — v=1 is outside the TTL window either way
    store.compact_versions("gate.cust_ttl", "c:v")
    # visibility: asof=9, TTL=6 (declared) => versions in (3, 9]
    return store.read_versions_asof("gate.cust_ttl", "c:v", 9).select(
        "row_key", F.col("`c:bal`").alias("bal")
    )


# ---------------------------------------------------------------------------
# zh06 — Bloom-probed multi-point get() (HBase Get + BLOOMFILTER => 'ROW'):
# the point-read plan consults the span manifest AND per-file Bloom
# sidecars, scanning only files that may hold one of the probed keys; the
# readback (present + absent keys) is SQL-checked.
# ---------------------------------------------------------------------------
@register(
    "zh06_bloom_point_get",
    oracle="""
    SELECT lpad(CAST(p_partkey AS VARCHAR), 10, '0') AS row_key,
           p_name AS name,
           p_retailprice AS price
    FROM part
    WHERE p_partkey IN (3, 42, 199, 998, 9999999)
    """,
    description="Bloom-probed multi-point get(): span + sidecar pruned "
    "point reads over a bloomfilter=ROW keyed table",
)
def zh06_bloom_point_get(spark: SparkSession, sf_dir: str) -> DataFrame:
    from spark_sql_hbase_spark.catalog import TableSpec

    store = _store(spark)
    p = table(spark, sf_dir, "part")
    spec = TableSpec(
        namespace="gate",
        name="part_get",
        key_type="string",
        families={"p": {"name": "string", "price": "double"}},
        properties={"BLOOMFILTER": "ROW"},
    )
    store.ctas(
        spec,
        p.select(
            F.lpad(F.col("p_partkey").cast("string"), 10, "0").alias("row_key"),
            F.col("p_name").alias("p:name"),
            F.col("p_retailprice").alias("p:price"),
        ),
        mode="overwrite",
    )
    keys = [f"{k:010d}" for k in (3, 42, 199, 998, 9999999)]
    df = store.get("gate.part_get", keys)
    path = store.table_path(store.registry.get("gate.part_get"))
    files = store._data_files(path)
    if len(files) > 2:
        # the probe must actually prune on a multi-file layout (plan
        # evidence; the soundness law lives in tests/test_bloom.py)
        assert 0 < len(df.inputFiles()) < len(files)
    return df.select(
        "row_key",
        F.col("`p:name`").alias("name"),
        F.col("`p:price`").alias("price"),
    )


# ---------------------------------------------------------------------------
# zg87 — declared region boundaries + region lifecycle (HBase pre-split
# "split" property, HBaseClientImpl.scala:331-364, + admin.split /
# admin.mergeRegions): CTAS into a pre-split table (declared keys are
# EXACT file boundaries — no file straddles one), split_region rewrites
# ONLY the straddling region's files, merge_regions is metadata-only
# (region-confined daughters already lie inside the merged keyspace),
# and an upsert after both routes by the final bounds.  The final state
# is a pure function of `part` that plain SQL reproduces; the layout
# laws (confinement, hardlink carry, typed routing) are pinned in
# tests/test_split_regions.py.
# ---------------------------------------------------------------------------
@register(
    "zg87_region_lifecycle",
    oracle="""
    SELECT lpad(CAST(p_partkey AS VARCHAR), 10, '0') AS row_key,
           p_name AS name,
           CASE WHEN p_partkey % 40 = 0 THEN p_retailprice + 1
                ELSE p_retailprice END AS price
    FROM part
    """,
    description="declared pre-split boundaries + split_region (selective "
    "daughter rewrite) + merge_regions (metadata-only) + post-op upsert",
)
def zg87_region_lifecycle(spark: SparkSession, sf_dir: str) -> DataFrame:
    from spark_sql_hbase_spark.catalog import TableSpec

    store = _store(spark)
    p = table(spark, sf_dir, "part")
    spec = TableSpec(
        namespace="gate",
        name="part_rl",
        key_type="string",
        families={"p": {"name": "string", "price": "double"}},
        split_keys=["0000000050", "0000000150"],
    )
    store.ctas(
        spec,
        p.select(
            F.lpad(F.col("p_partkey").cast("string"), 10, "0").alias("row_key"),
            F.col("p_name").alias("p:name"),
            F.col("p_retailprice").alias("p:price"),
        ),
        mode="overwrite",
    )

    def confined(bounds: list[str]) -> None:
        # layout evidence in-gate: every data file's key range lies
        # inside ONE declared region
        path = store.table_path(store.registry.get("gate.part_rl"))
        for f in store._data_files(path):
            lo, hi, n = store._file_key_range(os.path.join(path, f))
            if not n:
                continue
            r_lo = sum(1 for b in bounds if lo >= b)
            r_hi = sum(1 for b in bounds if hi >= b)
            assert r_lo == r_hi, (lo, hi, bounds)

    confined(["0000000050", "0000000150"])
    # manual split bisects the upper region; only its files rewrite
    store.split_region("gate.part_rl", "0000000100")
    assert list(store.registry.get("gate.part_rl").split_keys) == [
        "0000000050", "0000000100", "0000000150",
    ]
    confined(["0000000050", "0000000100", "0000000150"])
    # merge is metadata-only: the generation does not move
    path_before = store.table_path(store.registry.get("gate.part_rl"))
    store.merge_regions("gate.part_rl", "0000000150")
    assert store.table_path(store.registry.get("gate.part_rl")) == path_before
    assert list(store.registry.get("gate.part_rl").split_keys) == [
        "0000000050", "0000000100",
    ]
    # post-lifecycle DML routes by the FINAL bounds
    store.upsert(
        "gate.part_rl",
        p.filter("p_partkey % 40 = 0").select(
            F.lpad(F.col("p_partkey").cast("string"), 10, "0").alias("row_key"),
            F.col("p_name").alias("p:name"),
            (F.col("p_retailprice") + 1).alias("p:price"),
        ),
    )
    confined(["0000000050", "0000000100"])
    return store.read("gate.part_rl").select(
        "row_key",
        F.col("`p:name`").alias("name"),
        F.col("`p:price`").alias("price"),
    )


# ---------------------------------------------------------------------------
# zg88 — CDC changefeed (HBase replication / WAL-shipping analogue, served
# from the storage layout): one MERGE commits updates + brand-new keys in
# one generation swap; read_changes("previous") emits exactly the touched
# rows, classified — rewritten-but-unchanged neighbors stay silent, and
# the diff reads ONLY the file-listing symmetric difference (hardlink
# carries are byte-identical by the store's immutability law).  The
# change set is a pure function of `part` that plain SQL reproduces.
# ---------------------------------------------------------------------------
@register(
    "zg88_changefeed",
    oracle="""
    SELECT 'update' AS change,
           lpad(CAST(p_partkey AS VARCHAR), 10, '0') AS row_key,
           p_retailprice + 1 AS price
    FROM part WHERE p_partkey % 50 = 0
    UNION ALL
    SELECT 'insert' AS change,
           lpad(CAST(p_partkey + 1000000 AS VARCHAR), 10, '0') AS row_key,
           p_retailprice AS price
    FROM part WHERE p_partkey % 97 = 0
    """,
    description="CDC changefeed: generation-diff read_changes() after one "
    "MERGE — updates + inserts classified, unchanged rewritten rows silent",
)
def zg88_changefeed(spark: SparkSession, sf_dir: str) -> DataFrame:
    from spark_sql_hbase_spark.catalog import TableSpec

    store = _store(spark)
    p = table(spark, sf_dir, "part")
    key = F.lpad(F.col("p_partkey").cast("string"), 10, "0").alias("row_key")
    spec = TableSpec(
        namespace="gate",
        name="part_cdc",
        key_type="string",
        families={"p": {"price": "double"}},
    )
    store.ctas(
        spec,
        p.select(key, F.col("p_retailprice").alias("p:price")),
        mode="overwrite",
    )
    batch = p.filter("p_partkey % 50 = 0").select(
        key, (F.col("p_retailprice") + 1).alias("p:price")
    ).unionByName(
        p.filter("p_partkey % 97 = 0").select(
            F.lpad((F.col("p_partkey") + 1000000).cast("string"), 10, "0")
            .alias("row_key"),
            F.col("p_retailprice").alias("p:price"),
        )
    )
    store.upsert("gate.part_cdc", batch)
    return store.read_changes("gate.part_cdc", versus="previous").select(
        "change", "row_key", F.col("`p:price`").alias("price")
    )


# ---------------------------------------------------------------------------
# zg89 — REGION_MAX_BYTES auto-split policy (HBase
# ConstantSizeRegionSplitPolicy: a region outgrowing
# hbase.hregion.max.filesize splits at its midkey).  An append that
# leaves a declared region over the byte threshold triggers
# split_region at that region's MEDIAN key.  The split is pure layout:
# the table CONTENT is a function of `part` alone (the oracle), while
# the in-gate asserts pin the policy itself — the declaration GREW and
# every file stays confined to one declared region.
# ---------------------------------------------------------------------------
@register(
    "zg89_auto_split",
    oracle="""
    SELECT lpad(CAST(p_partkey AS VARCHAR), 10, '0') AS row_key,
           p_name AS name,
           p_retailprice AS price
    FROM part
    """,
    description="REGION_MAX_BYTES auto-split: hot-region append grows the "
    "declared boundaries at the region median; content invariant, layout "
    "confined",
)
def zg89_auto_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    from spark_sql_hbase_spark.catalog import TableSpec

    store = _store(spark)
    p = table(spark, sf_dir, "part")
    key = F.lpad(F.col("p_partkey").cast("string"), 10, "0").alias("row_key")
    spec = TableSpec(
        namespace="gate",
        name="part_as",
        key_type="string",
        families={"p": {"name": "string", "price": "double"}},
        split_keys=["0000000100"],
        # tiny threshold so BOTH smoke (sf0.001) and driver (sf0.01)
        # scales leave each region oversized after the append below
        properties={"REGION_MAX_BYTES": "2000"},
    )
    # seed via CTAS (overwrite: no auto-split hook), then ONE append of
    # the rest — the policy check runs after the append and splits every
    # oversized region at its median
    store.ctas(
        spec,
        p.filter("p_partkey % 10 = 0").select(
            key, F.col("p_name").alias("p:name"),
            F.col("p_retailprice").alias("p:price"),
        ),
        mode="overwrite",
    )
    before = list(store.registry.get("gate.part_as").split_keys)
    store.insert(
        "gate.part_as",
        p.filter("p_partkey % 10 != 0").select(
            key, F.col("p_name").alias("p:name"),
            F.col("p_retailprice").alias("p:price"),
        ),
    )
    after = store.registry.get("gate.part_as")
    grown = list(after.split_keys)
    assert len(grown) > len(before) and set(before) <= set(grown), (
        before, grown,
    )
    # confinement: no data file straddles a declared boundary
    path = store.table_path(after)
    bounds = sorted(grown)
    for f in store._data_files(path):
        lo, hi, n = store._file_key_range(os.path.join(path, f))
        if not n:
            continue
        r_lo = sum(1 for b in bounds if lo >= b)
        r_hi = sum(1 for b in bounds if hi >= b)
        assert r_lo == r_hi, (lo, hi, bounds)
    return store.read("gate.part_as").select(
        "row_key",
        F.col("`p:name`").alias("name"),
        F.col("`p:price`").alias("price"),
    )


# ---------------------------------------------------------------------------
# zg90 — replication round trip (HBase ExportSnapshot bootstrap +
# ReplicationSink incremental): snapshot → export to a SECOND warehouse
# → clone (zero-copy bootstrap), then mutate the source (one MERGE of
# updates + brand-new keys, one keyed DELETE) and ship ONLY the
# changefeed against the DURABLE snapshot base
# (read_changes(versus=<snapshot>) — the documented default for any
# consumer that can lag; VERDICT r9 item 3).  The replica's final
# content is a pure function of `part` (the oracle), and the gate
# asserts exact convergence with the source before returning.
# ---------------------------------------------------------------------------
@register(
    "zg90_replication_round_trip",
    oracle="""
    WITH final_state AS (
        SELECT lpad(CAST(p_partkey AS VARCHAR), 10, '0') AS row_key,
               CASE WHEN p_partkey % 50 = 0 THEN p_retailprice + 1
                    ELSE p_retailprice END AS price,
               p_partkey AS pk
        FROM part
        UNION ALL
        SELECT lpad(CAST(p_partkey + 1000000 AS VARCHAR), 10, '0') AS row_key,
               p_retailprice AS price,
               p_partkey + 1000000 AS pk
        FROM part WHERE p_partkey % 97 = 0
    )
    SELECT row_key, price FROM final_state WHERE pk % 31 <> 0
    """,
    description="replication round trip: export_snapshot bootstrap + "
    "snapshot-based changefeed ship (MERGE + keyed DELETE), convergence "
    "asserted",
)
def zg90_replication_round_trip(spark: SparkSession, sf_dir: str) -> DataFrame:
    from spark_sql_hbase_spark.catalog import TableSpec

    store = _store(spark)
    replica = _store(spark)
    p = table(spark, sf_dir, "part")
    key = F.lpad(F.col("p_partkey").cast("string"), 10, "0").alias("row_key")
    spec = TableSpec(
        namespace="gate",
        name="part_repl",
        key_type="string",
        families={"p": {"price": "double"}},
    )
    store.ctas(
        spec, p.select(key, F.col("p_retailprice").alias("p:price")),
        mode="overwrite",
    )
    # bootstrap: snapshot → export to the replica's warehouse → clone
    store.snapshot("gate.part_repl", "zg90_s1")
    store.export_snapshot("zg90_s1", replica.warehouse_dir)
    replica.clone_snapshot("zg90_s1", "gate.part_repl")
    # source mutations: one MERGE (updates + brand-new keys), one DELETE
    store.upsert(
        "gate.part_repl",
        p.filter("p_partkey % 50 = 0").select(
            key, (F.col("p_retailprice") + 1).alias("p:price")
        ).unionByName(
            p.filter("p_partkey % 97 = 0").select(
                F.lpad((F.col("p_partkey") + 1000000).cast("string"), 10, "0")
                .alias("row_key"),
                F.col("p_retailprice").alias("p:price"),
            )
        ),
    )
    store.delete_where(
        "gate.part_repl", "CAST(row_key AS BIGINT) % 31 = 0"
    )
    # incremental ship against the DURABLE snapshot base
    replica.apply_changes(
        "gate.part_repl",
        store.read_changes("gate.part_repl", versus="zg90_s1"),
    )
    src = store.read("gate.part_repl")
    dst = replica.read("gate.part_repl")
    # convergence: the replica equals the source exactly (multiset)
    assert_multiset_equal(dst, src)
    return dst.select("row_key", F.col("`p:price`").alias("price"))


# ---------------------------------------------------------------------------
# zh07 — VERSIONED cell replication (the round-10 semantics fix, driver-
# gated): on a VERSIONS table, replication must move CELLS — a new
# version is an append (the replica's older cells survive), a
# version-GC'd cell is an exact-cell delete (the key's live cells
# survive).  The key-granularity replay is refused loudly on versioned
# tables; this gate drives the cell feed end to end:
# snapshot-bootstrap a replica, append v2/v3 cells, run VERSIONS=2
# retention GC on the source, ship read_changes(versus=<snapshot>,
# cells=True) through apply_changes(cells=True) (insert() appends +
# delete_cells exact-row deletes), and assert exact multiset
# convergence.  The final cell state is a pure function of `part`.
# ---------------------------------------------------------------------------
@register(
    "zh07_versioned_cell_replication",
    oracle="""
    SELECT lpad(CAST(p_partkey AS VARCHAR), 10, '0') AS row_key,
           p_retailprice AS price, CAST(1 AS BIGINT) AS v
    FROM part WHERE p_partkey % 20 <> 0
    UNION ALL
    SELECT lpad(CAST(p_partkey AS VARCHAR), 10, '0') AS row_key,
           p_retailprice * 2 AS price, CAST(2 AS BIGINT) AS v
    FROM part WHERE p_partkey % 10 = 0
    UNION ALL
    SELECT lpad(CAST(p_partkey AS VARCHAR), 10, '0') AS row_key,
           p_retailprice * 3 AS price, CAST(3 AS BIGINT) AS v
    FROM part WHERE p_partkey % 20 = 0
    """,
    description="versioned-table replication at CELL granularity: "
    "cells=True changefeed (appends + exact-cell deletes from VERSIONS=2 "
    "GC) converges a snapshot-bootstrapped replica exactly",
)
def zh07_versioned_cell_replication(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from spark_sql_hbase_spark.catalog import TableSpec

    store = _store(spark)
    replica = _store(spark)
    p = table(spark, sf_dir, "part")
    key = F.lpad(F.col("p_partkey").cast("string"), 10, "0").alias("row_key")
    spec = TableSpec(
        namespace="gate",
        name="part_vrepl",
        key_type="string",
        families={"p": {"price": "double", "v": "long"}},
        properties={"VERSIONS": "2"},
    )
    store.ctas(
        spec,
        p.select(
            key,
            F.col("p_retailprice").alias("p:price"),
            F.lit(1).cast("long").alias("p:v"),
        ),
        mode="overwrite",
    )
    store.snapshot("gate.part_vrepl", "k27_s1")
    store.export_snapshot("k27_s1", replica.warehouse_dir)
    replica.clone_snapshot("k27_s1", "gate.part_vrepl")
    # new version CELLS are appends — nothing replaced on the source
    store.insert(
        "gate.part_vrepl",
        p.filter("p_partkey % 10 = 0").select(
            key,
            (F.col("p_retailprice") * 2).alias("p:price"),
            F.lit(2).cast("long").alias("p:v"),
        ),
    )
    store.insert(
        "gate.part_vrepl",
        p.filter("p_partkey % 20 = 0").select(
            key,
            (F.col("p_retailprice") * 3).alias("p:price"),
            F.lit(3).cast("long").alias("p:v"),
        ),
    )
    # VERSIONS=2 retention: three-version keys drop their v=1 cell
    store.compact_versions("gate.part_vrepl", "p:v", keep_versions=2)
    # a key-granularity replay on this table is refused loudly
    try:
        replica.apply_changes(
            "gate.part_vrepl",
            store.read_changes("gate.part_vrepl", versus="k27_s1"),
        )
        raise AssertionError("key-granularity replay must refuse")
    except ValueError:
        pass
    replica.apply_changes(
        "gate.part_vrepl",
        store.read_changes("gate.part_vrepl", versus="k27_s1", cells=True),
        cells=True,
    )
    src = store.read("gate.part_vrepl")
    dst = replica.read("gate.part_vrepl")
    assert_multiset_equal(dst, src)
    return dst.select(
        "row_key",
        F.col("`p:price`").alias("price"),
        F.col("`p:v`").alias("v"),
    )


# ---------------------------------------------------------------------------
# k28 — selective DML with zero-copy carry under the driver oracle (the
# name is kept from the store's retired manifest mode): a store CTASes
# `part` into declared regions, runs one selective MERGE and one
# selective DELETE confined to region 0, and asserts in-gate that the
# untouched regions 1-3 are carried zero-copy — the current
# generation's copies share an inode with the files the CTAS wrote.
# ---------------------------------------------------------------------------
@register(
    "k28_manifest_mode_dml",
    oracle="""
    SELECT lpad(CAST(p_partkey AS VARCHAR), 10, '0') AS row_key,
           CASE WHEN p_partkey % 8 = 0 AND p_partkey < 50
                THEN p_retailprice + 1 ELSE p_retailprice END AS price
    FROM part
    WHERE NOT (p_partkey % 33 = 0 AND p_partkey < 50)
    """,
    description="selective MERGE + DELETE confined to one region: the "
    "untouched regions carry as hardlinks of the CTAS files — content "
    "proven by the oracle",
)
def k28_manifest_mode_dml(spark: SparkSession, sf_dir: str) -> DataFrame:
    from spark_sql_hbase_spark.catalog import TableSpec

    store = _store(spark)
    p = table(spark, sf_dir, "part")
    key = F.lpad(F.col("p_partkey").cast("string"), 10, "0").alias("row_key")
    spec = TableSpec(
        namespace="gate",
        name="part_ma",
        key_type="string",
        families={"p": {"price": "double"}},
        split_keys=["0000000050", "0000000100", "0000000150"],
    )
    store.ctas(
        spec, p.select(key, F.col("p_retailprice").alias("p:price")),
        mode="overwrite",
    )
    path0 = store.table_path(spec)
    inode0 = {
        f: os.stat(os.path.join(path0, f)).st_ino
        for f in store._data_files(path0)
    }
    # region-0-confined DMLs: regions 1-3 carry untouched
    store.upsert(
        "gate.part_ma",
        p.filter("p_partkey % 8 = 0 AND p_partkey < 50").select(
            key, (F.col("p_retailprice") + 1).alias("p:price")
        ),
    )
    store.delete_where(
        "gate.part_ma",
        "CAST(row_key AS BIGINT) % 33 = 0 AND CAST(row_key AS BIGINT) < 50",
    )
    path = store.table_path(spec)
    carried = set(inode0) & set(store._data_files(path))
    assert len(carried) >= 3, "expected the untouched regions carried"
    assert all(
        os.stat(os.path.join(path, f)).st_ino == inode0[f] for f in carried
    ), "carry must be zero-copy (a hardlink of the CTAS file)"
    return store.read("gate.part_ma").select(
        "row_key", F.col("`p:price`").alias("price")
    )


# ---------------------------------------------------------------------------
# zg28 — batch pre-split backfill (the k29 candidate, registered z-tier
# this round for sf001-lane evidence ahead of its r11 promotion):
# split_regions([k1..kN]) declares N boundaries and re-confines every
# straddling file in ONE rewrite + ONE generation flip.  Content is a
# pure function of `part` (the oracle); the in-gate asserts pin the
# full declaration growth, file/boundary confinement, and the
# one-flip property (exactly one new generation).
# ---------------------------------------------------------------------------
@register(
    "k29_batch_presplit",
    oracle="""
    SELECT lpad(CAST(p_partkey AS VARCHAR), 10, '0') AS row_key,
           p_name AS name,
           p_retailprice AS price
    FROM part
    """,
    description="batch pre-split backfill: split_regions([k1..kN]) lands N "
    "boundaries in one rewrite + one flip; content invariant, layout "
    "confined",
)
def k29_batch_presplit(spark: SparkSession, sf_dir: str) -> DataFrame:
    from spark_sql_hbase_spark.catalog import TableSpec

    store = _store(spark)
    p = table(spark, sf_dir, "part")
    key = F.lpad(F.col("p_partkey").cast("string"), 10, "0").alias("row_key")
    spec = TableSpec(
        namespace="gate",
        name="part_bps",
        key_type="string",
        families={"p": {"name": "string", "price": "double"}},
        split_keys=["0000000100"],
    )
    store.ctas(
        spec,
        p.select(
            key, F.col("p_name").alias("p:name"),
            F.col("p_retailprice").alias("p:price"),
        ),
        mode="overwrite",
    )
    path0 = store.table_path(spec)
    n_gens0 = len(store.generations("gate.part_bps"))
    new_bounds = ["0000000025", "0000000050", "0000000150"]
    store.split_regions("gate.part_bps", new_bounds)
    after = store.registry.get("gate.part_bps")
    assert list(after.split_keys) == [
        "0000000025", "0000000050", "0000000100", "0000000150",
    ]
    # one flip: exactly one new generation appeared, current changed once
    path1 = store.table_path(after)
    assert path1 != path0
    assert len(store.generations("gate.part_bps")) <= n_gens0 + 1
    # confinement against the FULL new declaration
    bounds = sorted(after.split_keys)
    for f in store._data_files(path1):
        lo, hi, n = store._file_key_range(os.path.join(path1, f))
        if not n:
            continue
        r_lo = sum(1 for b in bounds if lo >= b)
        r_hi = sum(1 for b in bounds if hi >= b)
        assert r_lo == r_hi, (lo, hi, bounds)
    return store.read("gate.part_bps").select(
        "row_key",
        F.col("`p:name`").alias("name"),
        F.col("`p:price`").alias("price"),
    )


# ---------------------------------------------------------------------------
# zg33 — dot-qualified SQL over an engine session (the name is kept
# from the store's retired manifest mode): the reference's headline
# `ns.table` SQL flow (HBaseSessionCatalog.scala:63-102, README.md:47)
# — CREATE, INSERT, UPDATE, DELETE and SELECT on `gate.ma_sql`, the
# reads resolving through the table's session-catalog registration.
# Content is a pure function of `part`.
# ---------------------------------------------------------------------------
@register(
    "zg33_manifest_dotted_sql",
    oracle="""
    SELECT lpad(CAST(p_partkey AS VARCHAR), 10, '0') AS row_key,
           CASE WHEN p_partkey % 7 = 0 AND p_partkey < 60
                THEN p_retailprice * 2 ELSE p_retailprice END AS price
    FROM part
    WHERE NOT (p_partkey % 25 = 0 AND p_partkey < 60)
    """,
    description="dot-qualified SQL (CREATE/INSERT/UPDATE/DELETE/SELECT "
    "ns.name) over a keyed warehouse — content proven by the oracle",
)
def zg33_manifest_dotted_sql(spark: SparkSession, sf_dir: str) -> DataFrame:
    sess = _session(spark)
    p = table(spark, sf_dir, "part")
    p.select(
        F.lpad(F.col("p_partkey").cast("string"), 10, "0").alias("row_key"),
        F.col("p_retailprice").alias("p:price"),
    ).createOrReplaceTempView("__zg33_src")
    sess.sql(
        "CREATE TABLE gate.ma_sql (row_key STRING, `p:price` DOUBLE) "
        "USING keyed"
    )
    # dot-qualified INSERT ... SELECT routes through the store
    sess.sql("INSERT INTO gate.ma_sql SELECT * FROM __zg33_src")
    # dot-qualified UPDATE and DELETE (selective rewrites)
    sess.sql(
        "UPDATE gate.ma_sql SET `p:price` = `p:price` * 2 "
        "WHERE CAST(row_key AS BIGINT) % 7 = 0 AND CAST(row_key AS BIGINT) < 60"
    )
    sess.sql(
        "DELETE FROM gate.ma_sql WHERE CAST(row_key AS BIGINT) % 25 = 0 "
        "AND CAST(row_key AS BIGINT) < 60"
    )
    # the reference's headline flow: dot-qualified SELECT (with an
    # aggregate guard proving the same resolution serves subqueries)
    n = sess.sql(
        "SELECT COUNT(*) AS n FROM (SELECT row_key FROM gate.ma_sql)"
    ).collect()[0]["n"]
    out = sess.sql(
        "SELECT row_key, `p:price` AS price FROM gate.ma_sql"
    )
    assert n == out.count(), "subquery resolution diverged from readback"
    return out


# ---------------------------------------------------------------------------
# zg34 — covered secondary index after DML (the name is kept from the
# store's retired manifest mode): the zf03 index-only range scan
# composed with a post-index MERGE, so the gate proves index freshness
# after DML — the Phoenix-style incremental maintenance path (selective
# delete + append).  Oracle: the value predicate over the source with
# the MERGE applied; the index-only scan must reproduce it exactly.
# ---------------------------------------------------------------------------
@register(
    "zg34_manifest_covered_index",
    oracle="""
    SELECT CAST(c_custkey AS BIGINT) AS custkey,
           c_name AS name,
           CASE WHEN c_custkey % 40 = 0 THEN c_acctbal + 10.0
                ELSE c_acctbal END AS acctbal
    FROM customer
    WHERE c_nationkey = 5
    """,
    description="covered index + post-index MERGE: the index-only range "
    "scan stays exact after incremental maintenance",
)
def zg34_manifest_covered_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    from spark_sql_hbase_spark.catalog import TableSpec

    store = _store(spark)
    c = table(spark, sf_dir, "customer")
    rows = c.select(
        F.lpad(F.col("c_custkey").cast("string"), 10, "0").alias("row_key"),
        F.col("c_name").alias("c:name"),
        F.col("c_nationkey").alias("c:nationkey"),
        F.col("c_acctbal").alias("c:acctbal"),
    )
    spec = TableSpec(
        namespace="gate",
        name="cust_mai",
        key_type="string",
        families={
            "c": {"name": "string", "nationkey": "long", "acctbal": "double"}
        },
    )
    store.ctas(spec, rows, mode="overwrite")
    store.create_covered_index(
        "gate.cust_mai",
        "gate.cust_mai_by_nation",
        index_col="c:nationkey",
        include=["c:name", "c:acctbal"],
        key_width=5,
        mode="overwrite",
    )
    # post-index MERGE: maintenance must keep the index exact
    store.upsert(
        "gate.cust_mai",
        c.filter("c_custkey % 40 = 0").select(
            F.lpad(F.col("c_custkey").cast("string"), 10, "0").alias("row_key"),
            F.col("c_name").alias("c:name"),
            F.col("c_nationkey").alias("c:nationkey"),
            (F.col("c_acctbal") + 10.0).alias("c:acctbal"),
        ),
    )
    idx = store.read("gate.cust_mai_by_nation")
    return idx.filter(
        (F.col("row_key") >= "00005|") & (F.col("row_key") < "00005}")
    ).select(
        F.col("`i:src_key`").cast("long").alias("custkey"),
        F.col("`c:name`").alias("name"),
        F.col("`c:acctbal`").alias("acctbal"),
    )


# ---------------------------------------------------------------------------
# zg46 — replica covered index maintained THROUGH CDC replay (round-11
# second batch): zg90's bootstrap+ship composed with zf03's covered
# index, created on the REPLICA — apply_changes routes through
# upsert/delete_keys, whose index-maintenance hooks must keep the
# replica's index exact without any replica-side coordination (the
# HBase "indexes are regional, replication replays WALEdits" story).
# Oracle: the index-only range scan must equal the post-mutation source
# predicate — if CDC replay bypassed index maintenance, the scan would
# serve pre-mutation rows.
# ---------------------------------------------------------------------------
@register(
    "k30_replica_index_cdc",
    oracle="""
    WITH final AS (
        SELECT c_custkey, c_name, c_nationkey,
               CASE WHEN c_custkey % 40 = 0 THEN c_acctbal + 10.0
                    ELSE c_acctbal END AS acctbal
        FROM customer
        WHERE c_custkey % 23 <> 0
    )
    SELECT CAST(c_custkey AS BIGINT) AS custkey,
           c_name AS name,
           acctbal
    FROM final
    WHERE c_nationkey = 5
    """,
    description="replica covered index kept exact by CDC replay: "
    "bootstrap, ship MERGE+DELETE, index-only scan equals post-mutation "
    "source state",
)
def k30_replica_index_cdc(spark: SparkSession, sf_dir: str) -> DataFrame:
    from spark_sql_hbase_spark.catalog import TableSpec

    store = _store(spark)
    replica = _store(spark)
    c = table(spark, sf_dir, "customer")
    key = F.lpad(F.col("c_custkey").cast("string"), 10, "0").alias("row_key")
    spec = TableSpec(
        namespace="gate",
        name="cust_ridx",
        key_type="string",
        families={
            "c": {"name": "string", "nationkey": "long", "acctbal": "double"}
        },
    )
    store.ctas(
        spec,
        c.select(
            key,
            F.col("c_name").alias("c:name"),
            F.col("c_nationkey").alias("c:nationkey"),
            F.col("c_acctbal").alias("c:acctbal"),
        ),
        mode="overwrite",
    )
    store.snapshot("gate.cust_ridx", "zg46_s1")
    store.export_snapshot("zg46_s1", replica.warehouse_dir)
    replica.clone_snapshot("zg46_s1", "gate.cust_ridx")
    # the REPLICA owns the index (a read-side structure — the source
    # never hears about it; replay alone must keep it fresh)
    replica.create_covered_index(
        "gate.cust_ridx",
        "gate.cust_ridx_by_nation",
        index_col="c:nationkey",
        include=["c:name", "c:acctbal"],
        key_width=5,
        mode="overwrite",
    )
    # source mutations: one MERGE, one keyed DELETE
    store.upsert(
        "gate.cust_ridx",
        c.filter("c_custkey % 40 = 0").select(
            key,
            F.col("c_name").alias("c:name"),
            F.col("c_nationkey").alias("c:nationkey"),
            (F.col("c_acctbal") + 10.0).alias("c:acctbal"),
        ),
    )
    store.delete_where("gate.cust_ridx", "CAST(row_key AS BIGINT) % 23 = 0")
    replica.apply_changes(
        "gate.cust_ridx",
        store.read_changes("gate.cust_ridx", versus="zg46_s1"),
    )
    # convergence of the BASE table (zg90's assert), then serve from the
    # INDEX ONLY — freshness of the index is the thing under test
    src = store.read("gate.cust_ridx")
    dst = replica.read("gate.cust_ridx")
    assert_multiset_equal(dst, src)
    idx = replica.read("gate.cust_ridx_by_nation")
    return idx.filter(
        (F.col("row_key") >= "00005|") & (F.col("row_key") < "00005}")
    ).select(
        F.col("`i:src_key`").cast("long").alias("custkey"),
        F.col("`c:name`").alias("name"),
        F.col("`c:acctbal`").alias("acctbal"),
    )


# ---------------------------------------------------------------------------
# k31 — HBase scanner paging (Scan.setLimit + resumable withStartRow):
# KeyedTableStore.scan_page — pagination by KEY, not OFFSET, so a deep
# cursor costs the same as page one (the bound pushes into the scan and
# the sort+limit stays a TakeOrdered top-k; pinned in test_plans).  The
# gate walks pages 2-3 by resuming from each page's last key.
# ---------------------------------------------------------------------------
@register(
    "k31_scan_pagination",
    oracle="""
    SELECT row_key, name, price FROM (
        SELECT lpad(CAST(p_partkey AS VARCHAR), 10, '0') AS row_key,
               p_name AS name, p_retailprice AS price
        FROM part
        ORDER BY row_key
        LIMIT 80 OFFSET 40
    )
    """,
    description="keyed-store scanner paging: resumable key-cursor pages "
    "(row_key > last-key pushdown + TakeOrdered, never an OFFSET re-scan)",
)
def k31_scan_pagination(spark: SparkSession, sf_dir: str) -> DataFrame:
    from spark_sql_hbase_spark.catalog import TableSpec

    store = _store(spark)
    p = table(spark, sf_dir, "part")
    spec = TableSpec(
        namespace="gate",
        name="part_pages",
        key_type="string",
        families={"p": {"name": "string", "price": "double"}},
    )
    store.ctas(
        spec,
        p.select(
            F.lpad(F.col("p_partkey").cast("string"), 10, "0").alias("row_key"),
            F.col("p_name").alias("p:name"),
            F.col("p_retailprice").alias("p:price"),
        ),
        mode="overwrite",
    )
    page_size = 40
    # each page executes EXACTLY once: collect it, take the cursor from
    # the collected rows (pages are key-sorted), accumulate.  Pages may
    # close SHORT at a file-span boundary (r13: the metadata-pruned
    # page boundary), so the gate walks until it holds the first 120
    # rows and slices rows 41-120 — split-agnostic, same oracle
    # (LIMIT 80 OFFSET 40) under ANY page layout.
    rows, cursor = [], None
    while len(rows) < 120:
        page = store.scan_page(
            "gate.part_pages", page_size, after_key=cursor
        ).collect()
        if not page:
            break
        cursor = page[-1]["row_key"]
        rows.extend(page)
    rows = rows[40:120]
    return spark.createDataFrame(
        [(r["row_key"], r["p:name"], r["p:price"]) for r in rows],
        "row_key string, name string, price double",
    )


# ---------------------------------------------------------------------------
# k32 — metadata-only exact count (KeyedTableStore.fast_count): the
# RowCounter-without-the-scan — O(files) driver-side footer sum over the
# current generation's membership, zero Spark jobs.  The gate runs a
# CTAS then a selective DELETE so the count reflects post-DML
# membership, then hashes the number against the SQL COUNT (the
# insert/compaction paths are covered by the unit test).
# ---------------------------------------------------------------------------
@register(
    "k32_fast_count",
    oracle="""
    SELECT CAST(COUNT(*) - COUNT(*) FILTER (
               WHERE o_orderkey % 10 = 0) AS BIGINT) AS n
    FROM orders
    """,
    description="metadata-only exact row count from parquet footers "
    "(zero Spark jobs, O(files) driver-side) after live DML",
)
def k32_fast_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    from spark_sql_hbase_spark.catalog import TableSpec

    store = _store(spark)
    o = table(spark, sf_dir, "orders")
    spec = TableSpec(
        namespace="gate",
        name="orders_cnt",
        key_type="string",
        families={"o": {"price": "double"}},
    )
    store.ctas(
        spec,
        o.select(
            F.lpad(F.col("o_orderkey").cast("string"), 10, "0").alias("row_key"),
            F.col("o_totalprice").alias("o:price"),
        ),
        mode="overwrite",
    )
    store.delete_where(
        "gate.orders_cnt", "CAST(row_key AS BIGINT) % 10 = 0"
    )
    n = store.fast_count("gate.orders_cnt")
    return spark.createDataFrame([(n,)], "n bigint")


# ---------------------------------------------------------------------------
# k33 — cell-safe scanner paging over a VERSIONED table (r12 VERDICT
# item 5, flipping the r12 refusal): pages are the next page_size KEYS
# with ALL their version cells (pages close at key boundaries — HBase's
# setAllowPartialResults(false) row-integrity default), found via one
# bounded TakeOrdered over the distinct keys past the cursor; both key
# bounds push into the parquet scan, so a page costs O(page) not
# O(table).  The gate walks a versioned orders-by-customer table (~10
# cells per key) to exhaustion; the oracle is the full cell set — an
# exhaustive walk with no duplicate and no dropped cell.
# ---------------------------------------------------------------------------
@register(
    "k33_versioned_scan_paging",
    oracle="""
    SELECT lpad(CAST(o_custkey AS VARCHAR), 10, '0') AS row_key,
           CAST(o_orderkey AS BIGINT) AS ver,
           o_totalprice AS price
    FROM orders
    """,
    description="cell-safe key-cursor paging over a VERSIONED keyed "
    "table: page_size KEYS per page with all their cells, exhaustive "
    "walk reconstructs every version cell exactly once",
)
def k33_versioned_scan_paging(spark: SparkSession, sf_dir: str) -> DataFrame:
    from spark_sql_hbase_spark.catalog import TableSpec

    store = _store(spark)
    o = table(spark, sf_dir, "orders")
    spec = TableSpec(
        namespace="gate",
        name="ord_vpages",
        key_type="string",
        families={"o": {"ver": "long", "price": "double"}},
        properties={"VERSIONS": "1000000", "version_column": "o:ver"},
    )
    store.create_table(spec)
    store.insert(
        "gate.ord_vpages",
        o.select(
            F.lpad(F.col("o_custkey").cast("string"), 10, "0").alias("row_key"),
            F.col("o_orderkey").cast("long").alias("o:ver"),
            F.col("o_totalprice").alias("o:price"),
        ),
        generate_row_key=False,
    )
    rows, cursor = [], None
    while True:
        page = store.scan_page(
            "gate.ord_vpages", 256, after_key=cursor
        ).collect()
        if not page:
            break
        cursor = max(r["row_key"] for r in page)
        rows.extend((r["row_key"], r["o:ver"], r["o:price"]) for r in page)
    return spark.createDataFrame(
        rows, "row_key string, ver long, price double"
    )


# ---------------------------------------------------------------------------
# k34 — bare COUNT(*) through the SQL surface (r12 VERDICT stretch):
# KeyedSqlRouter routes SELECT COUNT(*) [AS a] FROM <keyed> with no
# WHERE/GROUP/extra columns to KeyedTableStore.fast_count — the
# stats-from-metadata discipline of the reference's getTableStats
# (client/HBaseClientImpl.scala:298, stats without a scan).  The result
# plans as ONE LocalTableScan (zero scan jobs — pinned in
# tests/test_session.py); any filtered/projected form falls through to
# the ordinary resolved scan.  Oracle: the post-DML live-row count.
# ---------------------------------------------------------------------------
@register(
    "k34_sql_fast_count",
    oracle="""
    SELECT CAST(COUNT(*) - COUNT(*) FILTER (
               WHERE o_orderkey % 7 = 0) AS BIGINT) AS n
    FROM orders
    """,
    description="SELECT COUNT(*) on a keyed table served from parquet "
    "footers via the SQL router (zero scan jobs) after live DML",
)
def k34_sql_fast_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    from spark_sql_hbase_spark.catalog import TableSpec

    sess = _session(spark)
    o = table(spark, sf_dir, "orders")
    spec = TableSpec(
        namespace="gate",
        name="orders_sqlcnt",
        key_type="string",
        families={"o": {"price": "double"}},
    )
    sess.store.ctas(
        spec,
        o.select(
            F.lpad(F.col("o_orderkey").cast("string"), 10, "0").alias("row_key"),
            F.col("o_totalprice").alias("o:price"),
        ),
        mode="overwrite",
    )
    sess.sql("DELETE FROM gate.orders_sqlcnt WHERE CAST(row_key AS BIGINT) % 7 = 0")
    return sess.sql("SELECT COUNT(*) AS n FROM gate.orders_sqlcnt")


# ---------------------------------------------------------------------------
# zh13 — scanner paging through the SQL surface (r13 VERDICT stretch):
# SCAN <table> PAGE <n> [AFTER '<key>'] routes to
# KeyedTableStore.scan_page at the same router seam as SIMILARITY JOIN
# — the reference's Scan.setLimit + withStartRow pairing
# (HBaseSQLReader paging loop) reachable without the Python API.  The
# gate walks the cursor in SQL exactly as k31 walks it in Python and
# hashes against the same LIMIT/OFFSET oracle, split-agnostically
# (pages may close SHORT at a file-span boundary — accumulate, slice).
# Malformed SCAN forms and non-keyed targets refuse with the grammar
# (pinned in tests/test_session.py).
# ---------------------------------------------------------------------------
@register(
    "zh13_sql_scan_pagination",
    oracle="""
    SELECT row_key, name, price FROM (
        SELECT lpad(CAST(p_partkey AS VARCHAR), 10, '0') AS row_key,
               p_name AS name, p_retailprice AS price
        FROM part
        ORDER BY row_key
        LIMIT 80 OFFSET 40
    )
    """,
    description="SCAN <table> PAGE <n> [AFTER '<key>'] through the SQL "
    "router: resumable key-cursor pages (row_key pushdown + "
    "TakeOrdered, never an OFFSET re-scan)",
)
def zh13_sql_scan_pagination(spark: SparkSession, sf_dir: str) -> DataFrame:
    from spark_sql_hbase_spark.catalog import TableSpec

    sess = _session(spark)
    p = table(spark, sf_dir, "part")
    spec = TableSpec(
        namespace="gate",
        name="part_sqlpages",
        key_type="string",
        families={"p": {"name": "string", "price": "double"}},
    )
    sess.store.ctas(
        spec,
        p.select(
            F.lpad(F.col("p_partkey").cast("string"), 10, "0").alias("row_key"),
            F.col("p_name").alias("p:name"),
            F.col("p_retailprice").alias("p:price"),
        ),
        mode="overwrite",
    )
    rows, cursor = [], None
    while len(rows) < 120:
        stmt = "SCAN gate.part_sqlpages PAGE 40"
        if cursor is not None:
            # SQL-standard escape: a cursor key containing ' doubles it
            stmt += " AFTER '{}'".format(cursor.replace("'", "''"))
        page = sess.sql(stmt).collect()
        if not page:
            break
        cursor = page[-1]["row_key"]
        rows.extend(page)
    rows = rows[40:120]
    return spark.createDataFrame(
        [(r["row_key"], r["p:name"], r["p:price"]) for r in rows],
        "row_key string, name string, price double",
    )
