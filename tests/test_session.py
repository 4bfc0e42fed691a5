"""EngineSession surface (A8/A12 parity): SQL passthrough, database/table
listing, USE, refresh — over a keyed-table warehouse."""

import pytest
from pyspark.sql import functions as F

from spark_sql_hbase_spark.catalog import TableSpec
from spark_sql_hbase_spark.session import EngineSession
from spark_sql_hbase_spark.sources.keyed_parquet import KeyedTableStore


@pytest.fixture(scope="module")
def session(spark, tmp_path_factory):
    sess = EngineSession(spark=spark)
    store = KeyedTableStore(spark, str(tmp_path_factory.mktemp("sess_wh")))
    spec = TableSpec(
        namespace="pw2", name="demo", key_type="string",
        families={"A": {"A_00": "string"}},
    )
    store.create_table(spec)
    rows = spark.range(10).select(
        F.format_string("%04d", F.col("id")).alias("row_key"),
        F.format_string("v_%04d", F.col("id")).alias("A:A_00"),
    )
    store.insert("pw2.demo", rows, overwrite=True, generate_row_key=False)
    return sess, store


def test_sql_passthrough(session):
    sess, _ = session
    assert sess.sql("SELECT 1 + 1 AS two").collect()[0]["two"] == 2


def test_show_databases_and_tables(session):
    sess, store = session
    assert "pw2" in sess.databases()
    # keyed tables surface in SQL as <ns>__<name> temp views
    assert "pw2__demo" in sess.tables()
    assert "pw2.demo" in store.tables("pw2")


def test_sql_over_keyed_view_with_backticks(session):
    sess, _ = session
    got = sess.sql(
        "SELECT `A:A_00` FROM pw2__demo WHERE row_key = '0007'"
    ).collect()
    assert [r[0] for r in got] == ["v_0007"]


def test_use_database(session):
    sess, _ = session
    sess.use("pw2")
    assert sess.spark.catalog.currentDatabase() == "pw2"
    sess.use("default")


def test_refresh_after_external_write(session):
    sess, store = session
    spec = store.registry.get("pw2.demo")
    more = sess.spark.range(10, 15).select(
        F.format_string("%04d", F.col("id")).alias("row_key"),
        F.format_string("v_%04d", F.col("id")).alias("A:A_00"),
    )
    store.insert("pw2.demo", more, generate_row_key=False)
    sess.refresh_table("pw2__demo")
    assert sess.sql("SELECT count(*) AS n FROM pw2__demo").collect()[0]["n"] == 15


# ---------------------------------------------------------------------------
# Round-2 SQL surface: the sqlfront router + namespace-qualified catalog
# tables (reference README.md:41-66 statement flow).
# ---------------------------------------------------------------------------


@pytest.fixture
def sql_session(spark, tmp_path, store_io):
    # dot-qualified names resolve through the session catalog's external
    # tables; every statement shape below must hold under both carries
    sess = EngineSession(spark=spark, warehouse_dir=str(tmp_path / "wh"))
    sess.store.io = store_io
    prev = spark.catalog.currentDatabase()
    yield sess
    spark.catalog.setCurrentDatabase(prev)
    for qualified in list(sess.store.registry.tables()):
        sess.store.drop_table(qualified)


def test_sql_create_insert_readback_readme_flow(sql_session):
    """The reference README demo, statement-for-statement."""
    sess = sql_session
    sess.sql(
        "CREATE TABLE pw.test_insert (row_key string, `cf:name` string) "
        "USING keyed OPTIONS (generator='sequence')"
    )
    sess.sql("use pw")
    sess.sql("insert into test_insert values('0000', 'TestSql')")
    sess.sql("insert into test_insert values('0000', 'TestSql')")
    rows = sess.sql("select * from test_insert").collect()
    # the sequence generator overrides the supplied '0000' (README note)
    assert sorted((r.row_key, r["cf:name"]) for r in rows) == [
        ("0001", "TestSql"),
        ("0002", "TestSql"),
    ]


def test_sql_namespace_qualified_and_show(sql_session):
    sess = sql_session
    sess.sql("CREATE TABLE hb.meta (row_key string, `i:v` long) USING keyed")
    sess.sql("insert into hb.meta values('k1', 7)")
    assert [r["i:v"] for r in sess.sql("select * from hb.meta").collect()] == [7]
    assert "hb" in [r[0] for r in sess.sql("SHOW DATABASES").collect()]
    assert "meta" in [r.tableName for r in sess.sql("SHOW TABLES IN hb").collect()]


def test_sql_ctas_and_drop(sql_session):
    sess = sql_session
    sess.spark.range(5).selectExpr(
        "format_string('%04d', id) AS row_key", "CAST(id * 2 AS LONG) AS v"
    ).createOrReplaceTempView("__ctas_src")
    sess.sql("CREATE TABLE pw.ctas_t USING keyed AS SELECT * FROM __ctas_src")
    got = sess.sql("select `cf:v` from pw.ctas_t where row_key >= '0003'").collect()
    assert sorted(r[0] for r in got) == [6, 8]
    sess.sql("drop table pw.ctas_t")
    assert not sess.store.registry.exists("pw.ctas_t")


def test_sql_insert_overwrite(sql_session):
    sess = sql_session
    sess.sql("CREATE TABLE pw.ow (row_key string, `cf:v` string) USING keyed")
    sess.sql("insert into pw.ow values('a', 'x')")
    sess.sql("insert overwrite pw.ow values('b', 'y')")
    rows = sess.sql("select * from pw.ow").collect()
    assert [(r.row_key, r["cf:v"]) for r in rows] == [("b", "y")]


def test_sql_non_keyed_statements_pass_through(sql_session):
    sess = sql_session
    assert sess.sql("SELECT 40 + 2 AS x").collect()[0].x == 42
    # INSERT into a non-keyed target is NOT routed (falls through to Spark,
    # which raises its own analysis error for an unknown table)
    import pyspark.errors

    with pytest.raises(pyspark.errors.exceptions.base.AnalysisException):
        sess.sql("insert into no_such_table values(1)")


def test_sql_insert_with_column_list(sql_session):
    """Column-list INSERT routes through the store (a passthrough would
    append raw parquet and silently bypass key generation/sorting)."""
    sess = sql_session
    sess.sql(
        "CREATE TABLE pw.cl (row_key string, `a:x` string, `a:y` long) "
        "USING keyed OPTIONS (generator='sequence')"
    )
    sess.sql("insert into pw.cl (`a:y`, `a:x`) values(7, 'seven')")
    sess.sql("insert into pw.cl (`a:x`) values('only-x')")
    rows = {r.row_key: (r["a:x"], r["a:y"]) for r in
            sess.sql("select * from pw.cl").collect()}
    assert rows == {"0001": ("seven", 7), "0002": ("only-x", None)}
    import pytest as _pytest

    with _pytest.raises(ValueError, match="not in pw.cl"):
        sess.sql("insert into pw.cl (`nope`) values('v')")


def test_sql_unparseable_insert_on_keyed_table_fails_loudly(sql_session):
    """An INSERT the router can't parse must never fall through to a raw
    parquet append on a keyed table."""
    sess = sql_session
    sess.sql("CREATE TABLE pw.guard (row_key string, `cf:v` string) USING keyed")
    with pytest.raises(ValueError, match="unsupported INSERT form"):
        sess.sql("insert into pw.guard partition (x=1) values('a','b')")
    # non-keyed unparseable inserts still pass through to Spark's own error
    import pyspark.errors

    with pytest.raises(pyspark.errors.exceptions.base.AnalysisException):
        sess.sql("insert into nokeyed_tbl partition (x=1) values(1)")


def test_analyze_and_describe_keyed_catalog_table(sql_session):
    """Keyed tables are real session-catalog entries: ANALYZE TABLE
    computes CBO stats and DESCRIBE EXTENDED surfaces them (the stats
    feed Catalyst's join-size estimates at planning time)."""
    sess = sql_session
    sess.sql("CREATE TABLE pw.stats_t (row_key string, `cf:v` long) USING keyed")
    sess.sql(
        "insert into pw.stats_t select format_string('%04d', id), id * 3 "
        "from range(100)"
    )
    sess.sql("ANALYZE TABLE pw.stats_t COMPUTE STATISTICS")
    rows = sess.sql("DESCRIBE TABLE EXTENDED pw.stats_t").collect()
    stats = [r for r in rows if r.col_name == "Statistics"]
    assert stats and "100 rows" in stats[0].data_type, stats
    # DESCRIBE shows the cf:qualifier columns
    cols = {r.col_name for r in rows}
    assert {"row_key", "cf:v"} <= cols, cols


def test_sql_catalog_qualified_insert_routes_to_store(sql_session):
    """3-part targets (spark_catalog.ns.t) must route through the store,
    not fall through to a raw parquet append (review finding r2)."""
    sess = sql_session
    sess.sql(
        "CREATE TABLE pw.cq (row_key string, `cf:v` string) "
        "USING keyed OPTIONS (generator='sequence')"
    )
    sess.sql("insert into spark_catalog.pw.cq values('0000', 'three-part')")
    rows = sess.sql("select * from spark_catalog.pw.cq").collect()
    # generator key proves the store path ran (raw append would keep '0000')
    assert [(r.row_key, r["cf:v"]) for r in rows] == [("0001", "three-part")]


def test_sql_ctas_query_containing_using_keyed_text_not_hijacked(sql_session):
    """A stock-Spark CTAS whose QUERY TEXT contains the words 'using
    keyed' must pass through untouched (review finding r2)."""
    sess = sql_session
    sess.sql("DROP TABLE IF EXISTS default.notes_t")
    sess.sql(
        "CREATE TABLE default.notes_t AS SELECT 'docs about using keyed tables' AS note"
    )
    rows = sess.sql("SELECT note FROM default.notes_t").collect()
    # column NOT renamed to cf:note, no row_key injected → not keyed-routed
    assert [r.note for r in rows] == ["docs about using keyed tables"]
    assert not sess.store.registry.exists("default.notes_t")
    sess.sql("DROP TABLE IF EXISTS default.notes_t")


# ---------------------------------------------------------------------------
# Round-3 SQL surface: ALTER TABLE / ALTER DATABASE / DROP DATABASE routing
# (reference HBaseExternalCatalog.scala:34 alterDatabase, :69 alterTable,
# :72 alterTableDataSchema).
# ---------------------------------------------------------------------------


def test_sql_alter_table_add_columns_schema_evolution(sql_session):
    """ADD COLUMNS is metadata-only: pre-ALTER rows read the new qualifier
    as NULL; post-ALTER inserts fill it; dot-qualified SQL sees the new
    schema."""
    sess = sql_session
    sess.sql(
        "CREATE TABLE pw.ev (row_key string, `cf:name` string) "
        "USING keyed OPTIONS (generator='sequence')"
    )
    sess.sql("insert into pw.ev values('0000', 'before')")
    sess.sql("ALTER TABLE pw.ev ADD COLUMNS (`cf:score` double)")
    sess.sql("insert into pw.ev values('0000', 'after', 1.5)")
    rows = sorted(
        (r.row_key, r["cf:name"], r["cf:score"])
        for r in sess.sql("select * from pw.ev").collect()
    )
    assert rows == [("0001", "before", None), ("0002", "after", 1.5)]
    spec = sess.store.registry.get("pw.ev")
    assert spec.families["cf"]["score"] == "double"


def test_sql_alter_table_set_tblproperties(sql_session):
    sess = sql_session
    sess.sql("CREATE TABLE pw.tp (row_key string, `cf:v` string) USING keyed")
    sess.sql("ALTER TABLE pw.tp SET TBLPROPERTIES ('owner'='gate', 'ttl'='7d')")
    assert sess.store.registry.get("pw.tp").properties == {
        "owner": "gate",
        "ttl": "7d",
    }


def test_sql_alter_table_unsupported_form_fails_loudly(sql_session):
    """Passing an unrouted ALTER through to Spark would desync registry
    and catalog — it must raise instead."""
    sess = sql_session
    sess.sql("CREATE TABLE pw.uf (row_key string, `cf:v` string) USING keyed")
    with pytest.raises(ValueError, match="unsupported ALTER TABLE"):
        sess.sql("ALTER TABLE pw.uf DROP COLUMN `cf:v`")
    # non-keyed ALTER passes through untouched
    sess.sql("DROP TABLE IF EXISTS default.plain_t")
    sess.sql("CREATE TABLE default.plain_t (v string) USING parquet")
    sess.sql("ALTER TABLE default.plain_t SET TBLPROPERTIES ('x'='1')")
    sess.sql("DROP TABLE IF EXISTS default.plain_t")


def test_sql_alter_database_properties(sql_session):
    sess = sql_session
    sess.sql("CREATE TABLE pw.db1 (row_key string, `cf:v` string) USING keyed")
    sess.sql("ALTER DATABASE pw SET DBPROPERTIES ('team'='data')")
    assert sess.store.namespace_properties("pw") == {"team": "data"}


def test_sql_drop_database_cascade_syncs_registry(sql_session):
    """DROP DATABASE ... CASCADE over a keyed namespace must clear the
    registry, the warehouse files, AND the catalog database (round-2
    what's-wrong #4: plain passthrough dropped only the catalog side)."""
    import os

    sess = sql_session
    sess.sql("CREATE TABLE pwx.d1 (row_key string, `cf:v` string) USING keyed")
    sess.sql("insert into pwx.d1 values('0001', 'x')")
    wh_path = os.path.join(sess.store.warehouse_dir, "pwx")
    assert os.path.isdir(wh_path)
    sess.sql("DROP DATABASE pwx CASCADE")
    assert not sess.store.registry.tables("pwx")
    assert not os.path.isdir(wh_path)
    assert not any(d.name == "pwx" for d in sess.spark.catalog.listDatabases())
    # non-cascade on a non-empty namespace fails loudly
    sess.sql("CREATE TABLE pwy.d2 (row_key string, `cf:v` string) USING keyed")
    with pytest.raises(ValueError, match="not empty"):
        sess.sql("DROP DATABASE pwy")


def test_sql_ctas_options_in_query_text_not_injected(sql_session):
    """ADVICE r2 (medium): OPTIONS-like text inside the CTAS query must
    not inject generator/split_keys into the TableSpec."""
    sess = sql_session
    sess.sql(
        "CREATE TABLE pw.oinj USING keyed AS "
        "SELECT '0009' AS row_key, "
        "'read the options (generator=''sequence'') docs' AS note"
    )
    spec = sess.store.registry.get("pw.oinj")
    assert spec.generator is None, spec
    # the supplied key survives (no generator ran)
    rows = sess.sql("select * from pw.oinj").collect()
    assert [r.row_key for r in rows] == ["0009"]


def test_sql_non_session_catalog_target_not_keyed_routed(sql_session):
    """ADVICE r2 (low): othercat.pw.t must NOT resolve to the keyed pw.t."""
    from spark_sql_hbase_spark.sqlfront import _split_qualified

    sess = sql_session
    sess.sql("CREATE TABLE pw.nc (row_key string, `cf:v` string) USING keyed")
    ns, name = _split_qualified("othercat.pw.nc", sess.spark)
    assert (ns, name) == ("othercat.pw", "nc")
    assert not sess.store.registry.exists(f"{ns}.{name}")


def test_sql_create_index_routes_to_covered_index(spark, tmp_path):
    """CREATE INDEX ... ON <keyed table> (col) INCLUDE (...) routes to
    the store's covered-index builder; the index is a queryable keyed
    table and IF NOT EXISTS is idempotent."""
    from pyspark.sql import functions as F

    from spark_sql_hbase_spark.session import EngineSession

    sess = EngineSession(spark=spark, warehouse_dir=str(tmp_path / "wh"))
    prev_db = spark.catalog.currentDatabase()
    try:
        sess.sql(
            "CREATE TABLE ixq.t (row_key string, `c:grp` long, `c:val` long) "
            "USING keyed"
        )
        rows = spark.createDataFrame(
            [(f"{i:04d}", i % 3, i * 10) for i in range(12)],
            "row_key string, `c:grp` long, `c:val` long",
        )
        rows.createOrReplaceTempView("__ix_src")
        sess.sql("INSERT INTO ixq.t SELECT * FROM __ix_src")
        sess.sql(
            "CREATE INDEX ixq.by_grp ON ixq.t (`c:grp`) "
            "INCLUDE (`c:val`) OPTIONS (key_width='3')"
        )
        idx = sess.store.read("ixq.by_grp").filter(
            (F.col("row_key") >= "001|") & (F.col("row_key") < "001}")
        )
        got = {(r["i:src_key"], r["c:val"]) for r in idx.collect()}
        assert got == {(f"{i:04d}", i * 10) for i in range(12) if i % 3 == 1}
        # idempotent under IF NOT EXISTS
        sess.sql(
            "CREATE INDEX IF NOT EXISTS ixq.by_grp ON ixq.t (`c:grp`) "
            "INCLUDE (`c:val`) OPTIONS (key_width='3')"
        )
    finally:
        spark.catalog.setCurrentDatabase(prev_db)


def test_sql_merge_upsert_and_loud_failure(spark, tmp_path):
    """MERGE INTO routes to the store's row-key upsert; matched rows are
    replaced, new keys appended, and an unsupported MERGE form over a
    keyed table fails loudly instead of falling through to Spark."""
    import pytest
    from pyspark.sql import functions as F

    from spark_sql_hbase_spark.session import EngineSession

    sess = EngineSession(spark=spark, warehouse_dir=str(tmp_path / "wh"))
    sess.sql(
        "CREATE TABLE mg.t (row_key string, `c:v` long) USING keyed"
    )
    spark.createDataFrame(
        [(f"{i:04d}", i) for i in range(5)], "row_key string, `c:v` long"
    ).createOrReplaceTempView("__mg_base")
    sess.sql("INSERT INTO mg.t SELECT * FROM __mg_base")
    spark.createDataFrame(
        [("0002", 222), ("0009", 999)], "row_key string, `c:v` long"
    ).createOrReplaceTempView("__mg_updates")
    sess.sql(
        "MERGE INTO mg.t USING __mg_updates ON row_key "
        "WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *"
    )
    got = {r["row_key"]: r["c:v"] for r in sess.store.read("mg.t").collect()}
    assert got == {"0000": 0, "0001": 1, "0002": 222, "0003": 3, "0004": 4,
                   "0009": 999}
    with pytest.raises(ValueError, match="unsupported MERGE"):
        sess.sql(
            "MERGE INTO mg.t USING __mg_updates ON row_key "
            "WHEN MATCHED THEN UPDATE SET `c:v` = 1"
        )


def test_sql_merge_from_keyed_dotted_source(spark, tmp_path):
    """MERGE INTO ... USING ns.src where the source is itself a keyed
    table, named dot-qualified: it resolves through its catalog
    registration, and the target takes the merged rows."""
    from spark_sql_hbase_spark.session import EngineSession

    sess = EngineSession(spark=spark, warehouse_dir=str(tmp_path / "wh"))
    sess.sql("CREATE TABLE mk.mt (row_key STRING, `cf:v` BIGINT) USING keyed")
    sess.sql("INSERT INTO mk.mt VALUES ('k1', 1), ('k2', 2)")
    sess.sql("CREATE TABLE mk.ms (row_key STRING, `cf:v` BIGINT) USING keyed")
    sess.sql("INSERT INTO mk.ms VALUES ('k2', 22), ('k3', 33)")
    sess.sql(
        "MERGE INTO mk.mt USING mk.ms ON row_key "
        "WHEN MATCHED THEN UPDATE SET * "
        "WHEN NOT MATCHED THEN INSERT *"
    )
    got = {
        (r["row_key"], r["cf:v"])
        for r in sess.sql("SELECT * FROM mk.mt").collect()
    }
    assert got == {("k1", 1), ("k2", 22), ("k3", 33)}


def test_sql_ctas_from_keyed_dotted_source(spark, tmp_path):
    """CTAS whose source query reads a keyed table dot-qualified: the
    new keyed table holds exactly the filtered source rows."""
    from spark_sql_hbase_spark.session import EngineSession

    sess = EngineSession(spark=spark, warehouse_dir=str(tmp_path / "wh"))
    sess.sql("CREATE TABLE ck.src (row_key STRING, `cf:v` BIGINT) USING keyed")
    sess.sql("INSERT INTO ck.src VALUES ('k1', 1), ('k2', 2), ('k3', 3)")
    sess.sql(
        "CREATE TABLE ck.dst USING keyed AS "
        "SELECT row_key, `cf:v` FROM ck.src WHERE `cf:v` > 1"
    )
    got = {
        (r["row_key"], r["cf:v"])
        for r in sess.sql("SELECT * FROM ck.dst").collect()
    }
    assert got == {("k2", 2), ("k3", 3)}


def test_sql_delete_update_route_and_guards(spark, tmp_path):
    """DELETE/UPDATE route to filtered key-sorted rewrites; the row key
    is immutable (UPDATE of row_key raises) and unknown columns fail."""
    import pytest
    from pyspark.sql import functions as F

    from spark_sql_hbase_spark.session import EngineSession

    sess = EngineSession(spark=spark, warehouse_dir=str(tmp_path / "wh"))
    sess.sql("CREATE TABLE du.t (row_key string, `c:v` long) USING keyed")
    spark.createDataFrame(
        [(f"{i:04d}", i) for i in range(10)], "row_key string, `c:v` long"
    ).createOrReplaceTempView("__du_base")
    sess.sql("INSERT INTO du.t SELECT * FROM __du_base")
    sess.sql("DELETE FROM du.t WHERE `c:v` >= 8")
    sess.sql("UPDATE du.t SET `c:v` = `c:v` + 100 WHERE `c:v` < 3")
    got = {r["row_key"]: r["c:v"] for r in sess.store.read("du.t").collect()}
    assert got == {
        "0000": 100, "0001": 101, "0002": 102,
        "0003": 3, "0004": 4, "0005": 5, "0006": 6, "0007": 7,
    }
    with pytest.raises(ValueError, match="immutable"):
        sess.store.update_where("du.t", {"row_key": "'x'"}, "1=1")
    with pytest.raises(ValueError, match="unknown column"):
        sess.store.update_where("du.t", {"c:nope": "1"}, "1=1")


def test_dml_null_predicates_where_optional_and_type_conformance(spark, tmp_path):
    """The DML review fixes: NULL predicates keep rows on DELETE and
    skip rows on UPDATE; DELETE/UPDATE without WHERE hit every row;
    UPDATE assignments with comparison operators parse; a double
    assignment into a long column is cast back to the declared type;
    duplicate-key MERGE sources fail loudly."""
    import pytest
    from pyspark.sql import functions as F

    from spark_sql_hbase_spark.session import EngineSession

    sess = EngineSession(spark=spark, warehouse_dir=str(tmp_path / "wh"))
    sess.sql(
        "CREATE TABLE dn.t (row_key string, `c:v` long, `c:s` long) USING keyed"
    )
    spark.createDataFrame(
        [("0001", 5, 1), ("0002", None, 2), ("0003", -1, 3)],
        "row_key string, `c:v` long, `c:s` long",
    ).createOrReplaceTempView("__dn_base")
    sess.sql("INSERT INTO dn.t SELECT * FROM __dn_base")
    # NULL predicate: row 0002 (v NULL) must SURVIVE the delete
    sess.sql("DELETE FROM dn.t WHERE `c:v` < 0")
    keys = {r["row_key"] for r in sess.store.read("dn.t").collect()}
    assert keys == {"0001", "0002"}
    # comparison operator inside a CASE assignment + multi-assignment
    sess.sql(
        "UPDATE dn.t SET `c:v` = CASE WHEN `c:s` > 1 THEN 100 ELSE 0 END, "
        "`c:s` = `c:s` + 10 WHERE `c:s` >= 1"
    )
    got = {
        r["row_key"]: (r["c:v"], r["c:s"])
        for r in sess.store.read("dn.t").collect()
    }
    assert got == {"0001": (0, 11), "0002": (100, 12)}
    # double expression into a long column conforms back to long
    sess.sql("UPDATE dn.t SET `c:v` = `c:v` * 2.5 WHERE 1=1")
    sch = dict(sess.store.read("dn.t").dtypes)
    assert sch["c:v"] == "bigint", sch
    # DELETE without WHERE empties the table
    sess.sql("DELETE FROM dn.t")
    assert sess.store.read("dn.t").count() == 0
    # duplicate-key MERGE source fails loudly
    spark.createDataFrame(
        [("0009", 1, 1), ("0009", 2, 2)],
        "row_key string, `c:v` long, `c:s` long",
    ).createOrReplaceTempView("__dn_dupes")
    with pytest.raises(ValueError, match="duplicate row_key"):
        sess.sql(
            "MERGE INTO dn.t USING __dn_dupes ON row_key "
            "WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *"
        )


def test_sql_update_delete_quoted_where_not_split(spark, tmp_path):
    """ADVICE r5: the WHERE locator must be quote-aware — an UPDATE whose
    assignment VALUE contains ' where ' inside a string literal (and no
    real WHERE clause) must treat the whole literal as the value, and a
    DELETE whose condition contains a quoted 'where' must not re-split."""
    from spark_sql_hbase_spark.session import EngineSession

    sess = EngineSession(spark=spark, warehouse_dir=str(tmp_path / "wh"))
    sess.sql("CREATE TABLE qw.t (row_key string, `c:s` string) USING keyed")
    spark.createDataFrame(
        [("0001", "a"), ("0002", "b")], "row_key string, `c:s` string"
    ).createOrReplaceTempView("__qw_base")
    sess.sql("INSERT INTO qw.t SELECT * FROM __qw_base")
    # no WHERE clause: the quoted ' where ' is DATA, the update hits all
    sess.sql("UPDATE qw.t SET `c:s` = 'x where y'")
    got = {r["row_key"]: r["c:s"] for r in sess.store.read("qw.t").collect()}
    assert got == {"0001": "x where y", "0002": "x where y"}
    # quoted 'where' INSIDE a real WHERE condition survives intact
    sess.sql("UPDATE qw.t SET `c:s` = 'z' WHERE `c:s` = 'x where y' AND row_key = '0001'")
    got = {r["row_key"]: r["c:s"] for r in sess.store.read("qw.t").collect()}
    assert got == {"0001": "z", "0002": "x where y"}
    sess.sql("DELETE FROM qw.t WHERE `c:s` = 'x where y'")
    assert {r["row_key"] for r in sess.store.read("qw.t").collect()} == {"0001"}


def test_sql_update_escaped_quote_and_double_quoted_literals(spark, tmp_path):
    """ADVICE r6: the scanner must treat a backslash-escaped quote as
    string INTERIOR (``'a\\'s where b'`` is one literal — round 6 split
    at the embedded where), and double-quoted literals as strings."""
    from spark_sql_hbase_spark.session import EngineSession

    sess = EngineSession(spark=spark, warehouse_dir=str(tmp_path / "wh"))
    sess.sql("CREATE TABLE eq.t (row_key string, `c:s` string) USING keyed")
    spark.createDataFrame(
        [("0001", "a"), ("0002", "b")], "row_key string, `c:s` string"
    ).createOrReplaceTempView("__eq_base")
    sess.sql("INSERT INTO eq.t SELECT * FROM __eq_base")
    # escaped quote inside the literal; NO real WHERE clause → hits all
    sess.sql("UPDATE eq.t SET `c:s` = 'a\\'s where b'")
    got = {r["row_key"]: r["c:s"] for r in sess.store.read("eq.t").collect()}
    assert got == {"0001": "a's where b", "0002": "a's where b"}
    # double-quoted literal containing ' where ' — also data, not a split
    sess.sql('UPDATE eq.t SET `c:s` = "dq where dq" WHERE row_key = \'0001\'')
    got = {r["row_key"]: r["c:s"] for r in sess.store.read("eq.t").collect()}
    assert got == {"0001": "dq where dq", "0002": "a's where b"}
    # escaped quote inside a real WHERE condition survives intact
    sess.sql("DELETE FROM eq.t WHERE `c:s` = 'a\\'s where b'")
    assert {r["row_key"] for r in sess.store.read("eq.t").collect()} == {"0001"}


def test_sql_merge_delete_maintain_covered_index(spark, tmp_path):
    """Batch DML through the SQL router keeps a registered covered index
    fresh (the k14 gate's law, pinned here at unit scale): index-only
    reads agree with the main table after MERGE and after DELETE."""
    from spark_sql_hbase_spark.session import EngineSession

    sess = EngineSession(spark=spark, warehouse_dir=str(tmp_path / "wh"))
    sess.sql("CREATE TABLE mi.t (row_key string, `c:g` long, `c:v` double) USING keyed")
    spark.createDataFrame(
        [(f"{i:04d}", i % 3, float(i)) for i in range(12)],
        "row_key string, `c:g` long, `c:v` double",
    ).createOrReplaceTempView("__mi_base")
    sess.sql("INSERT INTO mi.t SELECT * FROM __mi_base")
    sess.sql(
        "CREATE INDEX mi.by_g ON mi.t (`c:g`) INCLUDE (`c:v`) "
        "OPTIONS (key_width='4')"
    )
    spark.createDataFrame(
        [("0001", 2, 100.0), ("9999", 2, 200.0)],
        "row_key string, `c:g` long, `c:v` double",
    ).createOrReplaceTempView("__mi_updates")
    sess.sql(
        "MERGE INTO mi.t USING __mi_updates ON row_key "
        "WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *"
    )
    sess.sql("DELETE FROM mi.t WHERE `c:g` = 0")

    def pairs(df, key):
        return sorted((r[key], r["c:g"], r["c:v"]) for r in df.collect())

    main = sess.store.read("mi.t")
    idx = sess.store.read("mi.by_g")
    assert pairs(idx, "i:src_key") == pairs(main, "row_key")
    assert not sess.store.index_is_stale("mi.by_g")


def test_sql_dangling_where_raises_not_full_table_dml(spark, tmp_path):
    """Review fix: 'DELETE FROM t WHERE' (condition lost/truncated) must
    raise — treating it as no-WHERE would silently delete every row."""
    import pytest

    from spark_sql_hbase_spark.session import EngineSession

    sess = EngineSession(spark=spark, warehouse_dir=str(tmp_path / "wh"))
    sess.sql("CREATE TABLE dw.t (row_key string, `c:v` long) USING keyed")
    spark.createDataFrame(
        [("0001", 1), ("0002", 2)], "row_key string, `c:v` long"
    ).createOrReplaceTempView("__dw_base")
    sess.sql("INSERT INTO dw.t SELECT * FROM __dw_base")
    with pytest.raises(ValueError, match="no condition"):
        sess.sql("DELETE FROM dw.t WHERE")
    with pytest.raises(ValueError, match="no condition"):
        sess.sql("UPDATE dw.t SET `c:v` = 0 WHERE")
    assert sess.store.read("dw.t").count() == 2


def test_sql_truncate_table_keeps_schema_and_indexes_fresh(spark, tmp_path):
    """TRUNCATE TABLE over a keyed table empties the data through the
    atomic swap, keeps the declared schema readable, and truncates
    registered covered indexes with it."""
    from spark_sql_hbase_spark.session import EngineSession

    sess = EngineSession(spark=spark, warehouse_dir=str(tmp_path / "wh"))
    sess.sql("CREATE TABLE tr.t (row_key string, `c:g` long) USING keyed")
    spark.createDataFrame(
        [(f"{i:04d}", i % 3) for i in range(9)], "row_key string, `c:g` long"
    ).createOrReplaceTempView("__tr_base")
    sess.sql("INSERT INTO tr.t SELECT * FROM __tr_base")
    sess.sql("CREATE INDEX tr.by_g ON tr.t (`c:g`) OPTIONS (key_width='4')")
    assert sess.store.read("tr.t").count() == 9
    sess.sql("TRUNCATE TABLE tr.t")
    assert sess.store.read("tr.t").count() == 0
    assert sess.store.read("tr.t").columns == ["row_key", "c:g"]
    assert sess.store.read("tr.by_g").count() == 0
    assert not sess.store.index_is_stale("tr.by_g")
    # table still writable after truncate
    sess.sql("INSERT INTO tr.t SELECT * FROM __tr_base")
    assert sess.store.read("tr.t").count() == 9
    assert sess.store.read("tr.by_g").count() == 9


def test_similarity_join_sql_sq8_method_matches_operator(spark, tmp_path):
    """SIMILARITY JOIN ... METHOD SQ8 DIM n must be exactly the
    sq8_ann_topk operator (the router rewrite adds no semantics of its
    own); the BRUTE tier is oracle-gated (s18)."""
    from pyspark.sql import functions as F

    from spark_sql_hbase_spark.operators.similarity import sq8_ann_topk
    from spark_sql_hbase_spark.queries import table
    from spark_sql_hbase_spark.session import EngineSession

    sf = "/root/testdata/sf0.001"
    emb = table(spark, sf, "embeddings")
    emb.createOrReplaceTempView("__sj_emb")
    sess = EngineSession(spark=spark, warehouse_dir=str(tmp_path / "wh"))
    got = sess.sql(
        "SIMILARITY JOIN __sj_emb "
        "WITH (SELECT * FROM __sj_emb WHERE vec_id < 4) "
        "ON embedding BY vec_id TOP 3 METHOD SQ8 DIM 64"
    )
    want = sq8_ann_topk(
        emb, emb.filter(F.col("vec_id") < 4), "vec_id", "embedding",
        k=3, dim=64,
    )
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, want.collect()))


def test_similarity_join_sql_refuses_bad_forms(spark, tmp_path):
    """Malformed SIMILARITY statements and unknown methods fail loudly
    with the supported grammar — never fall through to Spark's parser."""
    import pytest as _pytest

    from spark_sql_hbase_spark.queries import table
    from spark_sql_hbase_spark.session import EngineSession

    table(spark, "/root/testdata/sf0.001", "embeddings").createOrReplaceTempView(
        "__sj_emb2"
    )
    sess = EngineSession(spark=spark, warehouse_dir=str(tmp_path / "wh"))
    with _pytest.raises(ValueError, match="unsupported SIMILARITY JOIN form"):
        sess.sql("SIMILARITY JOIN __sj_emb2 ON embedding TOP 5")
    with _pytest.raises(ValueError, match="unknown SIMILARITY JOIN method"):
        sess.sql(
            "SIMILARITY JOIN __sj_emb2 WITH __sj_emb2 "
            "ON embedding BY vec_id TOP 5 METHOD FLANN"
        )
    # r13: IVF is now a known method, but each malformed form refuses
    # with its own clause of the grammar
    with _pytest.raises(ValueError, match="METHOD IVF needs MODEL"):
        sess.sql(
            "SIMILARITY JOIN __sj_emb2 WITH __sj_emb2 "
            "ON embedding BY vec_id TOP 5 METHOD IVF"
        )
    with _pytest.raises(ValueError, match="takes no MODEL/PROBES"):
        sess.sql(
            "SIMILARITY JOIN __sj_emb2 WITH __sj_emb2 "
            "ON embedding BY vec_id TOP 5 METHOD BRUTE MODEL __sj_emb2"
        )
    with _pytest.raises(ValueError, match="takes no MODEL/PROBES"):
        sess.sql(
            "SIMILARITY JOIN __sj_emb2 WITH __sj_emb2 "
            "ON embedding BY vec_id TOP 5 METHOD SQ8 PROBES 2 DIM 64"
        )
    # a model relation without (cell, cv) columns refuses by name
    with _pytest.raises(ValueError, match=r"lacks column\(s\) \['cell', 'cv'\]"):
        sess.sql(
            "SIMILARITY JOIN __sj_emb2 WITH __sj_emb2 "
            "ON embedding BY vec_id TOP 5 METHOD IVF MODEL __sj_emb2"
        )


def test_sql_bare_count_routes_to_fast_count(spark, tmp_path):
    """r12 VERDICT stretch: SELECT COUNT(*) on a keyed table with no
    WHERE routes to the footer count — the result plans as ONE
    LocalTableScan (no table scan in the plan, zero scan jobs), stays
    exact across DML, and every filtered/projected/grouped form falls
    through to the ordinary resolved scan."""
    from pyspark.sql import functions as F

    from spark_sql_hbase_spark.plans.pushdown import formatted_plan
    from spark_sql_hbase_spark.session import EngineSession
    from spark_sql_hbase_spark.sources.fixtures import pw_test_df, pw_test_spec

    sess = EngineSession(spark=spark, warehouse_dir=str(tmp_path / "wh"))
    sess.store.create_table(pw_test_spec())
    sess.store.insert(
        "pw.test", pw_test_df(spark), overwrite=True, generate_row_key=False
    )
    expect = sess.store.read("pw.test").count()

    df = sess.sql("SELECT COUNT(*) FROM pw.test")
    plan = formatted_plan(df)
    assert "LocalTableScan" in plan, plan
    assert "Scan parquet" not in plan and "HashAggregate" not in plan, plan
    assert df.columns == ["count(1)"]  # Spark's own COUNT(*) column name
    assert df.collect()[0][0] == expect

    # stays exact after DML, alias + COUNT(1) forms route too
    sess.sql("DELETE FROM pw.test WHERE row_key = '0042'")
    got = sess.sql("SELECT COUNT(1) AS n FROM pw.test")
    assert got.columns == ["n"]
    assert "LocalTableScan" in formatted_plan(got)
    assert got.collect()[0][0] == expect - 1

    # any filter/projection/grouping falls through to the real scan
    filtered = sess.sql(
        "SELECT COUNT(*) FROM pw.test WHERE row_key > '0042'"
    )
    assert "LocalTableScan" not in formatted_plan(filtered)
    assert filtered.collect()[0][0] == sess.store.read("pw.test").filter(
        F.col("row_key") > "0042"
    ).count()
    two_cols = sess.sql("SELECT COUNT(*), 1 FROM pw.test")
    assert "LocalTableScan" not in formatted_plan(two_cols), "fast path " \
        "must not serve a multi-column select"
    assert [r[0] for r in two_cols.collect()] == [expect - 1]
    # a non-keyed view is untouched by the router
    pw_test_df(spark).createOrReplaceTempView("__plain_cnt")
    plain = sess.sql("SELECT COUNT(*) FROM __plain_cnt")
    assert "LocalTableScan" not in formatted_plan(plain)
    assert plain.collect()[0][0] == expect


def test_sql_bare_count_defers_to_shadowing_temp_view(spark, tmp_path):
    """r13 review fix: a temp view shadowing a keyed table's bare name
    wins under Spark's resolution precedence — the bare-count fast path
    must count the VIEW, exactly like SELECT * over the same name; the
    dot-qualified reference still takes the footer count."""
    from spark_sql_hbase_spark.plans.pushdown import formatted_plan
    from spark_sql_hbase_spark.session import EngineSession
    from spark_sql_hbase_spark.sources.fixtures import pw_test_df, pw_test_spec

    sess = EngineSession(spark=spark, warehouse_dir=str(tmp_path / "wh"))
    sess.store.create_table(pw_test_spec())
    sess.store.insert(
        "pw.test", pw_test_df(spark), overwrite=True, generate_row_key=False
    )
    keyed_n = sess.store.read("pw.test").count()
    view_n = 7
    prev_db = spark.catalog.currentDatabase()
    try:
        spark.catalog.setCurrentDatabase("pw")
        pw_test_df(spark).limit(view_n).createOrReplaceTempView("test")
        shadowed = sess.sql("SELECT COUNT(*) FROM test")
        assert "LocalTableScan" not in formatted_plan(shadowed)
        assert shadowed.collect()[0][0] == view_n
        qualified = sess.sql("SELECT COUNT(*) FROM pw.test")
        assert "LocalTableScan" in formatted_plan(qualified)
        assert qualified.collect()[0][0] == keyed_n
        # view dropped -> the bare name takes the fast path again
        spark.catalog.dropTempView("test")
        bare = sess.sql("SELECT COUNT(*) FROM test")
        assert "LocalTableScan" in formatted_plan(bare)
        assert bare.collect()[0][0] == keyed_n
    finally:
        spark.catalog.dropTempView("test")
        spark.catalog.setCurrentDatabase(prev_db)


def test_similarity_join_sql_ivf_model_matches_operator(spark, tmp_path):
    """r12 VERDICT item 4: SIMILARITY JOIN ... METHOD IVF MODEL <view>
    PROBES n must be exactly assign_cells + multiprobe_ann_topk given
    the same centroid relation (the router adds no semantics of its
    own); the end-to-end result is also oracle-gated (s19, same oracle
    as the zb11 operator gate).  A (subquery) MODEL resolves too."""
    from pyspark.sql import functions as F

    from spark_sql_hbase_spark.operators.similarity import (
        _to_double,
        assign_cells,
        multiprobe_ann_topk,
    )
    from spark_sql_hbase_spark.queries import table
    from spark_sql_hbase_spark.session import EngineSession

    sf = "/root/testdata/sf0.001"
    emb = table(spark, sf, "embeddings")
    emb.createOrReplaceTempView("__sj_ivf_emb")
    cent = emb.filter(F.col("vec_id") < 4).select(
        F.col("vec_id").alias("cell"),
        _to_double(F.col("embedding")).alias("cv"),
    )
    cent.createOrReplaceTempView("__sj_ivf_model")
    sess = EngineSession(spark=spark, warehouse_dir=str(tmp_path / "wh"))
    got = sess.sql(
        "SIMILARITY JOIN __sj_ivf_emb "
        "WITH (SELECT * FROM __sj_ivf_emb WHERE vec_id < 6) "
        "ON embedding BY vec_id TOP 4 METHOD IVF MODEL __sj_ivf_model "
        "PROBES 2"
    )
    want = multiprobe_ann_topk(
        assign_cells(emb, cent, "vec_id", "embedding", "cell"),
        emb.filter(F.col("vec_id") < 6),
        cent,
        "vec_id",
        "embedding",
        "cell",
        k=4,
        nprobe=2,
    )
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, want.collect()))
    # MODEL as an inline subquery resolves through the same seam
    got_sub = sess.sql(
        "SIMILARITY JOIN __sj_ivf_emb "
        "WITH (SELECT * FROM __sj_ivf_emb WHERE vec_id < 6) "
        "ON embedding BY vec_id TOP 4 "
        "METHOD IVF MODEL (SELECT * FROM __sj_ivf_model) PROBES 2"
    )
    assert sorted(map(tuple, got_sub.collect())) == sorted(
        map(tuple, want.collect())
    )


def test_similarity_join_sql_pq_model_matches_operator(spark, tmp_path):
    """r13 VERDICT item 3: SIMILARITY JOIN ... METHOD PQ MODEL <books>
    must be exactly pq_encode + pq_ann_topk given the same codebook
    relation (the router adds no semantics of its own); the end-to-end
    result is also oracle-gated (zh11, same oracle as the zd47 operator
    gate).  A (subquery) MODEL resolves too, and the malformed forms
    refuse with the grammar."""
    import pytest as _pytest
    from pyspark.sql import functions as F

    from spark_sql_hbase_spark.operators.similarity import (
        _codebook_relation,
        _to_double,
        pq_ann_topk,
        pq_encode,
    )
    from spark_sql_hbase_spark.queries import table
    from spark_sql_hbase_spark.session import EngineSession

    sf = "/root/testdata/sf0.001"
    emb = table(spark, sf, "embeddings")
    emb.createOrReplaceTempView("__sj_pq_emb")
    m, sub = 4, 16
    seeds = (
        emb.filter(F.col("vec_id") < 8)
        .select("vec_id", _to_double(F.col("embedding")).alias("ev"))
        .collect()
    )
    books = [
        [
            (int(r["vec_id"]), list(r["ev"])[s * sub : (s + 1) * sub])
            for r in sorted(seeds, key=lambda r: r["vec_id"])
        ]
        for s in range(m)
    ]
    rel = _codebook_relation(spark, books)
    rel.createOrReplaceTempView("__sj_pq_books")
    sess = EngineSession(spark=spark, warehouse_dir=str(tmp_path / "wh"))
    got = sess.sql(
        "SIMILARITY JOIN __sj_pq_emb "
        "WITH (SELECT * FROM __sj_pq_emb WHERE vec_id < 6) "
        "ON embedding BY vec_id TOP 4 METHOD PQ MODEL __sj_pq_books"
    )
    codes = pq_encode(emb, books, "vec_id", "embedding")
    want = pq_ann_topk(
        codes,
        emb.filter(F.col("vec_id") < 6),
        books,
        "vec_id",
        "embedding",
        k=4,
    )
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, want.collect()))
    # MODEL as an inline subquery resolves through the same seam
    got_sub = sess.sql(
        "SIMILARITY JOIN __sj_pq_emb "
        "WITH (SELECT * FROM __sj_pq_emb WHERE vec_id < 6) "
        "ON embedding BY vec_id TOP 4 "
        "METHOD PQ MODEL (SELECT * FROM __sj_pq_books)"
    )
    assert sorted(map(tuple, got_sub.collect())) == sorted(
        map(tuple, want.collect())
    )
    # malformed PQ forms refuse with their clause of the grammar
    with _pytest.raises(ValueError, match="METHOD PQ needs MODEL"):
        sess.sql(
            "SIMILARITY JOIN __sj_pq_emb WITH __sj_pq_emb "
            "ON embedding BY vec_id TOP 4 METHOD PQ"
        )
    with _pytest.raises(ValueError, match="METHOD PQ takes no PROBES"):
        sess.sql(
            "SIMILARITY JOIN __sj_pq_emb WITH __sj_pq_emb "
            "ON embedding BY vec_id TOP 4 "
            "METHOD PQ MODEL __sj_pq_books PROBES 2"
        )
    with _pytest.raises(
        ValueError, match=r"lacks column\(s\) \['code', 'cv', 's'\]"
    ):
        sess.sql(
            "SIMILARITY JOIN __sj_pq_emb WITH __sj_pq_emb "
            "ON embedding BY vec_id TOP 4 METHOD PQ MODEL __sj_pq_emb"
        )


def test_sql_scan_page_routes_and_refuses(spark, tmp_path):
    """r13 VERDICT stretch: SCAN <table> PAGE <n> [AFTER '<key>'] routes
    to KeyedTableStore.scan_page (router adds no semantics — the SQL
    walk equals the Python walk page for page); malformed forms and
    non-keyed targets refuse with the grammar."""
    import pytest as _pytest

    from spark_sql_hbase_spark.session import EngineSession
    from spark_sql_hbase_spark.sources.fixtures import pw_test_df, pw_test_spec

    sess = EngineSession(spark=spark, warehouse_dir=str(tmp_path / "wh"))
    sess.store.create_table(pw_test_spec())
    sess.store.insert(
        "pw.test", pw_test_df(spark), overwrite=True, generate_row_key=False
    )
    # SQL page 1 == Python page 1; resume cursor pages equally
    sql_p1 = sess.sql("SCAN pw.test PAGE 4").collect()
    py_p1 = sess.store.scan_page("pw.test", 4).collect()
    assert sql_p1 == py_p1 and sql_p1
    cur = sql_p1[-1]["row_key"]
    sql_p2 = sess.sql(f"SCAN pw.test PAGE 4 AFTER '{cur}'").collect()
    py_p2 = sess.store.scan_page("pw.test", 4, after_key=cur).collect()
    assert sql_p2 == py_p2
    assert not {r["row_key"] for r in sql_p1} & {r["row_key"] for r in sql_p2}
    # a walk that exhausts the table ends with an empty page
    all_keys = sorted(
        r["row_key"] for r in sess.store.read("pw.test").collect()
    )
    assert sess.sql(f"SCAN pw.test PAGE 4 AFTER '{all_keys[-1]}'").count() == 0
    # refusals: non-keyed target, malformed forms
    pw_test_df(spark).createOrReplaceTempView("__scan_plain")
    with _pytest.raises(ValueError, match="registered keyed table"):
        sess.sql("SCAN __scan_plain PAGE 4")
    with _pytest.raises(ValueError, match="unsupported SCAN form"):
        sess.sql("SCAN pw.test")
    with _pytest.raises(ValueError, match="unsupported SCAN form"):
        sess.sql("SCAN pw.test PAGE 4 AFTER unquoted")
    with _pytest.raises(ValueError, match="page_size must be positive"):
        sess.sql("SCAN pw.test PAGE 0")


def test_sql_scan_page_cursor_with_quote(spark, tmp_path):
    """Review fix: a row key CONTAINING a single quote round-trips
    through the SCAN grammar's SQL-standard doubled-quote escape — the
    walk over such a table resumes instead of dying mid-walk."""
    from spark_sql_hbase_spark.catalog import TableSpec
    from spark_sql_hbase_spark.session import EngineSession

    sess = EngineSession(spark=spark, warehouse_dir=str(tmp_path / "wh"))
    spec = TableSpec(
        namespace="pw",
        name="quoted",
        key_type="string",
        families={"cf": {"v": "long"}},
    )
    sess.store.create_table(spec)
    rows = spark.createDataFrame(
        [("a'1", 1), ("b'2", 2), ("c3", 3), ("d4", 4)],
        "row_key string, `cf:v` long",
    )
    sess.store.insert("pw.quoted", rows, overwrite=True, generate_row_key=False)
    p1 = sess.sql("SCAN pw.quoted PAGE 2").collect()
    assert [r["row_key"] for r in p1] == ["a'1", "b'2"]
    cur = p1[-1]["row_key"].replace("'", "''")
    p2 = sess.sql(f"SCAN pw.quoted PAGE 2 AFTER '{cur}'").collect()
    assert [r["row_key"] for r in p2] == ["c3", "d4"]
    # the same walk through the Python API agrees
    py = sess.store.scan_page("pw.quoted", 2, after_key="b'2").collect()
    assert py == p2


def test_similarity_join_sql_pq_refuses_non_dense_codebooks(spark, tmp_path):
    """Review fix: the ADC lookup indexes the code-ordered distance
    table POSITIONALLY, so a user codebook with 1-based codes or gappy
    subspace ids must refuse loudly — not return NULL-adc garbage
    top-k (the list form asserts the same invariant in pq_encode)."""
    import pytest as _pytest

    from spark_sql_hbase_spark.queries import table
    from spark_sql_hbase_spark.session import EngineSession

    sf = "/root/testdata/sf0.001"
    table(spark, sf, "embeddings").createOrReplaceTempView("__pqv_emb")
    sess = EngineSession(spark=spark, warehouse_dir=str(tmp_path / "wh"))
    # 1-based codes
    spark.createDataFrame(
        [(s, c, [0.0] * 32) for s in range(2) for c in (1, 2)],
        "s int, code int, cv array<double>",
    ).createOrReplaceTempView("__pqv_one_based")
    with _pytest.raises(ValueError, match="not a dense codebook"):
        sess.sql(
            "SIMILARITY JOIN __pqv_emb WITH __pqv_emb "
            "ON embedding BY vec_id TOP 3 METHOD PQ MODEL __pqv_one_based"
        )
    # gappy subspace ids
    spark.createDataFrame(
        [(s, c, [0.0] * 32) for s in (0, 2) for c in (0, 1)],
        "s int, code int, cv array<double>",
    ).createOrReplaceTempView("__pqv_gappy")
    with _pytest.raises(ValueError, match="not a dense codebook"):
        sess.sql(
            "SIMILARITY JOIN __pqv_emb WITH __pqv_emb "
            "ON embedding BY vec_id TOP 3 METHOD PQ MODEL __pqv_gappy"
        )
    # mixed subvector widths
    spark.createDataFrame(
        [(0, 0, [0.0] * 32), (0, 1, [0.0] * 16)],
        "s int, code int, cv array<double>",
    ).createOrReplaceTempView("__pqv_widths")
    with _pytest.raises(ValueError, match="mixes subvector lengths"):
        sess.sql(
            "SIMILARITY JOIN __pqv_emb WITH __pqv_emb "
            "ON embedding BY vec_id TOP 3 METHOD PQ MODEL __pqv_widths"
        )


def test_similarity_join_sql_ivfadc_matches_operator_and_refuses(spark, tmp_path):
    """r14: SIMILARITY JOIN ... METHOD IVFADC MODEL <cents> BOOKS
    <books> must be exactly assign_cells|residualize + pq_encode +
    ivfadc_ann_topk given the same model relations (the router adds no
    semantics; end-to-end also oracle-gated as zh14/zh15 against the
    zd46/zf15 operator oracles).  Subquery MODEL with a BOOKS clause
    exercises the greedy-capture split; malformed forms refuse."""
    import pytest as _pytest
    from pyspark.sql import functions as F

    from spark_sql_hbase_spark.operators.similarity import (
        _centroid_relation,
        _codebook_relation,
        _to_double,
        assign_cells,
        ivfadc_ann_topk,
        pq_encode,
    )
    from spark_sql_hbase_spark.queries import table
    from spark_sql_hbase_spark.session import EngineSession

    sf = "/root/testdata/sf0.001"
    emb = table(spark, sf, "embeddings")
    emb.createOrReplaceTempView("__sj_adc_emb")
    cseeds = sorted(
        emb.filter(F.col("vec_id") < 4)
        .select("vec_id", _to_double(F.col("embedding")).alias("ev"))
        .collect(),
        key=lambda r: r["vec_id"],
    )
    cents = [(int(r["vec_id"]), list(r["ev"])) for r in cseeds]
    _centroid_relation(spark, cents).createOrReplaceTempView("__sj_adc_cents")
    m, sub = 4, 16
    seeds = sorted(
        emb.filter(F.col("vec_id") < 8)
        .select("vec_id", _to_double(F.col("embedding")).alias("ev"))
        .collect(),
        key=lambda r: r["vec_id"],
    )
    books = [
        [
            (int(r["vec_id"]), list(r["ev"])[s * sub : (s + 1) * sub])
            for r in seeds
        ]
        for s in range(m)
    ]
    _codebook_relation(spark, books).createOrReplaceTempView("__sj_adc_books")
    sess = EngineSession(spark=spark, warehouse_dir=str(tmp_path / "wh"))
    got = sess.sql(
        "SIMILARITY JOIN __sj_adc_emb "
        "WITH (SELECT * FROM __sj_adc_emb WHERE vec_id < 6) "
        "ON embedding BY vec_id TOP 4 METHOD IVFADC "
        "MODEL __sj_adc_cents BOOKS __sj_adc_books PROBES 2"
    )
    cells = assign_cells(emb, cents, "vec_id", "embedding")
    codes = pq_encode(cells, books, "vec_id", "embedding", extra_cols=("cell",))
    want = ivfadc_ann_topk(
        codes, emb.filter(F.col("vec_id") < 6), cents, books,
        "vec_id", "embedding", k=4, nprobe=2,
    )
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, want.collect()))
    # subquery MODEL followed by BOOKS: the greedy capture split
    got_sub = sess.sql(
        "SIMILARITY JOIN __sj_adc_emb "
        "WITH (SELECT * FROM __sj_adc_emb WHERE vec_id < 6) "
        "ON embedding BY vec_id TOP 4 METHOD IVFADC "
        "MODEL (SELECT * FROM __sj_adc_cents) "
        "BOOKS (SELECT * FROM __sj_adc_books) PROBES 2"
    )
    assert sorted(map(tuple, got_sub.collect())) == sorted(
        map(tuple, want.collect())
    )
    # refusals
    with _pytest.raises(ValueError, match="METHOD IVFADC needs MODEL"):
        sess.sql(
            "SIMILARITY JOIN __sj_adc_emb WITH __sj_adc_emb "
            "ON embedding BY vec_id TOP 4 METHOD IVFADC"
        )
    with _pytest.raises(ValueError, match="METHOD IVFADC needs MODEL"):
        sess.sql(
            "SIMILARITY JOIN __sj_adc_emb WITH __sj_adc_emb "
            "ON embedding BY vec_id TOP 4 METHOD IVFADC "
            "MODEL __sj_adc_cents"
        )
    with _pytest.raises(ValueError, match="takes no BOOKS clause"):
        sess.sql(
            "SIMILARITY JOIN __sj_adc_emb WITH __sj_adc_emb "
            "ON embedding BY vec_id TOP 4 METHOD IVF "
            "MODEL __sj_adc_cents BOOKS __sj_adc_books"
        )
    with _pytest.raises(ValueError, match="takes no RESIDUAL flag"):
        sess.sql(
            "SIMILARITY JOIN __sj_adc_emb WITH __sj_adc_emb "
            "ON embedding BY vec_id TOP 4 METHOD PQ "
            "MODEL __sj_adc_books RESIDUAL"
        )
    with _pytest.raises(ValueError, match=r"lacks column\(s\)"):
        sess.sql(
            "SIMILARITY JOIN __sj_adc_emb WITH __sj_adc_emb "
            "ON embedding BY vec_id TOP 4 METHOD IVFADC "
            "MODEL __sj_adc_books BOOKS __sj_adc_books"
        )


def test_similarity_join_sql_model_named_books_and_dim_refusals(spark, tmp_path):
    """Second-review fixes: (a) a bare MODEL identifier legitimately
    named `books` must resolve, not be mangled by the subquery-capture
    split; (b) DIM refuses on every method but SQ8 (a silently ignored
    clause is worse than a refusal)."""
    import pytest as _pytest
    from pyspark.sql import functions as F

    from spark_sql_hbase_spark.operators.similarity import (
        _to_double,
        assign_cells,
        multiprobe_ann_topk,
    )
    from spark_sql_hbase_spark.queries import table
    from spark_sql_hbase_spark.session import EngineSession

    sf = "/root/testdata/sf0.001"
    emb = table(spark, sf, "embeddings")
    emb.createOrReplaceTempView("__sj_nb_emb")
    cent = emb.filter(F.col("vec_id") < 4).select(
        F.col("vec_id").alias("cell"),
        _to_double(F.col("embedding")).alias("cv"),
    )
    cent.createOrReplaceTempView("books")
    sess = EngineSession(spark=spark, warehouse_dir=str(tmp_path / "wh"))
    try:
        got = sess.sql(
            "SIMILARITY JOIN __sj_nb_emb "
            "WITH (SELECT * FROM __sj_nb_emb WHERE vec_id < 5) "
            "ON embedding BY vec_id TOP 3 METHOD IVF MODEL books PROBES 2"
        )
        want = multiprobe_ann_topk(
            assign_cells(emb, cent, "vec_id", "embedding", "cell"),
            emb.filter(F.col("vec_id") < 5),
            cent,
            "vec_id",
            "embedding",
            "cell",
            k=3,
            nprobe=2,
        )
        assert sorted(map(tuple, got.collect())) == sorted(
            map(tuple, want.collect())
        )
    finally:
        spark.catalog.dropTempView("books")
    with _pytest.raises(ValueError, match="takes no DIM clause"):
        sess.sql(
            "SIMILARITY JOIN __sj_nb_emb WITH __sj_nb_emb "
            "ON embedding BY vec_id TOP 3 DIM 64"
        )
    with _pytest.raises(ValueError, match="takes no DIM clause"):
        sess.sql(
            "SIMILARITY JOIN __sj_nb_emb WITH __sj_nb_emb "
            "ON embedding BY vec_id TOP 3 METHOD IVFADC "
            "MODEL __sj_nb_emb BOOKS __sj_nb_emb DIM 64"
        )


def test_explain_over_routed_statements(spark, tmp_path):
    """EXPLAIN over router-served forms (SIMILARITY JOIN, SCAN, keyed
    bare count) returns the plan the router would ACTUALLY execute in
    Spark's one-column EXPLAIN shape — a passthrough would parse-error
    (SIMILARITY/SCAN) or misleadingly show the catalog scan instead of
    the LocalTableScan fast path (bare count).  Ordinary EXPLAIN still
    passes through to Spark."""
    from pyspark.sql import functions as F

    from spark_sql_hbase_spark.queries import table
    from spark_sql_hbase_spark.session import EngineSession
    from spark_sql_hbase_spark.sources.fixtures import pw_test_df, pw_test_spec

    sess = EngineSession(spark=spark, warehouse_dir=str(tmp_path / "wh"))
    sess.store.create_table(pw_test_spec())
    sess.store.insert(
        "pw.test", pw_test_df(spark), overwrite=True, generate_row_key=False
    )
    sf = "/root/testdata/sf0.001"
    emb = table(spark, sf, "embeddings")
    emb.createOrReplaceTempView("__xp_emb")
    plan = sess.sql(
        "EXPLAIN FORMATTED SIMILARITY JOIN __xp_emb "
        "WITH (SELECT * FROM __xp_emb WHERE vec_id < 4) "
        "ON embedding BY vec_id TOP 3"
    ).collect()
    assert len(plan) == 1 and "Physical Plan" in plan[0]["plan"]
    scan_plan = sess.sql("EXPLAIN SCAN pw.test PAGE 4").collect()[0]["plan"]
    assert "TakeOrdered" in scan_plan
    cnt_plan = sess.sql(
        "EXPLAIN SELECT COUNT(*) FROM pw.test"
    ).collect()[0]["plan"]
    assert "LocalTableScan" in cnt_plan
    # a non-routed EXPLAIN passes through to Spark's own EXPLAIN
    passthrough = sess.sql("EXPLAIN SELECT 1 + 1").collect()
    assert passthrough and "plan" in passthrough[0].asDict()


def test_near_duplicates_sql_methods_and_refusals(spark, tmp_path):
    """NEAR DUPLICATES through the router: MINHASH (default) and EXACT
    agree on the verified-pairs contract at gate scale, malformed forms
    and unknown methods refuse with the grammar, and EXPLAIN serves the
    routed form's actual plan."""
    import pytest as _pytest

    from spark_sql_hbase_spark.queries import table
    from spark_sql_hbase_spark.session import EngineSession

    table(spark, "/root/testdata/sf0.001", "documents").createOrReplaceTempView(
        "__nd_docs"
    )
    sess = EngineSession(spark=spark, warehouse_dir=str(tmp_path / "wh"))
    base = "NEAR DUPLICATES IN __nd_docs ON text BY doc_id THRESHOLD 0.6 SHINGLE 3"
    got = sorted(map(tuple, sess.sql(base).collect()))
    assert got, "no near-dup pairs at gate scale"
    # EXACT verifies everything the inverted index touches — same
    # verified-pairs contract, so the two methods agree exactly
    exact = sorted(map(tuple, sess.sql(base + " METHOD EXACT").collect()))
    assert got == exact
    # a subquery source resolves through the same seam
    sub = sess.sql(
        "NEAR DUPLICATES IN (SELECT doc_id, text FROM __nd_docs) "
        "ON text BY doc_id THRESHOLD 0.6 SHINGLE 3"
    )
    assert sorted(map(tuple, sub.collect())) == got
    with _pytest.raises(ValueError, match="unsupported NEAR DUPLICATES form"):
        sess.sql("NEAR DUPLICATES __nd_docs ON text")
    with _pytest.raises(ValueError, match="unknown NEAR DUPLICATES method"):
        sess.sql(base + " METHOD SIMHASH")
    plan = sess.sql("EXPLAIN " + base).collect()[0]["plan"]
    assert "Exchange" in plan or "Physical Plan" in plan
    with _pytest.raises(ValueError, match="unsupported NEAR DUPLICATES form"):
        sess.sql("EXPLAIN NEAR DUPLICATES __nd_docs ON text")
