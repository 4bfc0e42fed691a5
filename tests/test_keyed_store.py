"""Keyed-table store: reference-parity behavior tests.

Covers SURVEY §2.A operators: scan + pruning + pushdown (A1-A4), insert
with row-key generation (A5-A6), CTAS (A7), catalog/DDL (A8), key-sorted
bulk layout + compaction (A9-A10) — against the reference's own
deterministic fixture law (FIXTURES.md) with DuckDB as the oracle.
"""

import glob
import json
import os
import time

import duckdb
import pytest
from pyspark.sql import functions as F

from spark_sql_hbase_spark.catalog import TableSpec
from spark_sql_hbase_spark.plans.pushdown import (
    assert_pruned_to,
    assert_pushed,
    pushed_filters,
)
from spark_sql_hbase_spark.sources import fixtures
from spark_sql_hbase_spark.sources.keyed_parquet import (
    KeyedTableStore,
    TableAlreadyExistsError,
)


@pytest.fixture(scope="module")
def store(spark, tmp_path_factory):
    wh = str(tmp_path_factory.mktemp("warehouse"))
    store = KeyedTableStore(spark, wh)
    fixtures.install_all(store)
    return store


def duck(store, qualified, sql):
    # resolve the CURRENT generation through the store (the table root
    # holds generation dirs + the _GENERATION manifest, not bare files)
    path = os.path.join(
        store.table_path(store.registry.get(qualified)), "*.parquet"
    )
    con = duckdb.connect()
    con.sql(f"CREATE VIEW t AS SELECT * FROM read_parquet('{path}')")
    return con.sql(sql).fetchall()


# -- A1/A2/A3: the README demo query end-to-end --------------------------
def test_reference_demo_query(store):
    """``select `A:A_00` from pw.test where `A:A_00` like "%24%"``
    (reference README.md:47) — result matches the fixture law and DuckDB."""
    df = store.read("pw.test").select("A:A_00").filter(F.col("A:A_00").like("%24%"))
    got = sorted(r[0] for r in df.collect())
    expected = sorted(
        f"A_00_{i:04d}" for i in range(fixtures.N_ROWS) if "24" in f"A_00_{i:04d}"
    )
    assert got == expected
    oracle = sorted(
        r[0]
        for r in duck(store, "pw.test", 'SELECT "A:A_00" FROM t WHERE "A:A_00" LIKE \'%24%\'')
    )
    assert got == oracle
    # pruning: only the one column is read; pushdown: the LIKE reaches the scan
    assert_pruned_to(df, 1)
    assert_pushed(df, "StringContains(A:A_00,24)")


def test_sql_surface_via_view(store):
    """SQL access through the session catalog view (A8/A12 surface)."""
    n = store.spark.sql(
        "SELECT count(*) AS n FROM pw__test WHERE `B:B_07` = 'B_07_0042'"
    ).collect()[0][0]
    assert n == 1


# -- §2.B.1 pushdown matrix (correct semantics, no reference bugs) --------
MATRIX = [
    # (filter_expr, expected_rowkeys_predicate, pushed_fragment)
    (lambda c: c == "A_05_0123", lambda i: i == 123, "EqualTo(A:A_05,A_05_0123)"),
    (lambda c: c > "A_05_0990", lambda i: i > 990, "GreaterThan(A:A_05"),
    (lambda c: c >= "A_05_0990", lambda i: i >= 990, "GreaterThanOrEqual(A:A_05"),
    (lambda c: c < "A_05_0010", lambda i: i < 10, "LessThan(A:A_05"),
    (lambda c: c <= "A_05_0010", lambda i: i <= 10, "LessThanOrEqual(A:A_05"),
    (
        lambda c: c.isin("A_05_0001", "A_05_0002"),
        lambda i: i in (1, 2),
        "In(A:A_05",
    ),
    (lambda c: c.isNotNull(), lambda i: True, "IsNotNull(A:A_05)"),
    (lambda c: c.startswith("A_05_01"), lambda i: 100 <= i <= 199, "StringStartsWith"),
    (lambda c: c.endswith("77"), lambda i: str(i).zfill(4).endswith("77"), "StringEndsWith"),
    (lambda c: c.contains("024"), lambda i: "024" in f"A_05_{i:04d}", "StringContains"),
    (
        lambda c: (c > "A_05_0990") | (c < "A_05_0005"),
        lambda i: i > 990 or i < 5,
        "Or(GreaterThan",
    ),
    (
        lambda c: (c > "A_05_0500") & (c <= "A_05_0502"),
        lambda i: 500 < i <= 502,
        "GreaterThan(A:A_05",
    ),
]


@pytest.mark.parametrize("case", range(len(MATRIX)))
def test_pushdown_matrix(store, case):
    filt, law, fragment = MATRIX[case]
    df = store.read("pw.test").filter(filt(F.col("A:A_05"))).select("row_key")
    got = sorted(r[0] for r in df.collect())
    expected = sorted(f"{i:04d}" for i in range(fixtures.N_ROWS) if law(i))
    assert got == expected, f"case {case}: wrong rows"
    assert_pushed(df, fragment)


def test_literal_first_comparison_not_swapped(store):
    """lit > col (literal-on-left): the reference compiled this unflipped —
    a correctness bug (HBaseSparkFilterUtils.scala:81-112). Ours must give
    the mathematically correct result."""
    df = store.read("pw.test").filter(F.lit("A_05_0010") > F.col("A:A_05"))
    assert df.count() == 10  # rows 0000..0009


def test_rowkey_point_and_range(store):
    """Row-key fast path (A4): point/range predicates prune to the sorted
    key's parquet stats; results exact."""
    point = store.read("pw.test").filter(F.col("row_key") == "0042")
    assert [r["A:A_00"] for r in point.collect()] == ["A_00_0042"]
    assert_pushed(point, "EqualTo(row_key,0042)")
    rng = store.read("pw.test").filter(
        (F.col("row_key") >= "0100") & (F.col("row_key") < "0110")
    )
    assert rng.count() == 10


def test_untranslatable_predicate_never_dropped(store):
    """Predicates the storage layer can't push (e.g. substring arithmetic)
    must still be evaluated (the reference silently dropped them —
    HBaseSparkFilterUtils.scala:126). Catalyst keeps a residual Filter."""
    df = store.read("pw.test").filter(
        F.substring(F.col("A:A_00"), 6, 4).cast("int") % 2 == 1
    )
    assert df.count() == 500  # odd row ids


# -- A5/A6: insert with row-key generation --------------------------------
def test_insert_generator_overrides_key(store):
    """README.md:54-66: inserting ('0000','TestSql') repeatedly yields
    generator-assigned sequential keys 0001..000N — the supplied key is
    ignored by the default generator."""
    spark = store.spark
    row = spark.createDataFrame(
        [("0000", "TestSql")], "`row_key` string, `T:T_00` string"
    )
    store.insert("pw.test_insert", row)
    store.insert("pw.test_insert", row)
    got = sorted(
        (r["row_key"], r["T:T_00"]) for r in store.read("pw.test_insert").collect()
    )
    assert got == [("0001", "TestSql"), ("0002", "TestSql")]


def test_insert_select_and_readback(store):
    """INSERT INTO ... SELECT (A5) with explicit keys preserved."""
    spec = TableSpec(
        namespace="pw", name="copy_a", key_type="string", families={"A": {"A_00": "string"}}
    )
    store.create_table(spec, ignore_if_exists=True)
    src = store.read("pw.test").select("row_key", "A:A_00").filter(F.col("row_key") < "0010")
    store.insert("pw.copy_a", src, overwrite=True, generate_row_key=False)
    assert store.read("pw.copy_a").count() == 10
    oracle = duck(store, "pw.copy_a", 'SELECT count(*) FROM t')[0][0]
    assert oracle == 10


# -- A7: CTAS ------------------------------------------------------------
def test_ctas_modes(store):
    spec = TableSpec(
        namespace="pw", name="ctas1", key_type="string", families={"A": {"A_00": "string"}}
    )
    src = store.read("pw.test").select("row_key", "A:A_00").limit(5)
    store.ctas(spec, src)
    assert store.read("pw.ctas1").count() == 5
    with pytest.raises(TableAlreadyExistsError):
        store.ctas(spec, src, mode="error")
    store.ctas(spec, src, mode="ignore")  # no-op
    assert store.read("pw.ctas1").count() == 5
    store.ctas(spec, src.limit(3), mode="overwrite")
    assert store.read("pw.ctas1").count() == 3


# -- typed table: full type fidelity (the reference degraded these) -------
def test_typed_nulls_and_negatives(store):
    t = store.read("pw.typed")
    n_null = t.filter(F.col("t:c_int").isNull()).count()
    assert n_null == len([i for i in range(fixtures.N_ROWS) if i % 97 == 0])
    # negative numerics compare correctly (HBase byte-order would not —
    # SURVEY §2.B.1 note)
    neg = t.filter(F.col("t:c_short") < 0).count()
    assert neg == len([i for i in range(fixtures.N_ROWS) if i - 500 < 0 and i % 97 != 0])
    # timestamp ms precision round-trip
    row = t.filter(F.col("row_key") == "0002").select("t:c_ts").collect()[0][0]
    assert row.isoformat() == "2024-01-01T00:02:00"


def test_binary_and_meta_table(store):
    m = store.read("hbase.meta")
    assert m.count() == 50
    blob = m.filter(F.col("row_key") == "region_007").select("info:regioninfo").collect()
    assert bytes(blob[0][0]) == b"regioninfo_007"


# -- A8: catalog surface --------------------------------------------------
def test_catalog_listing(store):
    assert "pw" in store.namespaces()
    assert "pw.test" in store.tables("pw")
    assert store.exists("pw.test") and not store.exists("pw.nope")


# -- A10: key-sorted layout + compaction ----------------------------------
def test_layout_sorted_and_compaction(store):
    spec = fixtures.pw_test_spec()
    path = store.table_path(spec)
    files = [f for f in glob.glob(f"{path}/*.parquet") if os.path.getsize(f) > 0]
    # range-partitioned: per-file min/max key ranges must not overlap
    import pyarrow.parquet as pq

    ranges = []
    for f in files:
        md = pq.ParquetFile(f).metadata
        keys = [
            (
                md.row_group(i).column(0).statistics.min,
                md.row_group(i).column(0).statistics.max,
            )
            for i in range(md.num_row_groups)
        ]
        if keys:
            ranges.append((min(k[0] for k in keys), max(k[1] for k in keys)))
    ranges.sort()
    for (lo1, hi1), (lo2, hi2) in zip(ranges, ranges[1:]):
        assert hi1 <= lo2, f"overlapping key ranges {hi1} > {lo2}"

    spec2 = TableSpec(
        namespace="pw", name="compactme", key_type="string",
        families={"A": {"A_00": "string"}},
    )
    store.create_table(spec2, ignore_if_exists=True)
    src = store.read("pw.test").select("row_key", "A:A_00")
    store.insert("pw.compactme", src.filter(F.col("row_key") < "0500"),
                 generate_row_key=False)
    store.insert("pw.compactme", src.filter(F.col("row_key") >= "0500"),
                 generate_row_key=False)
    before = len(glob.glob(os.path.join(store.table_path(spec2), "*.parquet")))
    store.compact("pw.compactme", n_regions=2)
    after = len(glob.glob(os.path.join(store.table_path(spec2), "*.parquet")))
    assert store.read("pw.compactme").count() == 1000
    assert after <= before


# -- A6: distributed-safe generators --------------------------------------
def test_uuid_and_snowflake_generators(store):
    from spark_sql_hbase_spark.functions.rowkey import snowflake_row_key, uuid_row_key

    src = store.read("pw.test").select("A:A_00").limit(100)
    u = uuid_row_key(src)
    assert u.select("row_key").distinct().count() == 100
    assert all(len(r[0]) == 36 for r in u.select("row_key").collect())
    s = snowflake_row_key(src)
    keys = [r[0] for r in s.select("row_key").collect()]
    assert len(set(keys)) == 100 and all(len(k) == 16 for k in keys)


# -- A8: drop table / namespace -------------------------------------------
def test_drop_table_and_namespace(store):
    from spark_sql_hbase_spark.catalog import TableSpec

    spec = TableSpec(namespace="tmpns", name="t1", key_type="string",
                     families={"A": {"A_00": "string"}})
    store.create_table(spec)
    assert store.exists("tmpns.t1")
    with pytest.raises(ValueError):
        store.drop_namespace("tmpns", cascade=False)  # non-empty
    store.drop_namespace("tmpns", cascade=True)
    assert not store.exists("tmpns.t1")
    assert "tmpns" not in store.namespaces()


# -- A8: cache/uncache surface (reference: HBaseCatalogImpl cache ops) ----
def test_cache_table_surface(store):
    spark = store.spark
    spark.catalog.cacheTable("pw__test")
    try:
        assert spark.catalog.isCached("pw__test")
        df = spark.sql("SELECT count(*) AS n FROM pw__test")
        assert df.collect()[0]["n"] == fixtures.N_ROWS
        plan = spark.sql("SELECT * FROM pw__test")._jdf.queryExecution().optimizedPlan().toString()
        assert "InMemoryRelation" in plan
    finally:
        spark.catalog.uncacheTable("pw__test")
    assert not spark.catalog.isCached("pw__test")


# -- §1.3: YAML schema registry (reference: test.yml + getSchemaProp) -----
def test_yaml_registry_roundtrip(spark):
    import os

    from spark_sql_hbase_spark.catalog import SchemaRegistry

    path = os.path.join(
        os.path.dirname(fixtures.__file__), "..", "conf", "tables.yml"
    )
    reg = SchemaRegistry.load(path)
    assert sorted(reg.namespaces()) == ["hbase", "pw"]
    assert "pw.test" in reg.tables("pw")

    spec = reg.get("pw.test")
    assert spec.split_keys == ["0250", "0500", "0750"]
    assert spec.schema() == fixtures.pw_test_spec().schema()

    ins = reg.get("pw.test_insert")
    assert ins.generator == "default"

    typed = reg.get("pw.typed")
    assert typed.schema() == fixtures.pw_typed_spec().schema()

    meta = reg.get("hbase.meta")
    assert meta.schema() == fixtures.hbase_meta_spec().schema()


def test_engine_session_with_registry(spark):
    import os

    from spark_sql_hbase_spark.session import EngineSession

    path = os.path.join(
        os.path.dirname(fixtures.__file__), "..", "conf", "tables.yml"
    )
    sess = EngineSession(spark=spark, registry_path=path)
    assert sess.registry.exists("pw.test")


def test_covered_index_is_index_only_and_consistent(spark, tmp_path):
    """The covered secondary index answers a value-predicate query from
    the INDEX table alone (no main-table files in the scan) and agrees
    row-for-row with filtering the main table."""
    from pyspark.sql import functions as F

    from spark_sql_hbase_spark.catalog import TableSpec
    from spark_sql_hbase_spark.sources.keyed_parquet import KeyedTableStore

    st = KeyedTableStore(spark, str(tmp_path / "wh"))
    rows = [(i, f"name{i}", i % 4, float(i) * 1.5) for i in range(1, 41)]
    src = spark.createDataFrame(rows, "k long, name string, grp long, val double")
    st.ctas(
        TableSpec(
            namespace="ix",
            name="main",
            key_type="string",
            families={"c": {"name": "string", "grp": "long", "val": "double"}},
        ),
        src.select(
            F.lpad(F.col("k").cast("string"), 8, "0").alias("row_key"),
            F.col("name").alias("c:name"),
            F.col("grp").alias("c:grp"),
            F.col("val").alias("c:val"),
        ),
    )
    st.create_covered_index(
        "ix.main", "ix.by_grp", index_col="c:grp", include=["c:name", "c:val"],
        key_width=4,
    )
    idx = st.read("ix.by_grp").filter(
        (F.col("row_key") >= "0002|") & (F.col("row_key") < "0002}")
    )
    got = {
        (r["i:src_key"], r["c:name"], r["c:val"]) for r in idx.collect()
    }
    exp = {
        (f"{i:08d}", f"name{i}", i * 1.5) for i in range(1, 41) if i % 4 == 2
    }
    assert got == exp and len(got) == 10
    # index-only: the scan touches ONLY the index table's files
    files = idx.inputFiles()
    assert files and all("by_grp" in f for f in files), files
    # the index table itself is a well-formed keyed table (sorted regions)
    assert st.exists("ix.by_grp")


def test_versioned_asof_read_cuts(spark, tmp_path):
    """As-of reads honor the version cut: asof=1 sees only batch-1
    values, asof=2 sees batch-2 updates where present, and untouched
    keys keep their batch-1 row at every cut."""
    from pyspark.sql import functions as F

    from spark_sql_hbase_spark.catalog import TableSpec
    from spark_sql_hbase_spark.sources.keyed_parquet import KeyedTableStore

    st = KeyedTableStore(spark, str(tmp_path / "wh"))
    spec = TableSpec(
        namespace="v", name="t", key_type="string",
        families={"c": {"val": "long", "v": "long"}},
    )
    st.create_table(spec)
    b1 = spark.createDataFrame(
        [(f"{i:04d}", i, 1) for i in range(10)],
        "row_key string, `c:val` long, `c:v` long",
    )
    b2 = spark.createDataFrame(
        [(f"{i:04d}", i + 1000, 2) for i in range(0, 10, 3)],
        "row_key string, `c:val` long, `c:v` long",
    )
    st.insert("v.t", b1, generate_row_key=False)
    st.insert("v.t", b2, generate_row_key=False)
    asof1 = {
        r["row_key"]: r["c:val"]
        for r in st.read_versions_asof("v.t", "c:v", 1).collect()
    }
    assert asof1 == {f"{i:04d}": i for i in range(10)}
    asof2 = {
        r["row_key"]: r["c:val"]
        for r in st.read_versions_asof("v.t", "c:v", 2).collect()
    }
    exp = {f"{i:04d}": (i + 1000 if i % 3 == 0 else i) for i in range(10)}
    assert asof2 == exp


def test_salted_keys_spread_and_range_scan_exact(spark, tmp_path):
    """Salting spreads a monotonically increasing key across buckets
    (every bucket non-empty at modest cardinality) and the fan-out range
    scan returns exactly the logical range with the salt stripped."""
    from pyspark.sql import functions as F

    from spark_sql_hbase_spark.catalog import TableSpec
    from spark_sql_hbase_spark.sources.keyed_parquet import KeyedTableStore

    st = KeyedTableStore(spark, str(tmp_path / "wh"))
    src = spark.range(1, 201).select(
        F.lpad(F.col("id").cast("string"), 6, "0").alias("k"),
        (F.col("id") * 2).alias("v"),
    )
    spec = TableSpec(
        namespace="s", name="t", key_type="string",
        families={"c": {"v": "long"}},
    )
    st.ctas(
        spec,
        src.select(
            KeyedTableStore.salted_key(F.col("k"), 4).alias("row_key"),
            F.col("v").alias("c:v"),
        ),
    )
    raw = st.read("s.t")
    prefixes = {
        r["p"] for r in raw.select(
            F.substring("row_key", 1, 2).alias("p")
        ).distinct().collect()
    }
    assert prefixes == {"00", "01", "02", "03"}
    got = {
        (r["row_key"], r["c:v"])
        for r in st.read_salted_key_range("s.t", 4, "000050", "000060").collect()
    }
    assert got == {(f"{i:06d}", i * 2) for i in range(50, 61)}


def test_version_gc_compaction_drops_superseded_and_ttl(spark, tmp_path):
    """After compact_versions the table physically holds one row per key
    (VERSIONS=1); with min_version the TTL path drops expired cells even
    when they are the only version."""
    from pyspark.sql import functions as F

    from spark_sql_hbase_spark.catalog import TableSpec
    from spark_sql_hbase_spark.sources.keyed_parquet import KeyedTableStore

    st = KeyedTableStore(spark, str(tmp_path / "wh"))
    spec = TableSpec(
        namespace="gc", name="t", key_type="string",
        families={"c": {"val": "long", "v": "long"}},
    )
    st.create_table(spec)
    b1 = spark.createDataFrame(
        [(f"{i:04d}", i, 1) for i in range(10)],
        "row_key string, `c:val` long, `c:v` long",
    )
    b2 = spark.createDataFrame(
        [(f"{i:04d}", i + 1000, 2) for i in range(0, 10, 2)],
        "row_key string, `c:val` long, `c:v` long",
    )
    st.insert("gc.t", b1, generate_row_key=False)
    st.insert("gc.t", b2, generate_row_key=False)
    assert st.read("gc.t").count() == 15  # 10 + 5 physical rows
    st.compact_versions("gc.t", "c:v")
    rows = {r["row_key"]: (r["c:val"], r["c:v"]) for r in st.read("gc.t").collect()}
    assert len(rows) == 10
    assert rows["0000"] == (1000, 2) and rows["0001"] == (1, 1)
    # TTL: expire everything below version 2 — only updated keys survive
    st.compact_versions("gc.t", "c:v", min_version=2)
    rows2 = {r["row_key"] for r in st.read("gc.t").collect()}
    assert rows2 == {f"{i:04d}" for i in range(0, 10, 2)}


def test_covered_index_rejects_overwidth_and_negative_values(spark, tmp_path):
    """lpad truncates over-width values into colliding index prefixes and
    a leading '-' breaks lexicographic order — both must fail the build
    loudly instead of silently corrupting the index."""
    import pytest
    from pyspark.sql import functions as F

    from spark_sql_hbase_spark.catalog import TableSpec
    from spark_sql_hbase_spark.sources.keyed_parquet import KeyedTableStore

    st = KeyedTableStore(spark, str(tmp_path / "wh"))
    spec = TableSpec(
        namespace="w", name="t", key_type="string",
        families={"c": {"grp": "long"}},
    )
    st.ctas(
        spec,
        spark.createDataFrame(
            [("0001", 12345), ("0002", 12346)], "row_key string, `c:grp` long"
        ),
    )
    with pytest.raises(ValueError, match="key_width"):
        st.create_covered_index("w.t", "w.ix", "c:grp", key_width=4)
    st2 = KeyedTableStore(spark, str(tmp_path / "wh2"))
    st2.ctas(
        TableSpec(namespace="w", name="n", key_type="string",
                  families={"c": {"grp": "long"}}),
        spark.createDataFrame(
            [("0001", -5)], "row_key string, `c:grp` long"
        ),
    )
    with pytest.raises(ValueError, match="negative"):
        st2.create_covered_index("w.n", "w.ixn", "c:grp", key_width=4)


def test_salted_buckets_capped_at_two_char_prefix(spark, tmp_path):
    """Bucket counts above 100 would fold via lpad truncation — rejected
    on both the write and read paths."""
    import pytest
    from pyspark.sql import functions as F

    from spark_sql_hbase_spark.sources.keyed_parquet import KeyedTableStore

    with pytest.raises(ValueError, match="buckets"):
        KeyedTableStore.salted_key(F.lit("k"), 150)
    st = KeyedTableStore(spark, str(tmp_path / "wh"))
    with pytest.raises(ValueError, match="buckets"):
        st.read_salted_key_range("x.y", 101, "a", "b")


def test_morton_key_monotone_box_containment(spark):
    """The Morton code is f(x)+g(y) with monotone f, g (disjoint bit
    planes), so every point of a box has its code within the corner
    codes — the soundness property the za03 range scan relies on —
    and the column expression agrees with the driver-side twin."""
    from pyspark.sql import functions as F

    from spark_sql_hbase_spark.sources.keyed_parquet import KeyedTableStore

    pts = [(x, y) for x in range(0, 40, 3) for y in range(0, 40, 5)]
    df = spark.createDataFrame(pts, "x long, y long")
    got = {
        (r["x"], r["y"]): r["m"]
        for r in df.select(
            "x", "y", KeyedTableStore.morton_key(F.col("x"), F.col("y")).alias("m")
        ).collect()
    }
    for (x, y), m in got.items():
        assert m == KeyedTableStore.morton_value(x, y), (x, y)
    lo, hi = KeyedTableStore.morton_value(6, 10), KeyedTableStore.morton_value(30, 30)
    for (x, y), m in got.items():
        if 6 <= x <= 30 and 10 <= y <= 30:
            assert lo <= m <= hi, (x, y, m)


def test_region_stats_footers_match_data(spark, tmp_path):
    """region_stats (parquet-footer-only) agrees file-for-file with the
    per-file ranges computed FROM THE DATA — footers are the planner's
    pruning source, so they must be exact, not approximate."""
    from pyspark.sql import functions as F

    from spark_sql_hbase_spark.catalog import TableSpec
    from spark_sql_hbase_spark.sources.keyed_parquet import KeyedTableStore

    st = KeyedTableStore(spark, str(tmp_path / "wh"))
    src = spark.range(1, 501).select(
        F.lpad(F.col("id").cast("string"), 8, "0").alias("row_key"),
        (F.col("id") * 3).alias("c:v"),
    )
    st.ctas(
        TableSpec(namespace="rs", name="t", key_type="string",
                  families={"c": {"v": "long"}}),
        src,
    )
    st.compact("rs.t", n_regions=4)
    got = [
        (r["region"], r["min_key"], r["max_key"], r["n_rows"])
        for r in st.region_stats("rs.t").collect()
    ]
    data = (
        st.read("rs.t")
        .groupBy(F.input_file_name().alias("f"))
        .agg(
            F.min("row_key").alias("lo"),
            F.max("row_key").alias("hi"),
            F.count(F.lit(1)).alias("n"),
        )
        .collect()
    )
    exp = sorted((r["lo"], r["hi"], r["n"]) for r in data)
    exp = [(i + 1, lo, hi, n) for i, (lo, hi, n) in enumerate(exp)]
    assert got == exp, (got, exp)
    # regions are disjoint and ordered — the sorted-layout invariant
    for (_, _, hi_prev, _), (_, lo_next, _, _) in zip(got, got[1:]):
        assert hi_prev < lo_next


def test_morton_rejects_out_of_domain(spark):
    """Coordinates outside [0, 2^bits) would silently truncate and break
    the box-containment soundness — both the literal twin and the
    build-time guard must reject them."""
    import pytest
    from pyspark.sql import functions as F

    from spark_sql_hbase_spark.sources.keyed_parquet import KeyedTableStore

    with pytest.raises(ValueError, match="outside"):
        KeyedTableStore.morton_value(256, 0)
    with pytest.raises(ValueError, match="outside"):
        KeyedTableStore.morton_value(0, -1)
    st = KeyedTableStore(spark, "/tmp/__morton_guard_unused")
    df = spark.createDataFrame([(300, 5)], "x long, y long")
    with pytest.raises(ValueError, match="exceeds"):
        st.morton_domain_guard(df, F.col("x"), F.col("y"))


# ---------------------------------------------------------------------------
# round-6: staged-dir atomic swap, single-scan DELETE count, batch-DML
# covered-index maintenance (VERDICT r5 items 3-5)
# ---------------------------------------------------------------------------
def _mk_plain_table(spark, tmp_path, ns="r6", name="t", n=40):
    st = KeyedTableStore(spark, str(tmp_path / "wh"))
    rows = [(f"{i:08d}", i % 4, float(i) * 1.5) for i in range(1, n + 1)]
    st.ctas(
        TableSpec(
            namespace=ns, name=name, key_type="string",
            families={"c": {"grp": "long", "val": "double"}},
        ),
        spark.createDataFrame(
            rows, "row_key string, `c:grp` long, `c:val` double"
        ),
    )
    return st


def test_dml_failure_mid_rewrite_leaves_old_snapshot(spark, tmp_path):
    """The staged-directory protocol: a rewrite that DIES while writing
    its staging output must leave the live table untouched (the old
    directory is only swapped out after the new one is fully written),
    and the next successful rewrite sweeps the staging garbage."""
    st = _mk_plain_table(spark, tmp_path)
    before = sorted(
        (r["row_key"], r["c:grp"], r["c:val"]) for r in st.read("r6.t").collect()
    )
    with pytest.raises(Exception):
        # raise_error fires per-row DURING the staging write
        st.update_where(
            "r6.t", {"c:val": "CAST(raise_error('boom') AS DOUBLE)"}, "true"
        )
    after = sorted(
        (r["row_key"], r["c:grp"], r["c:val"]) for r in st.read("r6.t").collect()
    )
    assert after == before
    # the table still accepts (and survives) a real rewrite; crashed
    # unreferenced generations are swept by it (only the current and
    # the grace-window previous generation remain)
    st.compact("r6.t", n_regions=2)
    assert st.read("r6.t").count() == len(before)
    spec = st.registry.get("r6.t")
    root = st.table_root(spec)
    man = st._read_gen_manifest(root)
    gens = {d for d in os.listdir(root) if d.startswith("gen-")}
    assert gens == {man["current"], man["previous"]} - {None}


def test_dml_paths_have_no_table_localcheckpoint(spark):
    """VERDICT r5 `weak`: DML rewrites must not pin a FULL-TABLE copy in
    executor storage — the staged swap replaced localCheckpoint in every
    DML path (source-level pin).  The one permitted checkpoint is
    upsert's BATCH-sized source pin (``incoming`` — bounded by the MERGE
    batch, never the table): assert the table-side plans (``cur``/the
    rewrite) carry none."""
    import inspect

    for meth in ("delete_where", "update_where", "compact",
                 "compact_versions", "_sorted_rewrite", "_atomic_swap_write"):
        src = inspect.getsource(getattr(KeyedTableStore, meth))
        assert "localCheckpoint" not in src.replace(
            "``localCheckpoint(eager=True)``", ""
        ), meth
    # upsert: its only checkpoint is the batch pin's, applied to the
    # batch (`incoming`), never to `cur` (the table) or the merged
    # rewrite plan
    def calls(fn):
        return [
            line.strip() for line in inspect.getsource(fn).splitlines()
            if "localCheckpoint(" in line and not line.strip().startswith("#")
        ]

    assert calls(KeyedTableStore.upsert) == []
    assert "self._pin_batch(" in inspect.getsource(KeyedTableStore.upsert)
    assert calls(KeyedTableStore._pin_batch) == [
        "frame = batch.localCheckpoint(eager=True)"
    ]


def test_delete_where_bounded_actions_and_count(spark, tmp_path):
    """DELETE runs exactly ONE driver-side action beyond the rewrite:
    the O(files) locate collect (per-file match counts — which also
    yields the returned count for free).  No table-sized count() action
    fires (the round-5 shape burned an extra agg().collect() scan just
    for the return value).  NB: patch the CONCRETE DataFrame class —
    pyspark 4 sessions hand out classic.DataFrame, a subclass whose own
    collect/count would bypass a parent-class patch (the round-6
    version of this pin was vacuous for exactly that reason)."""
    st = _mk_plain_table(spark, tmp_path)
    DataFrame = type(st.read("r6.t"))
    actions: list[str] = []
    orig_collect, orig_count = DataFrame.collect, DataFrame.count
    DataFrame.collect = lambda self: actions.append("collect") or orig_collect(self)
    DataFrame.count = lambda self: (actions.append("count"), orig_count(self))[1]
    try:
        deleted = st.delete_where("r6.t", "`c:grp` = 2")
    finally:
        DataFrame.collect, DataFrame.count = orig_collect, orig_count
    assert deleted == 10
    assert actions == ["collect"], f"delete_where ran driver actions: {actions}"
    assert st.read("r6.t").count() == 30
    # NULL-predicate law still holds after the rework
    assert st.delete_where("r6.t", "NULL") == 0
    assert st.read("r6.t").count() == 30


def test_selective_dml_rewrites_only_affected_files(spark, tmp_path):
    """Round-7 scale path: a DELETE/UPDATE confined to one region's key
    range rewrites ONLY the files containing matches — every untouched
    file rides into the new generation as a HARDLINK (same inode, zero
    data movement), and a no-match DML is free (no generation swap)."""
    st = _mk_plain_table(spark, tmp_path, n=100)
    st.compact("r6.t", n_regions=4)
    spec = st.registry.get("r6.t")
    path = st.table_path(spec)
    inodes = {
        f: os.stat(os.path.join(path, f)).st_ino
        for f in os.listdir(path) if f.endswith(".parquet")
    }
    assert len(inodes) == 4
    # keys 00000001..00000100 range-split in 4; hit only the lowest keys
    deleted = st.delete_where("r6.t", "row_key <= '00000005'")
    assert deleted == 5
    path2 = st.table_path(spec)
    assert path2 != path  # swapped generation
    after = {
        f: os.stat(os.path.join(path2, f)).st_ino
        for f in os.listdir(path2) if f.endswith(".parquet")
    }
    kept = {f for f in after if f in inodes and after[f] == inodes[f]}
    assert len(kept) == 3, (inodes, after)  # 3 regions carried by hardlink
    assert st.read("r6.t").count() == 95
    # UPDATE confined to the top range: again 3 carried, values correct
    n_upd = st.update_where(
        "r6.t", {"c:val": "`c:val` + 1000"}, "row_key >= '00000096'"
    )
    assert n_upd == 5
    path3 = st.table_path(spec)
    after3 = {
        f: os.stat(os.path.join(path3, f)).st_ino
        for f in os.listdir(path3) if f.endswith(".parquet")
    }
    assert len({f for f in after3 if f in after and after3[f] == after[f]}) == 3
    got = {
        r["row_key"]: r["c:val"] for r in st.read("r6.t").collect()
    }
    assert got["00000100"] == 100 * 1.5 + 1000 and got["00000050"] == 50 * 1.5
    # no-match DML: free — the generation pointer does not move
    man_before = st._read_gen_manifest(st.table_root(spec))
    assert st.delete_where("r6.t", "row_key = 'nope'") == 0
    assert st.update_where("r6.t", {"c:val": "0.0"}, "row_key = 'nope'") == 0
    assert st._read_gen_manifest(st.table_root(spec)) == man_before
    # region invariants survive selective rewrites: non-overlapping
    # per-file key ranges (region_stats sorts by min key)
    stats = st.region_stats("r6.t").collect()
    for a, b in zip(stats, stats[1:]):
        assert a["max_key"] <= b["min_key"]


def test_batch_dml_maintains_covered_index(spark, tmp_path):
    """VERDICT r5 item 3 (was 'What's missing' #2): MERGE/DELETE/UPDATE on
    a table with a registered covered index rebuild the index in the same
    call — an index-only read is fresh immediately after each mutation."""
    st = _mk_plain_table(spark, tmp_path)
    st.create_covered_index(
        "r6.t", "r6.by_grp", index_col="c:grp", include=["c:val"], key_width=4
    )

    def index_view():
        return sorted(
            (r["i:src_key"], r["c:grp"], r["c:val"])
            for r in st.read("r6.by_grp").collect()
        )

    def expected_from_main():
        return sorted(
            (r["row_key"], r["c:grp"], r["c:val"])
            for r in st.read("r6.t").collect()
        )

    # upsert: existing key mutated + new key appended
    st.upsert(
        "r6.t",
        spark.createDataFrame(
            [("00000001", 9, 99.0), ("99999999", 9, 1.0)],
            "row_key string, `c:grp` long, `c:val` double",
        ),
    )
    assert index_view() == expected_from_main()
    # delete + update
    st.delete_where("r6.t", "`c:grp` = 3")
    assert index_view() == expected_from_main()
    st.update_where("r6.t", {"c:val": "`c:val` * 2.0"}, "`c:grp` = 0")
    assert index_view() == expected_from_main()
    assert not st.index_is_stale("r6.by_grp")


def test_failed_index_maintenance_marks_stale_and_rebuild_clears(
    spark, tmp_path, monkeypatch
):
    """A write whose index maintenance fails after the main table's
    flip leaves the index STALE loudly; rebuild_indexes() catches up
    and clears."""
    st = _mk_plain_table(spark, tmp_path)
    st.create_covered_index(
        "r6.t", "r6.by_grp", index_col="c:grp", include=["c:val"], key_width=4
    )
    orig = KeyedTableStore._sorted_rewrite

    def failing(self, spec, df, **kw):
        if spec.qualified_name == "r6.by_grp":
            raise RuntimeError("index rewrite failed (injected)")
        return orig(self, spec, df, **kw)

    monkeypatch.setattr(KeyedTableStore, "_sorted_rewrite", failing)
    # 10 of 40 rows: too large for the delta, so the index is rebuilt
    with pytest.raises(RuntimeError, match="injected"):
        st.delete_where("r6.t", "`c:grp` = 1")
    monkeypatch.undo()
    assert st.read("r6.t").count() == 30  # the main table committed
    assert st.index_is_stale("r6.by_grp")
    # stale index still holds the PRE-DML rows (10 deleted mains linger)
    assert st.read("r6.by_grp").count() == 40
    st.rebuild_indexes("r6.t")
    assert not st.index_is_stale("r6.by_grp")
    assert st.read("r6.by_grp").count() == 30


def test_covered_index_rejects_fractional_column_type(spark, tmp_path):
    """ADVICE r5: the lpad key encoding is order-correct only for
    non-negative INTEGERS — a double index column ('1.25' vs '1.5')
    passes the width guard yet sorts lexicographically != numerically,
    so it must be rejected at CREATE INDEX time."""
    st = _mk_plain_table(spark, tmp_path)
    with pytest.raises(ValueError, match="fixed_point_scale"):
        st.create_covered_index(
            "r6.t", "r6.by_val", index_col="c:val", key_width=8
        )


def test_drop_index_table_deregisters_from_main(spark, tmp_path):
    st = _mk_plain_table(spark, tmp_path)
    st.create_covered_index(
        "r6.t", "r6.by_grp", index_col="c:grp", key_width=4
    )
    assert list(st.registered_indexes("r6.t")) == ["r6.by_grp"]
    st.drop_table("r6.by_grp")
    assert st.registered_indexes("r6.t") == {}
    # DML no longer tries to maintain the ghost index
    st.delete_where("r6.t", "`c:grp` = 2")
    assert st.read("r6.t").count() == 30


def test_region_stats_exact_for_truncation_length_keys(spark, tmp_path):
    """ADVICE r5: parquet writers may truncate long binary statistics
    (inexact max).  Keys at/over the 64-byte truncation boundary must
    take the per-file exact fallback, so region_stats still reports the
    true ranges."""
    st = KeyedTableStore(spark, str(tmp_path / "wh"))
    # 70-char keys whose tails differ ONLY past byte 64 — a stats
    # truncation would collapse them
    rows = [("k" * 64 + f"{i:06d}", float(i)) for i in range(20)]
    st.ctas(
        TableSpec(
            namespace="lk", name="t", key_type="string",
            families={"c": {"val": "double"}},
        ),
        spark.createDataFrame(rows, "row_key string, `c:val` double"),
    )
    st.compact("lk.t", n_regions=2)
    got = st.region_stats("lk.t").collect()
    assert sum(r["n_rows"] for r in got) == 20
    assert min(r["min_key"] for r in got) == "k" * 64 + "000000"
    assert max(r["max_key"] for r in got) == "k" * 64 + "000019"


# ---------------------------------------------------------------------------
# round-6: string + fixed-point index encodings, snapshots
# ---------------------------------------------------------------------------
def test_string_index_order_and_lookup(spark, tmp_path):
    """String covered index: value\\x01src_key composite keys sort by
    (value, src_key) — including the prefix-of case ('ab' < 'b') that a
    left-pad encoding gets WRONG — and index_lookup answers a point
    query as one key-prefix range scan."""
    st = KeyedTableStore(spark, str(tmp_path / "wh"))
    rows = [("0001", "b"), ("0002", "ab"), ("0003", "abc"), ("0004", "ab")]
    st.ctas(
        TableSpec(
            namespace="si", name="t", key_type="string",
            families={"c": {"name": "string"}},
        ),
        spark.createDataFrame(rows, "row_key string, `c:name` string"),
    )
    st.create_covered_index("si.t", "si.by_name", index_col="c:name")
    idx = st.read("si.by_name").orderBy("row_key").collect()
    # index key order == (value, src_key) order
    assert [(r["c:name"], r["i:src_key"]) for r in idx] == [
        ("ab", "0002"), ("ab", "0004"), ("abc", "0003"), ("b", "0001"),
    ]
    got = {r["i:src_key"] for r in st.index_lookup("si.by_name", "ab").collect()}
    assert got == {"0002", "0004"}
    # exact match only: 'abc' does not leak into the 'ab' lookup
    assert {r["i:src_key"] for r in st.index_lookup("si.by_name", "b").collect()} == {"0001"}


def test_string_index_rejects_control_chars(spark, tmp_path):
    st = KeyedTableStore(spark, str(tmp_path / "wh"))
    st.ctas(
        TableSpec(namespace="sc", name="t", key_type="string",
                  families={"c": {"name": "string"}}),
        spark.createDataFrame(
            [("0001", "ok"), ("0002", "bad\x01sep")],
            "row_key string, `c:name` string",
        ),
    )
    with pytest.raises(ValueError, match="control"):
        st.create_covered_index("sc.t", "sc.by_name", index_col="c:name")


def test_fixed_point_index_lookup_and_dml_maintenance(spark, tmp_path):
    """Fractional index columns ride the order-preserving fixed-point
    encoding: keys are lpad(round(value*scale)); lookups hit the scaled
    bucket; DML maintenance re-derives the same encoding."""
    st = _mk_plain_table(spark, tmp_path)  # c:val = i * 1.5
    st.create_covered_index(
        "r6.t", "r6.by_val", index_col="c:val", key_width=8,
        fixed_point_scale=100,
    )
    # val 7.5 (i=5) -> bucket 750
    got = {r["i:src_key"] for r in st.index_lookup("r6.by_val", 7.5).collect()}
    assert got == {"00000005"}
    # order-correctness across the fractional domain: index key order
    # equals numeric order of the value column
    idx = st.read("r6.by_val").orderBy("row_key").collect()
    vals = [r["c:val"] for r in idx]
    assert vals == sorted(vals)
    # DML maintenance re-encodes identically
    st.update_where("r6.t", {"c:val": "`c:val` + 0.25"}, "row_key = '00000005'")
    got = {r["c:val"] for r in st.index_lookup("r6.by_val", 7.75).collect()}
    assert got == {7.75}


def test_snapshot_restore_and_clone(spark, tmp_path):
    """HBase snapshot/restore_snapshot/clone_snapshot parity: zero-copy
    capture (hardlinked immutable files), rollback via the atomic-swap
    protocol (covered indexes rebuilt to the restored state), and clone
    into a fresh table."""
    st = _mk_plain_table(spark, tmp_path)
    st.create_covered_index(
        "r6.t", "r6.by_grp", index_col="c:grp", include=["c:val"], key_width=4
    )
    before = sorted(
        (r["row_key"], r["c:grp"], r["c:val"]) for r in st.read("r6.t").collect()
    )
    st.snapshot("r6.t", "pre_dml")
    assert st.list_snapshots() == ["pre_dml"]
    # zero-copy: snapshot files are hardlinks (nlink > 1), not copies
    sdir = st._snapshot_dir("pre_dml")
    pq_files = [f for f in os.listdir(sdir) if f.endswith(".parquet")]
    assert pq_files and all(
        os.stat(os.path.join(sdir, f)).st_nlink > 1 for f in pq_files
    )
    # mutate, then roll back
    st.delete_where("r6.t", "`c:grp` IN (0, 1)")
    st.upsert("r6.t", spark.createDataFrame(
        [("99999999", 7, -1.0)], "row_key string, `c:grp` long, `c:val` double"
    ))
    assert st.read("r6.t").count() != len(before)
    st.restore_snapshot("r6.t", "pre_dml")
    after = sorted(
        (r["row_key"], r["c:grp"], r["c:val"]) for r in st.read("r6.t").collect()
    )
    assert after == before
    # the covered index was rebuilt to the restored state
    assert sorted(
        (r["i:src_key"], r["c:grp"], r["c:val"])
        for r in st.read("r6.by_grp").collect()
    ) == before
    # clone materializes the snapshot as a new table
    st.clone_snapshot("pre_dml", "r6.t_clone")
    assert sorted(
        (r["row_key"], r["c:grp"], r["c:val"])
        for r in st.read("r6.t_clone").collect()
    ) == before
    # restore of a snapshot from another table is refused
    with pytest.raises(ValueError, match="clone_snapshot"):
        st.restore_snapshot("r6.t_clone", "pre_dml")
    st.delete_snapshot("pre_dml")
    assert st.list_snapshots() == []


def test_minor_compaction_merges_small_keeps_big_zero_copy(spark, tmp_path):
    """Minor compaction merges ONLY the small files (one key-sorted run
    out) and carries large files as hardlinks — same inode, zero data
    movement — leaving content, scans, and stats exact."""
    st = KeyedTableStore(spark, str(tmp_path / "wh"))
    spec = TableSpec(
        namespace="mc", name="t", key_type="string",
        families={"c": {"v": "long"}},
    )
    big_rows = [(f"{i:08d}", i) for i in range(2000)]
    st.ctas(spec, spark.createDataFrame(big_rows, "row_key string, `c:v` long"))
    st.compact("mc.t", n_regions=1)  # one "big" file
    path = st.table_path(spec)
    big_files = {
        f: os.stat(os.path.join(path, f)).st_ino
        for f in os.listdir(path) if f.endswith(".parquet")
    }
    assert len(big_files) == 1
    # a tail of small ingest batches
    for k in range(4):
        st.insert("mc.t", spark.createDataFrame(
            [(f"9{k}{i:06d}", i) for i in range(5)],
            "row_key string, `c:v` long",
        ), generate_row_key=False)
    n_before = len([f for f in os.listdir(path) if f.endswith(".parquet")])
    assert n_before > 5
    before = sorted((r["row_key"], r["c:v"]) for r in st.read("mc.t").collect())
    # threshold between the small-batch files and the 2000-row file
    big_size = os.path.getsize(
        os.path.join(path, next(iter(big_files)))
    )
    merged = st.compact_minor("mc.t", small_file_bytes=big_size)
    assert merged == n_before - 1
    # re-resolve: the swap flipped the table to a new generation dir
    path = st.table_path(spec)
    files_after = [f for f in os.listdir(path) if f.endswith(".parquet")]
    # all small files merged into one run + the untouched big file
    assert len(files_after) == 2
    # the big file is the SAME inode (hardlink, not a copy)
    kept = set(files_after) & set(big_files)
    assert kept and all(
        os.stat(os.path.join(path, f)).st_ino == big_files[f] for f in kept
    )
    after = sorted((r["row_key"], r["c:v"]) for r in st.read("mc.t").collect())
    assert after == before
    # stats/admin surfaces still exact
    assert st.region_stats("mc.t").agg(F.sum("n_rows")).collect()[0][0] == len(before)
    # below min_files -> no-op
    assert st.compact_minor("mc.t", small_file_bytes=10**9, min_files=3) == 0


def test_fixed_point_lookup_half_boundary_matches_stored_keys(spark, tmp_path):
    """7.125 * 100 = 712.5 exactly: Spark's F.round (HALF_UP) stores
    bucket 713, and index_lookup must round the SAME way — Python's
    banker's round() would compute 712 and miss the row."""
    st = KeyedTableStore(spark, str(tmp_path / "wh"))
    st.ctas(
        TableSpec(namespace="hb", name="t", key_type="string",
                  families={"c": {"v": "double"}}),
        spark.createDataFrame(
            [("0001", 7.125), ("0002", 1.0)], "row_key string, `c:v` double"
        ),
    )
    st.create_covered_index(
        "hb.t", "hb.by_v", index_col="c:v", key_width=8, fixed_point_scale=100
    )
    got = {r["i:src_key"] for r in st.index_lookup("hb.by_v", 7.125).collect()}
    assert got == {"0001"}


def test_insert_maintains_covered_index_incrementally(spark, tmp_path):
    """Review fix: plain INSERT on an indexed table appends the index
    projection of exactly the inserted batch — index-only reads see the
    new rows."""
    st = _mk_plain_table(spark, tmp_path)
    st.create_covered_index(
        "r6.t", "r6.by_grp", index_col="c:grp", include=["c:val"], key_width=4
    )
    batch = spark.createDataFrame(
        [("50000001", 7, 1.0), ("50000002", 7, 2.0)],
        "row_key string, `c:grp` long, `c:val` double",
    )
    st.insert("r6.t", batch, generate_row_key=False)
    idx = st.read("r6.by_grp")
    assert idx.count() == 42
    got = {
        r["i:src_key"]
        for r in st.index_lookup("r6.by_grp", 7).collect()
    }
    assert got == {"50000001", "50000002"}
    assert not st.index_is_stale("r6.by_grp")
    # overwrite insert triggers a full rebuild
    st.insert("r6.t", batch, overwrite=True, generate_row_key=False)
    assert st.read("r6.by_grp").count() == 2


def test_asof_read_collapses_replayed_duplicate_cells(spark, tmp_path):
    """Review fix: bit-identical (row_key, version) duplicates from an
    at-least-once ingest replay collapse on read — the as-of view is
    correct through the marker's residual crash window."""
    st = KeyedTableStore(spark, str(tmp_path / "wh"))
    st.ctas(
        TableSpec(namespace="rr", name="t", key_type="string",
                  families={"c": {"v": "double", "ver": "long"}}),
        spark.createDataFrame(
            [("0001", 1.0, 1), ("0002", 2.0, 1)],
            "row_key string, `c:v` double, `c:ver` long",
        ),
    )
    replay = spark.createDataFrame(
        [("0001", 5.0, 2)], "row_key string, `c:v` double, `c:ver` long"
    )
    st.insert("rr.t", replay, generate_row_key=False)
    st.insert("rr.t", replay, generate_row_key=False)  # the replayed batch
    got = sorted(
        (r["row_key"], r["c:v"], r["c:ver"])
        for r in st.read_versions_asof("rr.t", "c:ver", 2).collect()
    )
    assert got == [("0001", 5.0, 2), ("0002", 2.0, 1)]


def test_insert_guard_violation_leaves_index_loudly_stale(spark, tmp_path):
    """A batch whose index value violates the width guard fails the
    index append AFTER the main table took the rows — the index must be
    marked STALE (never silently missing the batch) and rebuild_indexes
    must fail the same way until the data is fixed."""
    st = _mk_plain_table(spark, tmp_path)
    st.create_covered_index("r6.t", "r6.by_grp", index_col="c:grp", key_width=4)
    bad = spark.createDataFrame(
        [("70000001", 123456, 1.0)],  # 6 chars > key_width=4
        "row_key string, `c:grp` long, `c:val` double",
    )
    with pytest.raises(Exception):
        st.insert("r6.t", bad, generate_row_key=False)
    # main took the batch; the index is stale and says so
    assert st.read("r6.t").count() == 41
    assert st.index_is_stale("r6.by_grp")


def test_scan_prefix_and_multi_get(spark, tmp_path):
    """HBase PrefixFilter / multi-Get parity: prefix scans are ONE
    pushed key range (no startswith residual needed for correctness),
    multi-Get is a pushed isin — both exact."""
    st = _mk_plain_table(spark, tmp_path, n=30)  # keys 00000001..00000030
    got = sorted(r["row_key"] for r in st.scan_prefix("r6.t", "0000001").collect())
    assert got == [f"{i:08d}" for i in range(10, 20)]
    # empty prefix = full scan
    assert st.scan_prefix("r6.t", "").count() == 30
    # pushed range reaches the scan
    from spark_sql_hbase_spark.plans.pushdown import assert_pushed

    assert_pushed(
        st.scan_prefix("r6.t", "0000001"), "GreaterThanOrEqual(row_key,0000001"
    )
    got = sorted(
        r["row_key"] for r in st.get("r6.t", ["00000003", "00000017", "missing"]).collect()
    )
    assert got == ["00000003", "00000017"]
    assert_pushed(st.get("r6.t", ["00000003", "00000017"]), "In(row_key")


# -- round-7 generation-swap protocol -------------------------------------
def test_concurrent_reader_never_sees_dangling_table(spark, tmp_path):
    """VERDICT r6 what's-wrong #1: the round-6 two-rename directory swap
    had a microsecond window where the table name dangled — a reader
    listing files in it got FileNotFound.  The generation-manifest
    protocol (one atomic pointer rename; retired generation kept for a
    grace swap) must never do that: read the table in a tight loop in a
    thread while MERGE/compact swap repeatedly — zero read errors, and
    every observed count is a complete generation's."""
    import threading

    st = _mk_plain_table(spark, tmp_path, n=50)
    errors, counts, stop = [], [], threading.Event()

    def reader():
        while not stop.is_set():
            try:
                counts.append(st.read("r6.t").count())
            except Exception as e:  # noqa: BLE001 - recording any failure
                errors.append(repr(e))
                return

    t = threading.Thread(target=reader)
    t.start()
    try:
        for i in range(6):
            if i % 2 == 0:
                st.upsert(
                    "r6.t",
                    spark.createDataFrame(
                        [(f"{j:08d}", 9, 9.0) for j in range(1, 11)],
                        "row_key string, `c:grp` long, `c:val` double",
                    ),
                )
            else:
                st.compact("r6.t", n_regions=2)
    finally:
        stop.set()
        t.join(60)
    assert not errors, errors
    assert counts and all(c == 50 for c in counts), set(counts)


def test_upsert_evaluates_source_once(spark, tmp_path):
    """VERDICT r6 item 4: the MERGE source must be evaluated exactly
    once — the duplicate-key check rides the SAME plan (count-over-key
    window + Observation) instead of a separate count() job.  Pinned
    with a per-row accumulator UDF on the source: after upsert the
    accumulator equals the source row count, not a multiple."""
    from pyspark.sql.functions import udf
    from pyspark.sql.types import LongType

    st = _mk_plain_table(spark, tmp_path, n=20)
    acc = spark.sparkContext.accumulator(0)

    @udf(LongType())
    def tick(v):
        acc.add(1)
        return v

    src = spark.createDataFrame(
        [(f"{i:08d}", 7, float(i)) for i in range(1, 6)],
        "row_key string, `c:grp` long, `c:val` double",
    ).withColumn("c:val", tick(F.col("`c:val`")).cast("double"))
    st.upsert("r6.t", src)
    assert acc.value == 5, f"source evaluated {acc.value / 5:g}x"
    out = {r["row_key"]: r["c:grp"] for r in st.read("r6.t").collect()}
    assert len(out) == 20 and all(out[f"{i:08d}"] == 7 for i in range(1, 6))


def test_upsert_duplicate_source_aborts_before_swap(spark, tmp_path):
    """The in-plan duplicate check must abort BEFORE the generation
    pointer flips: a duplicate-key MERGE source raises and the table
    is bit-identical to before (old generation still current)."""
    st = _mk_plain_table(spark, tmp_path, n=10)
    before = sorted(map(tuple, st.read("r6.t").collect()))
    dup = spark.createDataFrame(
        [("00000001", 1, 1.0), ("00000001", 2, 2.0)],
        "row_key string, `c:grp` long, `c:val` double",
    )
    with pytest.raises(ValueError, match="duplicate row_key"):
        st.upsert("r6.t", dup)
    assert sorted(map(tuple, st.read("r6.t").collect())) == before


def test_insert_overwrite_crash_leaves_old_state(spark, tmp_path):
    """ADVICE r6: insert(overwrite=True) must ride the staged swap —
    a crash mid-write may not destroy the previous table state."""
    st = _mk_plain_table(spark, tmp_path, n=15)
    before = sorted(map(tuple, st.read("r6.t").collect()))
    bad = spark.createDataFrame(
        [("x", 1, 1.0)], "row_key string, `c:grp` long, `c:val` double"
    ).withColumn("c:val", F.expr("CAST(raise_error('boom') AS DOUBLE)"))
    with pytest.raises(Exception):
        st.insert("r6.t", bad, overwrite=True, generate_row_key=False)
    assert sorted(map(tuple, st.read("r6.t").collect())) == before
    # and a successful overwrite actually replaces the data
    st.insert(
        "r6.t",
        spark.createDataFrame(
            [("00000099", 5, 5.0)], "row_key string, `c:grp` long, `c:val` double"
        ),
        overwrite=True,
        generate_row_key=False,
    )
    assert st.read("r6.t").count() == 1


def test_manifestless_root_is_refused_untouched(spark, tmp_path):
    """A registered name whose root holds parquet written by hand but
    no generation manifest is not a table: a read, a DML and the admin
    listing each raise TableNotFoundError naming the missing manifest
    and the ctas import route, and every file in the root stays
    byte-identical.  The route the error names imports the same rows."""
    from spark_sql_hbase_spark.sources.keyed_parquet import TableNotFoundError

    st = KeyedTableStore(spark, str(tmp_path / "wh"))
    spec = TableSpec(
        namespace="fl", name="t", key_type="string",
        families={"c": {"v": "long"}},
    )
    root = st.table_root(spec)
    spark.createDataFrame(
        [(f"{i:04d}", i) for i in range(8)], "row_key string, `c:v` long"
    ).write.parquet(root)
    st.registry.register(spec)

    def tree() -> dict:
        out = {}
        for d, _dirs, files in os.walk(root):
            for f in files:
                with open(os.path.join(d, f), "rb") as fh:
                    out[os.path.relpath(os.path.join(d, f), root)] = fh.read()
        return out

    before = tree()
    for call in (
        lambda: st.read("fl.t"),
        lambda: st.delete_where("fl.t", "row_key = '0001'"),
        lambda: st.generations("fl.t"),
    ):
        with pytest.raises(TableNotFoundError, match=r"_GENERATION.*ctas"):
            call()
    assert tree() == before

    imported = TableSpec(
        namespace="fl", name="imported", key_type="string",
        families={"c": {"v": "long"}},
    )
    st.ctas(imported, spark.read.parquet(root))
    assert sorted(map(tuple, st.read("fl.imported").collect())) == [
        (f"{i:04d}", i) for i in range(8)
    ]
    assert tree() == before


def test_read_generation_time_travel(spark, tmp_path):
    """read_generation('previous') serves the pre-rewrite state from the
    grace-retained generation; 'current' is the live table; a fresh
    table (no rewrite yet) has nothing to travel to."""
    from spark_sql_hbase_spark.sources.keyed_parquet import TableNotFoundError

    st = KeyedTableStore(spark, str(tmp_path / "wh"))
    spec = TableSpec(
        namespace="tt", name="t", key_type="string",
        families={"c": {"v": "long"}},
    )
    st.create_table(spec)
    st.insert("tt.t", spark.createDataFrame(
        [(f"{i:04d}", i) for i in range(10)], "row_key string, `c:v` long"
    ), generate_row_key=False)
    # append-only so far: no generation was ever replaced
    with pytest.raises(TableNotFoundError, match="no previous generation"):
        st.read_generation("tt.t", "previous")
    st.delete_where("tt.t", "`c:v` >= 5")
    assert st.read("tt.t").count() == 5
    prev = st.read_generation("tt.t", "previous")
    assert sorted(r["c:v"] for r in prev.collect()) == list(range(10))
    assert st.read_generation("tt.t", "current").count() == 5
    with pytest.raises(ValueError, match="current.*previous"):
        st.read_generation("tt.t", "latest")
    # the NEXT rewrite retires the old previous: travel target moves
    st.update_where("tt.t", {"c:v": "`c:v` + 100"}, "true")
    prev2 = st.read_generation("tt.t", "previous")
    assert sorted(r["c:v"] for r in prev2.collect()) == list(range(5))


def test_upsert_single_shuffle(spark, tmp_path, monkeypatch):
    """The merge window rides the SAME range exchange the key-sorted
    layout needs (RangePartitioning clusters equal keys): the whole
    MERGE rewrite plan must contain exactly ONE Exchange — the r6 shape
    (hash window + repartitionByRange) shuffled the table twice."""
    from pyspark.sql.readwriter import DataFrameWriter

    st = _mk_plain_table(spark, tmp_path, n=20)
    plans: list[str] = []
    orig = DataFrameWriter.parquet

    def spy(self, path, **kw):
        plans.append(self._df._jdf.queryExecution().executedPlan().toString())
        return orig(self, path, **kw)

    monkeypatch.setattr(DataFrameWriter, "parquet", spy)
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        st.upsert(
            "r6.t",
            spark.createDataFrame(
                [("00000001", 7, 7.0), ("00000099", 8, 8.0)],
                "row_key string, `c:grp` long, `c:val` double",
            ),
        )
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", "true")
    # write 1 = the merged region subset, write 2 = the new-key run
    assert len(plans) == 2, len(plans)
    plan = plans[0]
    assert plan.count("Exchange") == 1, plan
    # one affected file plans the range repartition as SinglePartition
    assert "rangepartitioning" in plan or "SinglePartition" in plan, plan
    out = {r["row_key"]: r["c:grp"] for r in st.read("r6.t").collect()}
    assert len(out) == 21 and out["00000001"] == 7 and out["00000099"] == 8


def test_selective_upsert_carries_untouched_regions(spark, tmp_path):
    """MERGE is region-local like an HBase Put: a batch whose keys fall
    in one region rewrites that region's file (plus a fresh run for
    brand-new keys), hardlinking every untouched file into the new
    generation; an all-new-keys MERGE rewrites nothing at all."""
    st = _mk_plain_table(spark, tmp_path, n=100)
    st.compact("r6.t", n_regions=4)
    spec = st.registry.get("r6.t")
    path = st.table_path(spec)
    inodes = {
        f: os.stat(os.path.join(path, f)).st_ino
        for f in os.listdir(path) if f.endswith(".parquet")
    }
    assert len(inodes) == 4
    # batch confined to the lowest region + one brand-new key
    st.upsert(
        "r6.t",
        spark.createDataFrame(
            [("00000001", 7, 7.0), ("00000002", 7, 7.0), ("zz_new", 7, 7.0)],
            "row_key string, `c:grp` long, `c:val` double",
        ),
    )
    path2 = st.table_path(spec)
    after = {
        f: os.stat(os.path.join(path2, f)).st_ino
        for f in os.listdir(path2) if f.endswith(".parquet")
    }
    kept = {f for f in after if f in inodes and after[f] == inodes[f]}
    assert len(kept) == 3, (inodes, after)  # 3 regions untouched
    got = {r["row_key"]: r["c:grp"] for r in st.read("r6.t").collect()}
    assert len(got) == 101
    assert got["00000001"] == 7 and got["zz_new"] == 7 and got["00000050"] == 2
    # the far-away new key must land in its OWN sorted run, not widen
    # the rewritten region file across the keyspace: per-file ranges
    # stay non-overlapping (min/max pruning + region locality survive)
    stats = st.region_stats("r6.t").collect()
    for a, b in zip(stats, stats[1:]):
        assert a["max_key"] <= b["min_key"], [tuple(r) for r in stats]
    # all-new-keys MERGE: zero files rewritten, all four+ carried
    before = {
        f: os.stat(os.path.join(path2, f)).st_ino
        for f in os.listdir(path2) if f.endswith(".parquet")
    }
    st.upsert(
        "r6.t",
        spark.createDataFrame(
            [("zz_new2", 9, 9.0)], "row_key string, `c:grp` long, `c:val` double"
        ),
    )
    path3 = st.table_path(spec)
    after3 = {
        f: os.stat(os.path.join(path3, f)).st_ino
        for f in os.listdir(path3) if f.endswith(".parquet")
    }
    assert all(after3.get(f) == ino for f, ino in before.items()), (before, after3)
    assert st.read("r6.t").count() == 102


def test_incremental_index_maintenance_matches_rebuild(spark, tmp_path):
    """Small DML on an indexed table maintains the index INCREMENTALLY
    (delete changed-key entries + append fresh projections — the
    selective machinery applied to the index table) and the result is
    bit-identical to a full rebuild; untouched index files carry as
    hardlinks."""
    st = _mk_plain_table(spark, tmp_path, n=200)
    st.create_covered_index("r6.t", "r6.by_grp", "c:grp", include=["c:val"],
                            key_width=4)
    st.compact("r6.by_grp", n_regions=4)
    ispec = st.registry.get("r6.by_grp")
    ipath = st.table_path(ispec)
    inodes = {
        f: os.stat(os.path.join(ipath, f)).st_ino
        for f in os.listdir(ipath) if f.endswith(".parquet")
    }
    assert len(inodes) == 4
    # prove the incremental branch is taken (spy on the rebuild path)
    rebuilds = []
    orig = KeyedTableStore._sorted_rewrite
    KeyedTableStore._sorted_rewrite = (
        lambda self, spec, df, **kw: rebuilds.append(spec.qualified_name)
        or orig(self, spec, df, **kw)
    )
    try:
        # UPDATE 3 rows: index value changes 1 -> 9 for keys ..05/..09/..13
        st.update_where("r6.t", {"c:grp": "9"}, "row_key IN "
                        "('00000005','00000009','00000013')")
        # MERGE 2 rows (one replaced, one new)
        st.upsert("r6.t", spark.createDataFrame(
            [("00000002", 8, 8.0), ("00000999", 8, 8.0)],
            "row_key string, `c:grp` long, `c:val` double",
        ))
        # DELETE 2 rows
        assert st.delete_where(
            "r6.t", "row_key IN ('00000003','00000007')"
        ) == 2
    finally:
        KeyedTableStore._sorted_rewrite = orig
    assert "r6.by_grp" not in rebuilds, rebuilds  # no full index rebuild
    assert not st.index_is_stale("r6.by_grp")
    # some original index files carried as hardlinks through all 3 DMLs
    ipath2 = st.table_path(ispec)
    after = {
        f: os.stat(os.path.join(ipath2, f)).st_ino
        for f in os.listdir(ipath2) if f.endswith(".parquet")
    }
    assert any(after.get(f) == ino for f, ino in inodes.items()), (inodes, after)
    # incremental result == full rebuild result
    got = sorted(map(tuple, st.read("r6.by_grp").collect()))
    st.rebuild_indexes("r6.t")
    want = sorted(map(tuple, st.read("r6.by_grp").collect()))
    assert got == want
    # and the index agrees with the main table
    main = sorted(
        (r["row_key"], r["c:grp"], r["c:val"]) for r in st.read("r6.t").collect()
    )
    idx = sorted(
        (r["i:src_key"], r["c:grp"], r["c:val"])
        for r in st.read("r6.by_grp").collect()
    )
    assert idx == main


def test_concurrent_sql_reader_never_sees_missing_catalog_table(spark, tmp_path):
    """Review r7 #1: a generation swap must repoint the session-catalog
    entry with ONE ALTER TABLE SET LOCATION, not DROP+CREATE — a
    concurrent `spark.sql("SELECT ... FROM ns.name")` loop during
    repeated DML must never see TABLE_OR_VIEW_NOT_FOUND."""
    import threading

    st = _mk_plain_table(spark, tmp_path, ns="csq", name="t", n=50)
    # first catalog registration happened at ctas; every swap after this
    # point goes down the repoint path — record the store's SQL to pin
    # the mechanism (ALTER ... SET LOCATION, never DROP TABLE)
    statements: list[str] = []
    orig_sql = st.spark.sql
    st.spark = type(
        "SqlSpy", (), {
            "__getattr__": lambda s, name: getattr(spark, name),
            "sql": lambda s, q, **kw: statements.append(q) or orig_sql(q, **kw),
        },
    )()
    errors, counts, stop = [], [], threading.Event()

    def reader():
        while not stop.is_set():
            try:
                counts.append(
                    spark.sql("SELECT count(*) AS n FROM `csq`.`t`").collect()[0]["n"]
                )
            except Exception as e:  # noqa: BLE001
                errors.append(repr(e))
                return

    t = threading.Thread(target=reader)
    t.start()
    try:
        for i in range(6):
            if i % 2 == 0:
                st.update_where("csq.t", {"c:val": "`c:val` + 1.0"}, "true")
            else:
                st.compact("csq.t", n_regions=2)
    finally:
        stop.set()
        t.join(60)
    assert not errors, errors
    assert counts and all(c == 50 for c in counts), set(counts)
    assert not [q for q in statements if q.startswith("DROP TABLE")], statements
    assert [q for q in statements if q.startswith("ALTER TABLE")
            and "SET LOCATION" in q], statements


@pytest.mark.parametrize("crash_at", ["build", "manifest_tmp", "post_flip"])
def test_swap_protocol_crash_at_every_step(spark, tmp_path, monkeypatch, crash_at):
    """Fault injection through the generation-swap protocol: kill the
    writer (a) mid-build, (b) inside the manifest write before its
    atomic rename, (c) after the flip before the sweep.  At every crash
    point the table must stay readable and complete — pre-DML state for
    (a)/(b), post-DML state for (c) — and the next successful rewrite
    must converge the directory back to exactly {current, previous}.
    The table's covered index spans main flip → index maintenance: it
    is untouched by (a)/(b), reads stale after (c), and the next small
    write repairs it by rebuild, never by a delta that would clear the
    marker over the entries the crashed write left behind."""
    st = _mk_plain_table(spark, tmp_path, ns="cr", name="t", n=30)
    st.create_covered_index("cr.t", "cr.by_grp", "c:grp",
                            include=["c:val"], key_width=4)
    spec = st.registry.get("cr.t")
    before = sorted(map(tuple, st.read("cr.t").collect()))
    index_before = sorted(map(tuple, st.read("cr.by_grp").collect()))

    def index_matches_main():
        main = sorted(
            (r["row_key"], r["c:grp"], r["c:val"])
            for r in st.read("cr.t").collect()
        )
        idx = sorted(
            (r["i:src_key"], r["c:grp"], r["c:val"])
            for r in st.read("cr.by_grp").collect()
        )
        return idx == main

    boom = RuntimeError("injected crash")
    if crash_at == "build":
        orig = KeyedTableStore._swap_write_with_carry

        def f(self, spc, out, src, rewritten, validate=None, listing=None):
            def bad_build(staging):
                os.makedirs(staging, exist_ok=True)  # partial build
                raise boom
            self._swap_table_dir(spc, bad_build, validate=validate)

        monkeypatch.setattr(KeyedTableStore, "_swap_write_with_carry", f)
    elif crash_at == "manifest_tmp":
        orig = KeyedTableStore._write_gen_manifest

        def f(self, root, current, previous):
            # crash before the atomic rename: leave only the tmp file
            tmp = os.path.join(root, f".{self._GEN_MANIFEST}.crashed")
            with open(tmp, "w") as fh:
                fh.write("{}")
            raise boom

        monkeypatch.setattr(KeyedTableStore, "_write_gen_manifest", f)
    else:  # post_flip: crash inside the post-flip sweep
        orig = KeyedTableStore._sweep_generations
        calls = {"n": 0}

        def f(self, root, keep, locked=False):
            calls["n"] += 1
            if calls["n"] == 2:  # 1st call = pre-sweep, 2nd = post-flip
                raise boom
            return orig(self, root, keep, locked=locked)

        monkeypatch.setattr(KeyedTableStore, "_sweep_generations", f)

    with pytest.raises(RuntimeError, match="injected crash"):
        st.delete_where("cr.t", "`c:grp` = 1")
    monkeypatch.undo()

    after = sorted(map(tuple, st.read("cr.t").collect()))
    if crash_at == "post_flip":
        # the flip happened: the DML is APPLIED (crash only hit cleanup),
        # and the index maintenance it never reached reads as stale
        assert after == [r for r in before if r[1] != 1]
        assert st.index_is_stale("cr.by_grp")
    else:
        assert after == before
    assert sorted(map(tuple, st.read("cr.by_grp").collect())) == index_before
    # a one-key upsert (a delta-sized write) leaves the index equal to
    # the main table's projection; after the flip crash it must take
    # the full route
    rebuilt = []
    orig_sr = KeyedTableStore._sorted_rewrite

    def spy(self, spc, df, **kw):
        rebuilt.append(spc.qualified_name)
        return orig_sr(self, spc, df, **kw)

    monkeypatch.setattr(KeyedTableStore, "_sorted_rewrite", spy)
    st.upsert("cr.t", spark.createDataFrame(
        [("00000002", 3, 99.0)], "row_key string, `c:grp` long, `c:val` double"
    ))
    monkeypatch.undo()
    if crash_at == "post_flip":
        assert "cr.by_grp" in rebuilt, rebuilt
    assert index_matches_main()
    assert not st.index_is_stale("cr.by_grp")
    after = sorted(map(tuple, st.read("cr.t").collect()))
    # recovery: the next rewrite succeeds and converges the layout
    st.compact("cr.t", n_regions=2)
    assert len(st.read("cr.t").collect()) == len(after)
    root = st.table_root(spec)
    man = st._read_gen_manifest(root)
    gens = {d for d in os.listdir(root) if d.startswith("gen-")}
    assert gens == {man["current"], man["previous"]} - {None}
    # the crashed flip's temp manifest is swept with the rest
    assert not os.path.exists(os.path.join(root, "._GENERATION.crashed"))
    st.rebuild_indexes("cr.t")
    assert not st.index_is_stale("cr.by_grp")
    assert index_matches_main()


def test_selective_dml_after_add_columns(spark, tmp_path):
    """Schema evolution meets selective rewrite: after ADD COLUMNS the
    carried (hardlinked) files still lack the new column while rewritten
    files materialize it — the spec-schema read must see a consistent
    table, and an UPDATE touching the new column must work."""
    st = _mk_plain_table(spark, tmp_path, n=40)
    st.compact("r6.t", n_regions=4)
    st.alter_table_add_columns("r6.t", [("c:note", "string")])
    # update only the low range: 3 files carried WITHOUT the new column
    n = st.update_where(
        "r6.t", {"c:note": "'low'"}, "row_key <= '00000010'"
    )
    assert n == 10
    got = {r["row_key"]: r["c:note"] for r in st.read("r6.t").collect()}
    assert sum(v == "low" for v in got.values()) == 10
    assert all(v is None for k, v in got.items() if k > "00000010")
    # delete by the evolved column: NULL predicate rows are kept
    assert st.delete_where("r6.t", "`c:note` = 'low'") == 10
    assert st.read("r6.t").count() == 30


def test_locate_scan_pushes_predicate(spark, tmp_path):
    """The DML locate pass must reach the parquet scan as a pushed
    filter — at scale it reads only the row groups whose stats admit a
    match, which is what makes locate cheap next to a rewrite."""
    st = _mk_plain_table(spark, tmp_path, n=40)
    spec = st.registry.get("r6.t")
    from pyspark.sql import functions as FF

    hit = FF.coalesce(FF.expr("`c:grp` = 2"), FF.lit(False))
    probe = (
        st.read("r6.t")
        .filter(hit)
        .groupBy(FF.input_file_name().alias("__f"))
        .agg(FF.count(FF.lit(1)).alias("n"))
    )
    plan = probe._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters: [" in plan and "c:grp" in plan.split(
        "PushedFilters"
    )[1][:200], plan
    assert st._locate_affected_files(spec, lambda df: df.filter(hit))


def test_generations_admin_listing(spark, tmp_path):
    """generations() reports each on-disk generation with its role and
    exact footer row count — current/previous after a rewrite, plus
    orphans from crashed builds until the next sweep."""
    st = _mk_plain_table(spark, tmp_path, ns="gl", name="t", n=20)
    gens = st.generations("gl.t")
    assert [g["role"] for g in gens].count("current") == 1
    assert sum(g["n_rows"] for g in gens if g["role"] == "current") == 20
    st.delete_where("gl.t", "`c:grp` = 0")
    gens = {g["role"]: g for g in st.generations("gl.t")}
    assert gens["current"]["n_rows"] == 15
    assert gens["previous"]["n_rows"] == 20
    # orphan: drop a fake crashed build into the root
    root = st.table_root(st.registry.get("gl.t"))
    os.makedirs(os.path.join(root, "gen-deadbeefcafe"))
    roles = [g["role"] for g in st.generations("gl.t")]
    assert sorted(roles) == ["current", "orphan", "previous"]


def test_empty_merge_source_is_noop(spark, tmp_path):
    """An empty MERGE batch must not swap a generation (the streaming
    upsert sink can legitimately deliver empty micro-batches)."""
    st = _mk_plain_table(spark, tmp_path, ns="em", name="t", n=10)
    spec = st.registry.get("em.t")
    man = st._read_gen_manifest(st.table_root(spec))
    st.upsert("em.t", spark.createDataFrame(
        [], "row_key string, `c:grp` long, `c:val` double"
    ))
    assert st._read_gen_manifest(st.table_root(spec)) == man
    assert st.read("em.t").count() == 10


def test_merge_null_row_key_raises(spark, tmp_path):
    """Review r7 pass 2 #1: a NULL row_key in the MERGE source would
    silently fall through both sides of the key-span split — it must
    raise loudly instead (HBase parity: a Put needs a key), regardless
    of whether other batch rows match existing files."""
    st = _mk_plain_table(spark, tmp_path, ns="nk", name="t", n=10)
    for batch in (
        [(None, 1, 1.0), ("00000001", 2, 2.0)],  # with a matching row
        [(None, 1, 1.0)],                        # all-new path
    ):
        with pytest.raises(ValueError, match="NULL row_key"):
            st.upsert("nk.t", spark.createDataFrame(
                batch, "row_key string, `c:grp` long, `c:val` double"
            ))
    assert st.read("nk.t").count() == 10


def test_generations_reports_corrupt_orphan(spark, tmp_path):
    """generations() must not die on an orphan holding a truncated
    file (the crash artifact it exists to surface)."""
    st = KeyedTableStore(spark, str(tmp_path / "wh"))
    spec = TableSpec(
        namespace="gf", name="t", key_type="string",
        families={"c": {"v": "long"}},
    )
    st.create_table(spec)
    root = st.table_root(spec)
    # corrupt orphan: a truncated parquet in a crashed-build gen
    bad = os.path.join(root, "gen-00deadbeef00")
    os.makedirs(bad)
    with open(os.path.join(bad, "part-truncated.parquet"), "wb") as f:
        f.write(b"PAR1\x00\x00broken")
    listing = {g["generation"]: g for g in st.generations("gf.t")}
    assert listing["gen-00deadbeef00"]["role"] == "orphan"
    assert listing["gen-00deadbeef00"]["n_rows"] is None
    assert sorted(g["role"] for g in listing.values()) == ["current", "orphan"]


def test_merge_locate_prunes_candidates_by_footer_range(spark, tmp_path, monkeypatch):
    """The MERGE locate scan must read only footer-range candidates: a
    batch confined to one region's key range hands exactly that
    region's file to the locate pass, never the whole table."""
    st = _mk_plain_table(spark, tmp_path, n=100)
    st.compact("r6.t", n_regions=4)
    seen = {}
    orig = KeyedTableStore._locate_affected_files

    def spy(self, spec, selector, files=None):
        seen["files"] = files
        return orig(self, spec, selector, files=files)

    monkeypatch.setattr(KeyedTableStore, "_locate_affected_files", spy)
    st.upsert("r6.t", spark.createDataFrame(
        [("00000002", 7, 7.0), ("00000004", 7, 7.0)],
        "row_key string, `c:grp` long, `c:val` double",
    ))
    assert seen["files"] is not None and len(seen["files"]) == 1, seen
    got = {r["row_key"]: r["c:grp"] for r in st.read("r6.t").collect()}
    assert got["00000002"] == 7 and got["00000004"] == 7 and len(got) == 100
    # a batch entirely outside every range: zero candidates, zero reads
    st.upsert("r6.t", spark.createDataFrame(
        [("zz1", 9, 9.0)], "row_key string, `c:grp` long, `c:val` double",
    ))
    assert seen["files"] == [], seen
    assert st.read("r6.t").count() == 101


# -- round-8: writer-writer CAS + footer pruning for DELETE/UPDATE -------
def test_delete_update_locate_prunes_candidates_by_footer_range(
    spark, tmp_path, monkeypatch
):
    """VERDICT r7 item 4: a DELETE/UPDATE whose condition constrains
    ``row_key`` hands only the footer-intersecting files to the locate
    scan (the A4 RowFilter fast path applied to mutations); a condition
    with no provable key interval locates over the whole table, and one
    provably outside every span reads nothing at all."""
    st = _mk_plain_table(spark, tmp_path, n=100)
    st.compact("r6.t", n_regions=4)
    seen = {}
    orig = KeyedTableStore._locate_affected_files

    def spy(self, spec, selector, files=None):
        seen["files"] = files
        return orig(self, spec, selector, files=files)

    monkeypatch.setattr(KeyedTableStore, "_locate_affected_files", spy)
    # range-confined DELETE: one region's file
    assert st.delete_where("r6.t", "row_key <= '00000005'") == 5
    assert seen["files"] is not None and len(seen["files"]) == 1, seen
    # BETWEEN-confined UPDATE: one region's file
    n = st.update_where(
        "r6.t", {"c:val": "0.0"}, "row_key BETWEEN '00000060' AND '00000063'"
    )
    assert n == 4 and len(seen["files"]) == 1, seen
    # non-key condition: conservative, no pruning — the locate reads
    # every file of the attempt's resolved generation
    assert st.delete_where("r6.t", "`c:grp` = 1 AND `c:val` > 1.0e9") == 0
    spec = st.registry.get("r6.t")
    allf = sorted(
        f for f in os.listdir(st.table_path(spec)) if f.endswith(".parquet")
    )
    assert seen["files"] == allf and len(allf) == 4, seen
    # key interval outside every footer span: zero candidates, no scan
    assert st.delete_where("r6.t", "row_key = 'zz_nope'") == 0
    assert seen["files"] == [], seen
    assert st.read("r6.t").count() == 95


def test_rowkey_interval_is_conservative(spark, tmp_path):
    """The DML condition → row_key interval extraction proves bounds
    only when sound, and widens to None on anything else."""
    st = _mk_plain_table(spark, tmp_path, n=4)
    iv = st._rowkey_interval
    assert iv("row_key <= 'b'") == (None, "b")
    assert iv("'b' >= row_key") == (None, "b")
    assert iv("row_key = 'x' AND `c:val` > 5") == ("x", "x")
    assert iv("row_key >= 'a' AND row_key < 'f'") == ("a", "f")
    assert iv("row_key BETWEEN 'a' AND 'b'") == ("a", "b")
    assert iv("row_key IN ('c', 'a', 'b')") == ("a", "c")
    assert iv("row_key LIKE 'ab%'") == ("ab", "ac")
    assert iv("row_key >= 'a' OR row_key = 'z'") == ("a", None)
    # integral literals yield NATIVELY TYPED bounds (for numeric key
    # types); they can only ever prune against same-typed footer stats
    assert iv("row_key = 5") == (5, 5)
    assert iv("row_key BETWEEN 10 AND 20") == (10, 20)
    # conservative widenings: every one of these must be None
    assert iv("NOT (row_key > 'x')") is None
    assert iv("row_key = 5.5") is None  # non-integral numeric literal
    assert iv("`c:grp` = 1") is None
    assert iv("true") is None
    assert iv("row_key LIKE '%x'") is None
    assert iv("row_key LIKE 'a_b%'") is None
    assert iv("row_key <= 'b' OR `c:grp` = 1") is None
    assert iv("upper(row_key) = 'X'") is None
    assert iv("not valid sql (") is None


def test_upsert_skips_locate_on_small_all_candidate_table(
    spark, tmp_path, monkeypatch
):
    """VERDICT r7 item 5: when footer spans prove EVERY file intersects
    the batch, the table is no larger than its region fan-out, AND the
    batch is dense (>= 64 keys per file — a locate scan would almost
    surely mark every file affected anyway), upsert treats all files as
    affected (identical result through the merge window) and skips the
    locate job.  A small or region-confined batch still locates."""
    st = _mk_plain_table(spark, tmp_path, n=20)
    st.compact("r6.t", n_regions=2)
    calls = {"n": 0}
    orig = KeyedTableStore._locate_affected_files

    def spy(self, spec, selector, files=None):
        calls["n"] += 1
        return orig(self, spec, selector, files=files)

    monkeypatch.setattr(KeyedTableStore, "_locate_affected_files", spy)
    # dense batch spanning both files (130 keys >= 64*2): no locate pass
    st.upsert("r6.t", spark.createDataFrame(
        [(f"{i:08d}", 7, 7.0) for i in range(1, 131)],
        "row_key string, `c:grp` long, `c:val` double",
    ))
    assert calls["n"] == 0, calls
    got = {r["row_key"]: r["c:grp"] for r in st.read("r6.t").collect()}
    assert len(got) == 130 and set(got.values()) == {7}
    # small region-confined batch: the locate pass runs on candidates
    st.upsert("r6.t", spark.createDataFrame(
        [("00000002", 8, 8.0)], "row_key string, `c:grp` long, `c:val` double",
    ))
    assert calls["n"] == 1, calls
    assert {r["c:grp"] for r in st.read("r6.t")
            .filter("row_key = '00000002'").collect()} == {8}


def test_swap_cas_refuses_stale_flip_and_marker_shields_build(
    spark, tmp_path
):
    """VERDICT r7 item 3 (writer-writer safety): a rewrite whose base
    generation was superseded by a concurrent writer mid-build must NOT
    flip the manifest over the winner's commit — the CAS refuses it
    loudly and discards the staged generation — and the winner's sweeps
    must not delete the loser's in-flight build (liveness marker)."""
    from spark_sql_hbase_spark.sources.keyed_parquet import (
        ConcurrentWriteConflictError,
    )

    st = _mk_plain_table(spark, tmp_path, n=20)
    spec = st.registry.get("r6.t")
    staged = {}

    def build(staging):
        os.makedirs(staging)
        with open(os.path.join(staging, "part-0.parquet"), "wb"):
            pass
        staged["path"] = staging
        # a concurrent writer commits (full swap incl. both sweeps)
        # while our build is in flight
        st.compact("r6.t", n_regions=2)
        # the marker shields our staging dir from the winner's sweep
        assert os.path.exists(staging), "in-flight build swept"

    with pytest.raises(ConcurrentWriteConflictError):
        st._swap_table_dir(spec, build)
    # the winner's state stands; the loser's staging is discarded
    assert st.read("r6.t").count() == 20
    assert not os.path.exists(staged["path"])
    root = st.table_root(spec)
    man = st._read_gen_manifest(root)
    gens = {d for d in os.listdir(root) if d.startswith("gen-")}
    assert man["current"] in gens
    # no marker leaks; the lock FILE persists by design (flock protocol
    # never unlinks it) but nobody holds it
    assert not [f for f in os.listdir(root) if f.startswith(".building-")]
    assert not st._flock_live(os.path.join(root, st._WRITER_LOCK))


@pytest.mark.slow
def test_concurrent_dml_writers_lose_no_updates(spark, tmp_path):
    """VERDICT r7 item 3 acceptance: two threads running MERGE/DELETE
    on the SAME table in a loop — every mutation lands (the CAS loser
    retries against the winner's generation), no FileNotFound, no lost
    update, and the final state is exactly the serial outcome."""
    import threading

    st = _mk_plain_table(spark, tmp_path, n=40)
    st.compact("r6.t", n_regions=4)
    errs = []

    def record(e):
        import traceback

        errs.append(traceback.format_exc())

    def merger():
        try:
            for i in range(4):
                st.upsert("r6.t", spark.createDataFrame(
                    [(f"aa_{i:04d}", 7, 7.0)],
                    "row_key string, `c:grp` long, `c:val` double",
                ))
        except Exception as e:  # noqa: BLE001 — recorded for the assert
            record(e)

    def deleter():
        try:
            for i in range(4):
                st.upsert("r6.t", spark.createDataFrame(
                    [(f"bb_{i:04d}", 9, 9.0)],
                    "row_key string, `c:grp` long, `c:val` double",
                ))
                assert st.delete_where(
                    "r6.t", f"row_key = 'bb_{i:04d}'"
                ) == 1
        except Exception as e:  # noqa: BLE001
            errs.append(e)

    threads = [
        threading.Thread(target=merger),
        threading.Thread(target=deleter),
    ]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert not errs, errs
    got = {r["row_key"] for r in st.read("r6.t").collect()}
    assert {f"aa_{i:04d}" for i in range(4)} <= got
    assert not [k for k in got if k.startswith("bb_")]
    assert len(got) == 44


def test_dead_writer_marker_and_generation_are_swept(spark, tmp_path):
    """A ``.building-<gen>`` marker whose flock owner died is garbage:
    the next rewrite sweeps the marker AND its directory; a marker
    whose flock is HELD protects its generation from both sweeps (the
    kernel releases the flock with the owner's fd, so a SIGKILLed
    writer's marker reads dead with no pid bookkeeping)."""
    import fcntl

    st = _mk_plain_table(spark, tmp_path, n=8)
    spec = st.registry.get("r6.t")
    root = st.table_root(spec)
    # dead writer: a marker file nobody flocks (exactly what a killed
    # process leaves behind — its fd closed, the lock released)
    dead_gen = "gen-00000000dead"
    os.makedirs(os.path.join(root, dead_gen))
    with open(os.path.join(root, f".building-{dead_gen}"), "w") as f:
        f.write("99999999")
    # live writer: hold the flock for the duration of the sweep
    live_gen = "gen-00000000beef"
    os.makedirs(os.path.join(root, live_gen))
    live_fd = os.open(
        os.path.join(root, f".building-{live_gen}"),
        os.O_CREAT | os.O_WRONLY,
    )
    try:
        fcntl.flock(live_fd, fcntl.LOCK_EX)
        st.compact("r6.t", n_regions=2)  # runs both sweeps
        entries = set(os.listdir(root))
        assert dead_gen not in entries
        assert f".building-{dead_gen}" not in entries
        assert live_gen in entries, "live writer's in-flight build swept"
        assert f".building-{live_gen}" in entries
    finally:
        os.close(live_fd)


def test_numeric_keyed_table_dml_pruning_is_sound(spark, tmp_path):
    """Footer key stats keep the key column's NATIVE type, so DML
    pruning on a non-string-keyed table compares numerically — the
    stringified-stats shape pruned lexicographically ("99" > "100"),
    silently deleting nothing.  A string bound against numeric stats is
    incomparable and must degrade to no pruning, never a wrong prune."""
    st = KeyedTableStore(spark, str(tmp_path / "wh"))
    st.ctas(
        TableSpec(
            namespace="r8", name="nk", key_type="long",
            families={"c": {"val": "double"}},
        ),
        spark.createDataFrame(
            [(i, float(i)) for i in range(90, 161)],
            "row_key long, `c:val` double",
        ),
    )
    st.compact("r8.nk", n_regions=4)  # multi-file footer stats
    # int literal bound vs int footer stats: prunes AND matches
    assert st.delete_where("r8.nk", "row_key = 100") == 1
    # string literal bound vs int stats: incomparable -> no prune, the
    # cast comparison still matches
    assert st.delete_where("r8.nk", "row_key = '105'") == 1
    # range delete across the lexicographic trap ("99" > "150")
    assert st.delete_where(
        "r8.nk", "row_key >= 99 AND row_key <= 101"
    ) == 2  # 99 and 101 (100 already gone)
    # MERGE on a numeric-keyed table: batch span/containment are ints
    st.upsert("r8.nk", spark.createDataFrame(
        [(150, 999.0), (200, 42.0)], "row_key long, `c:val` double",
    ))
    got = {r["row_key"]: r["c:val"] for r in st.read("r8.nk").collect()}
    assert got[150] == 999.0 and got[200] == 42.0
    assert 100 not in got and 105 not in got and 99 not in got
    assert len(got) == 71 - 4 + 1


def test_like_escape_condition_is_not_prefix_pruned(spark, tmp_path):
    """``LIKE 'a!!%' ESCAPE '!'`` matches prefix "a!", not "a!!" — the
    interval walk must NOT treat a custom-escape pattern as a plain
    prefix (the unsound bound ('a!!', 'a!"') pruned the file holding
    'a!z' and the DELETE silently missed it)."""
    st = KeyedTableStore(spark, str(tmp_path / "wh"))
    st.ctas(
        TableSpec(
            namespace="r8", name="esc", key_type="string",
            families={"c": {"val": "double"}},
        ),
        spark.createDataFrame(
            [("a!z", 1.0), ("a!a", 2.0), ("ab", 3.0), ("zz", 4.0)],
            "row_key string, `c:val` double",
        ),
    )
    st.compact("r8.esc", n_regions=2)
    n = st.delete_where("r8.esc", "row_key LIKE 'a!!%' ESCAPE '!'")
    assert n == 2, n  # a!z and a!a both match prefix "a!"
    left = {r["row_key"] for r in st.read("r8.esc").collect()}
    assert left == {"ab", "zz"}
    # default-escape prefix pruning still works
    assert st.delete_where("r8.esc", "row_key LIKE 'ab%'") == 1


def test_index_conflict_does_not_replay_committed_dml(spark, tmp_path):
    """Index maintenance runs OUTSIDE the DML's CAS retry: an
    index-side ConcurrentWriteConflictError must surface (with the
    index loudly stale) — NOT replay the whole attempt, which would
    re-apply a non-idempotent UPDATE on top of its own committed
    result."""
    from spark_sql_hbase_spark.sources.keyed_parquet import (
        ConcurrentWriteConflictError,
    )

    st = _mk_plain_table(spark, tmp_path, n=40)
    st.create_covered_index("r6.t", "r6.by_grp", "c:grp",
                            include=["c:val"], key_width=4)
    rewrites = []
    orig_rw = KeyedTableStore._selective_rewrite
    orig_mi = KeyedTableStore._maintain_indexes

    def spy_rw(self, *a, **kw):
        rewrites.append(a[0].qualified_name)
        return orig_rw(self, *a, **kw)

    def failing_mi(self, *a, **kw):
        raise ConcurrentWriteConflictError("index contention (injected)")

    KeyedTableStore._selective_rewrite = spy_rw
    KeyedTableStore._maintain_indexes = failing_mi
    try:
        with pytest.raises(ConcurrentWriteConflictError):
            st.update_where(
                "r6.t", {"c:val": "`c:val` + 1"}, "row_key = '00000007'"
            )
    finally:
        KeyedTableStore._selective_rewrite = orig_rw
        KeyedTableStore._maintain_indexes = orig_mi
    # the main-table rewrite ran EXACTLY once; the increment applied once
    assert rewrites.count("r6.t") == 1, rewrites
    got = [r["c:val"] for r in st.read("r6.t")
           .filter("row_key = '00000007'").collect()]
    assert got == [7 * 1.5 + 1.0], got
    # catch-up path restores the index
    st.rebuild_indexes("r6.t")
    assert "stale" not in st.registry.get("r6.by_grp").properties


def test_compact_carries_concurrent_append(spark, tmp_path):
    """A row APPENDED while a major compaction is building must survive:
    appends add files WITHOUT flipping the generation pointer, so the
    CAS alone cannot see them — the base-listing flip guard fails the
    stale compaction loudly and the retry folds the appended row in."""
    st = _mk_plain_table(spark, tmp_path, n=20)
    st.compact("r6.t", n_regions=2)
    fired = []
    orig = KeyedTableStore._sorted_rewrite

    def hooked(self, spec, df, **kw):
        if not fired:
            fired.append(True)
            # lands AFTER compact's listing capture, BEFORE its flip
            st.insert("r6.t", spark.createDataFrame(
                [("zz_concurrent", 9, 9.0)],
                "row_key string, `c:grp` long, `c:val` double",
            ), generate_row_key=False)
        return orig(self, spec, df, **kw)

    KeyedTableStore._sorted_rewrite = hooked
    try:
        st.compact("r6.t", n_regions=2)
    finally:
        KeyedTableStore._sorted_rewrite = orig
    got = {r["row_key"] for r in st.read("r6.t").collect()}
    assert "zz_concurrent" in got, "append dropped by concurrent compact"
    assert len(got) == 21


def test_concurrent_append_upsert_delete_writers_converge(spark, tmp_path):
    """Three writers interleave appends (files linked into the live
    generation without a flip), upserts and deletes (selective rewrites
    whose carry is a hardlink listing guarded at the flip): no writer
    errors, and the final content is exactly the serial outcome."""
    import threading

    st = KeyedTableStore(spark, str(tmp_path / "wh"))
    st.create_table(TableSpec(
        namespace="cw", name="t", key_type="string",
        families={"cf": {"v": "long"}}, split_keys=["k015"],
    ))
    schema = "row_key string, `cf:v` long"
    st.insert(
        "cw.t",
        spark.createDataFrame([(f"k{i:03d}", i) for i in range(30)], schema),
        overwrite=True,
    )
    errs = []

    def writer(body):
        def run():
            try:
                body()
            except Exception:  # noqa: BLE001 — recorded for the assert
                import traceback

                errs.append(traceback.format_exc())
        return threading.Thread(target=run)

    def appender():
        for i in range(3):
            st.insert("cw.t", spark.createDataFrame([(f"x{i}", 100 + i)], schema))

    def upserter():
        for i in range(3):
            st.upsert(
                "cw.t", spark.createDataFrame([(f"k{i:03d}", 1000 + i)], schema)
            )

    def deleter():
        for i in range(20, 23):
            st.delete_where("cw.t", f"row_key = 'k{i:03d}'")

    threads = [writer(f) for f in (appender, upserter, deleter)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert not errs, errs[0]
    got = {(r["row_key"], r["cf:v"]) for r in st.read("cw.t").collect()}
    want = {(f"k{i:03d}", i) for i in range(30) if i not in (0, 1, 2, 20, 21, 22)}
    want |= {(f"k{i:03d}", 1000 + i) for i in range(3)}
    want |= {(f"x{i}", 100 + i) for i in range(3)}
    assert got == want


def test_append_staging_sweep_respects_writing_marker(spark, tmp_path):
    """A crashed append's staging dir is swept, but one whose
    ``.writing`` marker flock is HELD survives any sweep regardless of
    mtime — Spark only renames part files in at task commit, so a long
    in-flight write has a stale directory mtime."""
    import fcntl

    st = _mk_plain_table(spark, tmp_path, n=8)
    root = st.table_root(st.registry.get("r6.t"))
    old = time.time() - 7200
    dead = os.path.join(root, ".append-00000000dead")
    os.makedirs(dead)
    os.utime(dead, (old, old))
    live = os.path.join(root, ".append-00000000beef")
    os.makedirs(live)
    os.utime(live, (old, old))
    fd = os.open(live + ".writing", os.O_CREAT | os.O_WRONLY)
    try:
        fcntl.flock(fd, fcntl.LOCK_EX)
        st.compact("r6.t", n_regions=2)  # runs both sweeps
        entries = set(os.listdir(root))
        assert ".append-00000000dead" not in entries
        assert ".append-00000000beef" in entries, "live append swept"
    finally:
        os.close(fd)


def test_writer_lock_excludes_and_survives_kill(spark, tmp_path):
    """The flock writer mutex: a held lock times out a second acquirer;
    a lock file whose owner died (no flock held — what a SIGKILL
    leaves) blocks nobody and needs no stale-breaking."""
    from spark_sql_hbase_spark.sources.keyed_parquet import (
        ConcurrentWriteConflictError,
    )

    st = KeyedTableStore(spark, str(tmp_path / "wh"))
    root = str(tmp_path / "wh")
    with st._table_write_lock(root):
        with pytest.raises(ConcurrentWriteConflictError):
            with st._table_write_lock(root, timeout=0.3):
                pass
    # "crashed holder": the file exists but nobody flocks it
    assert os.path.exists(os.path.join(root, st._WRITER_LOCK))
    with st._table_write_lock(root, timeout=0.3):
        pass


@pytest.mark.slow
def test_three_writer_stress_compact_upsert_delete(spark, tmp_path):
    """Optimistic-concurrency acceptance for the full protocol: a
    MERGE loop, a DELETE loop, and a major-compaction loop race on ONE
    table.  Every DML mutation must land (a compaction racing an
    append/rewrite either folds it in via retry or fails LOUDLY — the
    base-listing guard + CAS make silent row loss structurally
    impossible), the table must stay readable throughout, and the
    final state must be exactly the serial outcome of the DMLs."""
    import threading

    from spark_sql_hbase_spark.sources.keyed_parquet import (
        ConcurrentWriteConflictError,
    )

    import traceback

    st = _mk_plain_table(spark, tmp_path, n=40)
    st.compact("r6.t", n_regions=4)
    errs: list = []
    compact_conflicts: list = []

    def record(e):
        errs.append(traceback.format_exc())

    def merger():
        try:
            for i in range(4):
                st.upsert("r6.t", spark.createDataFrame(
                    [(f"aa_{i:04d}", 7, 7.0)],
                    "row_key string, `c:grp` long, `c:val` double",
                ))
        except Exception as e:  # noqa: BLE001 — recorded for the assert
            errs.append(e)

    def deleter():
        try:
            for i in range(4):
                st.upsert("r6.t", spark.createDataFrame(
                    [(f"bb_{i:04d}", 9, 9.0)],
                    "row_key string, `c:grp` long, `c:val` double",
                ))
                assert st.delete_where(
                    "r6.t", f"row_key = 'bb_{i:04d}'"
                ) == 1
        except Exception as e:  # noqa: BLE001
            record(e)

    def compactor():
        for _ in range(3):
            try:
                st.compact("r6.t", n_regions=4)
            except ConcurrentWriteConflictError as e:
                # legitimate under sustained contention: retries
                # exhausted, loudly — never silent row loss
                compact_conflicts.append(e)
            except Exception as e:  # noqa: BLE001
                record(e)

    def lease_reader():
        # scan leases acquired DURING the churn: each one must read a
        # complete consistent snapshot (row count == a full multiple of
        # nothing torn — every file present), never FileNotFound, and
        # never deadlock against the writers' flip locks
        try:
            for _ in range(4):
                with st.scan_lease("r6.t") as leased:
                    n1 = leased.count()
                    n2 = len(leased.collect())
                    assert n1 == n2, (n1, n2)
                    assert n1 >= 40  # never a torn/partial generation
        except Exception as e:  # noqa: BLE001
            record(e)

    threads = [
        threading.Thread(target=merger),
        threading.Thread(target=deleter),
        threading.Thread(target=compactor),
        threading.Thread(target=lease_reader),
    ]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert not errs, errs
    got = {r["row_key"] for r in st.read("r6.t").collect()}
    assert {f"aa_{i:04d}" for i in range(4)} <= got
    assert not [k for k in got if k.startswith("bb_")]
    assert len(got) == 44
    # after arbitrary interleaving, the surviving generation's span
    # manifest must still AGREE with the live footers for every file it
    # covers (coverage may be partial — appends racing flips can orphan
    # a sidecar, which only costs a fallback — but never wrong)
    path = st.table_path(st.registry.get("r6.t"))
    cached = st._load_span_stats(path)
    live_files = set(st._data_files(path))
    for fname, rec in cached.items():
        if fname in live_files:
            assert rec == KeyedTableStore._footer_key_stats(
                os.path.join(path, fname)
            ), fname


def test_index_rebuild_retry_rereads_main(spark, tmp_path):
    """A full index rebuild that loses its CAS must RE-READ the main
    table on retry: re-swapping the first attempt's projection would
    publish an index missing whatever the conflicting writer committed
    — marked fresh, silently wrong on every index_lookup."""
    from spark_sql_hbase_spark.sources.keyed_parquet import (
        ConcurrentWriteConflictError,
    )

    st = _mk_plain_table(spark, tmp_path, n=40)
    st.create_covered_index("r6.t", "r6.by_grp", "c:grp",
                            include=["c:val"], key_width=4)
    orig = KeyedTableStore._sorted_rewrite
    fired = []

    def hooked(self, spec, df, **kw):
        if spec.qualified_name == "r6.by_grp" and not fired:
            fired.append(True)
            # a concurrent writer commits to the MAIN table mid-rebuild
            st.insert("r6.t", spark.createDataFrame(
                [("zz_new", 3, 33.0)],
                "row_key string, `c:grp` long, `c:val` double",
            ), generate_row_key=False, maintain_indexes=False)
            raise ConcurrentWriteConflictError("index CAS lost (injected)")
        return orig(self, spec, df, **kw)

    KeyedTableStore._sorted_rewrite = hooked
    try:
        st.rebuild_indexes("r6.t")
    finally:
        KeyedTableStore._sorted_rewrite = orig
    assert "stale" not in st.registry.get("r6.by_grp").properties
    hits = {r["i:src_key"] for r in st.index_lookup("r6.by_grp", 3).collect()}
    assert "zz_new" in hits, "retried rebuild republished a stale projection"


def test_scan_lease_survives_concurrent_churn(spark, tmp_path):
    """The HBase scanner-lease analogue: a leased generation survives
    ANY number of concurrent DML/compaction swaps (not just the
    one-swap reader grace), the leased DataFrame stays a complete
    consistent snapshot throughout, and releasing the lease lets the
    next sweep reclaim it."""
    st = _mk_plain_table(spark, tmp_path, n=20)
    st.compact("r6.t", n_regions=2)
    before = sorted(map(tuple, st.read("r6.t").collect()))
    with st.scan_lease("r6.t") as leased:
        # an APPEND hardlinks new files into the still-current (pinned)
        # generation — the lease's explicit file-list snapshot must not
        # see them (true snapshot isolation, not just deletion safety)
        st.insert("r6.t", spark.createDataFrame(
            [("zz_after_lease", 1, 1.0)],
            "row_key string, `c:grp` long, `c:val` double",
        ), generate_row_key=False)
        # three swaps of churn — far past the one-swap reader grace
        assert st.delete_where("r6.t", "row_key <= '00000005'") == 5
        st.compact("r6.t", n_regions=2)
        st.compact("r6.t", n_regions=1)
        assert sorted(map(tuple, leased.collect())) == before
    # lease released: the next swap sweeps the pinned generation
    st.compact("r6.t", n_regions=2)
    root = st.table_root(st.registry.get("r6.t"))
    man = st._read_gen_manifest(root)
    gens = {d for d in os.listdir(root) if d.startswith("gen-")}
    assert gens == {man["current"], man["previous"]}
    assert not [e for e in os.listdir(root) if e.startswith(".reading-")]
    assert len(st.read("r6.t").collect()) == 16  # 20 + 1 appended - 5


def test_dead_scan_lease_does_not_protect(spark, tmp_path):
    """A crashed leaseholder's marker (no flock — the kernel released
    it with the dead process's fd) protects nothing and is swept."""
    st = _mk_plain_table(spark, tmp_path, n=8)
    st.compact("r6.t", n_regions=2)
    root = st.table_root(st.registry.get("r6.t"))
    cur = st._read_gen_manifest(root)["current"]
    with open(os.path.join(root, f".reading-{cur}.deadbeef"), "w"):
        pass
    st.compact("r6.t", n_regions=2)
    st.compact("r6.t", n_regions=1)
    entries = set(os.listdir(root))
    man2 = st._read_gen_manifest(root)
    assert cur not in entries, "dead lease protected a retired generation"
    gens = {d for d in entries if d.startswith("gen-")}
    assert gens == {man2["current"], man2["previous"]}
    assert f".reading-{cur}.deadbeef" not in entries


@pytest.mark.slow
def test_dml_pruning_soundness_condition_sweep(spark, tmp_path):
    """Ground-truth sweep for the footer-pruning fast path: for a
    battery of DML conditions (typed bounds, BETWEEN/IN/LIKE, custom
    ESCAPE, OR/AND mixes, cross-type literals, non-key predicates) the
    rows an UPDATE touches must equal Spark's own filter count on the
    same table — a mis-prune would silently shrink the former.  Runs
    against BOTH a string-keyed and a long-keyed multi-file table."""
    st = KeyedTableStore(spark, str(tmp_path / "wh"))
    st.ctas(
        TableSpec(namespace="r8", name="ps", key_type="string",
                  families={"c": {"grp": "long", "val": "double"}}),
        spark.createDataFrame(
            [(f"{i:08d}", i % 4, float(i)) for i in range(1, 21)],
            "row_key string, `c:grp` long, `c:val` double"),
    )
    st.compact("r8.ps", n_regions=4)
    st.ctas(
        TableSpec(namespace="r8", name="pl", key_type="long",
                  families={"c": {"grp": "long", "val": "double"}}),
        spark.createDataFrame(
            [(i, i % 4, float(i)) for i in range(90, 161)],
            "row_key long, `c:grp` long, `c:val` double"),
    )
    st.compact("r8.pl", n_regions=4)
    cases = {
        "r8.ps": [
            "row_key = '00000010'",
            "row_key <= '00000005'",
            "row_key BETWEEN '00000008' AND '00000012'",
            "row_key IN ('00000001', '00000019', 'zz')",
            "row_key LIKE '0000001%'",
            "row_key LIKE '0000001%' ESCAPE '!'",
            "row_key > '00000015' OR row_key = '00000002'",
            "row_key >= '00000004' AND `c:grp` = 1",
            "row_key BETWEEN 2 AND 7",  # int literals on a string key
            "`c:val` > 10.0",
        ],
        "r8.pl": [
            "row_key = 100",
            "row_key >= 99 AND row_key <= 101",
            "row_key BETWEEN 150 AND 210",
            "row_key IN (93, 155, 400)",
            "row_key = '105'",  # string literal on a long key
            "row_key > 158 OR row_key = 90",
            "`c:grp` = 2",
        ],
    }
    for table, conds in cases.items():
        for cond in conds:
            expected = (
                st.read(table)
                .filter(F.coalesce(F.expr(cond), F.lit(False)))
                .count()
            )
            # identity assignment: exact touched-row count, no mutation
            got = st.update_where(table, {"c:val": "`c:val`"}, cond)
            assert got == expected, (table, cond, got, expected)


def test_compact_target_region_bytes_resizes_layout(spark, tmp_path):
    """Size-targeted compaction (the HBase split-policy analogue): the
    region count follows the CURRENT data size, so a grown table
    re-splits instead of funneling into its creation-time fan-out — and
    a tiny table collapses to one region.  Content is invariant."""
    st = _mk_plain_table(spark, tmp_path, n=200)
    spec = st.registry.get("r6.t")
    before = sorted(map(tuple, st.read("r6.t").collect()))
    st.compact("r6.t", n_regions=2)
    path = st.table_path(spec)
    sizes = [
        os.path.getsize(os.path.join(path, f)) for f in st._data_files(path)
    ]
    total = sum(sizes)
    # target 1/5 of the data per region -> ~5 regions (>= 4 allows for
    # range-partition skew producing an empty slice)
    st.compact("r6.t", target_region_bytes=total // 5)
    path = st.table_path(spec)
    n_files = len(st._data_files(path))
    assert n_files >= 4, n_files
    # a huge target collapses to ONE region
    st.compact("r6.t", target_region_bytes=total * 100)
    path = st.table_path(spec)
    assert len(st._data_files(path)) == 1
    assert sorted(map(tuple, st.read("r6.t").collect())) == before
    with pytest.raises(ValueError):
        st.compact("r6.t", n_regions=2, target_region_bytes=1)


# -- round-8: per-generation key-span manifest (footer stats, cached) ----
def _no_footer_reads(monkeypatch):
    """Patch _footer_key_stats to fail loudly — proves a path is served
    entirely from the span manifest."""
    def boom(full):
        raise AssertionError(f"footer read of {full!r} with manifest present")
    monkeypatch.setattr(KeyedTableStore, "_footer_key_stats", staticmethod(boom))


def test_span_manifest_serves_admin_and_pruning_without_footer_opens(
    spark, tmp_path, monkeypatch
):
    """Every generation build writes ``_spans.json``; span pruning,
    key-span, footer row count, and region_stats are then served from
    the ONE manifest read — zero per-file footer opens (the 100 TB
    metadata-bottleneck fix; Iceberg/Delta-manifest discipline)."""
    st = _mk_plain_table(spark, tmp_path, n=100)
    st.compact("r6.t", n_regions=4)
    spec = st.registry.get("r6.t")
    path = st.table_path(spec)
    files = st._data_files(path)
    assert os.path.exists(os.path.join(path, "_spans.json"))
    cached = st._load_span_stats(path)
    assert set(files) <= set(cached), (files, sorted(cached))
    # manifest entries match a live footer walk exactly
    for f in files:
        assert cached[f] == KeyedTableStore._footer_key_stats(
            os.path.join(path, f)
        )
    expect_cand = st._span_candidates(path, "00000001", "00000005")
    expect_span = st._key_span(path, files)
    expect_rows = st._footer_row_count(path)
    expect_regions = [tuple(r) for r in st.region_stats("r6.t").collect()]
    _no_footer_reads(monkeypatch)
    assert st._span_candidates(path, "00000001", "00000005") == expect_cand
    assert st._key_span(path, files) == expect_span
    assert st._footer_row_count(path) == expect_rows == 100
    assert [
        tuple(r) for r in st.region_stats("r6.t").collect()
    ] == expect_regions
    assert len(expect_cand) == 1  # pruning still prunes


def test_append_sidecar_covers_appended_files(spark, tmp_path, monkeypatch):
    """An APPEND insert records its parts in a write-once sidecar, so
    the generation stays fully manifest-covered between compactions."""
    st = _mk_plain_table(spark, tmp_path, n=20)
    st.compact("r6.t", n_regions=2)
    st.insert("r6.t", spark.createDataFrame(
        [("zz000001", 9, 9.0), ("zz000002", 9, 9.0)],
        "row_key string, `c:grp` long, `c:val` double",
    ))
    spec = st.registry.get("r6.t")
    path = st.table_path(spec)
    assert glob.glob(os.path.join(path, "_spans-*.json")), os.listdir(path)
    cached = st._load_span_stats(path)
    assert set(st._data_files(path)) <= set(cached)
    _no_footer_reads(monkeypatch)
    assert st._footer_row_count(path) == 22
    # appended key range visible to pruning without any footer open
    assert st._span_candidates(path, "zz000000", None)


def test_corrupt_span_manifest_degrades_to_live_footer_reads(
    spark, tmp_path
):
    """The manifest is a pure cache: garbage in any _spans file means
    the live footer walk serves the same answers (soundness never
    depends on the manifest)."""
    st = _mk_plain_table(spark, tmp_path, n=40)
    st.compact("r6.t", n_regions=4)
    spec = st.registry.get("r6.t")
    path = st.table_path(spec)
    expect_cand = st._span_candidates(path, "00000001", "00000009")
    expect_rows = st._footer_row_count(path)
    expect_regions = [tuple(r) for r in st.region_stats("r6.t").collect()]
    with open(os.path.join(path, "_spans.json"), "w") as fh:
        fh.write('{"version": 1, "files": {broken')
    assert st._load_span_stats(path) == {}
    assert st._span_candidates(path, "00000001", "00000009") == expect_cand
    assert st._footer_row_count(path) == expect_rows
    assert [
        tuple(r) for r in st.region_stats("r6.t").collect()
    ] == expect_regions
    # and DML on the corrupt-manifest table still lands correctly
    assert st.delete_where("r6.t", "row_key <= '00000004'") == 4
    assert st.read("r6.t").count() == 36


def test_carry_swap_reuses_span_entries_for_carried_files(
    spark, tmp_path, monkeypatch
):
    """A selective DML's new generation re-reads footers only for the
    files it REWROTE: carried hardlinks reuse the source manifest's
    entries by name (same inode, same content — reuse is sound)."""
    st = _mk_plain_table(spark, tmp_path, n=100)
    st.compact("r6.t", n_regions=4)
    spec = st.registry.get("r6.t")
    old_path = st.table_path(spec)
    old_files = set(st._data_files(old_path))
    seen = []
    orig = KeyedTableStore._footer_key_stats

    def spy(full):
        seen.append(full)
        return orig(full)

    monkeypatch.setattr(KeyedTableStore, "_footer_key_stats", staticmethod(spy))
    assert st.delete_where("r6.t", "row_key <= '00000005'") == 5
    new_path = st.table_path(spec)
    new_files = set(st._data_files(new_path))
    carried = old_files & new_files
    assert carried, "expected hardlink-carried files"
    # every footer open during the DML was a freshly written file of the
    # new generation — never a carried file, never the old generation
    for full in seen:
        assert os.path.dirname(full) == new_path, seen
        assert os.path.basename(full) not in carried, seen
    # the new generation is fully covered and trustworthy
    cached = st._load_span_stats(new_path)
    assert new_files <= set(cached)


def test_span_value_encoding_roundtrip():
    """Tagged JSON span values round-trip natively TYPED (str / big
    int / bytes / None); unencodable types omit the entry (fallback),
    never a stringified wrong-order comparison."""
    enc, dec = (
        KeyedTableStore._encode_span_value,
        KeyedTableStore._decode_span_value,
    )
    for v in ["kéy", "", 0, -7, 2**70, b"\x00\xff\x10", None]:
        got = dec(json.loads(json.dumps(enc(v))))
        assert got == v and type(got) is type(v) or v is None
    entries = KeyedTableStore._encode_span_entries(
        {"a.parquet": (1.5, 2.5, 3, True), "b.parquet": ("x", "y", 2, False)}
    )
    assert set(entries) == {"b.parquet"}  # float span omitted, not mangled


def test_span_sidecars_merge_into_manifest(spark, tmp_path, monkeypatch):
    """Sidecars fold into _spans.json once _SPAN_SIDECAR_MERGE_AT
    accumulate, so a generation taking thousands of appends keeps O(1)
    metadata files — with full coverage intact across the merge."""
    monkeypatch.setattr(KeyedTableStore, "_SPAN_SIDECAR_MERGE_AT", 3)
    st = _mk_plain_table(spark, tmp_path, n=10)
    st.compact("r6.t", n_regions=2)
    spec = st.registry.get("r6.t")
    for i in range(4):
        st.insert("r6.t", spark.createDataFrame(
            [(f"zz{i:06d}", i, float(i))],
            "row_key string, `c:grp` long, `c:val` double",
        ))
    path = st.table_path(spec)
    # 4 appends with threshold 3: at most threshold-1 sidecars survive
    side = glob.glob(os.path.join(path, "_spans-*.json"))
    assert len(side) < 3, side
    cached = st._load_span_stats(path)
    assert set(st._data_files(path)) <= set(cached)
    _no_footer_reads(monkeypatch)
    assert st._footer_row_count(path) == 14
    assert st._span_candidates(path, "zz000000", None)


def test_snapshot_restore_clone_carry_span_manifest(
    spark, tmp_path, monkeypatch
):
    """snapshot() carries the span manifest; restore and clone reuse it
    — the restored/cloned generation is fully covered with ZERO footer
    re-reads (zero-copy stays zero-READ too)."""
    st = _mk_plain_table(spark, tmp_path, n=30)
    st.compact("r6.t", n_regions=3)
    st.snapshot("r6.t", "snap1")
    sdir = st._snapshot_dir("snap1")
    assert os.path.exists(os.path.join(sdir, "_spans.json"))
    st.delete_where("r6.t", "row_key <= '00000010'")
    seen = []
    orig = KeyedTableStore._footer_key_stats

    def spy(full):
        seen.append(full)
        return orig(full)

    monkeypatch.setattr(KeyedTableStore, "_footer_key_stats", staticmethod(spy))
    st.restore_snapshot("r6.t", "snap1")
    assert not seen, f"footer re-reads during restore: {seen}"
    assert st.read("r6.t").count() == 30
    spec = st.registry.get("r6.t")
    path = st.table_path(spec)
    assert set(st._data_files(path)) <= set(st._load_span_stats(path))
    st.clone_snapshot("snap1", "r6.t2")
    assert not seen, f"footer re-reads during clone: {seen}"
    cpath = st.table_path(st.registry.get("r6.t2"))
    assert set(st._data_files(cpath)) <= set(st._load_span_stats(cpath))
    assert st.read("r6.t2").count() == 30


def test_snapshot_under_concurrent_churn_is_consistent(spark, tmp_path):
    """snapshot() rides the generation lease: snapshots taken while a
    compaction loop and a DML loop churn the table each capture a
    complete point-in-time state (>= the base rows, never torn, never
    FileNotFound) — the HBase snapshot-vs-compaction file-reference
    protocol."""
    import threading

    st = _mk_plain_table(spark, tmp_path, n=40)
    st.compact("r6.t", n_regions=4)
    errs: list = []
    stop = threading.Event()

    def churner():
        try:
            i = 0
            while not stop.is_set() and i < 6:
                st.upsert("r6.t", spark.createDataFrame(
                    [(f"cc_{i:04d}", 5, 5.0)],
                    "row_key string, `c:grp` long, `c:val` double",
                ))
                st.compact("r6.t", n_regions=4)
                i += 1
        except Exception as e:  # noqa: BLE001
            errs.append(e)
        finally:
            stop.set()

    t = threading.Thread(target=churner)
    t.start()
    taken = []
    try:
        i = 0
        while not stop.is_set() and i < 8:
            name = f"churn_snap_{i}"
            st.snapshot("r6.t", name)
            taken.append(name)
            i += 1
    except Exception as e:  # noqa: BLE001
        errs.append(e)
    finally:
        stop.set()
        t.join()
    assert not errs, errs
    assert taken
    for name in taken:
        sdir = st._snapshot_dir(name)
        frame = spark.read.parquet(
            *[os.path.join(sdir, f) for f in os.listdir(sdir)
              if f.endswith(".parquet")]
        )
        n = frame.count()
        assert n >= 40, (name, n)  # base rows always present, never torn
        # the carried manifest agrees with the captured files
        cached = st._load_span_stats(sdir)
        assert sum(rec[2] for rec in cached.values()) == n, name
    for name in taken:
        st.delete_snapshot(name)


def test_index_rebuild_detects_concurrent_main_append(spark, tmp_path):
    """A full index rebuild whose read predates a concurrent main-table
    APPEND must not pass its flip guard: appends add files (and their
    own index entries) WITHOUT flipping the main pointer, so a
    pointer-only check would let the rebuild replace the index from the
    pre-append projection — dropping the insert's entries while marking
    the index fresh.  The listing guard conflicts loudly and the retry
    folds the appended rows in.  No conflict is injected here: the
    append alone must trip the guard."""
    st = _mk_plain_table(spark, tmp_path, n=40)
    st.create_covered_index("r6.t", "r6.by_grp", "c:grp",
                            include=["c:val"], key_width=4)
    orig = KeyedTableStore._sorted_rewrite
    fired = []

    def hooked(self, spec, df, **kw):
        if spec.qualified_name == "r6.by_grp" and not fired:
            fired.append(True)
            # lands AFTER the rebuild read the main table, BEFORE its
            # index flip — an append, so the main pointer never moves
            st.insert("r6.t", spark.createDataFrame(
                [("zz_appended", 3, 33.0)],
                "row_key string, `c:grp` long, `c:val` double",
            ), generate_row_key=False)
        return orig(self, spec, df, **kw)

    KeyedTableStore._sorted_rewrite = hooked
    try:
        st.rebuild_indexes("r6.t")
    finally:
        KeyedTableStore._sorted_rewrite = orig
    assert fired, "hook never fired"
    assert "stale" not in st.registry.get("r6.by_grp").properties
    hits = {r["i:src_key"] for r in st.index_lookup("r6.by_grp", 3).collect()}
    assert "zz_appended" in hits, (
        "rebuild published a pre-append projection over the insert's "
        "index entries"
    )


def test_lock_timeout_fails_fast_not_retried(spark, tmp_path):
    """A writer-lock acquisition TIMEOUT is a stuck/long-held lock, not
    a lost CAS: _retry_write_conflict must surface it immediately
    instead of multiplying the timeout by the retry count (~12 minutes
    of busy-wait at the defaults)."""
    from spark_sql_hbase_spark.sources.keyed_parquet import (
        ConcurrentWriteConflictError,
        LockTimeoutError,
    )

    st = _mk_plain_table(spark, tmp_path, n=8)
    root = st.table_root(st.registry.get("r6.t"))
    attempts = []

    def stuck():
        attempts.append(True)
        with st._table_write_lock(root, timeout=0.2):
            pass

    with st._table_write_lock(root):
        t0 = time.monotonic()
        with pytest.raises(LockTimeoutError):
            st._retry_write_conflict(stuck)
        elapsed = time.monotonic() - t0
    assert len(attempts) == 1, "lock timeout was retried"
    assert elapsed < 2.0, f"fail-fast took {elapsed:.1f}s"
    # still a ConcurrentWriteConflictError subclass, so best-effort
    # callers (opportunistic GC) keep catching it
    assert issubclass(LockTimeoutError, ConcurrentWriteConflictError)


def test_incremental_index_locate_prunes_by_srckey_bloom(spark, tmp_path):
    """Incremental index maintenance must locate changed entries by
    probing the src-key Bloom sidecars, not by scanning O(index): a
    1-key DML's index locate receives exactly the files whose sidecar
    admits the key (the value-sorted layout scatters src keys, so span
    stats can't do this)."""
    from spark_sql_hbase_spark.sources import bloom

    st = _mk_plain_table(spark, tmp_path, n=200)
    st.create_covered_index("r6.t", "r6.by_grp", "c:grp",
                            include=["c:val"], key_width=4)
    st.compact("r6.by_grp", n_regions=4)
    ipath = st.table_path(st.registry.get("r6.by_grp"))
    ifiles = st._data_files(ipath)
    assert len(ifiles) >= 3
    for f in ifiles:
        assert os.path.exists(
            bloom.sidecar_path(ipath, f, bloom.SRCKEY_DIR)
        ), f"missing src-key sidecar for {f}"

    key = "00000007"
    expected = [
        f for f in ifiles
        if bloom.file_survives_point_sets(
            ipath, f, [[key]], "string", subdir=bloom.SRCKEY_DIR
        )
    ]
    # the probe is deterministic (fixed key set, fixed sizing): the
    # holder file must survive, and pruning must actually bite
    assert 0 < len(expected) < len(ifiles)

    captured = {}
    orig = KeyedTableStore._locate_affected_files

    def spy(self, spec, fn, files=None):
        if spec.qualified_name == "r6.by_grp":
            captured["files"] = files
        return orig(self, spec, fn, files=files)

    KeyedTableStore._locate_affected_files = spy
    try:
        n = st.update_where(
            "r6.t", {"c:val": "`c:val` + 100"}, f"row_key = '{key}'"
        )
    finally:
        KeyedTableStore._locate_affected_files = orig
    assert n == 1
    assert captured["files"] == expected, (
        "index locate did not prune to the bloom-admitted files"
    )
    # the maintained index still answers correctly (entry moved value)
    got = {
        (r["i:src_key"], r["c:val"])
        for r in st.index_lookup("r6.by_grp", 3).collect()
        if r["i:src_key"] == key
    }
    assert got == {(key, 7 * 1.5 + 100)}


def test_manifestless_generation_backfills_span_sidecar(spark, tmp_path):
    """A generation whose span metadata is GONE (crash between append
    link-in and sidecar write, foreign writer) must pay its live footer
    reads ONCE: the first span lookup backfills a span sidecar, and the
    next operation on the same generation reads zero footers."""
    st = _mk_plain_table(spark, tmp_path, n=40)
    st.compact("r6.t", n_regions=4)
    path = st.table_path(st.registry.get("r6.t"))
    for f in os.listdir(path):
        if f == "_spans.json" or (
            f.startswith("_spans-") and f.endswith(".json")
        ):
            os.remove(os.path.join(path, f))
    assert st._load_span_stats(path) == {}

    calls: list = []
    orig = KeyedTableStore._footer_key_stats

    def spy(full):
        calls.append(full)
        return orig(full)

    KeyedTableStore._footer_key_stats = staticmethod(spy)
    try:
        # no-match DML: locate prunes everything, no rewrite, SAME
        # generation — pays the footer reads and backfills
        assert st.delete_where("r6.t", "row_key = 'zz_absent'") == 0
        first = [c for c in calls if os.path.dirname(c) == path]
        assert first, "first locate should have read footers live"
        assert st._load_span_stats(path), "backfill did not persist"
        calls.clear()
        # second op on the SAME generation: served by the sidecar
        assert st.delete_where("r6.t", "row_key = 'zz_absent2'") == 0
        second = [c for c in calls if os.path.dirname(c) == path]
        assert second == [], f"re-paid footer reads: {second}"
    finally:
        KeyedTableStore._footer_key_stats = staticmethod(orig)
    # the backfilled stats agree with the live footers
    for fname, rec in st._load_span_stats(path).items():
        assert rec == orig(os.path.join(path, fname)), fname


def test_auto_minor_compaction_threshold(spark, tmp_path):
    """COMPACTION_THRESHOLD => N (the hbase.hstore.compactionThreshold
    analogue): append ingest that leaves >= N files in the current
    generation triggers an automatic minor compaction, so file counts
    stay bounded without an operator in the loop — and content is
    exactly preserved."""
    st = KeyedTableStore(spark, str(tmp_path / "wh"))
    spec = TableSpec(
        namespace="r6", name="auto", key_type="string",
        families={"c": {"v": "long"}},
        properties={"COMPACTION_THRESHOLD": "4"},
    )
    st.create_table(spec)
    for batch in range(6):
        df = spark.createDataFrame(
            [(f"{batch:02d}_{i:04d}", batch * 100 + i) for i in range(5)],
            "row_key string, `c:v` long",
        )
        st.insert("r6.auto", df, generate_row_key=False)
    path = st.table_path(st.registry.get("r6.auto"))
    n_files = len(st._data_files(path))
    assert n_files < 4, (
        f"auto minor compaction did not bound the file count ({n_files})"
    )
    got = {(r["row_key"], r["c:v"]) for r in st.read("r6.auto").collect()}
    assert got == {
        (f"{b:02d}_{i:04d}", b * 100 + i) for b in range(6) for i in range(5)
    }

    # control: without the property, every append stays its own run
    spec2 = TableSpec(
        namespace="r6", name="manual", key_type="string",
        families={"c": {"v": "long"}},
    )
    st.create_table(spec2)
    for batch in range(4):
        st.insert("r6.manual", spark.createDataFrame(
            [(f"{batch:02d}", batch)], "row_key string, `c:v` long",
        ), generate_row_key=False)
    path2 = st.table_path(st.registry.get("r6.manual"))
    assert len(st._data_files(path2)) >= 4  # every append stays a run

    # an unparseable threshold is refused loudly, not silently ignored
    spec3 = TableSpec(
        namespace="r6", name="bad", key_type="string",
        families={"c": {"v": "long"}},
        properties={"COMPACTION_THRESHOLD": "many"},
    )
    st.create_table(spec3)
    with pytest.raises(ValueError, match="COMPACTION_THRESHOLD"):
        st.insert("r6.bad", spark.createDataFrame(
            [("k", 1)], "row_key string, `c:v` long",
        ), generate_row_key=False)


@pytest.mark.slow
def test_scan_page_walks_the_whole_table_exactly_once(spark, tmp_path):
    """Paging to exhaustion reconstructs the full table in key order
    with no duplicate and no gap; an empty page ends the walk; a
    non-positive page size refuses loudly."""
    import pytest as _pytest

    from spark_sql_hbase_spark.sources import fixtures
    from spark_sql_hbase_spark.sources.keyed_parquet import KeyedTableStore

    store = KeyedTableStore(spark, str(tmp_path / "wh"))
    store.create_table(fixtures.pw_test_spec())
    store.insert("pw.test", fixtures.pw_test_df(spark), overwrite=True,
                 generate_row_key=False)
    expect = sorted(r["row_key"] for r in store.read("pw.test").collect())
    walked, cursor = [], None
    while True:
        rows = store.scan_page("pw.test", 7, after_key=cursor).collect()
        if not rows:
            break
        keys = [r["row_key"] for r in rows]
        assert keys == sorted(keys)
        walked.extend(keys)
        cursor = keys[-1]
    assert walked == expect
    with _pytest.raises(ValueError, match="page_size"):
        store.scan_page("pw.test", 0)


def test_fast_count_tracks_dml_and_compaction(spark, tmp_path):
    """fast_count == read().count() through insert, upsert, delete and
    compaction — the footer sum must follow the current generation's
    membership, never a stale listing."""
    from spark_sql_hbase_spark.sources import fixtures
    from spark_sql_hbase_spark.sources.keyed_parquet import KeyedTableStore

    store = KeyedTableStore(spark, str(tmp_path / "wh"))
    store.create_table(fixtures.pw_test_spec())
    store.insert("pw.test", fixtures.pw_test_df(spark), overwrite=True,
                 generate_row_key=False)
    assert store.fast_count("pw.test") == store.read("pw.test").count()
    store.delete_keys(
        "pw.test", spark.createDataFrame([("0042",)], "row_key string")
    )
    assert store.fast_count("pw.test") == store.read("pw.test").count()
    store.compact("pw.test", n_regions=2)
    assert store.fast_count("pw.test") == store.read("pw.test").count()


def test_scan_page_versioned_walks_cells_key_safe(spark, tmp_path):
    """r12 VERDICT item 5 (flips the r12 refusal): a VERSIONED table
    pages by KEY — each page carries the next page_size keys with ALL
    their version cells, never splitting one key's cells across a page
    boundary; the exhaustive walk reconstructs every cell exactly
    once."""
    import pytest as _pytest

    from spark_sql_hbase_spark.catalog import TableSpec
    from spark_sql_hbase_spark.sources.keyed_parquet import KeyedTableStore

    store = KeyedTableStore(spark, str(tmp_path / "wh"))
    spec = TableSpec(
        namespace="pg",
        name="ver",
        key_type="string",
        families={"cf": {"v": "long", "ts": "long"}},
        properties={"versions": "9", "version_column": "cf:ts"},
    )
    store.create_table(spec)
    # 11 keys with 1-3 cells each — page_size=2 puts a page boundary
    # between almost every key pair, so a cell-splitting bug cannot hide
    cells = []
    for i in range(11):
        for v in range(1 + (i % 3)):
            cells.append((f"k{i:03d}", i * 10 + v, (v + 1) * 10))
    store.insert(
        "pg.ver",
        spark.createDataFrame(
            cells, "row_key string, `cf:v` long, `cf:ts` long"
        ),
        generate_row_key=False,
    )
    walked, cursor, pages = [], None, 0
    while True:
        page = store.scan_page("pg.ver", 2, after_key=cursor).collect()
        if not page:
            break
        pages += 1
        keys = sorted({r["row_key"] for r in page})
        assert len(keys) <= 2, keys  # page budget is KEYS
        # cell-safety: the page holds ALL cells of every key it touches
        by_key = {}
        for r in page:
            by_key.setdefault(r["row_key"], []).append(r["cf:ts"])
        for k, vs in by_key.items():
            want = sorted(c[2] for c in cells if c[0] == k)
            assert sorted(vs) == want, (k, vs, want)
        walked.extend((r["row_key"], r["cf:v"], r["cf:ts"]) for r in page)
        cursor = keys[-1]
    assert pages == 6  # ceil(11 keys / 2)
    assert sorted(walked) == sorted(cells)  # every cell exactly once
    with _pytest.raises(ValueError, match="page_size"):
        store.scan_page("pg.ver", 0)


@pytest.mark.slow
def test_scan_page_versioned_walk_overlapping_spans(spark, tmp_path):
    """r13: the metadata-pruned page boundary must stay exhaustive when
    APPENDED runs overlap the base files' key ranges (the straddler +
    lo-prefix completeness argument) — three interleaved inserts, pages
    of every size from 1 to 7 all reconstruct the exact cell multiset,
    in key order, with no key's cells ever split across pages."""
    from spark_sql_hbase_spark.catalog import TableSpec
    from spark_sql_hbase_spark.sources.keyed_parquet import KeyedTableStore

    store = KeyedTableStore(spark, str(tmp_path / "wh"))
    spec = TableSpec(
        namespace="pg",
        name="vover",
        key_type="string",
        families={"cf": {"v": "long", "ts": "long"}},
        properties={"versions": "99", "version_column": "cf:ts"},
    )
    store.create_table(spec)
    # batch 1: even keys; batch 2: odd keys (fully interleaved spans);
    # batch 3: a second version for every 3rd key (more overlap)
    b1 = [(f"k{i:03d}", i, 1) for i in range(0, 20, 2)]
    b2 = [(f"k{i:03d}", i, 1) for i in range(1, 20, 2)]
    b3 = [(f"k{i:03d}", i, 2) for i in range(0, 20, 3)]
    for batch in (b1, b2, b3):
        store.insert(
            "pg.vover",
            spark.createDataFrame(
                batch, "row_key string, `cf:v` long, `cf:ts` long"
            ),
            generate_row_key=False,
        )
    cells = sorted(b1 + b2 + b3)
    for page_size in range(1, 8):
        walked, cursor = [], None
        while True:
            page = store.scan_page(
                "pg.vover", page_size, after_key=cursor
            ).collect()
            if not page:
                break
            keys = sorted({r["row_key"] for r in page})
            assert len(keys) <= page_size, (page_size, keys)
            if cursor is not None:
                assert keys[0] > cursor  # no re-read, no skip backwards
            for k in keys:  # cell-safety per key
                want = sorted(c[2] for c in cells if c[0] == k)
                got = sorted(
                    r["cf:ts"] for r in page if r["row_key"] == k
                )
                assert got == want, (page_size, k, got, want)
            walked.extend(
                (r["row_key"], r["cf:v"], r["cf:ts"]) for r in page
            )
            cursor = keys[-1]
        assert sorted(walked) == cells, page_size
