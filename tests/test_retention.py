"""Declared version-retention attributes: HBase ``VERSIONS => N`` and
``TTL`` rebuilt for the append-only versioned layout.

The reference exposes every cell version to its scan
(``scan.readAllVersions()``, ``execution/HBaseTableScanExec.scala:112``)
and leaves retention to the table's column-family attributes, enforced
server-side — reads hide TTL-expired cells immediately, compaction
physically removes expired cells and versions beyond N.  Here the
attributes are the ``versions`` / ``ttl`` table properties:

- ``read_versions_asof`` hides TTL-expired cells even when they are a
  key's only version (visibility, before any compaction);
- ``read_versions_topn`` returns the N latest visible versions per key
  (``Get.readVersions(n)``), defaulting to the declared property, and
  to all-versions without one (the reference's readAllVersions parity);
- ``compact_versions(keep_versions=N)`` retains the N latest per key
  and takes N from the declared property by default; reads at or above
  the surviving versions are unchanged by compaction.

DuckDB is the oracle for the top-N and TTL laws (window + filter on
the same parquet).
"""

import os

import duckdb
import pytest
from pyspark.sql import functions as F

from spark_sql_hbase_spark.catalog import TableSpec
from spark_sql_hbase_spark.sources.keyed_parquet import KeyedTableStore


@pytest.fixture(scope="module")
def store(spark, tmp_path_factory, store_io):
    # one membership rule (a generation's members are its directory's
    # parquet files), under both carries of ``store_io``
    wh = str(tmp_path_factory.mktemp("retention_wh"))
    return KeyedTableStore(spark, wh, io=store_io)


def _versioned_table(store, name, props=None, n_keys=40, n_versions=6):
    """(key, version) grid: key k<i>, versions 10,20,...,10*n_versions,
    value = i*1000 + version."""
    spec = TableSpec(
        namespace="rt",
        name=name,
        key_type="string",
        families={"cf": {"ver": "long", "val": "long"}},
        properties=dict(props or {}),
    )
    store.create_table(spec)
    df = (
        store.spark.range(n_keys * n_versions)
        .select(
            F.format_string("k%03d", (F.col("id") % n_keys).cast("int")).alias(
                "row_key"
            ),
            ((F.col("id") / n_keys).cast("long") * 10 + 10).alias("cf:ver"),
            (
                (F.col("id") % n_keys) * 1000
                + (F.col("id") / n_keys).cast("long") * 10
                + 10
            ).alias("cf:val"),
        )
    )
    store.insert(f"rt.{name}", df, generate_row_key=False)
    return spec


def _duck(store, qualified, sql):
    path = os.path.join(
        store.table_path(store.registry.get(qualified)), "*.parquet"
    )
    con = duckdb.connect()
    con.sql(f"CREATE VIEW t AS SELECT * FROM read_parquet('{path}')")
    return sorted(tuple(r) for r in con.sql(sql).fetchall())


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def test_topn_matches_duckdb_window(store):
    _versioned_table(store, "v1")
    got = _rows(
        store.read_versions_topn("rt.v1", "cf:ver", asof=50, n=2)
    )
    oracle = _duck(
        store,
        "rt.v1",
        '''
        SELECT row_key, "cf:ver", "cf:val" FROM (
          SELECT *, row_number() OVER (
            PARTITION BY row_key ORDER BY "cf:ver" DESC) AS rn
          FROM t WHERE "cf:ver" <= 50
        ) WHERE rn <= 2
        ''',
    )
    assert got == oracle and len(got) == 40 * 2


def test_topn_defaults_to_all_versions_without_property(store):
    """The reference's scan.readAllVersions() parity: no declared
    VERSIONS property = every visible version."""
    got = store.read_versions_topn("rt.v1", "cf:ver", asof=60)
    assert got.count() == 40 * 6


def test_ttl_hides_expired_cells_before_compaction(store):
    """TTL=25 at asof=60 leaves versions in (35, 60] visible — a key
    whose only versions are older has NO visible row (HBase TTL
    semantics: expiry is a read-time fact, not a compaction artifact)."""
    _versioned_table(store, "v2", props={"TTL": "25"})
    asof = store.read_versions_asof("rt.v2", "cf:ver", asof=60)
    assert _rows(asof) == _duck(
        store,
        "rt.v2",
        '''
        SELECT row_key, "cf:ver", "cf:val" FROM (
          SELECT *, max("cf:ver") OVER (PARTITION BY row_key) AS mx
          FROM t WHERE "cf:ver" <= 60 AND "cf:ver" > 35
        ) WHERE "cf:ver" = mx
        ''',
    )
    # an asof where EVERYTHING is expired: visible set is empty even
    # though the rows physically exist
    old = store.read_versions_asof("rt.v2", "cf:ver", asof=100)
    assert old.count() == 0  # newest version is 60, cut is 75
    assert store.read("rt.v2").count() == 40 * 6  # physically intact
    # non-numeric asof with a declared TTL is refused loudly
    with pytest.raises(ValueError):
        store.read_versions_asof("rt.v2", "cf:ver", asof="60")


def test_compact_keep_versions_from_property(store):
    """VERSIONS => 2 as a declared property: compaction keeps the two
    latest per key; reads at the surviving versions are unchanged."""
    _versioned_table(store, "v3", props={"VERSIONS": "2"})
    before = _rows(store.read_versions_asof("rt.v3", "cf:ver", asof=60))
    store.compact_versions("rt.v3", "cf:ver")  # N from the property
    assert store.read("rt.v3").count() == 40 * 2
    assert _duck(
        store,
        "rt.v3",
        'SELECT row_key, count(*) FROM t GROUP BY row_key HAVING count(*) <> 2',
    ) == []
    # the compaction-invisibility law at the surviving versions
    assert _rows(store.read_versions_asof("rt.v3", "cf:ver", asof=60)) == before
    assert (
        store.read_versions_topn("rt.v3", "cf:ver", asof=60).count() == 80
    )


def test_compact_keep_versions_explicit_overrides(store):
    _versioned_table(store, "v4")
    store.compact_versions("rt.v4", "cf:ver", keep_versions=3)
    assert store.read("rt.v4").count() == 40 * 3
    # min_version TTL cut composes: drop below 45, then keep 3 → only
    # 50 and 60 survive (2 versions remain above the cut)
    store.compact_versions("rt.v4", "cf:ver", min_version=45, keep_versions=3)
    assert _duck(
        store,
        "rt.v4",
        'SELECT DISTINCT "cf:ver" FROM t ORDER BY "cf:ver"',
    ) == [(50,), (60,)]
    with pytest.raises(ValueError):
        store.compact_versions("rt.v4", "cf:ver", keep_versions=0)


def test_replayed_duplicate_does_not_consume_a_version_slot(store):
    """dense_rank retention: a bit-identical replayed row (same key,
    same version) must not evict a genuinely older version from the N
    kept."""
    _versioned_table(store, "v5", n_keys=4, n_versions=3)  # versions 10/20/30
    # replay the version-30 cells verbatim (at-least-once ingest)
    dup = store.read("rt.v5").filter(F.col("`cf:ver`") == 30)
    store.insert("rt.v5", dup, generate_row_key=False)
    store.compact_versions("rt.v5", "cf:ver", keep_versions=2)
    # versions 20 and 30 survive for every key (30's duplicate may too —
    # same content either way); version 10 is gone, 20 must NOT be
    assert _duck(
        store,
        "rt.v5",
        'SELECT DISTINCT "cf:ver" FROM t ORDER BY "cf:ver"',
    ) == [(20,), (30,)]
    assert (
        store.read("rt.v5").filter(F.col("`cf:ver`") == 20).dropDuplicates().count()
        == 4
    )
