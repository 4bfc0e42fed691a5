"""CDC changefeed: row-level changes between retained states.

``read_changes`` is the HBase replication/WAL-shipping analogue served
from the storage layout itself: hardlink-carried files are
byte-identical across generations (and into snapshots) by the store's
immutability law, so the diff reads ONLY the symmetric difference of
the two file listings, then a per-row net count over one ``row_key``
exchange drops rewritten-but-unchanged rows.  This suite pins:

- classification: update (new row) / insert / delete across one
  MERGE and one DELETE generation;
- rewritten-but-unchanged neighbors of a touched key do NOT appear;
- the file-level pruning law: carried (shared-name) files are never
  read — the diff's ``inputFiles`` is a subset of the symmetric
  difference;
- snapshot-to-now diffs (``versus=<snapshot>``) including appended
  rows (appends never flip a generation, so only the snapshot base
  sees them as changes);
- NULL-keyed rows classify as update (not delete+insert) when their
  payload changes across an overwrite;
- loud errors: no previous generation / unknown snapshot.
"""

import os
import uuid

import pytest
from pyspark.sql import functions as F

from spark_sql_hbase_spark.catalog import TableSpec
from spark_sql_hbase_spark.sources.keyed_parquet import (
    KeyedTableStore,
    TableNotFoundError,
)


@pytest.fixture(scope="module")
def store(spark, tmp_path_factory, store_io):
    # one membership rule (a generation's members are its directory's
    # parquet files), under both carries of ``store_io``
    wh = str(tmp_path_factory.mktemp("cdc_wh"))
    return KeyedTableStore(spark, wh, io=store_io)


def _mk(store, spark, name, rows, split_keys=None):
    spec = TableSpec(
        namespace="cdc",
        name=name,
        key_type="string",
        families={"cf": {"v": "long"}},
        split_keys=split_keys or [],
    )
    store.create_table(spec)
    store.insert(
        f"cdc.{name}",
        spark.createDataFrame(rows, "row_key string, `cf:v` long"),
        overwrite=True,
    )
    return spec


def _changes(df):
    return {(r["change"], r["row_key"], r["cf:v"]) for r in df.collect()}


def test_changes_classify_update_insert_delete(store, spark):
    _mk(store, spark, "basic", [(f"k{i:03d}", i) for i in range(10)])
    store.upsert(
        "cdc.basic",
        spark.createDataFrame(
            [("k003", 333), ("k999", 999)], "row_key string, `cf:v` long"
        ),
    )
    got = _changes(store.read_changes("cdc.basic", versus="previous"))
    # only the touched keys appear — the 9 rewritten-identical rows of
    # k003's file and every carried file stay silent
    assert got == {("update", "k003", 333), ("insert", "k999", 999)}

    store.delete_where("cdc.basic", "row_key = 'k005'")
    got = _changes(store.read_changes("cdc.basic", versus="previous"))
    assert got == {("delete", "k005", 5)}


def test_changes_read_only_the_symmetric_difference(store, spark):
    spec = _mk(
        store,
        spark,
        "pruned",
        [(f"{p}{i:03d}", i) for p in "abc" for i in range(50)],
        split_keys=["b", "c"],
    )
    import os

    path_before = store.table_path(spec)
    files_before = set(store._data_files(path_before))
    store.upsert(
        "cdc.pruned",
        spark.createDataFrame([("a001", 111)], "row_key string, `cf:v` long"),
    )
    df = store.read_changes("cdc.pruned", versus="previous")
    assert _changes(df) == {("update", "a001", 111)}
    path_after = store.table_path(spec)
    shared = files_before & set(store._data_files(path_after))
    assert shared, "expected hardlink-carried files"
    read_names = {os.path.basename(f) for f in df.inputFiles()}
    assert not (read_names & shared), (
        f"diff read carried files: {read_names & shared}"
    )


def test_changes_versus_snapshot_sees_appends(store, spark):
    _mk(store, spark, "snapdiff", [(f"k{i:03d}", i) for i in range(6)])
    store.snapshot("cdc.snapdiff", "cdc_s1")
    # one MERGE (update+insert), one plain APPEND (no generation flip)
    store.upsert(
        "cdc.snapdiff",
        spark.createDataFrame([("k001", 100)], "row_key string, `cf:v` long"),
    )
    store.insert(
        "cdc.snapdiff",
        spark.createDataFrame([("k100", 7)], "row_key string, `cf:v` long"),
    )
    got = _changes(store.read_changes("cdc.snapdiff", versus="cdc_s1"))
    assert got == {
        ("update", "k001", 100),
        ("insert", "k100", 7),
    }


def test_changes_null_key_update_classifies_as_update(store, spark):
    _mk(store, spark, "nullkey", [(None, 1), ("k1", 2)])
    store.insert(
        "cdc.nullkey",
        spark.createDataFrame([(None, 5), ("k1", 2)], "row_key string, `cf:v` long"),
        overwrite=True,
    )
    got = _changes(store.read_changes("cdc.nullkey", versus="previous"))
    assert got == {("update", None, 5)}


def _reference_feed(base_rows, cur_rows, cells):
    """The changefeed as pure multiset arithmetic over two collected
    table states: added = current - base, removed = base - current
    (multiplicities kept); by key, an added row is an update when its
    key also lost rows, else an insert, and a removed row is a delete
    only when its key gained none.  Python equality is null-safe."""
    from collections import Counter

    base, cur = Counter(base_rows), Counter(cur_rows)
    added, removed = cur - base, base - cur
    out: Counter = Counter()
    gained = {r[0] for r in added}
    lost = {r[0] for r in removed}
    for r, n in added.items():
        tag = "update" if not cells and r[0] in lost else "insert"
        out[(tag,) + r] += n
    for r, n in removed.items():
        if cells or r[0] not in gained:
            out[("delete",) + r] += n
    return out


def test_read_changes_matches_multiset_reference(store, spark):
    """The feed is exact multiset arithmetic, at both granularities:
    duplicate physical rows keep their multiplicities (two more copies
    of a twice-stored row are TWO inserts, one removed copy of a
    thrice-stored row ONE delete, a deleted thrice-stored key THREE
    deletes), the NULL key classifies like any other key, NULL cells
    group as equal, and a key removed and re-added with identical
    content emits nothing."""
    import random
    from collections import Counter

    rng = random.Random(1608)

    def val():
        return None if rng.random() < 0.2 else rng.randrange(1000)

    base = [(f"a{i:03d}", val()) for i in range(40)]
    base += [("d001", 1)] * 2 + [("d002", 2)] * 3 + [("d003", 3)] * 3
    base += [(None, 5), ("r001", 11), ("u001", 1), ("x001", 2)]
    _mk(store, spark, "msref", base, split_keys=["a020", "d"])
    store.snapshot("cdc.msref", "msref_s")
    before = [tuple(r) for r in store.read("cdc.msref").collect()]
    assert Counter(before) == Counter(base)

    a_keys = [f"a{i:03d}" for i in range(40)]
    rng.shuffle(a_keys)
    frame = "row_key string, `cf:v` long"
    store.upsert("cdc.msref", spark.createDataFrame(
        [(k, val()) for k in a_keys[:6]] + [("u001", 100)], frame
    ))
    store.delete_keys("cdc.msref", spark.createDataFrame(
        [(k,) for k in a_keys[6:10]]
        + [("x001",), ("r001",), ("d003",), (None,)],
        "row_key string",
    ))
    store.insert("cdc.msref", spark.createDataFrame(
        [("r001", 11), ("n001", 7), ("d001", 1), ("d001", 1), (None, 6)],
        frame,
    ))
    # multiset-exact: one listed cell removes one of the three copies
    store.delete_cells("cdc.msref", spark.createDataFrame([("d002", 2)], frame))
    after = [tuple(r) for r in store.read("cdc.msref").collect()]
    assert Counter(after)[("d001", 1)] == 4
    assert Counter(after)[("d002", 2)] == 2

    for cells in (False, True):
        feed = store.read_changes("cdc.msref", versus="msref_s", cells=cells)
        got = Counter(
            tuple(r) for r in feed.select("change", "row_key", "`cf:v`").collect()
        )
        want = _reference_feed(before, after, cells)
        assert got == want, (cells, got, want)
        assert not any(k == "r001" for _, k, _ in got)
    # the fixture holds the cases it claims
    key_feed = _reference_feed(before, after, False)
    assert key_feed[("insert", "d001", 1)] == 2
    assert key_feed[("delete", "d002", 2)] == 1
    assert key_feed[("delete", "d003", 3)] == 3
    assert key_feed[("update", None, 6)] == 1


def test_read_changes_single_shuffle(store, spark):
    """The diff and its key classification ride ONE row_key exchange:
    with AQE off, each granularity's executed plan has exactly one
    Exchange, so the changed rows are shuffled once."""
    _mk(store, spark, "oneshuf", [(f"k{i:03d}", i) for i in range(30)])
    store.snapshot("cdc.oneshuf", "oneshuf_s")
    store.upsert("cdc.oneshuf", spark.createDataFrame(
        [("k003", 300), ("z001", 1)], "row_key string, `cf:v` long"
    ))
    store.delete_keys(
        "cdc.oneshuf", spark.createDataFrame([("k007",)], "row_key string")
    )
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        for cells in (False, True):
            feed = store.read_changes(
                "cdc.oneshuf", versus="oneshuf_s", cells=cells
            )
            plan = feed._jdf.queryExecution().executedPlan().toString()
            assert plan.count("Exchange") == 1, (cells, plan)
            got = _changes(feed)
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", "true")
    assert got == {
        ("insert", "k003", 300), ("delete", "k003", 3),
        ("insert", "z001", 1), ("delete", "k007", 7),
    }


def test_changes_errors_are_loud(store, spark):
    _mk(store, spark, "fresh", [("k1", 1)])
    # overwrite-created table has a previous generation only after a
    # second table-replacing operation on top of the create
    with pytest.raises(TableNotFoundError, match="snapshot not found"):
        store.read_changes("cdc.fresh", versus="nope")
    spec = TableSpec(
        namespace="cdc",
        name="virgin",
        key_type="string",
        families={"cf": {"v": "long"}},
    )
    store.create_table(spec)
    store.insert(
        "cdc.virgin",
        spark.createDataFrame([("k1", 1)], "row_key string, `cf:v` long"),
    )
    with pytest.raises(TableNotFoundError, match="previous generation"):
        store.read_changes("cdc.virgin", versus="previous")


# -- delete_keys (HBase table.delete(List<Delete>)) + apply_changes
# (ReplicationSink replay) ----------------------------------------------


def test_delete_keys_selective_and_exact(store, spark):
    spec = _mk(
        store,
        spark,
        "delkeys",
        [(f"{p}{i:03d}", i) for p in "abc" for i in range(40)],
        split_keys=["b", "c"],
    )
    import os

    path = store.table_path(spec)
    files_before = set(store._data_files(path))
    # two present keys (one region) + one absent key
    batch = spark.createDataFrame(
        [("a001",), ("a002",), ("zzz",)], "row_key string"
    )
    assert store.delete_keys("cdc.delkeys", batch) == 2
    left = store.read("cdc.delkeys")
    assert left.count() == 118
    assert left.filter(F.col("row_key").isin("a001", "a002")).count() == 0
    # only the a-region file was rewritten; b/c files carried by name
    path_after = store.table_path(spec)
    carried = files_before & set(store._data_files(path_after))
    assert carried, "untouched regions must hardlink-carry"
    # a no-match batch is free: no generation swap
    assert store.delete_keys(
        "cdc.delkeys", spark.createDataFrame([("nope",)], "row_key string")
    ) == 0
    assert store.table_path(spec) == path_after


def test_delete_keys_null_and_column_shapes(store, spark):
    _mk(store, spark, "delnull", [(None, 1), ("k1", 2), ("k2", 3)])
    # single unnamed column is accepted as the key; NULL deletes the
    # NULL-keyed row (null-safe join)
    batch = spark.createDataFrame([(None,), ("k2",)], "anykey string")
    assert store.delete_keys("cdc.delnull", batch) == 2
    got = {(r["row_key"], r["cf:v"]) for r in store.read("cdc.delnull").collect()}
    assert got == {("k1", 2)}
    with pytest.raises(ValueError, match="row_key"):
        store.delete_keys(
            "cdc.delnull",
            spark.createDataFrame([("a", "b")], "x string, y string"),
        )


def test_apply_changes_replicates_source_state(store, spark):
    src_rows = [(f"k{i:03d}", i) for i in range(20)]
    _mk(store, spark, "repl_src", src_rows)
    _mk(store, spark, "repl_dst", src_rows)

    def assert_in_sync():
        a = {(r["row_key"], r["cf:v"]) for r in store.read("cdc.repl_src").collect()}
        b = {(r["row_key"], r["cf:v"]) for r in store.read("cdc.repl_dst").collect()}
        assert a == b

    # ship one MERGE generation (updates + inserts)
    store.upsert(
        "cdc.repl_src",
        spark.createDataFrame(
            [("k003", 333), ("k900", 900)], "row_key string, `cf:v` long"
        ),
    )
    n_del = store.apply_changes(
        "cdc.repl_dst", store.read_changes("cdc.repl_src", versus="previous")
    )
    assert n_del == 0
    assert_in_sync()

    # ship one DELETE generation
    store.delete_where("cdc.repl_src", "row_key IN ('k005', 'k006')")
    n_del = store.apply_changes(
        "cdc.repl_dst", store.read_changes("cdc.repl_src", versus="previous")
    )
    assert n_del == 2
    assert_in_sync()


# -- export_snapshot (HBase ExportSnapshot) + bootstrap-then-incremental
# replication ------------------------------------------------------------


def test_export_snapshot_bootstraps_a_remote_replica(store, spark, tmp_path_factory):
    """The full HBase cross-cluster replication story: snapshot →
    export → clone at the destination (bootstrap), then ship ONLY the
    changefeed against that snapshot (incremental)."""
    _mk(store, spark, "shipme", [(f"k{i:03d}", i) for i in range(15)])
    store.snapshot("cdc.shipme", "ship_s1")

    remote_wh = str(tmp_path_factory.mktemp("remote_wh"))
    dst = store.export_snapshot("ship_s1", remote_wh)
    import os

    assert os.path.isdir(dst)
    remote = KeyedTableStore(spark, remote_wh)
    remote.clone_snapshot("ship_s1", "cdc.shipme")

    def rows(st, name):
        return {(r["row_key"], r["cf:v"]) for r in st.read(name).collect()}

    assert rows(remote, "cdc.shipme") == rows(store, "cdc.shipme")

    # incremental: mutate the source, ship the snapshot-relative diff
    store.upsert(
        "cdc.shipme",
        spark.createDataFrame(
            [("k002", 222), ("k500", 500)], "row_key string, `cf:v` long"
        ),
    )
    store.delete_where("cdc.shipme", "row_key = 'k009'")
    remote.apply_changes(
        "cdc.shipme", store.read_changes("cdc.shipme", versus="ship_s1")
    )
    assert rows(remote, "cdc.shipme") == rows(store, "cdc.shipme")


def test_export_snapshot_errors_are_loud(store, spark, tmp_path_factory):
    wh = str(tmp_path_factory.mktemp("exp_wh"))
    with pytest.raises(TableNotFoundError, match="snapshot not found"):
        store.export_snapshot("no_such_snap", wh)
    _mk(store, spark, "expdup", [("k1", 1)])
    store.snapshot("cdc.expdup", "exp_s1")
    store.export_snapshot("exp_s1", wh)
    from spark_sql_hbase_spark.sources.keyed_parquet import (
        TableAlreadyExistsError,
    )

    with pytest.raises(TableAlreadyExistsError, match="destination"):
        store.export_snapshot("exp_s1", wh)


def test_delete_keys_refuses_uncastable_keys(store, spark):
    """A delete key the key-type cast NULLs must raise, not silently
    retarget the delete at NULL-keyed rows (the stringly-typed trap)."""
    spec = TableSpec(
        namespace="cdc",
        name="delcast",
        key_type="long",
        families={"cf": {"v": "long"}},
    )
    store.create_table(spec)
    store.insert(
        "cdc.delcast",
        spark.createDataFrame([(None, 1), (7, 2)], "row_key long, `cf:v` long"),
        overwrite=True,
    )
    with pytest.raises(ValueError, match="not castable"):
        store.delete_keys(
            "cdc.delcast",
            spark.createDataFrame([("abc",)], "row_key string"),
        )
    # the NULL-keyed row survived; castable string keys still work
    assert store.read("cdc.delcast").count() == 2
    assert store.delete_keys(
        "cdc.delcast", spark.createDataFrame([("7",)], "row_key string")
    ) == 1


def test_changes_on_versioned_table_are_cell_semantics(store, spark):
    """HBase Put/retention semantics in the changefeed: a NEW VERSION
    cell appended for an existing key is an ``insert`` (it removes
    nothing), and a version cell that version-GC compacts away is a
    ``delete`` — versions are cells, not in-place updates."""
    spec = TableSpec(
        namespace="cdc",
        name="vers",
        key_type="string",
        families={"cf": {"bal": "long", "v": "long"}},
    )
    store.create_table(spec)
    store.insert(
        "cdc.vers",
        spark.createDataFrame(
            [("k1", 10, 1), ("k2", 20, 1)],
            "row_key string, `cf:bal` long, `cf:v` long",
        ),
        overwrite=True,
    )
    store.snapshot("cdc.vers", "vers_s1")
    # new version cell for k1: an APPEND, nothing replaced
    store.insert(
        "cdc.vers",
        spark.createDataFrame(
            [("k1", 11, 2)], "row_key string, `cf:bal` long, `cf:v` long"
        ),
    )
    got = {
        (r["change"], r["row_key"], r["cf:bal"], r["cf:v"])
        for r in store.read_changes("cdc.vers", versus="vers_s1").collect()
    }
    assert got == {("insert", "k1", 11, 2)}

    # VERSIONS=>1 GC: k1's v=1 cell compacts away; k1 keeps v=2
    store.compact_versions("cdc.vers", "cf:v", keep_versions=1)
    got = {
        (r["change"], r["row_key"], r["cf:bal"], r["cf:v"])
        for r in store.read_changes("cdc.vers", versus="vers_s1").collect()
    }
    # vs the snapshot: k1's old cell is gone (its key still live ⇒ the
    # new cell classifies the pair as an update), k2 untouched
    assert got == {("update", "k1", 11, 2)}
    got_prev = {
        (r["change"], r["row_key"], r["cf:bal"], r["cf:v"])
        for r in store.read_changes("cdc.vers", versus="previous").collect()
    }
    # vs the pre-GC generation: the expired cell alone, as a delete
    assert got_prev == {("delete", "k1", 10, 1)}


def test_cell_feed_emits_no_update_rows(store, spark):
    """cells=True: every added row is an insert and every removed row a
    delete — the compact-away + new-cell combination that the key feed
    collapses into 'update' stays two cell events."""
    spec = TableSpec(
        namespace="cdc",
        name="cellsfeed",
        key_type="string",
        families={"cf": {"bal": "long", "v": "long"}},
    )
    store.create_table(spec)
    store.insert(
        "cdc.cellsfeed",
        spark.createDataFrame(
            [("k1", 10, 1), ("k2", 20, 1)],
            "row_key string, `cf:bal` long, `cf:v` long",
        ),
        overwrite=True,
    )
    store.snapshot("cdc.cellsfeed", "cells_s1")
    store.insert(
        "cdc.cellsfeed",
        spark.createDataFrame(
            [("k1", 11, 2)], "row_key string, `cf:bal` long, `cf:v` long"
        ),
    )
    store.compact_versions("cdc.cellsfeed", "cf:v", keep_versions=1)
    got = {
        (r["change"], r["row_key"], r["cf:bal"], r["cf:v"])
        for r in store.read_changes(
            "cdc.cellsfeed", versus="cells_s1", cells=True
        ).collect()
    }
    assert got == {("insert", "k1", 11, 2), ("delete", "k1", 10, 1)}


def test_delete_cells_removes_one_version_cell(store, spark):
    """delete_cells removes EXACTLY the named cell; the key's other
    version cells survive (the Delete.addColumn analogue delete_keys
    cannot express)."""
    spec = TableSpec(
        namespace="cdc",
        name="delcells",
        key_type="string",
        families={"cf": {"bal": "long", "v": "long"}},
    )
    store.create_table(spec)
    store.insert(
        "cdc.delcells",
        spark.createDataFrame(
            [("k1", 10, 1), ("k1", 11, 2), ("k2", 20, 1)],
            "row_key string, `cf:bal` long, `cf:v` long",
        ),
        overwrite=True,
    )
    batch = spark.createDataFrame(
        [("k1", 10, 1), ("k9", 99, 1)],
        "row_key string, `cf:bal` long, `cf:v` long",
    )
    assert store.delete_cells("cdc.delcells", batch) == 1
    got = {
        (r["row_key"], r["cf:bal"], r["cf:v"])
        for r in store.read("cdc.delcells").collect()
    }
    assert got == {("k1", 11, 2), ("k2", 20, 1)}
    # a no-match batch is free: no generation swap
    spec = store.registry.get("cdc.delcells")
    path = store.table_path(spec)
    assert store.delete_cells(
        "cdc.delcells",
        spark.createDataFrame(
            [("k1", 999, 9)], "row_key string, `cf:bal` long, `cf:v` long"
        ),
    ) == 0
    assert store.table_path(spec) == path
    # a loosely-typed batch refuses loudly (exact-identity law)
    with pytest.raises(ValueError, match="exact"):
        store.delete_cells(
            "cdc.delcells",
            spark.createDataFrame(
                [("k1", "10", 1)],
                "row_key string, `cf:bal` string, `cf:v` long",
            ),
        )


def test_versioned_replication_round_trip_is_cell_exact(
    store, spark, tmp_path_factory
):
    """The ADVICE r10 repro, fixed: bootstrapping a replica of a
    versioned table and replaying the CELL feed preserves every version
    cell — a new-version insert APPENDS on the replica (never wipes the
    older cells), version-GC deletes remove only the expired cells, and
    the replica converges to the exact source multiset."""
    spec = TableSpec(
        namespace="cdc",
        name="vrepl",
        key_type="string",
        families={"cf": {"bal": "long", "v": "long"}},
        properties={"versions": "2"},
    )
    store.create_table(spec)
    store.insert(
        "cdc.vrepl",
        spark.createDataFrame(
            [("k1", 10, 1), ("k2", 20, 1)],
            "row_key string, `cf:bal` long, `cf:v` long",
        ),
        overwrite=True,
    )
    store.snapshot("cdc.vrepl", "vrepl_s1")
    remote_wh = str(tmp_path_factory.mktemp("vrepl_wh"))
    store.export_snapshot("vrepl_s1", remote_wh)
    remote = KeyedTableStore(spark, remote_wh)
    remote.clone_snapshot("vrepl_s1", "cdc.vrepl")

    def rows(st):
        return sorted(
            (r["row_key"], r["cf:bal"], r["cf:v"])
            for r in st.read("cdc.vrepl").collect()
        )

    # the exact ADVICE scenario: one new version cell for a live key
    store.insert(
        "cdc.vrepl",
        spark.createDataFrame(
            [("k1", 11, 2), ("k1", 12, 3), ("k2", 21, 2)],
            "row_key string, `cf:bal` long, `cf:v` long",
        ),
    )
    remote.apply_changes(
        "cdc.vrepl",
        store.read_changes("cdc.vrepl", versus="vrepl_s1", cells=True),
        cells=True,
    )
    assert rows(remote) == rows(store)
    assert ("k1", 10, 1) in rows(remote), "older version cell must survive"

    # retention GC on the source ships as cell deletes
    store.snapshot("cdc.vrepl", "vrepl_s2")
    store.compact_versions("cdc.vrepl", "cf:v", keep_versions=2)
    remote.apply_changes(
        "cdc.vrepl",
        store.read_changes("cdc.vrepl", versus="vrepl_s2", cells=True),
        cells=True,
    )
    assert rows(remote) == rows(store)


def test_apply_changes_refuses_key_granularity_on_versioned(store, spark):
    """A key-granularity replay on a VERSIONS table corrupts cells —
    refused loudly with the cell-feed remediation named."""
    spec = TableSpec(
        namespace="cdc",
        name="vrefuse",
        key_type="string",
        families={"cf": {"v": "long"}},
        properties={"versions": "3"},
    )
    store.create_table(spec)
    store.insert(
        "cdc.vrefuse",
        spark.createDataFrame([("k1", 1)], "row_key string, `cf:v` long"),
        overwrite=True,
    )
    feed = spark.createDataFrame(
        [("insert", "k1", 2)], "change string, row_key string, `cf:v` long"
    )
    with pytest.raises(ValueError, match="cells=True"):
        store.apply_changes("cdc.vrefuse", feed)
    # the cell replay path works
    store.apply_changes("cdc.vrefuse", feed, cells=True)
    assert store.read("cdc.vrefuse").count() == 2


def test_apply_changes_cell_mode_refuses_update_rows(store, spark):
    _mk(store, spark, "mixfeed", [("k1", 1)])
    feed = spark.createDataFrame(
        [("update", "k1", 2)], "change string, row_key string, `cf:v` long"
    )
    with pytest.raises(ValueError, match="cannot contain 'update'"):
        store.apply_changes("cdc.mixfeed", feed, cells=True)


def test_snapshot_name_previous_is_reserved(store, spark):
    _mk(store, spark, "resv", [("k1", 1)])
    with pytest.raises(ValueError, match="reserved"):
        store.snapshot("cdc.resv", "previous")


def test_cross_table_snapshot_diff_is_refused(store, spark):
    """Diffing a table against ANOTHER table's schema-compatible
    snapshot would silently emit meaningless change rows — refused by
    the recorded snapshot spec."""
    _mk(store, spark, "xta", [("k1", 1)])
    _mk(store, spark, "xtb", [("k1", 2)])
    store.snapshot("cdc.xta", "xta_s1")
    with pytest.raises(ValueError, match="was taken from"):
        store.read_changes("cdc.xtb", versus="xta_s1")


def test_unconsumed_previous_feed_never_silently_drifts(store, spark):
    """The transient-base contract: a 'previous' feed left unconsumed
    across further rewrites must never SILENTLY return a different
    diff: the base generation is swept, so the read FAILS loudly at
    action time — the remediation is a snapshot base
    (read_changes(versus=<snapshot>))."""
    _mk(store, spark, "trans", [(f"k{i:02d}", i) for i in range(8)])
    store.upsert(
        "cdc.trans",
        spark.createDataFrame([("k01", 100)], "row_key string, `cf:v` long"),
    )
    feed = store.read_changes("cdc.trans", versus="previous")
    # further rewrites retire the feed's base generation
    store.upsert(
        "cdc.trans",
        spark.createDataFrame([("k02", 200)], "row_key string, `cf:v` long"),
    )
    store.upsert(
        "cdc.trans",
        spark.createDataFrame([("k03", 300)], "row_key string, `cf:v` long"),
    )
    with pytest.raises(Exception):
        feed.collect()


def test_apply_changes_refuses_unknown_change_tags(store, spark):
    """A mistyped/NULL change tag must refuse loudly — a replica that
    silently drops feed rows is the worst replication failure mode."""
    _mk(store, spark, "badtag", [("k1", 1)])
    feed = spark.createDataFrame(
        [("upsert", "k2", 2)], "change string, row_key string, `cf:v` long"
    )
    with pytest.raises(ValueError, match="unknown change"):
        store.apply_changes("cdc.badtag", feed)
    feed_null = spark.createDataFrame(
        [(None, "k2", 2)], "change string, row_key string, `cf:v` long"
    )
    with pytest.raises(ValueError, match="unknown change"):
        store.apply_changes("cdc.badtag", feed_null)


def test_apply_changes_key_replay_is_idempotent(store, spark):
    """The marker-crash-window contract ``stream_apply_changes``
    documents: re-applying the SAME key-granularity batch leaves the
    replica unchanged.  Insert rows route through upsert (identical
    outcome for brand-new keys on first apply), so a crash between
    ``apply_changes`` and the sink's batch marker cannot duplicate
    rows on restart — previously inserts were a pure append and the
    replay silently corrupted an unversioned one-row-per-key replica."""
    _mk(store, spark, "idem", [("k1", 1), ("k2", 2)])
    feed = spark.createDataFrame(
        [("insert", "k9", 9), ("update", "k1", 11), ("delete", "k2", 2)],
        "change string, row_key string, `cf:v` long",
    )
    store.apply_changes("cdc.idem", feed)
    want = {("k1", 11), ("k9", 9)}
    assert {
        (r["row_key"], r["cf:v"])
        for r in store.read("cdc.idem").collect()
    } == want
    # the crash-window replay: same batch, applied again
    store.apply_changes("cdc.idem", feed)
    got = [(r["row_key"], r["cf:v"]) for r in store.read("cdc.idem").collect()]
    assert sorted(got) == sorted(want)  # multiset-exact: no duplicates


def test_cell_mode_mixed_feed_applies_nothing(store, spark):
    """A refused wrong-granularity feed must leave the replica
    UNTOUCHED: the cells-vs-update validation runs BEFORE any write,
    like the unknown-tag check — previously the feed's insert rows were
    appended first and the refusal raised after, leaving the replica
    partially mutated by a feed the method claims to refuse loudly."""
    _mk(store, spark, "mixnone", [("k1", 1)])
    feed = spark.createDataFrame(
        [("insert", "k2", 2), ("update", "k1", 5)],
        "change string, row_key string, `cf:v` long",
    )
    with pytest.raises(ValueError, match="cannot contain 'update'"):
        store.apply_changes("cdc.mixnone", feed, cells=True)
    assert {
        (r["row_key"], r["cf:v"])
        for r in store.read("cdc.mixnone").collect()
    } == {("k1", 1)}


def test_apply_changes_overlapping_put_delete_keeps_index_exact(store, spark):
    """r12 review fix: apply_changes accepts ARBITRARY feeds (e.g. two
    concatenated diffs), so a key appearing as BOTH update and delete
    ends deleted — and its covered-index entry must NOT be resurrected
    by the feed-driven index maintenance (ghost index entries are the
    silent-replica-corruption failure mode)."""
    _mk(store, spark, "ghost_src", [(f"g{i:03d}", i) for i in range(40)])
    spec = TableSpec(
        namespace="cdc",
        name="ghost_rep",
        key_type="string",
        families={"cf": {"v": "long"}},
    )
    store.create_table(spec)
    store.insert(
        "cdc.ghost_rep",
        store.read("cdc.ghost_src"),
        overwrite=True,
        generate_row_key=False,
    )
    store.create_covered_index(
        "cdc.ghost_rep", "cdc.ghost_rep_by_v", "cf:v", key_width=6
    )
    # malformed-but-accepted feed: g005 updated AND deleted (two diffs
    # concatenated); g007 plain update; g999 plain insert
    feed = spark.createDataFrame(
        [
            ("update", "g005", 555),
            ("delete", "g005", 5),
            ("update", "g007", 777),
            ("insert", "g999", 999),
        ],
        "change string, row_key string, `cf:v` long",
    ).select("row_key", "`cf:v`", "change")
    store.apply_changes("cdc.ghost_rep", feed)
    base = {
        (r["row_key"], r["cf:v"]) for r in store.read("cdc.ghost_rep").collect()
    }
    assert ("g005", 5) not in base and ("g005", 555) not in base
    assert ("g007", 777) in base and ("g999", 999) in base
    idx = {
        (r["i:src_key"], r["cf:v"])
        for r in store.read("cdc.ghost_rep_by_v").collect()
    }
    assert not store.index_is_stale("cdc.ghost_rep_by_v")
    # index == projection of the post-replay base: no ghost g005 entry
    assert {k for k, _ in idx} == {k for k, _ in base}
    assert ("g005", 555) not in idx and ("g005", 5) not in idx


def test_apply_changes_empty_feed_is_true_noop_on_indexed_table(store, spark):
    """r12 review fix: an empty feed on an indexed replica must apply
    nothing, mark nothing stale, and leave the index byte-identical."""
    _mk(store, spark, "noop_src", [(f"n{i:03d}", i) for i in range(20)])
    store.create_covered_index(
        "cdc.noop_src", "cdc.noop_src_by_v", "cf:v", key_width=6
    )
    before = sorted(
        map(tuple, store.read("cdc.noop_src_by_v").collect())
    )
    empty = spark.createDataFrame(
        [], "row_key string, `cf:v` long, change string"
    )
    n = store.apply_changes("cdc.noop_src", empty)
    assert n == 0
    assert not store.index_is_stale("cdc.noop_src_by_v")
    assert sorted(map(tuple, store.read("cdc.noop_src_by_v").collect())) == before


def test_apply_changes_noop_replay_runs_no_index_pass(store, spark, monkeypatch):
    """A feed whose deletes match no row and that has no puts changes
    nothing, so it must run no index pass at all: neither a rebuild
    (a feed large for the table) nor the delta pass with its index
    locate (a small one)."""
    _mk(store, spark, "noop_rep", [(f"n{i:03d}", i) for i in range(40)])
    store.create_covered_index(
        "cdc.noop_rep", "cdc.noop_rep_by_v", "cf:v", key_width=6
    )
    before = sorted(map(tuple, store.read("cdc.noop_rep_by_v").collect()))
    touched = []
    for name in (
        "_sorted_rewrite", "_locate_affected_files",
        "_maintain_indexes_incremental",
    ):
        orig = getattr(KeyedTableStore, name)

        def spy(self, first, *a, _orig=orig, _name=name, **kw):
            touched.append(getattr(first, "qualified_name", _name))
            return _orig(self, first, *a, **kw)

        monkeypatch.setattr(KeyedTableStore, name, spy)
    for n_absent in (1, 20):  # the delta route, then the rebuild route
        feed = spark.createDataFrame(
            [(f"zz{i:03d}", i, "delete") for i in range(n_absent)],
            "row_key string, `cf:v` long, change string",
        )
        assert store.apply_changes("cdc.noop_rep", feed) == 0
    monkeypatch.undo()
    assert not {"cdc.noop_rep_by_v", "_maintain_indexes_incremental"} & set(
        touched
    ), touched
    assert not store.index_is_stale("cdc.noop_rep_by_v")
    assert sorted(map(tuple, store.read("cdc.noop_rep_by_v").collect())) == before


def _count_jobs(spark, label, fn):
    """Spark jobs ``fn()`` runs, counted through a job group of its own."""
    sc = spark.sparkContext
    label = f"{label}_{uuid.uuid4().hex[:8]}"  # group ids accumulate per session
    sc.setJobGroup(label, label)
    try:
        fn()
    finally:
        sc.setJobGroup("idle", "idle")
    return len(sc.statusTracker().getJobIdsForGroup(label))


def test_dml_job_counts_stay_fused(store, spark):
    """Job-count pins for the fused commit machinery: the changefeed
    replay is ONE locate+rewrite+swap commit, and every batch entry
    point pins its batch once as a driver-resident Arrow local relation
    (one bounded collect, no statistics, probe-key or new-run probe
    jobs; its new keys are laid out by side of the affected span, with
    no range-sampling job), and the changefeed itself is one row_key
    exchange.  Bounds are the measured counts; a
    regression to the checkpoint-and-probe batch handling, to the
    stacked-exceptAll feed (9 jobs) or to the pre-fusion sequential
    replay (41+ jobs) fails loudly."""
    def jobs(label, fn):
        return _count_jobs(spark, label, fn)

    _mk(store, spark, "jobpin", [(f"k{i:03d}", i) for i in range(120)])
    store.snapshot("cdc.jobpin", "jp_s1")
    n = jobs("jp_upsert", lambda: store.upsert(
        "cdc.jobpin",
        spark.createDataFrame(
            [("k005", 500), ("x900", 900)], "row_key string, `cf:v` long"
        ),
    ))
    assert n <= 9, f"upsert commit grew to {n} jobs"
    n = jobs("jp_delete", lambda: store.delete_keys(
        "cdc.jobpin", spark.createDataFrame([("k010",)], "row_key string")
    ))
    assert n <= 7, f"delete_keys commit grew to {n} jobs"
    feed = store.read_changes("cdc.jobpin", versus="jp_s1")
    replica = KeyedTableStore(
        store.spark, store.warehouse_dir + "_jp_replica", io=store.io
    )
    store.export_snapshot("jp_s1", replica.warehouse_dir)
    n = jobs("jp_clone", lambda: replica.clone_snapshot("jp_s1", "cdc.jobpin"))
    assert n == 0, f"clone_snapshot ran {n} jobs"
    # the feed is one row_key exchange: its map stage and its result
    n = jobs("jp_feed", lambda: feed.collect())
    assert n <= 2, f"collecting the changefeed grew to {n} jobs"
    n = jobs("jp_apply", lambda: replica.apply_changes("cdc.jobpin", feed))
    assert n <= 12, f"apply_changes replay grew to {n} jobs"
    # and the replay converged (the pin must never trade correctness)
    src = store.read("cdc.jobpin")
    dst = replica.read("cdc.jobpin")
    assert dst.exceptAll(src).unionAll(src.exceptAll(dst)).isEmpty()

    # the remaining keyed DML entry points, each on one key (measured
    # 4 / 4 / 4 / 7 / 3 / 3 / 3 / 4 jobs; the conditional mutations'
    # point read is also their locate, and increment builds its row
    # from that same read)
    def one(label, fn, bound, want):
        got = []
        n = jobs(label, lambda: got.append(fn()))
        assert got == [want], (label, got)
        assert n <= bound, f"{label} grew to {n} jobs"

    one("jp_delete_point",
        lambda: store.delete_where("cdc.jobpin", "row_key = 'k020'"), 7, 1)
    one("jp_delete_range", lambda: store.delete_where(
        "cdc.jobpin", "row_key >= 'k030' AND row_key <= 'k034'"), 7, 5)
    one("jp_update", lambda: store.update_where(
        "cdc.jobpin", {"cf:v": "`cf:v` + 1"}, "row_key = 'k040'"), 7, 1)
    one("jp_delete_cells", lambda: store.delete_cells(
        "cdc.jobpin",
        spark.createDataFrame([("k050", 50)], "row_key string, `cf:v` long"),
    ), 7, 1)
    one("jp_check_delete", lambda: store.check_and_delete(
        "cdc.jobpin", "k060", "cf:v", 60), 3, True)
    one("jp_check_put", lambda: store.check_and_put(
        "cdc.jobpin", "k070", "cf:v", 70, {"cf:v": 7070}), 3, True)
    one("jp_increment", lambda: store.increment(
        "cdc.jobpin", "k075", "cf:v", 5), 3, 80)
    one("jp_mutate", lambda: [r["applied"] for r in store.mutate(
        "cdc.jobpin", [
            {"op": "put", "key": "k080", "row": {"cf:v": 8080}},
            {"op": "delete", "key": "k081"},
            {"op": "increment", "key": "k082", "col": "cf:v", "delta": 2},
        ])], 4, [True, True, True])
    got = {r["row_key"]: r["cf:v"] for r in store.read("cdc.jobpin").collect()}
    for k in ("k020", "k030", "k034", "k050", "k060", "k081"):
        assert k not in got, k
    assert (
        got["k040"], got["k070"], got["k075"], got["k080"], got["k082"]
    ) == (41, 7070, 80, 8080, 84)


def test_indexed_dml_job_counts_stay_fused(store, spark):
    """Job-count pins for keyed DML on a table with one covered index:
    each write below is small enough for the delta route (drop the
    changed keys' index entries, append their fresh projections), and
    the replica's feed replay is the changefeed-ship shape.  Bounds are
    the measured counts (the replay's new key writes its run without a
    range-sampling job); the index must equal the main table's
    projection at the end."""
    def jobs(label, fn):
        return _count_jobs(spark, label, fn)

    _mk(store, spark, "ixpin", [(f"k{i:03d}", i) for i in range(120)])
    store.snapshot("cdc.ixpin", "ixp_s1")
    store.create_covered_index("cdc.ixpin", "cdc.ixpin_by_v", "cf:v", key_width=6)
    replica = KeyedTableStore(
        store.spark, store.warehouse_dir + "_ixp_replica", io=store.io
    )
    store.export_snapshot("ixp_s1", replica.warehouse_dir)
    replica.clone_snapshot("ixp_s1", "cdc.ixpin")
    replica.create_covered_index(
        "cdc.ixpin", "cdc.ixpin_by_v", "cf:v", key_width=6
    )
    got = {}
    got["upsert"] = jobs("ixp_upsert", lambda: store.upsert(
        "cdc.ixpin",
        spark.createDataFrame([("k005", 500)], "row_key string, `cf:v` long"),
    ))
    got["delete_keys"] = jobs("ixp_delete_keys", lambda: store.delete_keys(
        "cdc.ixpin", spark.createDataFrame([("k010",)], "row_key string")
    ))
    got["delete_where"] = jobs("ixp_delete_where", lambda: store.delete_where(
        "cdc.ixpin", "row_key = 'k020'"
    ))
    got["mutate"] = jobs("ixp_mutate", lambda: store.mutate("cdc.ixpin", [
        {"op": "increment", "key": "k030", "col": "cf:v", "delta": 2},
    ]))
    got["insert"] = jobs("ixp_insert", lambda: store.insert(
        "cdc.ixpin",
        spark.createDataFrame(
            [("y001", 1001), ("y002", 1002)], "row_key string, `cf:v` long"
        ),
        generate_row_key=False,
    ))
    feed = store.read_changes("cdc.ixpin", versus="ixp_s1")
    got["apply_changes"] = jobs(
        "ixp_apply", lambda: replica.apply_changes("cdc.ixpin", feed)
    )
    bounds = {
        "upsert": 19, "delete_keys": 19, "delete_where": 15, "mutate": 16,
        "insert": 7, "apply_changes": 23,
    }
    assert all(got[k] <= bounds[k] for k in bounds), (got, bounds)

    def rows(st, qn, key):
        return sorted((r[key], r["cf:v"]) for r in st.read(qn).collect())

    main = rows(store, "cdc.ixpin", "row_key")
    assert dict(main)["k030"] == 32 and "k010" not in dict(main)
    for st in (store, replica):
        assert rows(st, "cdc.ixpin", "row_key") == main
        assert rows(st, "cdc.ixpin_by_v", "i:src_key") == main
        assert not st.index_is_stale("cdc.ixpin_by_v")


def test_batch_pin_routes_agree(store, spark, monkeypatch):
    """The batch pin has two routes — a driver-resident Arrow local
    relation under ``_BLOOM_MERGE_PROBE_MAX`` rows, ``localCheckpoint``
    plus a statistics aggregate over it — and they must be
    indistinguishable: upsert, delete_keys, delete_cells, mutate and
    apply_changes return the same values and leave the same table,
    covered-index and replica contents on either route, on a schema
    with timestamp, date, decimal, binary and long columns and NULL
    cells."""
    import datetime as dt
    from decimal import Decimal

    ddl = (
        "row_key string, `cf:ts` timestamp, `cf:d` date, "
        "`cf:dec` decimal(12,3), `cf:b` binary, `cf:l` long"
    )

    def row(i, bump=0):
        if i % 4 == 3:  # every payload cell NULL
            return (f"p{i:03d}", None, None, None, None, None)
        return (
            f"p{i:03d}",
            dt.datetime(2024, 1, 1, 12, 0, i % 60, 1000 * i),
            dt.date(2024, 1 + i % 12, 1 + i % 28),
            Decimal(f"{i}.{i % 1000:03d}"),
            bytes([i % 256, 0, 255]),
            i * 1000 + bump,
        )

    def run(tag):
        qn = f"cdc.pin_{tag}"
        store.create_table(TableSpec(
            namespace="cdc", name=f"pin_{tag}", key_type="string",
            families={"cf": {
                "ts": "timestamp", "d": "date", "dec": "decimal(12,3)",
                "b": "binary", "l": "long",
            }},
        ))
        store.insert(
            qn, spark.createDataFrame([row(i) for i in range(48)], ddl),
            generate_row_key=False,
        )
        store.create_covered_index(qn, f"{qn}_by_l", "cf:l", key_width=12)
        store.snapshot(qn, f"pin_{tag}_s0")
        store.clone_snapshot(f"pin_{tag}_s0", f"{qn}_rep")
        got = [
            store.upsert(qn, spark.createDataFrame(
                [row(i, bump=7) for i in (2, 3, 5, 60, 61)], ddl
            )),
            store.delete_keys(qn, spark.createDataFrame(
                [("p007",), ("p011",), ("p999",)], "row_key string"
            )),
            store.delete_cells(qn, spark.createDataFrame(
                [row(9), row(15), row(13, bump=1)], ddl
            )),
            store.mutate(qn, [
                {"op": "put", "key": "p020", "row": {"cf:l": 5}},
                {"op": "delete", "key": "p021"},
                {"op": "increment", "key": "p022", "col": "cf:l",
                 "delta": 3},
                {"op": "append", "key": "p024", "col": "cf:b",
                 "value": b"\x01"},
                {"op": "check_put", "key": "p025", "col": "cf:l",
                 "expected": 25000, "row": {"cf:l": 1}},
                {"op": "put", "key": "p070", "row": {"cf:d": None}},
            ]),
            store.apply_changes(
                f"{qn}_rep", store.read_changes(qn, versus=f"pin_{tag}_s0")
            ),
        ]
        return got + [
            sorted(map(tuple, store.read(q).collect()), key=repr)
            for q in (qn, f"{qn}_by_l", f"{qn}_rep")
        ]

    small = run("small")
    monkeypatch.setattr(KeyedTableStore, "_BLOOM_MERGE_PROBE_MAX", 1)
    over = run("over")
    assert small == over
    assert small[5] == small[7]  # the replica converged
    assert small[:2] == [None, 2] and small[2] == 2
    assert [r["applied"] for r in small[3]] == [True] * 6


def _index_matches_rebuild(st, qn, iq):
    """The covered index ``iq`` holds exactly the rows a rebuild from
    ``qn``'s current state would write (:meth:`rebuild_indexes` writes
    ``index_projection`` of the main table)."""
    meta = st.registered_indexes(qn)[iq]
    proj = st.index_projection(
        st.read(qn), meta["col"], list(meta["include"]), meta["key_width"],
        meta.get("encoding", "int"), meta.get("scale"),
    )
    cols = ["row_key", "i:src_key", "cf:v"]

    def rows(df):
        return sorted(
            (tuple(r) for r in df.select(*[f"`{c}`" for c in cols]).collect()),
            key=repr,
        )

    return rows(st.read(iq)) == rows(proj)


def test_dense_ships_keep_replica_and_index_file_counts(store, spark):
    """A ship that touches every file of the replica and of its covered
    index rewrites without carrying anything, so the feed's new keys and
    the index's fresh entries fold into that one rewrite: the replica's
    and the index's file counts never exceed their counts after the
    first ship (a separate new-key run beside the rewrite would add
    ``DEFAULT_REGIONS`` files per ship).  After every ship both indexes
    equal a rebuild.  Also
    pins the jobs of one dense ``upsert`` (source) and one dense
    ``apply_changes`` (replica, index delta route)."""
    model = {f"k{i:03d}": i for i in range(120)}
    _mk(store, spark, "dense", sorted(model.items()))
    store.create_covered_index("cdc.dense", "cdc.dense_by_v", "cf:v", key_width=6)
    store.snapshot("cdc.dense", "dense_s0")
    replica = KeyedTableStore(
        store.spark, store.warehouse_dir + "_dense_replica", io=store.io
    )
    store.export_snapshot("dense_s0", replica.warehouse_dir)
    replica.clone_snapshot("dense_s0", "cdc.dense")
    replica.create_covered_index(
        "cdc.dense", "cdc.dense_by_v", "cf:v", key_width=6
    )

    def n_files(st, qn):
        return len(st._data_files(st.table_path(st.registry.get(qn))))

    snap, first, jobs = "dense_s0", None, {}
    for s in range(1, 7):
        # 8 updates spread over the key (and value) range, 4 new keys
        # above the max with values inside the range, 4 deletes: 16
        # changed keys of 120 rows, the index delta route
        puts = {f"k{15 * j + s:03d}": model[f"k{15 * j + s:03d}"] + 1
                for j in range(8)}
        puts.update({f"x{s}{j}": 30 * j + s for j in range(4)})
        dels = [f"k{30 * j + 7 + s:03d}" for j in range(4)]
        up = spark.createDataFrame(
            sorted(puts.items()), "row_key string, `cf:v` long"
        )
        n = _count_jobs(spark, "dense_upsert", lambda: store.upsert("cdc.dense", up))
        jobs.setdefault("upsert", n)
        store.delete_keys(
            "cdc.dense", spark.createDataFrame([(k,) for k in dels], "row_key string")
        )
        model.update(puts)
        for k in dels:
            del model[k]
        feed = store.read_changes("cdc.dense", versus=snap)
        n = _count_jobs(
            spark, "dense_apply", lambda: replica.apply_changes("cdc.dense", feed)
        )
        jobs.setdefault("apply_changes", n)
        store.snapshot("cdc.dense", f"dense_s{s}")
        store.delete_snapshot(snap)
        snap = f"dense_s{s}"
        counts = (
            n_files(replica, "cdc.dense"), n_files(replica, "cdc.dense_by_v"),
            n_files(store, "cdc.dense"), n_files(store, "cdc.dense_by_v"),
        )
        first = first or counts
        assert all(c <= f for c, f in zip(counts, first)), (s, counts, first)
        for st in (store, replica):
            got = {r["row_key"]: r["cf:v"] for r in st.read("cdc.dense").collect()}
            assert got == model, s
            assert not st.index_is_stale("cdc.dense_by_v")
            assert _index_matches_rebuild(st, "cdc.dense", "cdc.dense_by_v"), s
    assert jobs["upsert"] <= 17 and jobs["apply_changes"] <= 17, jobs


def _spans(st, qn):
    """``{file: (min key, max key)}`` of ``qn``'s current data files."""
    path = st.table_path(st.registry.get(qn))
    return {
        f: st._file_key_range(os.path.join(path, f))[:2]
        for f in st._data_files(path)
    }


def test_no_carry_fold_keeps_declared_regions(store, spark):
    """A rewrite that carries nothing folds the batch's new keys into
    its one exchange, and on a declared-split table that exchange still
    routes by the declared boundaries: every file stays inside one
    region, below the first split and above the last included."""
    import bisect

    splits = ["k040", "k080"]
    _mk(store, spark, "fold_split", [(f"k{i:03d}", i) for i in range(120)],
        split_keys=splits)
    before = _spans(store, "cdc.fold_split")
    batch = [(f"k{i:03d}", -i) for i in (5, 45, 95)] + [("a001", 1), ("x001", 2)]
    store.upsert(
        "cdc.fold_split", spark.createDataFrame(batch, "row_key string, `cf:v` long")
    )
    after = _spans(store, "cdc.fold_split")
    assert not set(after) & set(before)  # nothing carried
    assert len(after) == len(before) == 3  # no new-key run beside it
    for f, (lo, hi) in after.items():
        assert bisect.bisect_right(splits, lo) == bisect.bisect_right(splits, hi), (
            f, lo, hi,
        )
    got = {r["row_key"]: r["cf:v"] for r in store.read("cdc.fold_split").collect()}
    assert len(got) == 122 and got["a001"] == 1 and got["k045"] == -45


def test_no_carry_fold_refuses_duplicate_source_keys(store, spark):
    """With every incoming row in the merge window, its ``Observation``
    sees the new keys too: a duplicate NEW key (or a duplicate matched
    key) in a batch that touches every file still aborts the swap and
    leaves the table untouched."""
    _mk(store, spark, "fold_dup", [(f"k{i:03d}", i) for i in range(120)])
    qn = "cdc.fold_dup"
    spec = store.registry.get(qn)
    rows = sorted(map(tuple, store.read(qn).collect()))
    gen = store.table_path(spec)
    touch_all = [(f"k{i:03d}", -i) for i in range(0, 120, 10)]
    for dup in ([("x001", 1), ("x001", 2)], [("k050", 1), ("k050", 2)]):
        with pytest.raises(Exception, match="duplicate row_key"):
            store.upsert(qn, spark.createDataFrame(
                touch_all + dup, "row_key string, `cf:v` long"
            ))
        assert store.table_path(spec) == gen
        assert sorted(map(tuple, store.read(qn).collect())) == rows


def test_driver_resident_new_run_never_straddles_the_affected_span(store, spark):
    """A driver-resident batch whose new keys sit on both sides of the
    affected span writes one sorted file per side, and no new file's
    span reaches into the rewritten files' span."""
    qn = "cdc.side_run"
    _mk(store, spark, "side_run", [(f"k{i:03d}", i) for i in range(120)])
    before = _spans(store, qn)
    store.upsert(qn, spark.createDataFrame(
        [("k050", -50), ("a001", 1), ("a002", 2), ("z001", 3), ("z002", 4)],
        "row_key string, `cf:v` long",
    ))
    after = _spans(store, qn)
    carried = set(before) & set(after)
    rewritten = [after[f] for f in after if f not in carried]
    assert len(before) - len(carried) == 1  # only k050's file was rewritten
    assert len(rewritten) == 3  # the rewritten file + one file per side
    (a_lo, a_hi) = [s for s in rewritten if s[0] <= "k050" <= s[1]][0]
    runs = [s for s in rewritten if not s[0] <= "k050" <= s[1]]
    assert sorted(runs) == [("a001", "a002"), ("z001", "z002")]
    for lo, hi in runs:
        assert hi < a_lo or lo > a_hi, (lo, hi, a_lo, a_hi)
    got = {r["row_key"]: r["cf:v"] for r in store.read(qn).collect()}
    assert len(got) == 124 and got["k050"] == -50 and got["z002"] == 4


def test_dense_index_locate_skip_agrees_with_located_route(
    store, spark, monkeypatch
):
    """The index delta's dense route (rewrite every src-key Bloom
    survivor, no locate) and its located route leave the same index,
    equal to a rebuild, on a plain table with NULL cells and on a
    versioned table whose keys hold several cells."""
    located = []
    orig = KeyedTableStore._locate_affected_files

    def spy(self, spec, *a, **kw):
        located.append(spec.qualified_name)
        return orig(self, spec, *a, **kw)

    monkeypatch.setattr(KeyedTableStore, "_locate_affected_files", spy)

    def run(tag, per_file):
        monkeypatch.setattr(KeyedTableStore, "_DENSE_KEYS_PER_FILE", per_file)
        out = []
        for versioned in (False, True):
            name = f"dskip_{tag}_{'v' if versioned else 'p'}"
            qn, iq = f"cdc.{name}", f"cdc.{name}_by_v"
            store.create_table(TableSpec(
                namespace="cdc", name=name, key_type="string",
                families={"cf": {"v": "long"}},
                properties={"versions": "3"} if versioned else {},
            ))
            cells = [
                (f"d{i:03d}", None if i % 7 == 3 else i * 10 + c)
                for i in range(100) for c in range(2 if versioned else 1)
            ]
            if not versioned:
                cells += [(f"d{i:03d}", None) for i in range(100, 200)]
            store.insert(qn, spark.createDataFrame(
                cells, "row_key string, `cf:v` long"
            ), generate_row_key=False)
            store.create_covered_index(qn, iq, "cf:v", key_width=6)
            located.clear()
            if versioned:
                store.delete_cells(qn, spark.createDataFrame(
                    [(f"d{i:03d}", i * 10) for i in range(0, 100, 5)],
                    "row_key string, `cf:v` long",
                ))
            else:
                store.upsert(qn, spark.createDataFrame(
                    [(f"d{i:03d}", None if i % 3 else i + 5000)
                     for i in range(0, 200, 5)],
                    "row_key string, `cf:v` long",
                ))
            store.delete_keys(qn, spark.createDataFrame(
                [(f"d{i:03d}",) for i in range(1, 100, 10)], "row_key string"
            ))
            assert not store.index_is_stale(iq)
            assert _index_matches_rebuild(store, qn, iq), (tag, versioned)
            out.append((
                iq in located,
                sorted(map(tuple, store.read(iq).collect()), key=repr),
            ))
        return out

    dense, sparse = run("dense", 1), run("located", 10**9)
    assert [d for d, _ in dense] == [False, False]  # the skip fired
    assert [d for d, _ in sparse] == [True, True]  # the locate ran
    assert [r for _, r in dense] == [r for _, r in sparse]


def test_over_cap_index_delta_broadcasts_nothing(store, spark, monkeypatch):
    """The index delta broadcasts its changed keys only when the batch
    pin bounds them (the driver holds them); over the pin cap the key
    frame goes to the join unhinted, and the index still equals a
    rebuild."""
    hinted = []
    orig = F.broadcast

    def spy(df):
        if "__changed_key" in df.columns:
            hinted.append(df)
        return orig(df)

    monkeypatch.setattr(F, "broadcast", spy)
    for tag, cap in (("under", 4096), ("over", 1)):
        monkeypatch.setattr(KeyedTableStore, "_BLOOM_MERGE_PROBE_MAX", cap)
        qn = f"cdc.bcast_{tag}"
        _mk(store, spark, f"bcast_{tag}", [(f"b{i:03d}", i) for i in range(40)])
        store.create_covered_index(qn, f"{qn}_by_v", "cf:v", key_width=6)
        hinted.clear()
        store.upsert(qn, spark.createDataFrame(
            [("b003", 300), ("b017", 1700), ("b900", 9)],
            "row_key string, `cf:v` long",
        ))
        assert bool(hinted) == (tag == "under"), tag
        assert not store.index_is_stale(f"{qn}_by_v")
        assert _index_matches_rebuild(store, qn, f"{qn}_by_v"), tag
