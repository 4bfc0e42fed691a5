"""Per-file row-key Bloom filters (HBase ``BLOOMFILTER => 'ROW'``).

The HBase semantics rebuilt here: with the attribute set, every store
file carries a Bloom filter over its row keys, and a point ``Get``
skips files whose key span covers the key but whose filter proves it
absent.  In the keyed store that is a ``_bloom/<file>.bf`` sidecar per
generation data file, maintained by every write path (swap rewrites,
appends, snapshots/clones) and probed by :meth:`KeyedTableStore.get`
and the ``keyedtable`` DataSource's planning.  The contract under
test:

- no false negatives, ever (every stored key probes positive);
- pruning actually happens (a span-overlapping file that does not
  hold the key is NOT scanned — pinned via ``inputFiles``);
- the sidecars are a cache: deleting them changes plans, never rows;
- sidecars follow the file through carries (selective DML, append
  link-in, snapshot → restore/clone) without a rebuild.
"""

import os
import shutil

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from spark_sql_hbase_spark.catalog import TableSpec
from spark_sql_hbase_spark.sources import bloom
from spark_sql_hbase_spark.sources.keyed_parquet import KeyedTableStore
from spark_sql_hbase_spark.sources.storage_io import LocalPosixIO


@pytest.fixture(scope="module")
def store(spark, tmp_path_factory, store_io):
    # one membership rule (a generation's members are its directory's
    # parquet files), under both carries of ``store_io``
    wh = str(tmp_path_factory.mktemp("bloom_wh"))
    return KeyedTableStore(spark, wh, io=store_io)


def _sidecar_identity(store, path):
    """What a carry preserves: the inode under ``LocalPosixIO``'s
    hardlink carry, the bytes under a copy carry."""
    if type(store.io) is LocalPosixIO:
        return os.stat(path).st_ino
    with open(path, "rb") as fh:
        return fh.read()


def _make_table(store, name, n=200, key_type="string", props=None):
    spec = TableSpec(
        namespace="bl",
        name=name,
        key_type=key_type,
        families={"cf": {"v": "int"}},
        properties=dict(
            props if props is not None else {"bloomfilter": "ROW"}
        ),
    )
    store.create_table(spec)
    spark = store.spark
    if key_type == "string":
        key = F.format_string("k%04d", F.col("id").cast("int"))
    else:
        key = F.col("id").cast(key_type)
    df = spark.range(n).select(
        key.alias("row_key"), (F.col("id") * 7).cast("int").alias("cf:v")
    )
    store.insert(f"bl.{name}", df, generate_row_key=False)
    return spec


def _sidecars(store, qualified):
    path = store.table_path(store.registry.get(qualified))
    bdir = os.path.join(path, bloom.BLOOM_DIR)
    return sorted(f for f in os.listdir(bdir)) if os.path.isdir(bdir) else []


def _expected_sidecars(store, path):
    """Every NON-EMPTY data file gets a sidecar (zero-row files carry
    no filter and are span-pruned outright anyway)."""
    import pyarrow.parquet as pq

    stats = store._load_span_stats(path)
    out = []
    for f in store._data_files(path):
        rec = stats.get(f)
        rows = (
            rec[2]
            if rec is not None
            else pq.read_metadata(os.path.join(path, f)).num_rows
        )
        if rows > 0:
            out.append(f + ".bf")
    return sorted(out)


# -- pure filter properties ----------------------------------------------


@settings(max_examples=50, deadline=None)
@given(
    keys=st.lists(
        st.one_of(st.text(max_size=24), st.integers(), st.binary(max_size=24)),
        min_size=1,
        max_size=64,
    )
)
def test_bloom_never_false_negative(keys):
    m, k = bloom.params_for(len(keys))
    bits = bytearray((m + 7) >> 3)
    encoded = [bloom.encode_key(v) for v in keys]
    for e in encoded:
        assert e is not None
        bloom.set_key(bits, e, m, k)
    for e in encoded:
        assert bloom.maybe_contains(bytes(bits), m, k, e)
    # pack/unpack round-trips the exact filter
    m2, k2, bm2 = bloom.unpack(bloom.pack(m, k, bytes(bits)))
    assert (m2, k2, bm2) == (m, k, bytes(bits))


def test_vectorized_add_keys_matches_scalar_set_key():
    """``add_keys`` sets exactly the bits the scalar ``set_key`` loop
    sets — str, int (numpy too) and bytes keys with NULLs, up to the
    sizing ceiling m = 2^27, k = 16 where the uint64 form must stay
    exact."""
    import numpy as np

    batches = [
        [f"k{i:05d}" for i in range(300)] + [None, "", "é漢"],
        [-(2**63), 2**63 - 1, 0, -1, None] + list(range(0, 9000, 31)),
        [bytes([i % 256, (i * 7) % 256]) * (i % 5) for i in range(200)]
        + [None, b""],
        [np.int64(5), np.int64(-7), None],
    ]
    for values in batches:
        for m, k in (bloom.params_for(len(values)), (1 << 27, 16), (64, 1)):
            want = bytearray((m + 7) >> 3)
            for v in values:
                if bloom.encode_key(v) is not None:
                    bloom.set_key(want, bloom.encode_key(v), m, k)
            got = bytearray((m + 7) >> 3)
            bloom.add_keys(got, values, m, k)
            assert got == want, (m, k)


def test_bloom_fpp_roughly_holds():
    """~1% false positives at the sized load (generous 5% ceiling —
    this guards against a broken hash, not the exact constant)."""
    n = 5000
    m, k = bloom.params_for(n, 0.01)
    bits = bytearray((m + 7) >> 3)
    for i in range(n):
        bloom.set_key(bits, b"in-%d" % i, m, k)
    fp = sum(
        bloom.maybe_contains(bytes(bits), m, k, b"out-%d" % i)
        for i in range(n)
    )
    assert fp / n < 0.05


def test_unpack_rejects_malformed():
    assert bloom.unpack(b"") is None
    assert bloom.unpack(b"nope" + b"\0" * 16) is None
    m, k = bloom.params_for(10)
    blob = bloom.pack(m, k, bytes((m + 7) >> 3))
    assert bloom.unpack(blob[:-1]) is None  # truncated bitmap


# -- store integration ----------------------------------------------------


def test_insert_builds_sidecars_and_get_prunes(store):
    _make_table(store, "t1", n=200)
    path = store.table_path(store.registry.get("bl.t1"))
    files = store._data_files(path)
    assert _sidecars(store, "bl.t1") == _expected_sidecars(store, path)
    assert _sidecars(store, "bl.t1")

    # every present key is found (no false negative through the stack)
    got = store.get("bl.t1", ["k0007", "k0123"]).collect()
    assert sorted(r["row_key"] for r in got) == ["k0007", "k0123"]
    assert {r["cf:v"] for r in got} == {49, 861}

    # a point get plans a SUBSET of the files (bloom + span pruning);
    # an absent key inside the global span plans NO files at all
    df = store.get("bl.t1", ["k0007"])
    assert 0 < len(df.inputFiles()) < len(files)
    assert store.get("bl.t1", ["k0123x"]).collect() == []


def test_bloom_beats_span_pruning_on_overlapping_runs(store):
    """The HBase motivation: appended runs overlap the whole key
    space, so span pruning keeps them all — the bloom filter is what
    rules the append OUT for keys it does not contain."""
    _make_table(store, "t2", n=100)
    spark = store.spark
    # sparse append interleaving the whole key space: its range-split
    # part files straddle existing keys (k0050 falls inside one part's
    # span) without containing them — the HFile-overlap shape
    extra = spark.createDataFrame(
        [(f"k{i:04d}x", i) for i in range(5, 100, 10)],
        "row_key string, `cf:v` int",
    )
    store.insert("bl.t2", extra, generate_row_key=False)
    path = store.table_path(store.registry.get("bl.t2"))
    assert _sidecars(store, "bl.t2") == _expected_sidecars(store, path)

    # pick an appended multi-key file and probe a key INSIDE its span
    # that no file contains (first key + "0" sorts between the file's
    # first and second keys) — span pruning must keep the file, the
    # bloom must rule it out
    stats = store._load_span_stats(path)
    target = next(
        f
        for f, (lo, hi, rows, exact) in sorted(stats.items())
        if rows >= 2 and isinstance(lo, str) and lo.endswith("x")
    )
    probe = stats[target][0] + "0"
    span_only = set(store._span_candidates(path, probe, probe))
    assert target in span_only
    df = store.get("bl.t2", [probe])
    planned = {os.path.basename(p) for p in df.inputFiles()}
    assert target not in planned
    assert planned < span_only  # strictly fewer files than span pruning
    assert df.collect() == []
    # present keys are still found through the pruned plan
    assert store.get("bl.t2", ["k0050"]).collect()[0]["cf:v"] == 350
    assert store.get("bl.t2", ["k0095x"]).collect()[0]["cf:v"] == 95


def test_sidecars_are_cache_only(store):
    _make_table(store, "t3", n=120)
    expect = sorted(
        r["row_key"] for r in store.get("bl.t3", ["k0001", "k0077"]).collect()
    )
    path = store.table_path(store.registry.get("bl.t3"))
    shutil.rmtree(os.path.join(path, bloom.BLOOM_DIR))
    got = sorted(
        r["row_key"] for r in store.get("bl.t3", ["k0001", "k0077"]).collect()
    )
    assert got == expect == ["k0001", "k0077"]


def test_selective_dml_carries_sidecars_without_rebuild(store, monkeypatch):
    """A selective DELETE rewrites one region; every carried file's
    sidecar must ride the carry (the same inode under hardlink carry,
    the same bytes under copy carry), and only rewritten files rebuild
    — pinned by forbidding the builder from touching carried names."""
    _make_table(store, "t4", n=400)
    path0 = store.table_path(store.registry.get("bl.t4"))
    files0 = store._data_files(path0)
    sc0 = {
        bf: _sidecar_identity(store, os.path.join(path0, bloom.BLOOM_DIR, bf))
        for bf in _sidecars(store, "bl.t4")
    }
    assert sc0
    n = store.delete_where("bl.t4", "row_key = 'k0001'")
    assert n == 1
    path1 = store.table_path(store.registry.get("bl.t4"))
    files1 = store._data_files(path1)
    carried = [f for f in files1 if f in files0 and f + ".bf" in sc0]
    assert carried  # the delete was selective
    for f in carried:
        assert _sidecar_identity(
            store, os.path.join(path1, bloom.BLOOM_DIR, f + ".bf")
        ) == sc0[f + ".bf"]
    assert _sidecars(store, "bl.t4") == _expected_sidecars(store, path1)
    # deleted key now plans zero files; neighbors still found
    assert store.get("bl.t4", ["k0001"]).collect() == []
    assert store.get("bl.t4", ["k0002"]).count() == 1


def test_backfill_after_alter_tblproperties(store):
    """Enable blooms on a table that already has data: ALTER sets the
    property, build_bloom_filters backfills exactly the uncovered
    files, and get() starts pruning."""
    _make_table(store, "t5", n=150, props={})
    assert _sidecars(store, "bl.t5") == []
    store.alter_table_set_properties("bl.t5", {"bloomfilter": "ROW"})
    built = store.build_bloom_filters("bl.t5")
    path = store.table_path(store.registry.get("bl.t5"))
    files = store._data_files(path)
    assert built == len(_expected_sidecars(store, path))  # every non-empty file
    assert store.build_bloom_filters("bl.t5") == 0  # idempotent
    df = store.get("bl.t5", ["k0010"])
    assert len(df.inputFiles()) < len(files)
    assert df.collect()[0]["cf:v"] == 70


def test_int_keyed_table_blooms(store):
    _make_table(store, "t6", n=300, key_type="long")
    path = store.table_path(store.registry.get("bl.t6"))
    files = store._data_files(path)
    assert _sidecars(store, "bl.t6") == _expected_sidecars(store, path)
    df = store.get("bl.t6", [42])
    assert 0 < len(df.inputFiles()) < len(files)
    assert df.collect()[0]["cf:v"] == 294
    assert store.get("bl.t6", [100000]).collect() == []


def test_unsupported_key_type_disables_feature(store):
    spec = TableSpec(
        namespace="bl",
        name="t7",
        key_type="timestamp",
        families={"cf": {"v": "int"}},
        properties={"bloomfilter": "ROW"},
    )
    store.create_table(spec)
    df = store.spark.sql(
        "SELECT timestamp'2024-01-01 00:00:00' + make_interval(0,0,0,0,0,0,id)"
        " AS row_key, CAST(id AS int) AS `cf:v` FROM range(10)"
    )
    store.insert("bl.t7", df, generate_row_key=False)
    assert _sidecars(store, "bl.t7") == []  # silently off, never wrong
    with pytest.raises(ValueError):
        store.build_bloom_filters("bl.t7")


def test_snapshot_restore_and_clone_carry_sidecars(store):
    _make_table(store, "t8", n=200)
    path0 = store.table_path(store.registry.get("bl.t8"))
    bf0 = _expected_sidecars(store, path0)
    # identity per sidecar, captured BEFORE the source generation is
    # retired (hardlinks keep the inode alive through snapshot/clone)
    sc0 = {
        bf: _sidecar_identity(store, os.path.join(path0, bloom.BLOOM_DIR, bf))
        for bf in bf0
    }
    store.snapshot("bl.t8", "t8_snap")
    store.delete_where("bl.t8", "row_key >= 'k0000'")  # wipe
    store.restore_snapshot("bl.t8", "t8_snap")
    assert _sidecars(store, "bl.t8") == bf0
    assert store.get("bl.t8", ["k0005"]).count() == 1

    store.clone_snapshot("t8_snap", "bl.t8c")
    clone_path = store.table_path(store.registry.get("bl.t8c"))
    # clone inherits the property AND the sidecars (carried, no rebuild)
    assert store.registry.get("bl.t8c").properties["bloomfilter"] == "ROW"
    for bf in _expected_sidecars(store, clone_path):
        dst = os.path.join(clone_path, bloom.BLOOM_DIR, bf)
        assert _sidecar_identity(store, dst) == sc0[bf]
    df = store.get("bl.t8c", ["k0111"])
    assert len(df.inputFiles()) < len(store._data_files(clone_path))
    assert df.count() == 1
    store.delete_snapshot("t8_snap")


def test_datasource_planning_prunes_by_bloom(store, spark):
    """The keyedtable DataSource's planning twin: an EqualTo/In on the
    row key drops regions whose bloom rejects every value."""
    from spark_sql_hbase_spark.sources.keyed_datasource import (
        KeyedTableDataSource,
        KeyedTableReader,
    )

    spark.dataSource.register(KeyedTableDataSource)
    _make_table(store, "t9", n=200)
    spec = store.registry.get("bl.t9")
    path = store.table_path(spec)
    files = store._data_files(path)

    # sparse interleaved append: some appended file's span straddles a
    # probe key it does not contain (same construction as the store
    # test — deterministic via the span manifest)
    extra = spark.createDataFrame(
        [(f"k{i:04d}z", i) for i in range(5, 200, 10)],
        "row_key string, `cf:v` int",
    )
    store.insert("bl.t9", extra, generate_row_key=False)
    path = store.table_path(spec)
    files = store._data_files(path)
    stats = store._load_span_stats(path)
    target = next(
        f
        for f, (lo, hi, rows, exact) in sorted(stats.items())
        if rows >= 2 and isinstance(lo, str) and lo.endswith("z")
    )
    probe = stats[target][0] + "0"

    from pyspark.sql.datasource import EqualTo, In

    reader = KeyedTableReader(spec.schema(), path)
    residual = list(reader.pushFilters([EqualTo(("row_key",), probe)]))
    assert residual == []
    planned = {os.path.basename(p.path) for p in reader.partitions()}
    span_only = set(store._span_candidates(path, probe, probe))
    assert target in span_only and target not in planned
    assert planned < span_only

    # In-filter: values across two runs plan a subset, rows still right
    reader2 = KeyedTableReader(spec.schema(), path)
    list(reader2.pushFilters([In(("row_key",), ("k0005z", "k0199"))]))
    planned2 = {os.path.basename(p.path) for p in reader2.partitions()}
    assert planned2 <= set(files)
    got = (
        spark.read.format("keyedtable")
        .schema(spec.schema())
        .option("path", path)
        .load()
        .filter(F.col("row_key").isin(["k0005z", "k0199"]))
        .collect()
    )
    assert sorted(r["row_key"] for r in got) == ["k0005z", "k0199"]


def test_sql_create_options_enable_blooms(store):
    """CREATE TABLE ... OPTIONS(bloomfilter 'ROW') lands in the spec's
    properties and the insert path maintains sidecars."""
    from spark_sql_hbase_spark.sqlfront import KeyedSqlRouter

    router = KeyedSqlRouter(store)
    router.sql(
        "CREATE TABLE bl.t10 (row_key string, `cf:v` int) "
        "USING keyed OPTIONS(bloomfilter='ROW')"
    )
    assert store.registry.get("bl.t10").properties["bloomfilter"] == "ROW"
    router.sql(
        "INSERT INTO bl.t10 VALUES ('a', 1), ('b', 2), ('z', 26)"
    )
    assert _sidecars(store, "bl.t10")
    assert store.get("bl.t10", ["b"]).collect()[0]["cf:v"] == 2


# -- review regressions ----------------------------------------------------


def test_coerced_probe_key_is_never_pruned(store):
    """Spark's isin COERCES ("0042" matches long 42); the bloom probe
    hashes raw bytes, so a mistyped probe value must count as
    maybe-present rather than prune the file — with sidecars present,
    get() must return exactly what the coerced fallback scan returns."""
    _make_table(store, "t11", n=100, key_type="long")
    with_bloom = store.get("bl.t11", ["0042"]).collect()
    path = store.table_path(store.registry.get("bl.t11"))
    shutil.rmtree(os.path.join(path, bloom.BLOOM_DIR))
    without = store.get("bl.t11", ["0042"]).collect()
    assert with_bloom == without
    assert [r["cf:v"] for r in with_bloom] == [294]


def test_unpack_rejects_absurd_hash_count(store):
    """A bit-flipped header claiming k=2^31 must read as malformed
    (candidate), not loop 2 billion positions per probe."""
    import struct

    m = 1024
    blob = struct.pack("<4sIQ", b"KBF1", 1 << 31, m) + bytes(m >> 3)
    assert bloom.unpack(blob) is None
    # ... and a corrupted on-disk sidecar degrades to a full candidate
    _make_table(store, "t12", n=50)

    def corrupt():
        path = store.table_path(store.registry.get("bl.t12"))
        for bf in _sidecars(store, "bl.t12"):
            with open(os.path.join(path, bloom.BLOOM_DIR, bf), "wb") as fh:
                fh.write(blob)

    corrupt()
    assert store.get("bl.t12", ["k0011"]).collect()[0]["cf:v"] == 77
    # every DML candidate probe reads the corrupted sidecars as absent:
    # each statement still changes exactly its own row
    want = {f"k{i:04d}": i * 7 for i in range(50)}

    def table():
        return {r["row_key"]: r["cf:v"] for r in store.read("bl.t12").collect()}

    assert store.delete_where("bl.t12", "row_key = 'k0020'") == 1
    del want["k0020"]
    assert table() == want
    corrupt()
    store.upsert("bl.t12", store.spark.createDataFrame(
        [("k0030", 1000)], "row_key string, `cf:v` int"
    ))
    want["k0030"] = 1000
    assert table() == want
    corrupt()
    res = store.mutate("bl.t12", [
        {"op": "increment", "key": "k0040", "col": "cf:v", "delta": 5},
    ])
    assert res == [{"applied": True, "value": 285}]
    want["k0040"] = 285
    assert table() == want
    corrupt()
    assert store.check_and_put("bl.t12", "k0045", "cf:v", 315, {"cf:v": 4545})
    want["k0045"] = 4545
    assert table() == want


def test_get_falls_back_only_on_damaged_footers(store, monkeypatch):
    """get()'s candidate planning degrades to the full ``isin`` scan
    when a data file's footer is unreadable (pyarrow raises
    ``ArrowInvalid`` on a damaged footer), but a programming error in
    the planning surfaces instead of silently turning every point read
    into a full scan."""
    import pyarrow as pa

    _make_table(store, "tdmg", n=50)

    def bug(*a, **k):
        raise AttributeError("planning bug")

    with monkeypatch.context() as m:
        m.setattr(bloom, "file_survives_point_sets", bug)
        with pytest.raises(AttributeError, match="planning bug"):
            store.get("bl.tdmg", ["k0011"])

    def damaged(full):
        raise pa.ArrowInvalid(f"Parquet magic bytes not found: {full}")

    # no span stats: every candidate file reads its (damaged) footer
    monkeypatch.setattr(
        KeyedTableStore, "_load_span_stats", staticmethod(lambda path: {})
    )
    monkeypatch.setattr(
        KeyedTableStore, "_footer_key_stats", staticmethod(damaged)
    )
    assert store.get("bl.tdmg", ["k0011"]).collect()[0]["cf:v"] == 77


def test_append_sidecar_carry_surfaces_non_os_errors(store, monkeypatch):
    """An append's sidecar carry only stats, creates directories and
    links, so only an ``OSError`` there is a degraded cache (the parts
    stay uncovered and probe as candidates); any other error in it is a
    bug and surfaces from ``insert``."""
    _make_table(store, "tcarry", n=50)
    batch = store.spark.createDataFrame(
        [("k9001", 1)], "row_key string, `cf:v` int"
    )

    def fail_with(exc):
        def carry(self, src, dst, files):
            raise exc

        monkeypatch.setattr(KeyedTableStore, "_carry_bloom_sidecars", carry)

    fail_with(OSError("link refused"))
    store.insert("bl.tcarry", batch, generate_row_key=False)
    assert store.get("bl.tcarry", ["k9001"]).collect()[0]["cf:v"] == 1
    fail_with(AttributeError("carry bug"))
    with pytest.raises(AttributeError, match="carry bug"):
        store.insert("bl.tcarry", batch, generate_row_key=False)


def test_uppercase_property_key_enables_blooms(store):
    """HBase spells the attribute BLOOMFILTER; the property lookup is
    case-insensitive so the conventional spelling works."""
    _make_table(store, "t13", n=60, props={"BLOOMFILTER": "ROW"})
    assert _sidecars(store, "bl.t13")
    df = store.get("bl.t13", ["k0030"])
    path = store.table_path(store.registry.get("bl.t13"))
    assert len(df.inputFiles()) < len(store._data_files(path))
    assert df.collect()[0]["cf:v"] == 210


def test_point_dml_locates_through_bloom(store, monkeypatch):
    """row_key = 'x' DELETE/UPDATE: the locate scan's candidate list is
    bloom-pruned past span pruning — a point mutation reads ~1 file no
    matter how many appended runs span the key space."""
    _make_table(store, "t14", n=100)
    extra = store.spark.createDataFrame(
        [(f"k{i:04d}x", i) for i in range(5, 100, 10)],
        "row_key string, `cf:v` int",
    )
    store.insert("bl.t14", extra, generate_row_key=False)
    path = store.table_path(store.registry.get("bl.t14"))
    stats = store._load_span_stats(path)
    target = next(
        f
        for f, (lo, hi, rows, exact) in sorted(stats.items())
        if rows >= 2 and isinstance(lo, str) and lo.endswith("x")
    )
    key = stats[target][0]  # an appended key; only `target` holds it

    captured = {}
    orig = KeyedTableStore._locate_affected_files

    def spy(self, spec, fn, files=None):
        captured["files"] = files
        return orig(self, spec, fn, files=files)

    monkeypatch.setattr(KeyedTableStore, "_locate_affected_files", spy)
    n = store.delete_where("bl.t14", f"row_key = '{key}'")
    assert n == 1
    # the locate candidates were exactly the bloom-positive file(s):
    # `target` and nothing from the base run (whose span also covers key)
    assert captured["files"] == [target]
    assert store.get("bl.t14", [key]).collect() == []
    assert store.read("bl.t14").count() == 100 + 10 - 1

    # point UPDATE rides the same pruning
    n = store.update_where(
        "bl.t14", {"cf:v": "999"}, "row_key = 'k0050'"
    )
    assert n == 1
    path_now = store.table_path(store.registry.get("bl.t14"))
    assert len(captured["files"]) < len(store._data_files(path_now))
    assert store.get("bl.t14", ["k0050"]).collect()[0]["cf:v"] == 999


def test_small_merge_locates_through_bloom(store, monkeypatch):
    """A bounded MERGE batch probes locate candidates through the Bloom
    sidecars: updating one appended key locates over that run's file
    only, even though the base run's span also covers the key."""
    _make_table(store, "t15", n=100)
    extra = store.spark.createDataFrame(
        [(f"k{i:04d}x", i) for i in range(5, 100, 10)],
        "row_key string, `cf:v` int",
    )
    store.insert("bl.t15", extra, generate_row_key=False)
    path = store.table_path(store.registry.get("bl.t15"))
    stats = store._load_span_stats(path)
    target = next(
        f
        for f, (lo, hi, rows, exact) in sorted(stats.items())
        if rows >= 2 and isinstance(lo, str) and lo.endswith("x")
    )
    key = stats[target][0]

    captured = {}
    orig = KeyedTableStore._locate_affected_files

    def spy(self, spec, fn, files=None):
        captured["files"] = files
        return orig(self, spec, fn, files=files)

    monkeypatch.setattr(KeyedTableStore, "_locate_affected_files", spy)
    batch = store.spark.createDataFrame(
        [(key, 777)], "row_key string, `cf:v` int"
    )
    store.upsert("bl.t15", batch)
    assert captured["files"] == [target]
    assert store.get("bl.t15", [key]).collect()[0]["cf:v"] == 777
    assert store.read("bl.t15").count() == 110  # pure update, no new row


def test_merge_probe_key_collect_failure_surfaces(store, monkeypatch):
    """The MERGE probe keys come from the batch pin's one bounded Arrow
    collect, so a failure there is real: it propagates instead of
    quietly widening the locate, and the table is left unchanged."""
    _make_table(store, "t15f", n=50)
    root = store.table_root(store.registry.get("bl.t15f"))
    man = store._read_gen_manifest(root)
    before = sorted(map(tuple, store.read("bl.t15f").collect()))
    frame_cls = type(store.read("bl.t15f"))

    def to_arrow(self):  # the pin's probe-key collect
        raise RuntimeError("injected probe-key collect failure")

    monkeypatch.setattr(frame_cls, "toArrow", to_arrow)
    batch = store.spark.createDataFrame(
        [("k0001", 1), ("k9999", 2)], "row_key string, `cf:v` int"
    )
    with pytest.raises(RuntimeError, match="injected probe-key collect"):
        store.upsert("bl.t15f", batch)
    monkeypatch.undo()
    assert store._read_gen_manifest(root) == man
    assert sorted(map(tuple, store.read("bl.t15f").collect())) == before


@pytest.mark.parametrize("path", ["driver", "distributed"])
@pytest.mark.parametrize("key_type", ["string", "long", "binary"])
def test_sidecars_match_scalar_build(store, monkeypatch, key_type, path):
    """Sidecars from the vectorized builder, on both build paths, are
    byte-identical to a scalar ``set_key`` build over each file's keys —
    str, int and bytes keys, with NULL keys in the files."""
    import pyarrow.parquet as pq

    if path == "distributed":
        monkeypatch.setattr(KeyedTableStore, "_BLOOM_DRIVER_BUILD_MAX", 0)
    name = f"vec_{key_type}_{path}"
    spec = TableSpec(
        namespace="bl", name=name, key_type=key_type,
        families={"cf": {"v": "int"}}, properties={"bloomfilter": "ROW"},
    )
    store.create_table(spec)
    key = {
        "string": F.format_string("k%04d", F.col("id")),
        "long": F.col("id") * 7919 - 500_000,
        "binary": F.format_string("b%03d", F.col("id")).cast("binary"),
    }[key_type]
    df = store.spark.range(120).select(
        F.when(F.col("id") % 17 == 0, F.lit(None))
        .otherwise(key).alias("row_key"),
        F.col("id").cast("int").alias("cf:v"),
    )
    store.insert(f"bl.{name}", df, generate_row_key=False)
    gen = store.table_path(spec)
    checked = 0
    for f in store._data_files(gen):
        if not os.path.exists(bloom.sidecar_path(gen, f)):
            continue
        with open(bloom.sidecar_path(gen, f), "rb") as fh:
            got = fh.read()
        m, k, _bits = bloom.unpack(got)
        want = bytearray((m + 7) >> 3)
        keys = pq.read_table(
            os.path.join(gen, f), columns=["row_key"]
        ).column(0).to_pylist()
        for v in keys:
            if v is not None:
                bloom.set_key(want, bloom.encode_key(v), m, k)
        assert got == bloom.pack(m, k, bytes(want)), f
        checked += 1
    assert checked == len(_expected_sidecars(store, gen)) > 0
    assert store.read(f"bl.{name}").filter("row_key IS NULL").count() == 8


@pytest.mark.parametrize("props", [{}, {"bloomfilter": "ROW"}])
def test_upsert_exact_span_prunes_plain_and_bloom_tables(
    store, monkeypatch, props
):
    """A 2-key MERGE batch whose [min, max] span covers the whole table
    locates over the ONE file holding its existing key whether or not
    the table has Bloom sidecars: the batch's keys feed the exact-span
    pass either way."""
    name = "xspan_bloom" if props else "xspan_plain"
    _make_table(store, name, n=200, props=props)
    path = store.table_path(store.registry.get(f"bl.{name}"))
    assert len(store._data_files(path)) > 1
    located = []
    orig = KeyedTableStore._locate_affected_files

    def spy(self, spec, selector, files=None):
        located.append(list(files))
        return orig(self, spec, selector, files=files)

    monkeypatch.setattr(KeyedTableStore, "_locate_affected_files", spy)
    store.upsert(
        f"bl.{name}",
        store.spark.createDataFrame(
            [("k0005", 1), ("x900", 2)], "row_key string, `cf:v` int"
        ),
    )
    monkeypatch.undo()
    stats = store._load_span_stats(path)
    holder = [
        f for f, (lo, hi, rows, _e) in stats.items()
        if rows and lo <= "k0005" <= hi
    ]
    assert located == [holder] and len(holder) == 1
    got = {r["row_key"]: r["cf:v"] for r in store.read(f"bl.{name}").collect()}
    assert (got["k0005"], got["x900"], len(got)) == (1, 2, 201)


def test_distributed_build_path_matches_driver_path(store, monkeypatch):
    """Force the two-stage distributed builder (the >262k-row path) and
    pin that it produces working sidecars identical in behavior to the
    driver-side fast path."""
    monkeypatch.setattr(KeyedTableStore, "_BLOOM_DRIVER_BUILD_MAX", 0)
    _make_table(store, "t16", n=150)
    path = store.table_path(store.registry.get("bl.t16"))
    assert _sidecars(store, "bl.t16") == _expected_sidecars(store, path)
    df = store.get("bl.t16", ["k0040"])
    assert 0 < len(df.inputFiles()) < len(store._data_files(path))
    assert df.collect()[0]["cf:v"] == 280
    assert store.get("bl.t16", ["k0040z"]).collect() == []


def test_multipoint_in_dml_locates_through_bloom(store, monkeypatch):
    """row_key IN (...) and OR-of-equalities probe their exact point
    set instead of the [min, max] span that covers every key between —
    the locate candidates are exactly the files holding the points."""
    _make_table(store, "t17", n=100)
    extra = store.spark.createDataFrame(
        [(f"k{i:04d}x", i) for i in range(5, 100, 10)],
        "row_key string, `cf:v` int",
    )
    store.insert("bl.t17", extra, generate_row_key=False)
    path = store.table_path(store.registry.get("bl.t17"))
    stats = store._load_span_stats(path)
    # two appended keys from DIFFERENT part files: their span covers
    # most of the base run, but the point probe touches only 2 files
    appended = sorted(
        f for f, (lo, hi, rows, exact) in stats.items()
        if isinstance(lo, str) and lo.endswith("x")
    )
    k1, k2 = stats[appended[0]][0], stats[appended[-1]][1]
    assert k1 < k2

    captured = {}
    orig = KeyedTableStore._locate_affected_files

    def spy(self, spec, fn, files=None):
        captured["files"] = files
        return orig(self, spec, fn, files=files)

    monkeypatch.setattr(KeyedTableStore, "_locate_affected_files", spy)
    span_only = set(store._span_candidates(path, k1, k2))
    n = store.delete_where("bl.t17", f"row_key IN ('{k1}', '{k2}')")
    assert n == 2
    # the true holders are candidates; the set is strictly smaller than
    # the span's (which covers every file between the two points) —
    # allowing for the ~1%-per-probe bloom false-positive slack
    assert {appended[0], appended[-1]} <= set(captured["files"])
    assert set(captured["files"]) < span_only
    assert store.get("bl.t17", [k1, k2]).collect() == []
    # OR-of-equalities takes the same path
    path2 = store.table_path(store.registry.get("bl.t17"))
    span2 = set(store._span_candidates(path2, "k0007", "k0093"))
    n = store.update_where(
        "bl.t17", {"cf:v": "0"},
        "row_key = 'k0007' OR row_key = 'k0093'",
    )
    assert n == 2
    assert set(captured["files"]) < span2
    got = store.get("bl.t17", ["k0007", "k0093"]).collect()
    assert sorted((r["row_key"], r["cf:v"]) for r in got) == [
        ("k0007", 0),
        ("k0093", 0),
    ]


def test_point_prune_soundness_property(store):
    """Property: for ANY condition built from row-key equalities,
    IN-lists, OR, and AND, the pruned candidate list still contains
    every file that holds a matching key — pruning may over-include
    (bloom FPs, unknown shapes) but never drop a match."""
    _make_table(store, "t18", n=120)
    extra = store.spark.createDataFrame(
        [(f"k{i:04d}q", i) for i in range(3, 120, 8)],
        "row_key string, `cf:v` int",
    )
    store.insert("bl.t18", extra, generate_row_key=False)
    spec = store.registry.get("bl.t18")
    path = store.table_path(spec)
    stats = store._load_span_stats(path)

    import pyarrow.parquet as pq

    keys_by_file = {
        f: set(
            pq.read_table(os.path.join(path, f), columns=["row_key"])
            .column(0)
            .to_pylist()
        )
        for f in store._data_files(path)
    }
    universe = sorted(set().union(*keys_by_file.values())) + [
        "k0000z", "k0050z", "zzz", ""
    ]

    import random

    rng = random.Random(8)
    for _ in range(60):
        # random condition: OR of 1-3 atoms, atoms = equality or IN,
        # optionally ANDed with a non-key predicate (unknown side)
        atoms = []
        points = set()
        for _a in range(rng.randint(1, 3)):
            vals = rng.sample(universe, rng.randint(1, 4))
            points.update(vals)
            quoted = ", ".join(f"'{v}'" for v in vals)
            atoms.append(
                f"row_key = '{vals[0]}'"
                if len(vals) == 1
                else f"row_key IN ({quoted})"
            )
        cond = " OR ".join(atoms)
        if rng.random() < 0.3:
            cond = f"({cond}) AND `cf:v` >= 0"
        span = store._rowkey_interval(cond)
        pts = store._rowkey_points(cond)
        cands = set(store._candidate_files(spec, path, span, pts))
        must = {
            f
            for f, ks in keys_by_file.items()
            if ks & points
        }
        assert must <= cands, (cond, sorted(must - cands))


def _bare_generation_table(store, spark, name, n):
    """A table made with ``create_table`` + one insert whose current
    generation then loses its span documents and Bloom sidecars — a
    generation whose best-effort cache writes never landed (as
    ``create_table``'s empty generation has no span manifest).
    Returns the generation path."""
    spec = TableSpec(
        namespace="bl",
        name=name,
        key_type="string",
        families={"cf": {"v": "int"}},
    )
    store.create_table(spec)
    df = spark.range(n).select(
        F.format_string("k%04d", F.col("id").cast("int")).alias("row_key"),
        (F.col("id") * 3).cast("int").alias("cf:v"),
    )
    store.insert(f"bl.{name}", df, generate_row_key=False)
    path = store.table_path(spec)
    for f in os.listdir(path):
        if f.startswith("_spans") and f.endswith(".json"):
            os.remove(os.path.join(path, f))
    shutil.rmtree(os.path.join(path, bloom.BLOOM_DIR), ignore_errors=True)
    return path


def test_backfill_on_bare_generation_prunes(store, spark):
    """A generation with no span manifest and no sidecars: ALTER +
    backfill builds sidecars in it and point gets prune."""
    path = _bare_generation_table(store, spark, "bare1", 80)
    store.alter_table_set_properties("bl.bare1", {"bloomfilter": "ROW"})
    built = store.build_bloom_filters("bl.bare1")
    assert built > 0
    assert os.path.isdir(os.path.join(path, bloom.BLOOM_DIR))
    df = store.get("bl.bare1", ["k0011"])
    assert 0 < len(df.inputFiles()) < len(store._data_files(path))
    assert df.collect()[0]["cf:v"] == 33
    assert store.get("bl.bare1", ["k0011z"]).collect() == []


def test_degenerate_range_condition_still_point_prunes(store, monkeypatch):
    """row_key >= 'x' AND row_key <= 'x' isn't point-SHAPED, but its
    provable interval degenerates to one value — the probe must treat
    it as the point it is."""
    _make_table(store, "t19", n=100)
    extra = store.spark.createDataFrame(
        [(f"k{i:04d}x", i) for i in range(5, 100, 10)],
        "row_key string, `cf:v` int",
    )
    store.insert("bl.t19", extra, generate_row_key=False)
    path = store.table_path(store.registry.get("bl.t19"))
    stats = store._load_span_stats(path)
    target = next(
        f
        for f, (lo, hi, rows, exact) in sorted(stats.items())
        if rows >= 2 and isinstance(lo, str) and lo.endswith("x")
    )
    key = stats[target][0]

    captured = {}
    orig = KeyedTableStore._locate_affected_files

    def spy(self, spec, fn, files=None):
        captured["files"] = files
        return orig(self, spec, fn, files=files)

    monkeypatch.setattr(KeyedTableStore, "_locate_affected_files", spy)
    n = store.delete_where(
        "bl.t19", f"row_key >= '{key}' AND row_key <= '{key}'"
    )
    assert n == 1
    assert captured["files"] == [target]


def test_multipoint_span_prunes_without_blooms(store, monkeypatch):
    """Stat-only multi-point pruning: on a table WITHOUT bloom
    sidecars, an IN over two far-apart keys must still drop the files
    between them (their exact spans contain neither point)."""
    _make_table(store, "t20", n=200, props={})
    path = store.table_path(store.registry.get("bl.t20"))
    assert _sidecars(store, "bl.t20") == []

    captured = {}
    orig = KeyedTableStore._locate_affected_files

    def spy(self, spec, fn, files=None):
        captured["files"] = files
        return orig(self, spec, fn, files=files)

    monkeypatch.setattr(KeyedTableStore, "_locate_affected_files", spy)
    span_only = set(store._span_candidates(path, "k0003", "k0190"))
    n = store.delete_where("bl.t20", "row_key IN ('k0003', 'k0190')")
    assert n == 2
    # exactly the two holders — middle files' spans contain neither key
    assert len(captured["files"]) == 2
    assert set(captured["files"]) < span_only


def test_distributed_build_integral_key_with_nulls(store, monkeypatch):
    """Regression: the distributed builder must not drop integral keys
    when the key column contains NULLs.  Arrow→pandas promotes an
    int64-with-NULLs column to float64, whose values encode_key
    refuses — before the JVM-side string cast, EVERY key in such a
    batch was silently omitted from the sidecar, i.e. a Bloom FALSE
    NEGATIVE on probe.  Pins byte-identical parity with the
    driver-side build, including a key above 2^53 that float rounding
    would corrupt."""
    big = (1 << 60) + 1  # not representable in float64
    spec = TableSpec(
        namespace="bl",
        name="t30",
        key_type="long",
        families={"cf": {"v": "int"}},
        properties={"bloomfilter": "ROW"},
    )
    store.create_table(spec)
    rows = [(i, i * 7) for i in range(200)]
    rows += [(None, -1), (None, -2), (big, 999)]
    df = store.spark.createDataFrame(rows, "row_key long, `cf:v` int")

    monkeypatch.setattr(KeyedTableStore, "_BLOOM_DRIVER_BUILD_MAX", 0)
    store.insert("bl.t30", df, generate_row_key=False)
    path = store.table_path(store.registry.get("bl.t30"))
    assert _sidecars(store, "bl.t30") == _expected_sidecars(store, path)

    def read_sidecars():
        bdir = os.path.join(path, bloom.BLOOM_DIR)
        out = {}
        for f in sorted(os.listdir(bdir)):
            with open(os.path.join(bdir, f), "rb") as fh:
                out[f] = fh.read()
        return out

    distributed = read_sidecars()

    # no false negatives through the distributed-built sidecars
    assert store.get("bl.t30", [40]).collect()[0]["cf:v"] == 280
    assert store.get("bl.t30", [big]).collect()[0]["cf:v"] == 999
    assert store.get("bl.t30", [424242]).collect() == []

    # byte-level parity with the driver-side build of the same files
    shutil.rmtree(os.path.join(path, bloom.BLOOM_DIR))
    monkeypatch.setattr(
        KeyedTableStore, "_BLOOM_DRIVER_BUILD_MAX", 262_144
    )
    assert store.build_bloom_filters("bl.t30") == len(distributed)
    assert read_sidecars() == distributed


def test_backfill_writes_span_manifest_for_legacy_generation(store, spark):
    """build_bloom_filters on a generation without a span manifest
    must leave one behind: the `_bloom` directory alone flips
    _point_read_metadata_available to True, and without span stats
    every point get would pay the O(files) serial footer walk that
    gate exists to prevent."""
    path = _bare_generation_table(store, spark, "bare2", 60)
    store.alter_table_set_properties("bl.bare2", {"bloomfilter": "ROW"})

    assert store._load_span_stats(path) == {}
    store.build_bloom_filters("bl.bare2")
    stats = store._load_span_stats(path)
    assert set(stats) == set(store._data_files(path))
    # with manifest + sidecars in place, the point get prunes and pays
    # NO live footer reads
    calls = []
    orig = KeyedTableStore._footer_key_stats

    def spy(path):
        calls.append(path)
        return orig(path)

    KeyedTableStore._footer_key_stats = staticmethod(spy)
    try:
        got = store.get("bl.bare2", ["k0011"]).collect()
    finally:
        KeyedTableStore._footer_key_stats = staticmethod(orig)
    assert got[0]["cf:v"] == 33
    assert calls == [], "point get re-paid live footer reads"


def test_parquet_native_payload_bloom_filters(store, spark):
    """PARQUET_BLOOM_COLUMNS => 'cf:v': every write path emits
    parquet's OWN per-column Bloom filters for the declared payload
    columns (sized by PARQUET_BLOOM_NDV), which Spark's scan consults
    for row-group pruning under ordinary filter pushdown — the
    engine-owned half of the Bloom story.  Pinned by byte growth of
    otherwise-identical files (pyarrow here does not expose the
    bloom offset) and by correct filtered readback; an undeclared
    column raises loudly."""
    spec_plain = TableSpec(
        namespace="bl", name="pq0", key_type="string",
        families={"cf": {"v": "string"}},
    )
    spec_bloom = TableSpec(
        namespace="bl", name="pq1", key_type="string",
        families={"cf": {"v": "string"}},
        properties={
            "PARQUET_BLOOM_COLUMNS": "cf:v",
            "PARQUET_BLOOM_NDV": "2000",
        },
    )
    df = store.spark.range(2000).selectExpr(
        "lpad(CAST(id AS STRING), 8, '0') AS row_key",
        "concat('val_', CAST(id AS STRING)) AS `cf:v`",
    )
    for spec in (spec_plain, spec_bloom):
        store.create_table(spec)
        store.insert(spec.qualified_name, df, generate_row_key=False)

    def total_bytes(qualified):
        path = store.table_path(store.registry.get(qualified))
        return sum(
            os.path.getsize(os.path.join(path, f))
            for f in store._data_files(path)
        )

    # identical data, identical sort, identical codec — the only delta
    # is the bloom filter payload
    assert total_bytes("bl.pq1") > total_bytes("bl.pq0")

    got = (
        store.read("bl.pq1")
        .filter(F.col("`cf:v`") == "val_777")
        .collect()
    )
    assert [(r["row_key"], r["cf:v"]) for r in got] == [("00000777", "val_777")]

    # appends carry the option too
    extra = store.spark.createDataFrame(
        [("zz000001", "val_zz")], "row_key string, `cf:v` string"
    )
    before = total_bytes("bl.pq1")
    store.insert("bl.pq1", extra, generate_row_key=False)
    assert total_bytes("bl.pq1") > before
    assert store.read("bl.pq1").filter(
        F.col("`cf:v`") == "val_zz"
    ).count() == 1

    # loud on an undeclared column
    bad = TableSpec(
        namespace="bl", name="pq2", key_type="string",
        families={"cf": {"v": "string"}},
        properties={"PARQUET_BLOOM_COLUMNS": "cf:nope"},
    )
    store.create_table(bad)
    with pytest.raises(ValueError, match="PARQUET_BLOOM_COLUMNS"):
        store.insert("bl.pq2", df, generate_row_key=False)
