"""Declared region split points: HBase pre-split parity for the keyed store.

The reference's CREATE TABLE carries a ``"split"`` property — explicit
region boundary keys handed straight to ``admin.createTable``
(``HBaseClientImpl.scala:331-364``) — and its schema sync reads the live
table's region end-keys back into the same property (``:262,273``).  The
keyed store has always STORED the declaration (``TableSpec.split_keys``,
the ``split_keys`` CTAS option) but only used its COUNT: boundaries came
from ``repartitionByRange`` sampling, so a skewed batch could move them
arbitrarily far from what the operator declared.

This suite pins that declared keys are now the ACTUAL boundaries of
every written layout:

- no data file straddles a declared boundary (each file's key range
  lies inside ONE declared region);
- routing compares in the KEY's type — a ``long`` key ``99`` sorts
  below split ``"100"`` (lexicographically it would not);
- appended runs and MERGE's new-key runs align to the same boundaries,
  so files stay region-confined across generations;
- malformed declarations (unsorted, unparseable for the key type) raise
  loudly at write time — a silently ignored split list is a trap;
- an explicit ``n_regions`` override (the size-targeted split-policy
  path) still wins, with sampled boundaries, and stays correct.

Why it matters at 100 TB: sampled boundaries are a function of each
batch's skew; declared boundaries are chosen once by the operator and
hold across every generation, so a bulk load cannot be skew-surprised
and incremental DML can rely on stable file↔key-range alignment.
"""

import os

import pytest
from pyspark.sql import functions as F

from spark_sql_hbase_spark.catalog import TableSpec
from spark_sql_hbase_spark.sources.keyed_parquet import KeyedTableStore


@pytest.fixture(scope="module")
def store(spark, tmp_path_factory, store_io):
    # one membership rule (a generation's members are its directory's
    # parquet files), under both carries of ``store_io``
    wh = str(tmp_path_factory.mktemp("split_wh"))
    return KeyedTableStore(spark, wh, io=store_io)


def _file_ranges(store, spec):
    """[(min_key, max_key, n_rows)] for every data file of the CURRENT
    generation, via the store's own exact footer/fallback reader."""
    path = store.table_path(spec)
    return [
        store._file_key_range(os.path.join(path, f))
        for f in store._data_files(path)
    ]


def _region_of(key, bounds):
    """HBase region law: region i holds [bounds[i-1], bounds[i])."""
    return sum(1 for b in bounds if key >= b)


def _assert_region_confined(store, spec, bounds):
    ranges = [r for r in _file_ranges(store, spec) if r[2]]  # skip empties
    assert ranges, "table wrote no data files"
    for lo, hi, _n in ranges:
        assert _region_of(lo, bounds) == _region_of(hi, bounds), (
            f"file range [{lo!r}, {hi!r}] straddles a declared boundary "
            f"{bounds!r}"
        )
    return ranges


def _skewed_strings(spark, n=600, prefix_weights=(("a", 0.9), ("b", 0.05), ("c", 0.05))):
    """90% of keys below the first declared split — the layout a sampled
    partitioner would concentrate very differently from the declaration."""
    cut1 = int(n * prefix_weights[0][1])
    cut2 = cut1 + int(n * prefix_weights[1][1])
    return spark.range(n).select(
        F.concat(
            F.when(F.col("id") < cut1, F.lit("a"))
            .when(F.col("id") < cut2, F.lit("b"))
            .otherwise(F.lit("c")),
            F.format_string("%05d", F.col("id").cast("int")),
        ).alias("row_key"),
        (F.col("id") * 7).alias("cf:v"),
    )


def test_declared_splits_bound_skewed_string_layout(store, spark):
    spec = TableSpec(
        namespace="sp",
        name="skewed",
        key_type="string",
        families={"cf": {"v": "long"}},
        split_keys=["b", "c"],
    )
    df = _skewed_strings(spark)
    store.create_table(spec)
    store.insert("sp.skewed", df, overwrite=True)

    ranges = _assert_region_confined(store, spec, ["b", "c"])
    # the declared fan-out is respected: at most one file per region on
    # a single overwrite, and all three regions are populated
    regions_hit = {_region_of(lo, ["b", "c"]) for lo, _hi, _n in ranges}
    assert regions_hit == {0, 1, 2}
    got = store.read("sp.skewed")
    assert got.count() == 600
    assert got.agg(F.sum("`cf:v`")).collect()[0][0] == sum(i * 7 for i in range(600))


def test_append_runs_align_to_declared_boundaries(store, spark):
    spec = TableSpec(
        namespace="sp",
        name="appended",
        key_type="string",
        families={"cf": {"v": "long"}},
        split_keys=["b", "c"],
    )
    store.create_table(spec)
    store.insert("sp.appended", _skewed_strings(spark, n=300), overwrite=True)
    # second, differently-skewed batch appends its own run
    store.insert(
        "sp.appended",
        _skewed_strings(spark, n=300, prefix_weights=(("a", 0.1), ("b", 0.1), ("c", 0.8))),
    )
    _assert_region_confined(store, spec, ["b", "c"])
    assert store.read("sp.appended").count() == 600


def test_numeric_splits_compare_in_key_type(store, spark):
    """Splits ["100", "200"] on a long key: 99 belongs BELOW "100"
    (lexicographically "99" > "100" — the stringly-typed bug this test
    exists to keep dead, the same family as the round-8 typed footer
    stats fix)."""
    spec = TableSpec(
        namespace="sp",
        name="numeric",
        key_type="long",
        families={"cf": {"v": "long"}},
        split_keys=["100", "200"],
    )
    store.create_table(spec)
    keys = [1, 9, 50, 99, 100, 150, 199, 200, 201, 1000]
    df = spark.createDataFrame([(k, k * 3) for k in keys], "row_key long, `cf:v` long")
    store.insert("sp.numeric", df, overwrite=True)

    ranges = _assert_region_confined(store, spec, [100, 200])
    # 99 and 100 land on opposite sides of the boundary
    holds_99 = [r for r in ranges if r[0] <= 99 <= r[1]]
    assert holds_99 and all(hi < 100 for _lo, hi, _n in holds_99)
    holds_100 = [r for r in ranges if r[0] <= 100 <= r[1]]
    assert holds_100 and all(lo >= 100 for lo, _hi, _n in holds_100)
    assert store.read("sp.numeric").count() == len(keys)


def test_partition_token_law_matches_spark_hash(store, spark):
    """The region→partition router rests on Spark's hash-partitioning
    law: ``repartition(n, col)`` places a row at
    ``pmod(murmur3(int32 value, seed=42), n)``.  Pin the pure-Python
    twin against ``F.hash`` itself so an engine drift breaks loudly
    here instead of silently folding two regions into one file."""
    from spark_sql_hbase_spark.sources.keyed_parquet import _murmur3_int32

    vals = list(range(64)) + [2**31 - 1, 12345678]
    got = (
        spark.range(0)
        .sparkSession.createDataFrame([(v,) for v in vals], "v int")
        .select(F.hash(F.col("v")).alias("h"), F.col("v"))
        .collect()
    )
    spark_hash = {r["v"]: r["h"] for r in got}
    for v in vals:
        assert _murmur3_int32(v) == spark_hash[v], v
    # and the token search yields an injective region→partition map
    for n in (2, 3, 4, 7, 16):
        toks = KeyedTableStore._partition_tokens(n)
        assert len(toks) == n
        assert sorted(_murmur3_int32(t) % n for t in toks) == list(range(n))


def test_malformed_split_declarations_raise(store, spark):
    df = spark.createDataFrame([(5, 5)], "row_key long, `cf:v` long")
    unsorted = TableSpec(
        namespace="sp",
        name="badorder",
        key_type="string",
        families={"cf": {"v": "long"}},
        split_keys=["c", "b"],
    )
    store.create_table(unsorted)
    with pytest.raises(ValueError, match="split"):
        store.insert(
            "sp.badorder",
            spark.createDataFrame([("a", 1)], "row_key string, `cf:v` long"),
            overwrite=True,
        )
    unparseable = TableSpec(
        namespace="sp",
        name="badtype",
        key_type="long",
        families={"cf": {"v": "long"}},
        split_keys=["10", "abc"],
    )
    store.create_table(unparseable)
    with pytest.raises(ValueError, match="split"):
        store.insert("sp.badtype", df, overwrite=True)


def test_explicit_region_override_still_wins(store, spark):
    """compact(n_regions=...) — the split-policy analogue — overrides the
    declaration with sampled boundaries and keeps content exact."""
    spec = TableSpec(
        namespace="sp",
        name="override",
        key_type="string",
        families={"cf": {"v": "long"}},
        split_keys=["b", "c"],
    )
    store.create_table(spec)
    store.insert("sp.override", _skewed_strings(spark, n=400), overwrite=True)
    before = {
        (r["row_key"], r["cf:v"]) for r in store.read("sp.override").collect()
    }
    store.compact("sp.override", n_regions=2)
    path = store.table_path(spec)
    assert len(store._data_files(path)) <= 2
    after = {
        (r["row_key"], r["cf:v"]) for r in store.read("sp.override").collect()
    }
    assert after == before


def test_merge_respects_declared_boundaries(store, spark):
    """Both upsert write paths stay region-confined: the SELECTIVE
    rewrite of matched files (here files in non-adjacent regions 0 and
    2, which a sampled joint repartition could fold into one straddling
    file) and the fresh sorted run of all-new keys."""
    spec = TableSpec(
        namespace="sp",
        name="merged",
        key_type="string",
        families={"cf": {"v": "long"}},
        split_keys=["b", "c"],
    )
    store.create_table(spec)
    # n=200 skewed: keys a00000..a00179, b00180.., c00190..
    store.insert("sp.merged", _skewed_strings(spark, n=200), overwrite=True)
    batch = spark.createDataFrame(
        [("a00010", 111), ("c00195", 222), ("b99999", 2)],
        "row_key string, `cf:v` long",
    )
    store.upsert("sp.merged", batch)
    _assert_region_confined(store, spec, ["b", "c"])
    got = store.read("sp.merged")
    assert got.count() == 201
    vals = {
        r["row_key"]: r["cf:v"]
        for r in got.where(
            F.col("row_key").isin("a00010", "c00195", "b99999")
        ).collect()
    }
    assert vals == {"a00010": 111, "c00195": 222, "b99999": 2}


# -- region lifecycle: split_region / merge_regions (HBase admin.split /
# admin.mergeRegions) ---------------------------------------------------


def test_split_region_rewrites_only_the_straddling_region(store, spark):
    spec = TableSpec(
        namespace="sp",
        name="lifecycle",
        key_type="string",
        families={"cf": {"v": "long"}},
        split_keys=["b", "c"],
    )
    store.create_table(spec)
    store.insert("sp.lifecycle", _skewed_strings(spark, n=600), overwrite=True)
    path = store.table_path(spec)
    before_files = set(store._data_files(path))
    before_rows = {
        (r["row_key"], r["cf:v"]) for r in store.read("sp.lifecycle").collect()
    }

    n_rewritten = store.split_region("sp.lifecycle", "a00270")

    # the declaration grew, in order
    assert list(store.registry.get("sp.lifecycle").split_keys) == [
        "a00270", "b", "c"
    ]
    # only region-0 files (the ones straddling the new boundary) were
    # rewritten; the b- and c-region files carried over by NAME (hardlink)
    assert n_rewritten >= 1
    after_files = set(store._data_files(store.table_path(spec)))
    carried = before_files & after_files
    assert carried, "expected untouched regions to carry as hardlinks"
    # every surviving + new file is confined by the NEW bounds
    _assert_region_confined(store, spec, ["a00270", "b", "c"])
    after_rows = {
        (r["row_key"], r["cf:v"]) for r in store.read("sp.lifecycle").collect()
    }
    assert after_rows == before_rows


def test_split_region_cold_boundary_is_metadata_only(store, spark):
    spec = TableSpec(
        namespace="sp",
        name="coldsplit",
        key_type="string",
        families={"cf": {"v": "long"}},
        split_keys=["b", "c"],
    )
    store.create_table(spec)
    store.insert("sp.coldsplit", _skewed_strings(spark, n=300), overwrite=True)
    path = store.table_path(spec)
    before_files = set(store._data_files(path))

    # c-keys top out around c00299 < "c5": no file straddles — pure metadata
    assert store.split_region("sp.coldsplit", "c5") == 0
    assert store.table_path(spec) == path  # no generation swap
    assert set(store._data_files(path)) == before_files
    assert list(store.registry.get("sp.coldsplit").split_keys) == ["b", "c", "c5"]
    assert store.read("sp.coldsplit").count() == 300


def test_split_region_validations(store, spark):
    undeclared = TableSpec(
        namespace="sp",
        name="nosplits",
        key_type="string",
        families={"cf": {"v": "long"}},
    )
    store.create_table(undeclared)
    store.insert("sp.nosplits", _skewed_strings(spark, n=50), overwrite=True)
    with pytest.raises(ValueError, match="declared split keys"):
        store.split_region("sp.nosplits", "b")

    spec = TableSpec(
        namespace="sp",
        name="dupsplit",
        key_type="string",
        families={"cf": {"v": "long"}},
        split_keys=["b"],
    )
    store.create_table(spec)
    store.insert("sp.dupsplit", _skewed_strings(spark, n=50), overwrite=True)
    with pytest.raises(ValueError, match="already a declared"):
        store.split_region("sp.dupsplit", "b")
    with pytest.raises(ValueError, match="not a declared"):
        store.merge_regions("sp.dupsplit", "zzz")
    with pytest.raises(ValueError, match="no declared"):
        store.merge_regions("sp.nosplits", "b")


def test_split_region_numeric_point_sorts_in_key_type(store, spark):
    """Splitting a long-keyed ["100", "200"] table at 99 must order the
    declaration as [99, 100, 200] — lexicographic raw-string sorting
    ("100" < "99") would produce a misordered declaration that the next
    write loudly rejects."""
    spec = TableSpec(
        namespace="sp",
        name="numsplit",
        key_type="long",
        families={"cf": {"v": "long"}},
        split_keys=["100", "200"],
    )
    store.create_table(spec)
    keys = [1, 50, 99, 100, 150, 250]
    store.insert(
        "sp.numsplit",
        spark.createDataFrame([(k, k) for k in keys], "row_key long, `cf:v` long"),
        overwrite=True,
    )
    store.split_region("sp.numsplit", 99)
    assert list(store.registry.get("sp.numsplit").split_keys) == [
        "99", "100", "200"
    ]
    _assert_region_confined(store, spec, [99, 100, 200])
    # and further writes route by the new bounds without raising
    store.insert(
        "sp.numsplit",
        spark.createDataFrame([(98, 98)], "row_key long, `cf:v` long"),
    )
    assert store.read("sp.numsplit").count() == len(keys) + 1


def test_merge_regions_is_metadata_only_and_rebinds_writes(store, spark):
    spec = TableSpec(
        namespace="sp",
        name="mergeable",
        key_type="string",
        families={"cf": {"v": "long"}},
        split_keys=["b", "c"],
    )
    store.create_table(spec)
    store.insert("sp.mergeable", _skewed_strings(spark, n=300), overwrite=True)
    path = store.table_path(spec)
    before_files = set(store._data_files(path))
    before_rows = {
        (r["row_key"], r["cf:v"]) for r in store.read("sp.mergeable").collect()
    }

    store.merge_regions("sp.mergeable", "c")

    # zero I/O: same generation, same files
    assert store.table_path(spec) == path
    assert set(store._data_files(path)) == before_files
    assert list(store.registry.get("sp.mergeable").split_keys) == ["b"]
    assert {
        (r["row_key"], r["cf:v"]) for r in store.read("sp.mergeable").collect()
    } == before_rows

    # subsequent appends route by the MERGED bounds: a batch spanning the
    # former b|c boundary lands region-confined wrt ["b"] only
    store.insert(
        "sp.mergeable",
        spark.createDataFrame(
            [("b90000", 1), ("c90000", 2)], "row_key string, `cf:v` long"
        ),
    )
    _assert_region_confined(store, spec, ["b"])
    assert store.read("sp.mergeable").count() == 302


def test_merge_last_boundary_returns_to_sampled_layout(store, spark):
    spec = TableSpec(
        namespace="sp",
        name="unsplit",
        key_type="string",
        families={"cf": {"v": "long"}},
        split_keys=["b"],
    )
    store.create_table(spec)
    store.insert("sp.unsplit", _skewed_strings(spark, n=100), overwrite=True)
    store.merge_regions("sp.unsplit", "b")
    assert list(store.registry.get("sp.unsplit").split_keys) == []
    # the table keeps working in sampled-layout mode
    store.insert("sp.unsplit", _skewed_strings(spark, n=100))
    assert store.read("sp.unsplit").count() == 200


def test_no_empty_part_files_leak_from_region_misses(store, spark):
    """Spark emits a 0-row part file when an empty shuffle partition
    precedes a populated one; with one-partition-per-region declared
    layouts, every append that misses a low region would leak one.  Both
    write tails scrub them: the append link-in and the staged swap."""
    spec = TableSpec(
        namespace="sp",
        name="noleak",
        key_type="string",
        families={"cf": {"v": "long"}},
        split_keys=["b"],
    )
    store.create_table(spec)
    # overwrite whose batch misses region 0 entirely
    store.insert(
        "sp.noleak",
        spark.createDataFrame([("b1", 1), ("c1", 2)], "row_key string, `cf:v` long"),
        overwrite=True,
    )
    # append that ALSO misses region 0 (the empty partition sorts first)
    store.insert(
        "sp.noleak",
        spark.createDataFrame([("b2", 3), ("c2", 4)], "row_key string, `cf:v` long"),
    )
    ranges = _file_ranges(store, spec)
    assert ranges and all(n > 0 for _lo, _hi, n in ranges), (
        f"zero-row part files leaked: {ranges}"
    )
    assert store.read("sp.noleak").count() == 4


def test_auto_split_policy_splits_oversized_region(store, spark):
    """REGION_MAX_BYTES — the ConstantSizeRegionSplitPolicy analogue:
    an append that leaves one declared region oversized auto-splits it
    at the region's median key; cold regions are untouched."""
    spec = TableSpec(
        namespace="sp",
        name="autosplit",
        key_type="string",
        families={"cf": {"v": "long"}},
        split_keys=["m"],
        properties={"REGION_MAX_BYTES": "4000"},
    )
    store.create_table(spec)
    store.insert(
        "sp.autosplit",
        spark.createDataFrame([("a1", 1), ("z1", 2)], "row_key string, `cf:v` long"),
        overwrite=True,
    )
    # hammer the UPPER region until it crosses the byte threshold
    hot = spark.range(800).select(
        F.format_string("z%05d", F.col("id").cast("int")).alias("row_key"),
        F.col("id").alias("cf:v"),
    )
    store.insert("sp.autosplit", hot)

    new_keys = list(store.registry.get("sp.autosplit").split_keys)
    assert len(new_keys) > 1 and "m" in new_keys, new_keys
    added = [k for k in new_keys if k != "m"]
    assert all(k.startswith("z") for k in added), (
        f"split point must bisect the HOT region, got {added}"
    )
    # layout is confined by the grown declaration and content is exact
    bounds = sorted(new_keys)
    _assert_region_confined(store, spec, bounds)
    got = store.read("sp.autosplit")
    assert got.count() == 802


def test_auto_split_policy_validations(store, spark):
    undeclared = TableSpec(
        namespace="sp",
        name="autobad",
        key_type="string",
        families={"cf": {"v": "long"}},
        properties={"REGION_MAX_BYTES": "4000"},
    )
    store.create_table(undeclared)
    df = spark.createDataFrame([("a", 1)], "row_key string, `cf:v` long")
    store.insert("sp.autobad", df, overwrite=True)  # overwrite: no hook
    with pytest.raises(ValueError, match="declared split"):
        store.insert("sp.autobad", df)

    badval = TableSpec(
        namespace="sp",
        name="autobadval",
        key_type="string",
        families={"cf": {"v": "long"}},
        split_keys=["m"],
        properties={"REGION_MAX_BYTES": "lots"},
    )
    store.create_table(badval)
    store.insert("sp.autobadval", df, overwrite=True)
    with pytest.raises(ValueError, match="REGION_MAX_BYTES"):
        store.insert("sp.autobadval", df)


def test_list_regions_reports_declared_footprint(store, spark):
    spec = TableSpec(
        namespace="sp",
        name="listed",
        key_type="string",
        families={"cf": {"v": "long"}},
        split_keys=["b", "c", "x"],
    )
    store.create_table(spec)
    store.insert("sp.listed", _skewed_strings(spark, n=200), overwrite=True)
    rows = {r["region"]: r for r in store.list_regions("sp.listed").collect()}
    # four declared regions, boundaries from the declaration, region 4
    # (x..) is EMPTY but still listed (the HBase shell behavior)
    assert sorted(rows) == [1, 2, 3, 4]
    assert (rows[1]["start_key"], rows[1]["end_key"]) == (None, "b")
    assert (rows[4]["start_key"], rows[4]["end_key"]) == ("x", None)
    assert rows[4]["n_files"] == 0 and rows[4]["n_rows"] == 0
    assert sum(r["n_rows"] for r in rows.values()) == 200
    assert rows[1]["n_rows"] > rows[2]["n_rows"]  # the skew is visible
    assert all(r["bytes"] >= 0 for r in rows.values())
    plain = TableSpec(
        namespace="sp",
        name="listedplain",
        key_type="string",
        families={"cf": {"v": "long"}},
    )
    store.create_table(plain)
    with pytest.raises(ValueError, match="declared split"):
        store.list_regions("sp.listedplain")


def test_failed_split_rewrite_rolls_back_the_declaration(store, spark):
    """A split whose daughter rewrite FAILS must not leave the table
    declaring a boundary its files straddle: the declaration rolls back
    before the error propagates (coarsening is always confinement-safe,
    the merge_regions law)."""
    spec = TableSpec(
        namespace="sp",
        name="rollback",
        key_type="string",
        families={"cf": {"v": "long"}},
        split_keys=["m"],
    )
    store.create_table(spec)
    store.insert(
        "sp.rollback",
        spark.createDataFrame(
            [(f"a{i:02d}", i) for i in range(20)],
            "row_key string, `cf:v` long",
        ),
        overwrite=True,
    )
    orig = store._swap_write_with_carry

    def boom(*a, **k):
        raise RuntimeError("injected rewrite failure")

    store._swap_write_with_carry = boom
    try:
        with pytest.raises(RuntimeError, match="injected"):
            store.split_region("sp.rollback", "a10")
    finally:
        store._swap_write_with_carry = orig
    # the boundary was rolled back — no silently-straddled declaration
    assert list(store.registry.get("sp.rollback").split_keys) == ["m"]
    # and the split succeeds once the rewrite path is healthy again
    store.split_region("sp.rollback", "a10")
    assert list(store.registry.get("sp.rollback").split_keys) == ["a10", "m"]


def test_batch_split_regions_is_one_rewrite_one_flip(store, spark):
    """N-way pre-split backfill: split_regions([k1..kN]) lands every
    new boundary in ONE rewrite + ONE generation flip (split_region
    would pay N sequential commits), files re-confine to the full new
    declaration, and content is untouched."""
    spec = TableSpec(
        namespace="sp",
        name="batchsplit",
        key_type="string",
        families={"cf": {"v": "long"}},
        split_keys=["m"],
    )
    store.create_table(spec)
    store.insert(
        "sp.batchsplit",
        spark.createDataFrame(
            [(f"{p}{i:03d}", i) for p in "az" for i in range(60)],
            "row_key string, `cf:v` long",
        ),
        overwrite=True,
    )
    path0 = store.table_path(spec)
    gens_before = len(store.generations("sp.batchsplit"))
    n = store.split_regions("sp.batchsplit", ["a020", "a040", "z030"])
    assert n > 0
    assert list(store.registry.get("sp.batchsplit").split_keys) == [
        "a020", "a040", "m", "z030",
    ]
    # exactly one flip: the current generation changed once, and the
    # pre-split generation is now "previous" (no intermediate gens)
    path1 = store.table_path(spec)
    assert path1 != path0
    roles = {
        g["role"] for g in store.generations("sp.batchsplit")
    }
    assert "current" in roles
    _assert_region_confined(store, spec, ["a020", "a040", "m", "z030"])
    assert store.read("sp.batchsplit").count() == 120
    # batch validations are loud
    with pytest.raises(ValueError, match="already a declared"):
        store.split_regions("sp.batchsplit", ["a020"])
    with pytest.raises(ValueError, match="duplicate"):
        store.split_regions("sp.batchsplit", ["q1", "q1"])
    assert store.split_regions("sp.batchsplit", []) == 0


def test_metadata_midkey_balances_and_guards(tmp_path, spark):
    """The auto-split midkey is METADATA ONLY (VERDICT r10 item 4 —
    HBase parity: HFile.midkey() reads the block index, never data).
    Pins: (a) the estimator picks the row-group boundary closest to
    half the rows; (b) with no interior block boundary the midkey
    interpolates the key-range midpoint (HBase UniformSplit
    assumption), and all-equal keys yield None — truly unsplittable;
    (c) the split path contains no sorted-scan job (no orderBy/offset
    in source)."""
    import inspect
    import pyarrow as pa
    import pyarrow.parquet as pq

    # (a) three single-row-group files: [a..b]=10, [c..d]=10, [e..f]=80
    # candidates are mins {a, c, e}; below(c)=10, below(e)=20 → for
    # total=100, half=50, best candidate is e (|20-50|=30 beats c's 40
    # and a's invalid no-floor)
    for i, (lo, hi, n) in enumerate(
        [("a", "b", 10), ("c", "d", 10), ("e", "f", 80)]
    ):
        keys = [lo] * (n - 1) + [hi]
        pq.write_table(
            pa.table({"row_key": keys, "cf:v": list(range(n))}),
            str(tmp_path / f"u{i}.parquet"),
        )
    files = [str(tmp_path / f"u{i}.parquet") for i in range(3)]
    assert KeyedTableStore._metadata_midkey(files) == "e"
    # (b) one row group spanning [e..f]: interpolated interior midpoint
    mid = KeyedTableStore._metadata_midkey([files[2]])
    assert mid is not None and "e" < mid <= "f"
    # all keys equal: nothing strictly between — unsplittable
    pq.write_table(
        pa.table({"row_key": ["x"] * 5, "cf:v": list(range(5))}),
        str(tmp_path / "same.parquet"),
    )
    assert KeyedTableStore._metadata_midkey([str(tmp_path / "same.parquet")]) is None
    # string midpoint law: strictly between, both engines' orderings
    assert KeyedTableStore._string_midpoint("a", "c") == "b"
    assert KeyedTableStore._string_midpoint("a", "b") == "a\x7f"
    assert KeyedTableStore._string_midpoint("abc", "abc") is None
    m = KeyedTableStore._string_midpoint("0000000100", "0000002000")
    assert m is not None and "0000000100" < m <= "0000002000"
    # (c) the sorted-scan median is gone from the auto-split path
    src = inspect.getsource(KeyedTableStore._maybe_auto_split)
    assert "orderBy" not in src and "offset" not in src
