"""Conditional mutations: HBase ``checkAndPut`` / ``checkAndDelete``.

HBase guarantees an atomic read-compare-mutate on one row.  The keyed
store gives the same guarantee through the generational CAS instead of
row locks: the check reads the generation the attempt resolved, the
rewrite's swap names that generation as its CAS base, and any
concurrent commit between check and flip refuses the flip and re-runs
the whole attempt — check included — against the winner's state.  The
laws under test:

- apply iff the checked cell equals the expectation (``None`` = cell
  absent: missing row, or a NULL qualifier in the flat cf:qualifier
  model — both are "no cell" in HBase terms);
- a failed check mutates nothing;
- deleting an absent row is a no-op success (HBase semantics);
- the mutation may only target the checked row;
- NO LOST UPDATES under concurrent conditional writers (the
  compare-and-swap counter law).
"""

import threading

import pytest
from pyspark.sql import functions as F

from spark_sql_hbase_spark.catalog import TableSpec
from spark_sql_hbase_spark.sources.keyed_parquet import KeyedTableStore


@pytest.fixture(scope="module")
def store(spark, tmp_path_factory, store_io):
    # one membership rule (a generation's members are its directory's
    # parquet files), under both carries of ``store_io``
    wh = str(tmp_path_factory.mktemp("cond_wh"))
    return KeyedTableStore(spark, wh, io=store_io)


def _table(store, name, rows):
    spec = TableSpec(
        namespace="cd",
        name=name,
        key_type="string",
        families={"cf": {"n": "long", "note": "string"}},
        properties={"bloomfilter": "ROW"},
    )
    store.create_table(spec)
    df = store.spark.createDataFrame(
        rows, "row_key string, `cf:n` long, `cf:note` string"
    )
    store.insert(f"cd.{name}", df, generate_row_key=False)


def _cell(store, qualified, key, col):
    rows = store.get(qualified, [key]).select(f"`{col}`").collect()
    assert len(rows) <= 1
    return rows[0][0] if rows else None


def test_check_and_put_applies_on_match(store):
    _table(store, "t1", [("a", 1, "x"), ("b", 2, "y")])
    assert store.check_and_put(
        "cd.t1", "a", "cf:n", 1, {"cf:n": 10, "cf:note": "updated"}
    )
    assert _cell(store, "cd.t1", "a", "cf:n") == 10
    assert _cell(store, "cd.t1", "a", "cf:note") == "updated"
    assert _cell(store, "cd.t1", "b", "cf:n") == 2  # untouched
    assert store.read("cd.t1").count() == 2


def test_check_and_put_refuses_on_mismatch(store):
    _table(store, "t2", [("a", 1, "x")])
    before = sorted(tuple(r) for r in store.read("cd.t2").collect())
    assert not store.check_and_put("cd.t2", "a", "cf:n", 99, {"cf:n": 10})
    assert sorted(tuple(r) for r in store.read("cd.t2").collect()) == before


def test_check_and_put_none_means_cell_absent(store):
    _table(store, "t3", [("a", 1, None)])
    # absent ROW: expected None passes and the Put inserts it
    assert store.check_and_put("cd.t3", "new", "cf:n", None, {"cf:n": 5})
    assert _cell(store, "cd.t3", "new", "cf:n") == 5
    # present row, NULL qualifier: also "no cell" (flat-model parity)
    assert store.check_and_put(
        "cd.t3", "a", "cf:note", None, {"cf:n": 1, "cf:note": "set"}
    )
    assert _cell(store, "cd.t3", "a", "cf:note") == "set"
    # now the cell exists: expected None fails
    assert not store.check_and_put(
        "cd.t3", "a", "cf:note", None, {"cf:note": "again"}
    )


def test_put_unlisted_qualifiers_become_null(store):
    """A Put writes the whole flat row (HBase Put carries exactly the
    cells it sets; the flat model has one physical row per key, so an
    unlisted qualifier is NULL after the put)."""
    _table(store, "t4", [("a", 1, "keepme?")])
    assert store.check_and_put("cd.t4", "a", "cf:n", 1, {"cf:n": 2})
    assert _cell(store, "cd.t4", "a", "cf:note") is None


def test_mutation_restricted_to_checked_row(store):
    _table(store, "t5", [("a", 1, None)])
    with pytest.raises(ValueError):
        store.check_and_put("cd.t5", "a", "cf:n", 1, {"row_key": "b", "cf:n": 2})
    with pytest.raises(ValueError):
        store.check_and_put("cd.t5", "a", "cf:bogus", 1, {"cf:n": 2})
    with pytest.raises(ValueError):
        store.check_and_put("cd.t5", "a", "cf:n", 1, {"cf:wrong": 2})


def test_check_and_delete_laws(store):
    _table(store, "t6", [("a", 1, "x"), ("b", 2, "y"), ("c", 3, "z")])
    # mismatch: nothing deleted
    assert not store.check_and_delete("cd.t6", "a", "cf:n", 99)
    assert store.read("cd.t6").count() == 3
    # match: exactly that row deleted
    assert store.check_and_delete("cd.t6", "a", "cf:n", 1)
    assert store.read("cd.t6").count() == 2
    assert _cell(store, "cd.t6", "a", "cf:n") is None
    # absent row + expected None: no-op SUCCESS (HBase semantics)
    assert store.check_and_delete("cd.t6", "ghost", "cf:n", None)
    assert store.read("cd.t6").count() == 2


def test_duplicate_key_is_refused(store):
    _table(store, "t7", [("a", 1, None)])
    dup = store.spark.createDataFrame(
        [("a", 7, "dup")], "row_key string, `cf:n` long, `cf:note` string"
    )
    store.insert("cd.t7", dup, generate_row_key=False)
    with pytest.raises(ValueError, match="share key"):
        store.check_and_put("cd.t7", "a", "cf:n", 1, {"cf:n": 2})


@pytest.mark.slow
def test_concurrent_cas_counters_lose_no_update(store):
    """The compare-and-swap counter law: two writers increment one
    cell through check_and_put, retrying on a failed check — every
    increment must land exactly once (serializable, no lost updates)."""
    _table(store, "t8", [("ctr", 0, None)])
    per_writer = 6
    errors = []

    def worker():
        try:
            for _ in range(per_writer):
                while True:
                    cur = _cell(store, "cd.t8", "ctr", "cf:n")
                    if store.check_and_put(
                        "cd.t8", "ctr", "cf:n", cur, {"cf:n": cur + 1}
                    ):
                        break
        except Exception as e:  # pragma: no cover - surfaced below
            errors.append(e)

    threads = [threading.Thread(target=worker) for _ in range(2)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert errors == []
    assert _cell(store, "cd.t8", "ctr", "cf:n") == 2 * per_writer
    assert store.read("cd.t8").count() == 1


def test_null_check_key_is_refused(store):
    _table(store, "t9", [("a", 1, None)])
    with pytest.raises(ValueError, match="non-NULL"):
        store.check_and_put("cd.t9", None, "cf:n", None, {"cf:n": 1})
    with pytest.raises(ValueError, match="non-NULL"):
        store.check_and_delete("cd.t9", None, "cf:n", None)


def test_insert_style_put_skips_the_locate_job(store, monkeypatch):
    """expected=None on an absent row: the check read already proved no
    file holds the key — no locate scan runs."""
    _table(store, "t10", [("a", 1, None)])

    def boom(self, spec, fn, files=None):  # pragma: no cover - must not run
        raise AssertionError("locate ran for an absent checked row")

    monkeypatch.setattr(KeyedTableStore, "_locate_affected_files", boom)
    assert store.check_and_put("cd.t10", "zz", "cf:n", None, {"cf:n": 7})
    monkeypatch.undo()
    assert _cell(store, "cd.t10", "zz", "cf:n") == 7


def test_increment_and_append(store):
    """HBase Table.increment / Table.append semantics atop the CAS."""
    _table(store, "t11", [("a", 5, "hi")])
    assert store.increment("cd.t11", "a", "cf:n", 3) == 8
    assert _cell(store, "cd.t11", "a", "cf:n") == 8
    assert _cell(store, "cd.t11", "a", "cf:note") == "hi"  # preserved
    # absent counter starts from zero (HBase Increment on missing cell)
    assert store.increment("cd.t11", "fresh", "cf:n") == 1
    assert store.increment("cd.t11", "fresh", "cf:n", -4) == -3
    # append: absent cell starts from the value itself
    assert store.append_cell("cd.t11", "a", "cf:note", "!") == "hi!"
    assert store.append_cell("cd.t11", "fresh", "cf:note", "x") == "x"
    assert _cell(store, "cd.t11", "fresh", "cf:note") == "x"
    assert store.read("cd.t11").count() == 2


@pytest.mark.slow
def test_concurrent_increments_lose_no_update(store):
    _table(store, "t12", [("ctr", 0, None)])
    per_writer, errors = 5, []

    def worker():
        try:
            for _ in range(per_writer):
                store.increment("cd.t12", "ctr", "cf:n")
        except Exception as e:  # pragma: no cover
            errors.append(e)

    threads = [threading.Thread(target=worker) for _ in range(2)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert errors == []
    assert _cell(store, "cd.t12", "ctr", "cf:n") == 2 * per_writer


@pytest.mark.slow
def test_increment_survives_concurrent_compaction(store):
    """Cross-op CAS interplay: increments racing a major compaction
    both retry through the generation CAS; every increment lands and
    the compaction never resurrects an old value."""
    _table(store, "t13", [("ctr", 0, None), ("other", 9, "x")])
    n_inc, errors = 8, []

    def incrementer():
        try:
            for _ in range(n_inc):
                store.increment("cd.t13", "ctr", "cf:n")
        except Exception as e:  # pragma: no cover
            errors.append(e)

    def compactor():
        try:
            for _ in range(3):
                store.compact("cd.t13")
        except Exception as e:  # pragma: no cover
            errors.append(e)

    threads = [
        threading.Thread(target=incrementer),
        threading.Thread(target=compactor),
    ]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert errors == []
    assert _cell(store, "cd.t13", "ctr", "cf:n") == n_inc
    assert _cell(store, "cd.t13", "other", "cf:n") == 9
    assert store.read("cd.t13").count() == 2


def test_row_cas_refuses_sibling_qualifier_change(store, monkeypatch):
    """The lost-update shape the whole-row read-modify-write exists
    for: a concurrent write to a SIBLING qualifier (the incremented
    cell untouched) that commits between increment's point read and
    its flip must fail that stale attempt's generation CAS — the retry
    re-reads and lands without clobbering the sibling."""
    _table(store, "t14", [("a", 1, "hi")])
    real = KeyedTableStore._point_row
    reads = []

    def racing_read(self, spec, path, files, key):
        out = real(self, spec, path, files, key)
        reads.append(out[0])
        if len(reads) == 1:
            # "concurrent" writer updates cf:note only; cf:n stays 1
            monkeypatch.setattr(KeyedTableStore, "_point_row", real)
            assert store.check_and_put(
                "cd.t14", "a", "cf:note", "hi", {"cf:n": 1, "cf:note": "bye"}
            )
            monkeypatch.setattr(KeyedTableStore, "_point_row", racing_read)
        return out

    monkeypatch.setattr(KeyedTableStore, "_point_row", racing_read)
    assert store.increment("cd.t14", "a", "cf:n", 4) == 5
    monkeypatch.undo()
    # the stale attempt read the old note; the retry read the new one
    assert [r[2] for r in reads] == ["hi", "bye"]
    assert _cell(store, "cd.t14", "a", "cf:note") == "bye"
    assert _cell(store, "cd.t14", "a", "cf:n") == 5


def test_increment_retries_bound_the_attempts(store, monkeypatch):
    """``retries`` is the attempt budget: an increment whose every
    attempt loses the generation CAS raises after exactly that many
    attempts, and the table is unchanged."""
    from spark_sql_hbase_spark.sources.keyed_parquet import (
        ConcurrentWriteConflictError,
    )

    _table(store, "t15", [("a", 1, "hi")])
    real = KeyedTableStore._point_row
    reads = []

    def always_raced(self, spec, path, files, key):
        reads.append(key)
        out = real(self, spec, path, files, key)
        # a "concurrent" commit after every read: a fresh generation
        monkeypatch.setattr(KeyedTableStore, "_point_row", real)
        store.compact("cd.t15")
        monkeypatch.setattr(KeyedTableStore, "_point_row", always_raced)
        return out

    monkeypatch.setattr(KeyedTableStore, "_point_row", always_raced)
    with pytest.raises(ConcurrentWriteConflictError):
        store.increment("cd.t15", "a", "cf:n", 1, retries=3)
    monkeypatch.undo()
    assert len(reads) == 3
    assert _cell(store, "cd.t15", "a", "cf:n") == 1
    with pytest.raises(ValueError, match="retries"):
        store.increment("cd.t15", "a", "cf:n", 1, retries=0)


# -- batched mutations (HBase Table.batch parity) -------------------------


def _gen_pointer(store, qualified):
    root = store.table_root(store.registry.get(qualified))
    return store._resolve_cur_prev(root)[0]


def test_mutate_mixed_batch_one_commit(store):
    """A mixed put/check_put/delete/check_delete/increment/append batch
    lands in ONE generation swap with per-op applied/refused results
    and exactly the serial outcome."""
    _table(store, "b1", [
        ("a", 1, "x"), ("b", 2, "y"), ("c", 3, "z"), ("d", 4, "w"),
        ("e", 5, "v"),
    ])
    gens = []
    orig = KeyedTableStore._swap_table_dir

    def spy(self, spec, build, **kw):
        if spec.qualified_name == "cd.b1":
            gens.append(True)
        return orig(self, spec, build, **kw)

    KeyedTableStore._swap_table_dir = spy
    try:
        results = store.mutate("cd.b1", [
            {"op": "put", "key": "a", "row": {"cf:n": 10, "cf:note": "A"}},
            {"op": "check_put", "key": "b", "col": "cf:n", "expected": 2,
             "row": {"cf:n": 20, "cf:note": "B"}},
            {"op": "check_put", "key": "c", "col": "cf:n", "expected": 99,
             "row": {"cf:n": 30}},                       # refused
            {"op": "delete", "key": "d"},
            {"op": "check_delete", "key": "e", "col": "cf:note",
             "expected": "nope"},                        # refused
            {"op": "increment", "key": "f", "col": "cf:n", "delta": 7},
            {"op": "append", "key": "a2", "col": "cf:note", "value": "!"},
        ])
    finally:
        KeyedTableStore._swap_table_dir = orig
    assert len(gens) == 1, f"expected ONE swap, saw {len(gens)}"
    assert [r["applied"] for r in results] == [
        True, True, False, True, False, True, True,
    ]
    assert results[5]["value"] == 7
    assert results[6]["value"] == "!"
    got = {
        r["row_key"]: (r["cf:n"], r["cf:note"])
        for r in store.read("cd.b1").collect()
    }
    assert got == {
        "a": (10, "A"),          # put replaced the whole row
        "b": (20, "B"),
        "c": (3, "z"),           # refused check_put untouched
        "e": (5, "v"),           # refused check_delete untouched
        "f": (7, None),          # increment from absent = delta
        "a2": (None, "!"),       # append from absent = value
    }
    assert "d" not in got


def test_mutate_existing_increment_and_sequencing_laws(store):
    """Increment/append against EXISTING cells use the batch-resolved
    snapshot; same-key ops in one batch are refused (independence), and
    an empty batch is a no-op."""
    _table(store, "b2", [("k1", 10, "s"), ("k2", 2, "t")])
    assert store.mutate("cd.b2", []) == []
    r = store.mutate("cd.b2", [
        {"op": "increment", "key": "k1", "col": "cf:n", "delta": 5},
        {"op": "append", "key": "k2", "col": "cf:note", "value": "ail"},
    ])
    assert [x["value"] for x in r] == [15, "tail"]
    assert _cell(store, "cd.b2", "k1", "cf:n") == 15
    assert _cell(store, "cd.b2", "k2", "cf:note") == "tail"
    with pytest.raises(ValueError, match="duplicate key"):
        store.mutate("cd.b2", [
            {"op": "increment", "key": "k1", "col": "cf:n"},
            {"op": "delete", "key": "k1"},
        ])
    with pytest.raises(ValueError, match="non-NULL"):
        store.mutate("cd.b2", [{"op": "delete", "key": None}])
    with pytest.raises(ValueError, match="unknown mutation op"):
        store.mutate("cd.b2", [{"op": "upsert", "key": "k1"}])


def test_mutate_refused_only_batch_swaps_nothing(store):
    """A batch where every op refuses (or deletes an absent row) must
    not commit a generation."""
    _table(store, "b3", [("a", 1, "x")])
    before = _gen_pointer(store, "cd.b3")
    results = store.mutate("cd.b3", [
        {"op": "check_put", "key": "a", "col": "cf:n", "expected": 999,
         "row": {"cf:n": 2}},
        {"op": "delete", "key": "zz_absent"},
        {"op": "check_delete", "key": "zz2", "col": "cf:n", "expected": 5},
    ])
    assert [r["applied"] for r in results] == [False, True, False]
    assert _gen_pointer(store, "cd.b3") == before
    assert _cell(store, "cd.b3", "a", "cf:n") == 1


@pytest.mark.slow
def test_mutate_concurrent_batches_lose_no_update(store):
    """Two threads each running increment batches on overlapping keys:
    the generation CAS re-runs a losing batch wholesale, so the final
    counters equal the serial sum."""
    _table(store, "b4", [("c1", 0, None), ("c2", 0, None)])
    errs = []

    def worker():
        try:
            for _ in range(3):
                store.mutate("cd.b4", [
                    {"op": "increment", "key": "c1", "col": "cf:n"},
                    {"op": "increment", "key": "c2", "col": "cf:n",
                     "delta": 2},
                ])
        except Exception as e:  # noqa: BLE001
            errs.append(e)

    ts = [threading.Thread(target=worker) for _ in range(2)]
    for t in ts:
        t.start()
    for t in ts:
        t.join()
    assert not errs, errs
    assert _cell(store, "cd.b4", "c1", "cf:n") == 6
    assert _cell(store, "cd.b4", "c2", "cf:n") == 12


def test_mutate_maintains_covered_index(store):
    """The one batched commit still keeps a registered covered index
    fresh: replaced values move entries, deletes drop them."""
    _table(store, "b5", [("a", 1, "x"), ("b", 2, "y"), ("c", 3, "z")])
    store.create_covered_index(
        "cd.b5", "cd.b5_by_n", "cf:n", include=["cf:note"], key_width=4
    )
    store.mutate("cd.b5", [
        {"op": "put", "key": "a", "row": {"cf:n": 7, "cf:note": "moved"}},
        {"op": "delete", "key": "b"},
    ])
    assert "stale" not in store.registry.get("cd.b5_by_n").properties
    hits7 = {
        (r["i:src_key"], r["cf:note"])
        for r in store.index_lookup("cd.b5_by_n", 7).collect()
    }
    assert hits7 == {("a", "moved")}
    assert store.index_lookup("cd.b5_by_n", 1).collect() == []
    assert store.index_lookup("cd.b5_by_n", 2).collect() == []
    assert {
        r["i:src_key"] for r in store.index_lookup("cd.b5_by_n", 3).collect()
    } == {"c"}


# -- property: mutate() == the serial single-op semantics -----------------


def _mutate_case():
    from hypothesis import strategies as hst

    keyspace = [f"k{i}" for i in range(8)]

    def one_op(key):
        return hst.one_of(
            hst.fixed_dictionaries({
                "op": hst.just("put"), "key": hst.just(key),
                "row": hst.fixed_dictionaries({
                    "cf:n": hst.integers(-50, 50) | hst.none(),
                    "cf:note": hst.text(
                        alphabet="abc", max_size=3) | hst.none(),
                }),
            }),
            hst.fixed_dictionaries({
                "op": hst.just("check_put"), "key": hst.just(key),
                "col": hst.just("cf:n"),
                "expected": hst.integers(-2, 4) | hst.none(),
                "row": hst.fixed_dictionaries({
                    "cf:n": hst.integers(-50, 50),
                }),
            }),
            hst.fixed_dictionaries({
                "op": hst.just("delete"), "key": hst.just(key)}),
            hst.fixed_dictionaries({
                "op": hst.just("check_delete"), "key": hst.just(key),
                "col": hst.just("cf:n"),
                "expected": hst.integers(-2, 4) | hst.none(),
            }),
            hst.fixed_dictionaries({
                "op": hst.just("increment"), "key": hst.just(key),
                "col": hst.just("cf:n"), "delta": hst.integers(-3, 3),
            }),
            hst.fixed_dictionaries({
                "op": hst.just("append"), "key": hst.just(key),
                "col": hst.just("cf:note"), "value": hst.text(
                    alphabet="xy", min_size=1, max_size=2),
            }),
        )

    # distinct keys per batch (the API contract) with a random op each
    return hst.permutations(keyspace).flatmap(
        lambda ks: hst.integers(1, len(ks)).flatmap(
            lambda n: hst.tuples(*[one_op(k) for k in ks[:n]])
        )
    ), keyspace


@pytest.mark.slow
def test_mutate_matches_serial_model(store):
    """Property: one mutate() batch produces exactly the state and
    results a serial model of the single-op semantics produces —
    random mixed batches over a seeded table."""
    from hypothesis import HealthCheck, given, settings

    ops_strategy, keyspace = _mutate_case()
    counter = [0]

    @settings(max_examples=15, deadline=None,
              suppress_health_check=list(HealthCheck))
    @given(ops=ops_strategy)
    def run(ops):
        counter[0] += 1
        name = f"prop{counter[0]}"
        seed = [("k0", 1, "a"), ("k2", 3, "b"), ("k4", None, None)]
        _table(store, name, seed)
        qn = f"cd.{name}"

        # pure-Python model of the serial single-op semantics
        model = {k: {"cf:n": n, "cf:note": t} for k, n, t in seed}
        expect_res = []
        for o in ops:
            k, kind = o["key"], o["op"]
            cur = model.get(k)
            if kind in ("put", "check_put"):
                if kind == "check_put":
                    cell = cur["cf:n"] if cur else None
                    if cell != o["expected"]:
                        expect_res.append((False, None))
                        continue
                row = o.get("row") or {}
                model[k] = {"cf:n": row.get("cf:n"),
                            "cf:note": row.get("cf:note")}
                expect_res.append((True, None))
            elif kind in ("delete", "check_delete"):
                if kind == "check_delete":
                    cell = cur["cf:n"] if cur else None
                    if cell != o["expected"]:
                        expect_res.append((False, None))
                        continue
                model.pop(k, None)
                expect_res.append((True, None))
            elif kind == "increment":
                cell = cur["cf:n"] if cur else None
                new = (cell or 0) + o["delta"]
                base = dict(cur) if cur else {"cf:n": None, "cf:note": None}
                base["cf:n"] = new
                model[k] = base
                expect_res.append((True, new))
            else:
                cell = cur["cf:note"] if cur else None
                new = o["value"] if cell is None else cell + o["value"]
                base = dict(cur) if cur else {"cf:n": None, "cf:note": None}
                base["cf:note"] = new
                model[k] = base
                expect_res.append((True, new))

        got_res = store.mutate(qn, list(ops))
        assert [(r["applied"], r["value"]) for r in got_res] == expect_res
        got = {
            r["row_key"]: {"cf:n": r["cf:n"], "cf:note": r["cf:note"]}
            for r in store.read(qn).collect()
        }
        assert got == model

    run()
