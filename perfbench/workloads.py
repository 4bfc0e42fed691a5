"""The three closed-loop workloads, one client each.

Each workload builds its keyed tables (``load``), then runs one
homogeneous op again and again (``op``); ``after_op`` and ``final_check``
hold the correctness checks that are not part of an op's own latency.
Every call into the engine is wrapped in a span (``bench.span``), which
costs nothing when tracing is off.
"""

from __future__ import annotations

import bisect
import datetime as dt
import hashlib
import os
import sys

import numpy as np
import pyarrow as pa

from perfbench import datagen, helpers

NS = "bench"
ORDERS = f"{NS}.orders"
LINEITEM = f"{NS}.lineitem"
INDEX = f"{NS}.orders_by_status"
KEY_WIDTH = 10

ORDER_FAMILY = {
    "o": {
        "custkey": "long",
        "status": "string",
        "totalprice": "double",
        "orderdate": "timestamp",
        "priority": "string",
        "hits": "long",
    }
}


def rk(k: int) -> str:
    return f"{k:0{KEY_WIDTH}d}"


def orders_spec():
    from spark_sql_hbase_spark.catalog import TableSpec

    return TableSpec(
        namespace=NS, name="orders", key_type="string",
        families=ORDER_FAMILY, properties={"BLOOMFILTER": "ROW"},
    )


def keyed_orders_df(spark, sf_dir: str):
    """The corpus' ``orders`` as the keyed table's rows (Spark side)."""
    from pyspark.sql import functions as F

    from spark_sql_hbase_spark.queries import table

    o = table(spark, sf_dir, "orders")
    return o.select(
        F.lpad(F.col("o_orderkey").cast("string"), KEY_WIDTH, "0").alias("row_key"),
        F.col("o_custkey").alias("o:custkey"),
        F.col("o_orderstatus").alias("o:status"),
        F.col("o_totalprice").alias("o:totalprice"),
        F.col("o_orderdate").alias("o:orderdate"),
        F.col("o_orderpriority").alias("o:priority"),
        F.lit(0).cast("long").alias("o:hits"),
    )


def keyed_orders_arrow(orders: pa.Table) -> pa.Table:
    """The same rows built with pyarrow: the expected table, and the
    base of ``write_amp``."""
    keys = [rk(k) for k in orders.column("o_orderkey").to_pylist()]
    return pa.table({
        "row_key": pa.array(keys),
        "o:custkey": orders.column("o_custkey"),
        "o:status": orders.column("o_orderstatus"),
        "o:totalprice": orders.column("o_totalprice"),
        "o:orderdate": orders.column("o_orderdate"),
        "o:priority": orders.column("o_orderpriority"),
        "o:hits": pa.array(np.zeros(orders.num_rows, dtype=np.int64)),
    })


def rows_by_key(tbl: pa.Table) -> dict[str, tuple]:
    cols = [tbl.column(c).to_pylist() for c in tbl.column_names]
    return {r[0]: tuple(r[1:]) for r in zip(*cols)}


def as_map(rows) -> dict[str, tuple]:
    return {r[0]: tuple(r[1:]) for r in rows}


class Workload:
    """Interface shared by the workloads; see the module docstring."""

    sf = 0.1
    tables = ("orders",)  # corpus tables to generate
    keyed = (ORDERS,)  # keyed tables a load builds
    warm_ops = 1
    curve_chunk = 1  # ops per point of the warm-up curve
    ops_multiple = 1  # the window ends on a multiple of this many ops

    def prepare(self, bench) -> None:
        """Generate inputs (untimed)."""
        self.sf_dir = os.path.join(bench.run_dir, "data")
        self.corpus = datagen.write_corpus(self.sf_dir, bench.seed, self.sf, self.tables)
        self.orders_tbl = keyed_orders_arrow(self.corpus["orders"])
        self.handed_bytes = self.orders_tbl.nbytes

    def load(self, bench, wh: str) -> None:
        """Build the keyed tables under warehouse ``wh``."""
        self.sess = self.session(bench, wh)
        self.load_ledger = helpers.InodeLedger(wh)
        self.load_tables(bench)
        self.load_ledger.observe()

    def load_tables(self, bench) -> None:
        load_keyed(bench, self.sess, orders_spec(), keyed_orders_df(bench.spark, self.sf_dir))

    def op(self, bench, i: int) -> bool:
        raise NotImplementedError

    def after_warmup(self, bench) -> None:
        pass

    def after_op(self, bench, i: int) -> None:
        pass

    def final_check(self, bench) -> None:
        pass

    def session(self, bench, wh: str):
        from spark_sql_hbase_spark.session import EngineSession

        return EngineSession(spark=bench.spark, warehouse_dir=wh)

    def amplification(self, bench) -> tuple[float, float]:
        """(write_amp, space_amp); by default over the load."""
        return (self.load_ledger.new_bytes / self.handed_bytes,
                space_amp(self.sess.store, self.keyed))

    def layer_extras(self, bench) -> dict:
        store = self.sess.store
        files = helpers.scan_files(store.table_root(store.registry.get(ORDERS)))
        data, side = helpers.split_bytes(files)
        bloom = sum(s for s, p in files.values() if p.endswith(".bf"))
        return {
            "bloom.sidecar_bytes_frac": bloom / (data + side),
            "keyed_parquet.live_files": sum(len(store.read(q).inputFiles()) for q in self.keyed),
            "keyed_parquet.generations": sum(len(store.generations(q)) for q in self.keyed),
        }


def current_data_bytes(store, qualified_names) -> int:
    """Bytes of the data files of the tables' current generations, each
    inode once."""
    seen = {}
    for q in qualified_names:
        for uri in store.read(q).inputFiles():
            st = os.stat(uri[len("file:"):] if uri.startswith("file:") else uri)
            seen[helpers.file_identity(st)] = st.st_size
    return sum(seen.values())


def space_amp(store, qualified_names) -> float:
    everything = helpers.scan_files(store.warehouse_dir)
    return sum(s for s, _ in everything.values()) / current_data_bytes(store, qualified_names)


def load_keyed(bench, sess, spec, df) -> None:
    with bench.span("keyed_parquet.ctas", table=spec.qualified_name):
        sess.store.ctas(spec, df)


# ---------------------------------------------------------------------------
# kv_read
# ---------------------------------------------------------------------------
class KvRead(Workload):
    """Point gets, key-cursor pages and row_key SQL on keyed ``orders``."""

    sf = 0.1
    warm_ops = 6
    curve_chunk = 2
    # one op: this fixed sequence of calls
    PLAN = ("get", "get", "page", "get", "sql_point", "get", "page", "get", "sql_range", "get")
    GET_KEYS = 8
    PAGE = 100
    RANGE = 20

    def prepare(self, bench):
        super().prepare(bench)
        self.expected = rows_by_key(self.orders_tbl)
        self.keys = sorted(self.expected)

    def op(self, bench, i):
        rng = np.random.default_rng([bench.seed, i])
        store, n, ok = self.sess.store, len(self.keys), True
        for kind in self.PLAN:
            if kind == "get":
                keys = [self.keys[j] for j in rng.integers(0, n, self.GET_KEYS)]
                with bench.span("keyed_parquet.get.call"):
                    df = store.get(ORDERS, keys)
                with bench.span("keyed_parquet.get.collect"):
                    rows = df.collect()
                bench.annotate("keyed_parquet.get.call", lambda: {
                    "files_read": len(df.inputFiles()), "keys": len(set(keys))})
                want = {k: self.expected[k] for k in keys}
            elif kind == "page":
                after = self.keys[int(rng.integers(0, n))]
                with bench.span("keyed_parquet.scan_page.call"):
                    df = store.scan_page(ORDERS, self.PAGE, after_key=after)
                with bench.span("keyed_parquet.scan_page.collect"):
                    rows = df.collect()
                bench.annotate("keyed_parquet.scan_page.call", lambda: {
                    "files_read": len(df.inputFiles())})
                lo = bisect.bisect_right(self.keys, after)
                want = {k: self.expected[k] for k in self.keys[lo:lo + self.PAGE]}
                ok &= [r[0] for r in rows] == sorted(want)  # pages come in key order
            else:
                a = int(rng.integers(0, n - self.RANGE))
                if kind == "sql_point":
                    stmt = f"SELECT * FROM {ORDERS} WHERE row_key = '{self.keys[a]}'"
                    want = {self.keys[a]: self.expected[self.keys[a]]}
                else:
                    lo, hi = self.keys[a], self.keys[a + self.RANGE]
                    stmt = f"SELECT * FROM {ORDERS} WHERE row_key >= '{lo}' AND row_key < '{hi}'"
                    want = {k: self.expected[k] for k in self.keys[a:a + self.RANGE]}
                with bench.span("sqlfront.sql.call"):
                    df = self.sess.sql(stmt)
                with bench.span("sqlfront.sql.collect"):
                    rows = df.collect()
                bench.annotate("sqlfront.sql.call", lambda: {
                    "pushed_filters": len(pushed(df))})
            ok &= len(rows) == len(want) and as_map(rows) == want
        return ok


def pushed(df):
    from spark_sql_hbase_spark.plans.pushdown import pushed_filters

    return pushed_filters(df)


# ---------------------------------------------------------------------------
# kv_write
# ---------------------------------------------------------------------------
class KvWrite(Workload):
    """Commit cycles on keyed ``orders``, shipped to a replica that owns
    a covered index."""

    sf = 0.01
    warm_ops = 2
    curve_chunk = 1
    UPSERT_OLD, UPSERT_NEW, DELETES, INCREMENTS, PAGE = 400, 100, 100, 100, 100
    # Cycles 0, 2, 4, ... compact; the window runs whole pairs of cycles,
    # so every window holds as many compacting cycles as plain ones.
    COMPACT_EVERY = 2
    ops_multiple = COMPACT_EVERY

    def load(self, bench, wh):
        from spark_sql_hbase_spark.sources.keyed_parquet import KeyedTableStore

        super().load(bench, wh)
        store = self.sess.store
        self.replica = KeyedTableStore(bench.spark, wh + "-replica")
        with bench.span("keyed_parquet.snapshot"):
            store.snapshot(ORDERS, "ship0")
        with bench.span("keyed_parquet.export_snapshot"):
            store.export_snapshot("ship0", self.replica.warehouse_dir)
        with bench.span("keyed_parquet.clone_snapshot"):
            self.replica.clone_snapshot("ship0", ORDERS)
        with bench.span("keyed_parquet.create_covered_index"):
            self.replica.create_covered_index(
                ORDERS, INDEX, index_col="o:status",
                include=["o:totalprice"], key_width=2, mode="overwrite",
            )
        self.snap = "ship0"
        self.schema = store.read(ORDERS).schema
        self.model = rows_by_key(self.orders_tbl)
        self.next_key = self.orders_tbl.num_rows
        # the window's writes: new files in both warehouses, rows handed
        self.ledger = helpers.InodeLedger(wh, self.replica.warehouse_dir)
        self.handed = 0

    def _store_call(self, bench, name, fn, *args, **kw):
        """One store call in a span, with the files it wrote (distinct
        inodes, both warehouses) recorded on the span."""
        with bench.span(f"keyed_parquet.{name}") as rec:
            out = fn(*args, **kw)
        files, nbytes = self.ledger.observe()
        if rec is not None:
            rec.update(files_written=files, bytes_written=nbytes)
        return out

    def op(self, bench, i):
        spark, store = bench.spark, self.sess.store
        rng = np.random.default_rng([bench.seed, i])
        live = sorted(self.model)
        picked = rng.choice(len(live), self.UPSERT_OLD + self.DELETES + self.INCREMENTS,
                            replace=False)
        old = [live[j] for j in picked[:self.UPSERT_OLD]]
        dels = [live[j] for j in picked[self.UPSERT_OLD:self.UPSERT_OLD + self.DELETES]]
        incs = [live[j] for j in picked[self.UPSERT_OLD + self.DELETES:]]
        new = [rk(self.next_key + j) for j in range(self.UPSERT_NEW)]
        self.next_key += self.UPSERT_NEW
        day0 = dt.datetime(1995, 1, 1)
        upserts = {
            k: (int(rng.integers(0, 10_000)), "O", float(np.round(rng.uniform(900, 5e5), 2)),
                day0 + dt.timedelta(days=int(rng.integers(0, 2400))), "3-MEDIUM", 0)
            for k in old + new
        }
        schema = self.schema
        up_df = spark.createDataFrame([(k, *v) for k, v in upserts.items()], schema)
        del_df = spark.createDataFrame([(k,) for k in dels], "row_key string")
        ops = [{"op": "increment", "key": k, "col": "o:hits", "delta": 1} for k in incs]
        self.handed += (
            pa.Table.from_pylist([dict(zip(schema.names, (k, *v))) for k, v in upserts.items()]).nbytes
            + pa.table({"row_key": dels}).nbytes
            + pa.table({"row_key": incs, "delta": [1] * len(incs)}).nbytes
        )

        self._store_call(bench, "upsert", store.upsert, ORDERS, up_df)
        self.model.update(upserts)
        self._store_call(bench, "delete_keys", store.delete_keys, ORDERS, del_df)
        for k in dels:
            del self.model[k]
        results = self._store_call(bench, "mutate", store.mutate, ORDERS, ops)
        ok = True
        for k, res in zip(incs, results):
            row = self.model[k]
            self.model[k] = row[:-1] + (row[-1] + 1,)
            ok &= bool(res.get("applied")) and res.get("value") == row[-1] + 1
        # verify: read back keys this cycle wrote
        verify = [new[0], *old[:3], *incs[:4]]
        with bench.span("keyed_parquet.get.call"):
            df = store.get(ORDERS, verify)
        with bench.span("keyed_parquet.get.collect"):
            rows = df.collect()
        bench.annotate("keyed_parquet.get.call", lambda: {
            "files_read": len(df.inputFiles()), "keys": len(verify)})
        ok &= as_map(rows) == {k: self.model[k] for k in verify}
        # verify page: the key cursor across the newest keys
        after = rk(self.next_key - self.UPSERT_NEW - self.PAGE // 2)
        with bench.span("keyed_parquet.scan_page.call"):
            df = store.scan_page(ORDERS, self.PAGE, after_key=after)
        with bench.span("keyed_parquet.scan_page.collect"):
            rows = df.collect()
        bench.annotate("keyed_parquet.scan_page.call", lambda: {
            "files_read": len(df.inputFiles())})
        page = [k for k in sorted(self.model) if k > after][: self.PAGE]
        ok &= [r[0] for r in rows] == page and as_map(rows) == {k: self.model[k] for k in page}
        # ship: changes since the last snapshot, replayed on the replica
        feed = self._store_call(bench, "read_changes", store.read_changes, ORDERS, versus=self.snap)
        self._store_call(bench, "apply_changes", self.replica.apply_changes, ORDERS, feed)
        nxt = f"ship{i + 1}"
        self._store_call(bench, "snapshot", store.snapshot, ORDERS, nxt)
        store.delete_snapshot(self.snap)
        self.snap = nxt
        if i % self.COMPACT_EVERY == 0:
            self._store_call(bench, "compact_minor", store.compact_minor, ORDERS)
        return ok

    def after_op(self, bench, i):
        """Replica count and checksum equal the source's and the model's
        count, after every ship."""
        src = checksum(self.sess.store.read(ORDERS))
        dst = checksum(self.replica.read(ORDERS))
        bench.check(src == dst and src[0] == len(self.model),
                    f"cycle {i}: replica {dst} vs source {src}, model {len(self.model)}")

    def final_check(self, bench):
        got = as_map(self.sess.store.read(ORDERS).collect())
        bench.check(got == self.model, "full table differs from the model")
        bench.check(as_map(self.replica.read(ORDERS).collect()) == self.model,
                    "replica differs from the model")
        idx = self.replica.read(INDEX).count()
        bench.check(idx == len(self.model), f"index rows {idx} vs {len(self.model)}")

    def amplification(self, bench):
        return (self.ledger.new_bytes / self.handed,
                space_amp(self.sess.store, self.keyed))


def checksum(df):
    from pyspark.sql import functions as F

    h = F.pmod(F.xxhash64(*df.columns), F.lit(2**31 - 1))
    r = df.select(F.count(F.lit(1)), F.sum(h)).first()
    return int(r[0]), int(r[1] or 0)


# ---------------------------------------------------------------------------
# olap_suite
# ---------------------------------------------------------------------------
MEMBERS = (
    "zd07_topk_parts_per_supplier",
    "zd21_sessionization",
    "zd22_asof_join",
    "zf01_minhash_lsh_neardup",
    "zb08_ann_topk",
    "zb17_token_stats",
    "z43_stream_windowed_counts",
)
LINEITEM_FAMILY = {
    "l": {
        "orderkey": "long",
        "partkey": "long",
        "suppkey": "long",
        "quantity": "double",
        "extendedprice": "double",
        "discount": "double",
        "returnflag": "string",
        "tag": "string",
    }
}
SQL_MEMBERS = {
    "sql_scan_agg": (
        f"SELECT `l:returnflag` AS flag, COUNT(*) AS n, SUM(`l:quantity`) AS qty "
        f"FROM {LINEITEM} WHERE row_key >= '{rk(1000)}' AND row_key < '{rk(9000)}' "
        "AND `l:tag` LIKE '%24%' GROUP BY `l:returnflag`",
        "SELECT l_returnflag AS flag, COUNT(*) AS n, SUM(l_quantity) AS qty "
        "FROM lineitem WHERE l_orderkey >= 1000 AND l_orderkey < 9000 "
        "AND printf('%d-%d', l_partkey, l_suppkey) LIKE '%24%' GROUP BY l_returnflag",
    ),
    "sql_join_agg": (
        f"SELECT o.`o:priority` AS priority, COUNT(*) AS n, "
        "CAST(SUM(CAST(l.`l:extendedprice` AS DECIMAL(12, 2)) "
        "* (1 - CAST(l.`l:discount` AS DECIMAL(4, 2)))) AS DOUBLE) AS revenue "
        f"FROM {ORDERS} o JOIN {LINEITEM} l ON CAST(o.row_key AS BIGINT) = l.`l:orderkey` "
        "WHERE o.`o:status` = 'F' GROUP BY o.`o:priority`",
        "SELECT o_orderpriority AS priority, COUNT(*) AS n, "
        "CAST(SUM(CAST(l_extendedprice AS DECIMAL(12, 2)) "
        "* (1 - CAST(l_discount AS DECIMAL(4, 2)))) AS DOUBLE) AS revenue "
        "FROM orders JOIN lineitem ON o_orderkey = l_orderkey "
        "WHERE o_orderstatus = 'F' GROUP BY o_orderpriority",
    ),
}


class Collected:
    """Collected rows in the shape ``tests/oracle.compare`` reads."""

    def __init__(self, columns, rows):
        self.columns, self._rows = columns, rows

    def collect(self):
        return self._rows


class OlapSuite(Workload):
    """One pass: two SQL statements over keyed tables plus seven
    registry queries (operators, UDF boundary, one streaming gate)."""

    sf = 0.01
    tables = ("orders", "lineitem", "events", "documents", "embeddings")
    keyed = (ORDERS, LINEITEM)
    warm_ops = 1
    curve_chunk = 1
    # at least two passes a window, however long one pass takes
    ops_multiple = 2

    def prepare(self, bench):
        super().prepare(bench)
        from spark_sql_hbase_spark.queries import load_all

        self.registry = load_all()
        li = self.corpus["lineitem"]
        self.handed_bytes += pa.table({
            "row_key": pa.array([f"{o:010d}{n}" for o, n in zip(
                li.column("l_orderkey").to_pylist(), li.column("l_linenumber").to_pylist())]),
            "l:orderkey": li.column("l_orderkey"),
            "l:partkey": li.column("l_partkey"),
            "l:suppkey": li.column("l_suppkey"),
            "l:quantity": li.column("l_quantity"),
            "l:extendedprice": li.column("l_extendedprice"),
            "l:discount": li.column("l_discount"),
            "l:returnflag": li.column("l_returnflag"),
            "l:tag": pa.array([f"{p}-{s}" for p, s in zip(
                li.column("l_partkey").to_pylist(), li.column("l_suppkey").to_pylist())]),
        }).nbytes
        self.hashes: dict[str, str] = {}
        self.first_pass: dict[str, Collected] = {}

    def load_tables(self, bench):
        from pyspark.sql import functions as F

        from spark_sql_hbase_spark.catalog import TableSpec
        from spark_sql_hbase_spark.queries import table

        li = table(bench.spark, self.sf_dir, "lineitem")
        li_df = li.select(
            F.concat(F.lpad(F.col("l_orderkey").cast("string"), KEY_WIDTH, "0"),
                     F.col("l_linenumber").cast("string")).alias("row_key"),
            F.col("l_orderkey").alias("l:orderkey"),
            F.col("l_partkey").alias("l:partkey"),
            F.col("l_suppkey").alias("l:suppkey"),
            F.col("l_quantity").alias("l:quantity"),
            F.col("l_extendedprice").alias("l:extendedprice"),
            F.col("l_discount").alias("l:discount"),
            F.col("l_returnflag").alias("l:returnflag"),
            F.format_string("%d-%d", "l_partkey", "l_suppkey").alias("l:tag"),
        )
        spec = TableSpec(namespace=NS, name="lineitem", key_type="string",
                         families=LINEITEM_FAMILY, properties={"BLOOMFILTER": "ROW"})
        load_keyed(bench, self.sess, spec, li_df)
        super().load_tables(bench)

    def op(self, bench, i):
        spark, ok = bench.spark, True
        for name, (stmt, _oracle) in SQL_MEMBERS.items():
            with bench.span(f"olap.{name}", pyworkers=True):
                with bench.span("sqlfront.sql.call"):
                    df = self.sess.sql(stmt)
                with bench.span("sqlfront.sql.collect"):
                    rows = df.collect()
            bench.annotate("sqlfront.sql.call", lambda: {"pushed_filters": len(pushed(df))})
            ok &= self._record(name, df.columns, rows)
        for name in MEMBERS:
            with bench.span(f"olap.{name}", pyworkers=True):
                df = self.registry[name].fn(spark, self.sf_dir)
                rows = df.collect()
            ok &= self._record(name, df.columns, rows)
        spark.catalog.clearCache()
        return ok

    def _record(self, name, columns, rows) -> bool:
        """Every pass must return the same result as the first."""
        digest = hashlib.sha256(repr(sorted(map(repr, rows))).encode()).hexdigest()
        if name not in self.hashes:
            self.hashes[name] = digest
            self.first_pass[name] = Collected(columns, rows)
            return True
        return self.hashes[name] == digest

    def after_warmup(self, bench):
        """Every member of the first pass against its DuckDB oracle."""
        sys.path.insert(0, os.path.join(bench.root, "tests"))
        from oracle import compare

        for name, (_stmt, oracle_sql) in SQL_MEMBERS.items():
            ok, msg = compare(self.first_pass[name], oracle_sql, self.sf_dir)
            bench.check(ok, f"{name}: {msg}")
        for name in MEMBERS:
            ok, msg = compare(self.first_pass[name], self.registry[name].oracle, self.sf_dir)
            bench.check(ok, f"{name}: {msg}")


WORKLOADS = {"kv_read": KvRead, "kv_write": KvWrite, "olap_suite": OlapSuite}
