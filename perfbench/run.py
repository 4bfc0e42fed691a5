"""Benchmark entry point.  Run from the root of a checkout:

    python3 perfbench/run.py --workload kv_write --seed 1 --seconds 8 --trace 0

One workload per process, one client, on a local Spark deployment pinned
here (not inherited from ``build_spark`` defaults).  The last line of
stdout is one JSON object: ``correct``, ``attempted``, ``failed`` and
``metrics`` (the end-to-end metrics, or with ``--trace 1`` the per-layer
ones).  A diagnostics line on stderr carries the deployment, the warm-up
curve, ``calib_s``, the CPU steal share, the tail percentile and
``op_fail_frac``.  Exits 1 when a correctness check failed and 2 when it
cannot run at all.  See ``perfbench/README.md``.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import signal
import subprocess
import sys
import tempfile
import time
import traceback

T_START = time.perf_counter()

DRIVER_MEMORY = "3g"
SHUFFLE_PARTITIONS = 8
HASH_SEED = "0"

E2E_UNITS = {
    "setup_s": "s",
    "ops_per_s": "1/s",
    "op_p50_ms": "ms",
    "cpu_ms_per_op": "ms",
    "driver_rss_mb": "MB",
    "jvm_heap_live_mb": "MB",
    "write_amp": "ratio",
    "space_amp": "ratio",
}


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=("kv_read", "kv_write", "olap_suite"))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


class Bench:
    """One run: the pinned session, the op loop, checks and metrics."""

    def __init__(self, args, root: str, run_dir: str):
        self.seed, self.seconds, self.traced = args.seed, args.seconds, bool(args.trace)
        self.workload_name = args.workload
        self.root, self.run_dir = root, run_dir
        self.attempted = self.failed = 0
        self.op_s: dict[int, float] = {}
        self.op_cpu_s: dict[int, float] = {}
        self.spark = self.tracer = self.jvm_pid = None

    # -- deployment ------------------------------------------------------
    def deployment(self) -> dict:
        return {
            "cpus": len(os.sched_getaffinity(0)),
            "shuffle_partitions": SHUFFLE_PARTITIONS,
            "driver_memory": DRIVER_MEMORY,
            "PYTHONHASHSEED": HASH_SEED,
            "SPARK_LOCAL_DIRS": "<checkout>/" + os.path.relpath(self.dir("local"), self.root),
            "warehouse": "<checkout>/" + os.path.relpath(self.dir("wh"), self.root),
            "seed": self.seed,
            "traced": self.traced,
        }

    def dir(self, name: str) -> str:
        return os.path.join(self.run_dir, name)

    def pin_environment(self) -> None:
        """Everything the run creates stays under the run directory."""
        for d in ("local", "tmp", "events"):
            os.makedirs(self.dir(d), exist_ok=True)
        os.environ.update(
            PYTHONHASHSEED=HASH_SEED,
            PYTHONPATH=os.pathsep.join(filter(None, [self.root, os.environ.get("PYTHONPATH")])),
            PYSPARK_PYTHON=sys.executable,
            SPARK_LOCAL_DIRS=self.dir("local"),
            TMPDIR=self.dir("tmp"),
            TZ="UTC",
        )
        time.tzset()
        tempfile.tempdir = self.dir("tmp")

    def start_spark(self) -> float:
        from spark_sql_hbase_spark.session import build_spark

        from perfbench.spans import Tracer

        conf = {
            "spark.driver.memory": DRIVER_MEMORY,
            # no hsperfdata file in the system temp dir
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={self.dir('tmp')} -XX:-UsePerfData",
        }
        if self.traced:
            conf.update({
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + self.dir("events"),
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            })
        t = time.perf_counter()
        self.spark = build_spark(
            app_name=f"perfbench-{self.workload_name}",
            cpus=len(os.sched_getaffinity(0)),
            shuffle_partitions=SHUFFLE_PARTITIONS,
            warehouse_dir=self.dir("spark-warehouse"),
            extra_conf=conf,
        )
        build_s = time.perf_counter() - t
        self.spark.sparkContext.setLogLevel("ERROR")
        if self.traced:
            self.tracer = Tracer(self.spark)
        self.jvm_pid = int(self.spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid())
        return build_s

    # -- spans and checks ------------------------------------------------
    @contextlib.contextmanager
    def span(self, name: str, op: int | None = None, pyworkers: bool = False, **attrs):
        """A traced span; with ``pyworkers`` it also records the CPU the
        Python workers spent inside it."""
        if not self.traced:
            yield None
            return
        with self.tracer.span(name, op, **attrs) as rec:
            c0 = self.worker_cpu_s() if pyworkers else 0.0
            try:
                yield rec
            finally:
                if pyworkers:
                    rec["pyworker_cpu_ms"] = (self.worker_cpu_s() - c0) * 1000

    def annotate(self, name: str, attrs) -> None:
        """Traced run only: add ``attrs()`` to the latest span ``name``.
        Counting (input files, pushed filters) plans the query again, so
        it happens after the span closed."""
        if self.traced:
            rec = next(s for s in reversed(self.tracer.spans) if s["name"] == name)
            rec.update(attrs())

    def check(self, ok: bool, what: str) -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            print(f"perfbench: CHECK FAILED: {what}", file=sys.stderr)

    # -- cpu ---------------------------------------------------------------
    def cpu_pids(self) -> list[int]:
        from perfbench.helpers import descendants

        return [os.getpid(), *descendants(self.jvm_pid)]

    def worker_cpu_s(self) -> float:
        from perfbench.helpers import descendants, tree_cpu_seconds

        return tree_cpu_seconds(descendants(self.jvm_pid)[1:])

    # -- the op loop -------------------------------------------------------
    def run_op(self, wl, i: int) -> None:
        from perfbench.helpers import tree_cpu_seconds

        pids = self.cpu_pids()
        c0, t0 = tree_cpu_seconds(pids), time.perf_counter()
        try:
            with self.span("op", op=i):
                ok = wl.op(self, i)
        except Exception:  # an op that raises is a failed op; keep measuring
            traceback.print_exc()
            ok = False
        self.op_s[i] = time.perf_counter() - t0
        self.op_cpu_s[i] = tree_cpu_seconds(pids) - c0
        self.check(ok, f"op {i} returned a wrong result or raised")
        try:
            wl.after_op(self, i)
        except Exception:  # a check that raises is a failed check
            traceback.print_exc()
            self.check(False, f"checks after op {i} raised")

    def run_window(self, wl, first: int) -> list[int]:
        """Ops from ``first`` until their summed latency reaches
        ``--seconds`` and the count is a multiple of ``wl.ops_multiple``."""
        ops, busy = [], 0.0
        while busy < self.seconds or len(ops) % wl.ops_multiple:
            i = first + len(ops)
            self.run_op(wl, i)
            ops.append(i)
            busy += self.op_s[i]
        return ops

    def curve(self, ops, chunk: int) -> list[float]:
        """Throughput (ops/s) of consecutive chunks of ops."""
        out = []
        for j in range(0, len(ops) - chunk + 1, chunk):
            part = ops[j:j + chunk]
            out.append(round(len(part) / sum(self.op_s[i] for i in part), 3))
        return out

    # -- machine and memory probes -----------------------------------------
    def calibration_s(self) -> float:
        """A fixed sort-aggregate, independent of the engine's code: a
        witness of machine drift only."""
        from pyspark.sql import functions as F

        t = time.perf_counter()
        (self.spark.range(0, 1_000_000, 1, 16)
         .groupBy((F.col("id") % 100_000).alias("g"))
         .agg(F.sum("id").alias("s"), F.count(F.lit(1)).alias("c"))
         .orderBy("s").count())
        return time.perf_counter() - t

    def stop_spark(self) -> None:
        """Stop the session, then the JVM, and wait until the JVM and
        its Python workers have exited; kill what does not exit."""
        from pyspark import SparkContext

        from perfbench.helpers import descendants

        if self.spark is None:
            return
        spark, self.spark = self.spark, None
        pids = descendants(self.jvm_pid)
        gateway = SparkContext._gateway
        try:
            spark.stop()
            gateway.shutdown()
        finally:
            proc = gateway.proc
            proc.stdin.close()  # the JVM exits when its stdin closes
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
            SparkContext._gateway = SparkContext._jvm = None
            deadline = time.monotonic() + 30
            while alive := [p for p in pids if os.path.exists(f"/proc/{p}")]:
                if time.monotonic() > deadline:
                    for p in alive:
                        with contextlib.suppress(ProcessLookupError):
                            os.kill(p, signal.SIGKILL)
                time.sleep(0.05)

    def jvm_heap_live_mb(self) -> float:
        """Used heap after a forced full GC; the least of three rounds.
        The pauses let Spark's cleaner drop broadcast and shuffle blocks
        whose owners the previous GC found unreachable."""
        jvm = self.spark.sparkContext._jvm
        rt = jvm.java.lang.Runtime.getRuntime()
        used = []
        for _ in range(3):
            jvm.java.lang.System.gc()
            used.append(rt.totalMemory() - rt.freeMemory())
            time.sleep(0.25)
        return min(used) / 2**20


def run(bench, args, root: str) -> dict:
    from perfbench import helpers
    from perfbench.workloads import WORKLOADS

    bench.pin_environment()
    wl = WORKLOADS[args.workload]()
    t = time.perf_counter()
    wl.prepare(bench)  # input generation is not set-up of the system
    prepare_s = time.perf_counter() - t

    # One keyed load: the first in a JVM costs ~11 s and a repeat ~3 s, so
    # a median over repeats would mix cold and warm loads (README, Choices).
    build_s = bench.start_spark()
    t = time.perf_counter()
    with bench.span("load"):
        wl.load(bench, bench.dir("wh"))
    load_s = time.perf_counter() - t
    setup_s = build_s + load_s

    t = time.perf_counter()
    warm = list(range(wl.warm_ops))
    for i in warm:
        bench.run_op(wl, i)
    warm_s = time.perf_counter() - t
    wl.after_warmup(bench)
    t, steal0 = time.perf_counter(), helpers.steal_ticks()
    window = bench.run_window(wl, len(warm))
    window_s = time.perf_counter() - t
    steal1 = helpers.steal_ticks()
    steal_frac = (steal1[0] - steal0[0]) / max(1, steal1[1] - steal0[1])
    t = time.perf_counter()
    wl.final_check(bench)

    lat = [bench.op_s[i] for i in window]
    write_amp, space_amp = wl.amplification(bench)
    calib_s = bench.calibration_s()
    e2e = {
        "setup_s": setup_s,
        "ops_per_s": len(window) / sum(lat),
        "op_p50_ms": helpers.median(lat) * 1000,
        "cpu_ms_per_op": sum(bench.op_cpu_s[i] for i in window) / len(window) * 1000,
        "driver_rss_mb": helpers.vm_hwm_mb(),
        "jvm_heap_live_mb": bench.jvm_heap_live_mb(),
        "write_amp": write_amp,
        "space_amp": space_amp,
    }
    extras = wl.layer_extras(bench) if bench.traced else {}
    end_s = time.perf_counter() - t
    t = time.perf_counter()
    bench.stop_spark()
    stop_s = time.perf_counter() - t

    tail = helpers.tail(lat)
    diag = {
        "workload": args.workload,
        "deployment": bench.deployment(),
        "phases_s": {k: round(v, 2) for k, v in (
            ("prepare", prepare_s), ("build", build_s), ("load", load_s),
            ("warmup", warm_s), ("window", window_s), ("checks_and_probes", end_s),
            ("stop", stop_s))},
        "window_ops": len(window),
        "op_tail_ms": ({"percentile": tail[0], "value": round(tail[1] * 1000, 3), "n": tail[2]}
                       if tail else f"omitted: {len(lat)} samples, a tail needs "
                                    f"{helpers.TAIL_MIN_BEYOND} beyond it"),
        "op_fail_frac": bench.failed / max(1, bench.attempted),
        "warmup_curve_ops_per_s": bench.curve(warm, wl.curve_chunk),
        "window_curve_ops_per_s": bench.curve(window, wl.curve_chunk),
        "calib_s": round(calib_s, 3),
        "window_cpu_steal_frac": round(steal_frac, 4),
        "run_wall_s": round(time.perf_counter() - T_START, 1),
    }
    if bench.traced:
        from perfbench.layers import UNITS, layer_metrics

        metrics, units = layer_metrics(bench, wl, window, build_s, calib_s, extras), UNITS
        out_dir = os.path.join(root, ".perfbench_out")
        os.makedirs(out_dir, exist_ok=True)
        span_file = os.path.join(out_dir, f"spans-{args.workload}-seed{args.seed}.jsonl")
        bench.tracer.write(span_file)
        diag["span_file"] = os.path.relpath(span_file, root)
        diag["traced_e2e"] = {k: round(v, 4) for k, v in e2e.items()}
    else:
        metrics, units = e2e, E2E_UNITS
    print("perfbench: " + json.dumps(diag), file=sys.stderr)
    return {
        "correct": bench.failed == 0,
        "attempted": bench.attempted,
        "failed": bench.failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
    }


def main(argv=None) -> int:
    args = parse_args(argv)
    root = os.getcwd()
    if not os.path.isdir(os.path.join(root, "spark_sql_hbase_spark")):
        print("perfbench: run from the root of a checkout of the engine "
              "(no spark_sql_hbase_spark/ here)", file=sys.stderr)
        return 2
    sys.path.insert(0, root)
    run_dir = os.path.join(root, ".perfbench_runs", f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(run_dir)
    # a terminated run still stops Spark and removes its directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    bench = Bench(args, root, run_dir)
    try:
        result = run(bench, args, root)
    finally:
        try:
            bench.stop_spark()
        finally:
            shutil.rmtree(run_dir, ignore_errors=True)
            with contextlib.suppress(OSError):  # other runs may still use it
                os.rmdir(os.path.dirname(run_dir))
    print(json.dumps(result))
    return 0 if result["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
