"""Per-layer metrics of a traced run, folded from its spans and Spark's
event log.  Every workload reports every metric; a layer a workload does
not call reads 0 there (the "predicted flat" side of each pairing in
``perfbench/README.md``)."""

from __future__ import annotations

import statistics

from perfbench import spans as sp
from perfbench.workloads import MEMBERS, SQL_MEMBERS

COMMITS = ("upsert", "delete_keys", "mutate", "read_changes", "apply_changes", "compact_minor")
OLAP = (*SQL_MEMBERS, *MEMBERS)

UNITS: dict[str, str] = {
    "session.build_s": "s",
    "keyed_parquet.ctas_s": "s",
    "keyed_parquet.load_files": "count",
    "keyed_parquet.load_bytes": "bytes",
    "keyed_parquet.get_call_ms": "ms",
    "keyed_parquet.get_collect_ms": "ms",
    "keyed_parquet.get_files_read": "count",
    "keyed_parquet.get_files_per_key": "ratio",
    "keyed_parquet.scan_page_call_ms": "ms",
    "keyed_parquet.scan_page_collect_ms": "ms",
    "keyed_parquet.scan_page_files_read": "count",
    "bloom.sidecar_bytes_frac": "ratio",
    "sqlfront.sql_call_ms": "ms",
    "sqlfront.sql_collect_ms": "ms",
    "sqlfront.pushed_filters": "count",
    **{f"keyed_parquet.{c}_{m}": u for c in COMMITS
       for m, u in (("ms", "ms"), ("jobs", "count"), ("files_written", "count"),
                    ("bytes_written", "bytes"))},
    "keyed_parquet.live_files": "count",
    "keyed_parquet.generations": "count",
    "spark.jobs_per_op": "count",
    "spark.tasks_per_op": "count",
    "spark.job_wall_ms_per_op": "ms",
    "spark.task_ms_per_op": "ms",
    "spark.gc_ms_per_op": "ms",
    "spark.shuffle_bytes_per_op": "bytes",
    "spark.input_bytes_per_op": "bytes",
    "driver.outside_jobs_ms_per_op": "ms",
    **{f"olap.{m}_{k}": u for m in OLAP
       for k, u in (("ms", "ms"), ("jobs", "count"), ("shuffle_bytes", "bytes"),
                    ("pyworker_cpu_ms", "ms"))},
    "streaming.batches": "count",
    "streaming.batch_ms": "ms",
    "streaming.commit_ms": "ms",
    "calib_s": "s",
    "trace.op_p50_ms": "ms",
}


def _med(values) -> float:
    values = list(values)
    return float(statistics.median(values)) if values else 0.0


def layer_metrics(bench, wl, window, build_s: float, calib_s: float, extras: dict) -> dict:
    spans = bench.tracer.spans
    folded = sp.fold_event_log(bench.dir("events"))
    sp.attribute(spans, folded)
    in_window = set(window)

    def named(name):
        return [s for s in spans if s["name"] == name and s["op"] in in_window]

    def dur_ms(name):
        return _med((s["end"] - s["start"]) * 1000 for s in named(name))

    def attr(name, key):
        return _med(s[key] for s in named(name) if key in s)

    m = {k: 0.0 for k in UNITS}
    m["session.build_s"] = build_s
    m["keyed_parquet.ctas_s"] = sum(
        s["end"] - s["start"] for s in spans if s["name"] == "keyed_parquet.ctas")
    m["keyed_parquet.load_files"] = wl.load_ledger.new_files
    m["keyed_parquet.load_bytes"] = wl.load_ledger.new_bytes

    for call in ("get", "scan_page"):
        m[f"keyed_parquet.{call}_call_ms"] = dur_ms(f"keyed_parquet.{call}.call")
        m[f"keyed_parquet.{call}_collect_ms"] = dur_ms(f"keyed_parquet.{call}.collect")
        m[f"keyed_parquet.{call}_files_read"] = attr(f"keyed_parquet.{call}.call", "files_read")
    m["keyed_parquet.get_files_per_key"] = _med(
        s["files_read"] / s["keys"] for s in named("keyed_parquet.get.call"))
    m["sqlfront.sql_call_ms"] = dur_ms("sqlfront.sql.call")
    m["sqlfront.sql_collect_ms"] = dur_ms("sqlfront.sql.collect")
    m["sqlfront.pushed_filters"] = attr("sqlfront.sql.call", "pushed_filters")

    for c in COMMITS:
        name = f"keyed_parquet.{c}"
        m[f"{name}_ms"] = dur_ms(name)
        m[f"{name}_jobs"] = attr(name, "jobs")
        m[f"{name}_files_written"] = attr(name, "files_written")
        m[f"{name}_bytes_written"] = attr(name, "bytes_written")
    m.update(extras)

    # Spark, per op of the window
    totals = dict.fromkeys(("jobs", "tasks", "task_ms", "gc_ms", "shuffle_bytes", "input_bytes"), 0)
    job_wall = outside = 0.0
    for root in (s for s in spans if s["name"] == "op" and s["op"] in in_window):
        tree = sp.subtree(spans, root["id"])
        for k in totals:
            totals[k] += sum(s[k] for s in tree)
        wall_ms = sp.covered([iv for s in tree for iv in s["job_intervals"]])
        job_wall += wall_ms
        outside += (root["end"] - root["start"]) * 1000 - wall_ms
    n = len(window)
    m["spark.jobs_per_op"] = totals["jobs"] / n
    m["spark.tasks_per_op"] = totals["tasks"] / n
    m["spark.task_ms_per_op"] = totals["task_ms"] / n
    m["spark.gc_ms_per_op"] = totals["gc_ms"] / n
    m["spark.shuffle_bytes_per_op"] = totals["shuffle_bytes"] / n
    m["spark.input_bytes_per_op"] = totals["input_bytes"] / n
    m["spark.job_wall_ms_per_op"] = job_wall / n
    m["driver.outside_jobs_ms_per_op"] = outside / n

    for member in OLAP:
        rows = named(f"olap.{member}")
        trees = [sp.subtree(spans, s["id"]) for s in rows]
        m[f"olap.{member}_ms"] = dur_ms(f"olap.{member}")
        m[f"olap.{member}_jobs"] = _med(sum(s["jobs"] for s in t) for t in trees)
        m[f"olap.{member}_shuffle_bytes"] = _med(sum(s["shuffle_bytes"] for s in t) for t in trees)
        m[f"olap.{member}_pyworker_cpu_ms"] = attr(f"olap.{member}", "pyworker_cpu_ms")

    # streaming progress events over every pass of the run
    progress = folded["progress"]
    if progress:
        passes = len(bench.op_s)
        m["streaming.batches"] = len(progress) / passes
        m["streaming.batch_ms"] = _med(p["durationMs"].get("triggerExecution", 0) for p in progress)
        m["streaming.commit_ms"] = _med(
            p["durationMs"].get("commitOffsets", 0) + p["durationMs"].get("walCommit", 0)
            for p in progress)

    m["calib_s"] = calib_s
    m["trace.op_p50_ms"] = _med(bench.op_s[i] * 1000 for i in window)
    assert set(m) == set(UNITS), sorted(set(m) ^ set(UNITS))
    return m
