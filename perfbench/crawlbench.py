"""Measure crawls of one workload in this process and print the result.

    python3 perfbench/crawlbench.py --workload W --seed N --seconds S \
        --trace 0|1 --world DIR

run.py starts this in a fresh process once the pool of worlds exists,
so that ``setup_s`` (process start to a ready session) includes JVM
start, session creation and the first Arrow-UDF job that starts the
Python workers, and so that every measured crawl is the same: the first
crawl of a fresh process, as a one-shot ``crawl_submit`` job would run
it.

``--trace 0`` crawls back to back until ``--seconds`` have passed (at
least once) and reports the end-to-end metrics as medians over those
crawls. ``--trace 1`` runs one traced crawl in a session that writes a
Spark event log and reports the per-layer metrics; tracing overhead is
the time the tracer's own code took inside that crawl.
"""

from __future__ import annotations

import argparse
import glob
import json
import os
import shutil
import statistics
import sys
import tempfile
import threading
import time
import traceback

import pandas as pd

import checks
import common
import eventlog
import proctree
import tracing

SKIP_REASONS = ("robots_disallowed", "not_modified", "redirect",
                "fetch_error")
READS = 3
MAIN = threading.main_thread().name


def log(msg: str) -> None:
    age = proctree.process_age_s(os.getpid())
    print(f"[perfbench {age:6.1f}s] {msg}", file=sys.stderr, flush=True)


def _plus_one(s: pd.Series) -> pd.Series:
    return s + 1


def ready_session(extra_conf: dict | None = None):
    """Start the session and run one Arrow UDF job, which starts the
    Python workers; returns (spark, seconds since process start)."""
    from pyspark.sql import functions as F

    spark = common.session(extra_conf)
    n = common.cpus()
    plus_one = F.pandas_udf(_plus_one, "long")
    spark.range(8 * n, numPartitions=n).select(plus_one("id")).collect()
    return spark, proctree.process_age_s(os.getpid())


def index_read_s(spark, result, expect_rows: int, label: bool) -> float:
    """Median time for a reader to resolve the final index and count it."""
    if label:
        spark.sparkContext.setLocalProperty(tracing.LABEL_KEY,
                                            "indexsink.read")
    times = []
    try:
        for _ in range(READS):
            t0 = time.perf_counter()
            n = result.index().count()
            times.append(time.perf_counter() - t0)
            if n != expect_rows:
                raise AssertionError(f"index has {n} rows, expected "
                                     f"{expect_rows}")
    finally:
        if label:
            spark.sparkContext.setLocalProperty(tracing.LABEL_KEY, None)
    log("index reads: " + " ".join(f"{t:.3f}" for t in times))
    return statistics.median(times)


def crawl_once(spark, workload: str, world: str, expected: dict,
               trace: bool) -> dict:
    """One checked crawl, followed by the index reads; raises
    AssertionError when a check fails."""
    from ftw_crawler_spark.plans.crawl import run_crawl

    wl = common.WORKLOADS[workload]
    out = tempfile.mkdtemp(prefix="crawl_", dir=os.path.join(common.CACHE,
                                                             "tmp"))
    pid = os.getpid()
    tracer = tracing.Tracer(spark, trace).install()
    try:
        cpu0 = proctree.tree_cpu_s(pid)
        rss = proctree.PeakRss(pid)
        t0_epoch, t0 = time.time(), time.perf_counter()
        try:
            result = tracer.run_root(run_crawl, spark, world, out,
                                     crawl_time=common.CRAWL_TIME,
                                     **wl)
            crawl_s = time.perf_counter() - t0
        finally:
            t1_epoch = time.time()
            peak = rss.stop()
            tracer.close()
        cpu_s = proctree.tree_cpu_s(pid) - cpu0

        problems, terms = checks.accounting(
            result, out, tracer.counts.get("indexsink.rows_written", 0),
            expected)
        follow = wl.get("follow_links", False)
        problems += checks.output(result, expected, follow)
        if problems:
            raise AssertionError("; ".join(problems))
        run = {
            "e2e": {
                "urls_per_s": terms["indexed"] / crawl_s,
                "crawl_s": crawl_s,
                "first_index_s": tracer.first_upsert_end - t0,
                "cpu_s": cpu_s,
                "peak_rss_mb": peak / 1e6,
            },
            "result": result, "tracer": tracer, "terms": terms,
            "generations": sum(1 for h in result.sink.history()
                               if h["kind"] != "base"),
            "window": (t0_epoch, t1_epoch),
        }
        t_read0 = time.time()
        run["e2e"]["index_read_s"] = index_read_s(
            spark, result, len(expected["index"])
            + follow * len(expected["hidden"]), trace)
        run["read_window"] = (t_read0, time.time())
        return run
    finally:
        shutil.rmtree(out, ignore_errors=True)


def layer_metrics(run: dict, roll: dict, read_roll: dict,
                  setup_s: float) -> dict:
    tr, result, terms = run["tracer"], run["result"], run["terms"]
    labels, c = roll["labels"], tr.counts

    def lab(label: str, key: str) -> float:
        return labels.get(label, {}).get(key, 0.0)

    def both(key: str) -> float:
        # the extraction UDF runs in the sink's write stage
        return lab("extraction", key) + lab("indexsink", key)

    def calls(*names) -> float:
        return float(sum(1 for s in tr.spans if s["name"] in names))

    crawl_s = run["e2e"]["crawl_s"]
    task_s = sum(v["task_s"] for v in labels.values())
    unattributed = lab(None, "task_s")
    batches = [x for x in result.metrics if "admitted" in x]
    plan = next(x for x in result.metrics if x.get("event") == "plan")
    disc = [x for x in result.metrics if x.get("event") == "discovery"]
    candidates = sum(x["candidates"] for x in disc)
    seen_add = ("IncrementalUrlFilter.add", "IncrementalUrlFilter.add_bytes")
    m = {
        "session.start_s": setup_s,
        "sitemaps.wall_s": tr.segment_wall("sitemaps", MAIN),
        "sitemaps.task_s": lab("sitemaps", "task_s"),
        "sitemaps.frontier_rows": terms["frontier_rows"],
        "sitemaps.site_errors": sum(1 for x in result.metrics
                                    if x.get("event") == "site_error"),
        "incremental.purge_wall_s": tr.wall("bg.append_deletes")
        + tr.segment_wall("incremental", MAIN),
        "incremental.purge_rows": c.get("incremental.purge_rows", 0.0),
        "incremental.purge_join_wait_s": c.get("join_wait.incremental", 0.0),
        "seen.build_wall_s": tr.wall("IncrementalUrlFilter.__init__"),
        "seen.build_join_wait_s": c.get("join_wait.seen", 0.0),
        "seen.add_calls": calls(*seen_add),
        "seen.add_wall_s": sum(tr.wall(n) for n in seen_add),
        "seen.serving_form": tr.serving_form,
        "annotate.task_s": lab("annotate", "task_s"),
        "annotate.wall_s": tr.segment_wall("annotate", MAIN),
        "annotate.shuffle_mb": lab("annotate", "shuffle_mb"),
        **{f"annotate.skips.{r}": plan["skips"].get(r, 0)
           for r in SKIP_REASONS},
        "politeness.batches": result.batches,
        "politeness.admitted_mean": (terms["admitted"] / len(batches)
                                     if batches else 0.0),
        "politeness.schedule_task_s": lab("politeness.schedule", "task_s"),
        "politeness.schedule_wait_s":
            c.get("join_wait.politeness.schedule", 0.0)
            + c.get("join_wait.linkgraph", 0.0),
        "politeness.state_update_s": tr.segment_wall("politeness.state",
                                                     MAIN),
        "extraction.docs": terms["indexed"],
        "extraction.task_s": both("udf_task_s"),
        "extraction.python_s": both("python_s"),
        "extraction.arrow_mb_to_python": both("arrow_mb_to_python"),
        "indexsink.append_calls": c.get("indexsink.append_calls", 0.0),
        "indexsink.append_wall_s": tr.wall("IndexSink.append_upserts"),
        "indexsink.rows_written": c.get("indexsink.rows_written", 0.0),
        "indexsink.delta_generations": run["generations"],
        "indexsink.compactions": calls("IndexSink.compact"),
        "indexsink.read_task_s":
            read_roll["labels"].get("indexsink.read", {}).get("task_s",
                                                              0.0) / READS,
        "linkgraph.discover_wall_s": tr.segment_wall("linkgraph"),
        "linkgraph.candidates": candidates,
        "linkgraph.enqueued": terms["enqueued"],
        "linkgraph.enqueued_per_candidate": (terms["enqueued"] / candidates
                                             if candidates else 0.0),
        "checkpoint.full_writes": c.get("checkpoint.full_writes", 0.0),
        "checkpoint.delta_writes": c.get("checkpoint.delta_writes", 0.0),
        "checkpoint.bytes": c.get("checkpoint.bytes", 0.0),
        "checkpoint.write_wall_s": tr.wall("bg._write_ckpt")
        + tr.wall("bg._write_delta_ckpt"),
        "checkpoint.join_wait_s": c.get("join_wait.checkpoint", 0.0),
        "crawl.jobs": roll["jobs"],
        "crawl.tasks": sum(v["tasks"] for v in labels.values()),
        "crawl.task_s": task_s,
        "crawl.core_busy_frac": task_s / (crawl_s * common.cpus()),
        "crawl.driver_idle_s": roll["idle_s"],
        "crawl.gc_s": sum(v["gc_s"] for v in labels.values()),
        "crawl.shuffle_mb": sum(v["shuffle_mb"] for v in labels.values()),
        "crawl.unattributed_task_s": unattributed,
        "crawl.attributed_frac": (1.0 - unattributed / task_s
                                  if task_s else 0.0),
        "trace.crawl_s": crawl_s,
        "trace.overhead_s": tr.self_s,
    }
    return {k: float(v) for k, v in m.items()}


def write_trace(path: str, run: dict, roll: dict) -> None:
    tr = run["tracer"]
    with open(path, "w") as fh:
        json.dump({"spans": sorted(tr.spans, key=lambda s: s["start"]),
                   "segments": tr.segments, "counts": tr.counts,
                   "accounting": run["terms"],
                   "event_log": {str(k): v
                                 for k, v in roll["labels"].items()}},
                  fh, indent=1)


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True,
                    choices=sorted(common.WORKLOADS))
    ap.add_argument("--seed", type=int, default=42)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--world", required=True)
    a = ap.parse_args()
    with open(os.path.join(a.world, "expected.json")) as fh:
        expected = json.load(fh)

    evdir = None
    conf = {}
    if a.trace:
        evdir = tempfile.mkdtemp(prefix="eventlog_",
                                 dir=os.path.join(common.CACHE, "tmp"))
        conf = {"spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + evdir,
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false"}
    spark, setup_s = ready_session(conf)
    log(f"setup {setup_s:.2f} s")

    runs, attempted, failed = [], 0, 0
    deadline = time.perf_counter() + a.seconds
    try:
        while True:
            attempted += 1
            try:
                run = crawl_once(spark, a.workload, a.world, expected,
                                 bool(a.trace))
                runs.append(run)
                log(f"crawl {attempted}{' (traced)' if a.trace else ''}: "
                    f"{run['result'].batches} batches, "
                    + ", ".join(f"{k} {v:.3f}"
                                for k, v in run["e2e"].items()))
            except Exception:   # noqa: BLE001 — counted and reported
                failed += 1
                log(f"crawl {attempted} failed:\n{traceback.format_exc()}")
            if a.trace or time.perf_counter() >= deadline:
                break
    finally:
        spark.stop()
        log("session stopped")

    metrics = {}
    if a.trace and not failed:
        traced_run = runs[0]
        log_path = glob.glob(os.path.join(evdir, "*"))[0]
        ev = eventlog.read(log_path)
        roll = eventlog.rollup(ev, *traced_run["window"])
        read_roll = eventlog.rollup(ev, *traced_run["read_window"])
        values = layer_metrics(traced_run, roll, read_roll, setup_s)
        units = {m["name"]: m["unit"]
                 for m in common.benchmark()["per_layer"]}
        metrics = {k: {"value": v, "unit": units[k]}
                   for k, v in values.items()}
        os.makedirs(os.path.join(common.CACHE, "traces"), exist_ok=True)
        write_trace(os.path.join(common.CACHE, "traces",
                                 f"{a.workload}-s{a.seed}.json"),
                    traced_run, roll)
    elif runs and not a.trace:
        units = {m["name"]: m["unit"]
                 for m in common.benchmark()["end_to_end"]}
        for k in runs[0]["e2e"]:
            metrics[k] = {"value": statistics.median(
                r["e2e"][k] for r in runs), "unit": units[k]}
        metrics["setup_s"] = {"value": setup_s, "unit": units["setup_s"]}
    if evdir:
        shutil.rmtree(evdir, ignore_errors=True)

    for k, v in metrics.items():
        print(f"{a.workload:<20} {k:<34} {v['value']:>14.4f} {v['unit']}")
    print(f"{a.workload:<20} {'failed_run_frac':<34} "
          f"{failed / attempted:>14.4f} frac  ({attempted} crawls, "
          f"{len(runs)} passed)")
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))
    return 1 if failed else 0


if __name__ == "__main__":
    sys.exit(main())
