"""Spans and Spark job labels around calls into each crawl layer.

Everything here patches module attributes from the outside for the
length of one crawl and restores them afterwards; the program itself is
not edited. Two depths:

- ``observe``: only ``IndexSink.append_upserts`` is wrapped, to time the
  first commit (``first_index_s``) and count the rows each append wrote
  (the accounting check). This is what untraced runs install.
- ``trace``: every layer entry point is wrapped. The outermost wrapped
  call on a thread sets the Spark local property ``perfbench.layer`` to
  its layer, and the label stays until the next outermost wrapped call
  on that thread. Most operators only build plans, so the jobs that
  materialize a plan right after the call (``localCheckpoint``,
  ``collect``) carry the label of the call that built it. Nested
  wrapped calls record spans but keep the outer label, except
  ``select_batch``, whose schedule job is the last thing its caller
  runs. ``plans.crawl._BgTask`` runs its callable on a plain thread,
  which inherits no local properties, so the callable is wrapped to set
  its label inside the thread.

A span is (name, layer, start, end, parent, thread). A label segment is
the wall time a thread spent under one label. Both stay in memory and
are written out when the run ends. The time the tracer's own code takes
inside the crawl (bookkeeping, label round trips to the JVM, footer
reads) is summed as ``self_s``: the tracing overhead.
"""

from __future__ import annotations

import functools
import glob
import itertools
import os
import threading
import time

LABEL_KEY = "perfbench.layer"

# _BgTask callables, by __name__, and the layer each one works for
_BG_LAYERS = {
    "IncrementalUrlFilter": "seen",
    "append_deletes": "incremental",
    "_write_ckpt": "checkpoint",
    "_write_delta_ckpt": "checkpoint",
    "_schedule": "politeness.schedule",
    "_discover_schedule": "linkgraph",
}


def parquet_rows(d: str) -> int:
    """Rows of a parquet directory, from the file footers alone."""
    import pyarrow.parquet as pq
    return sum(pq.read_metadata(f).num_rows
               for f in glob.glob(os.path.join(d, "*.parquet")))


def dir_bytes(d: str) -> int:
    return sum(os.path.getsize(os.path.join(r, f))
               for r, _, fs in os.walk(d) for f in fs)


class Tracer:
    """Owns the spans, counters and patches of one crawl."""

    def __init__(self, spark, trace: bool):
        self.sc = spark.sparkContext
        self.trace = trace
        self.spans: list = []
        self.segments: list = []          # (thread, layer, start, end)
        self.counts: dict = {}
        self.first_upsert_end: float | None = None
        self.serving_form: int | None = None
        self._ids = itertools.count(1)
        self._root: int | None = None
        self._lock = threading.Lock()
        self._tls = threading.local()
        self._patches: list = []

    # -- spans, labels and counters -----------------------------------------

    def _stack(self) -> list:
        if not hasattr(self._tls, "stack"):
            self._tls.stack = []
        return self._tls.stack

    @property
    def self_s(self) -> float:
        return self.counts.get("trace.self_s", 0.0)

    def _charge(self, since: float) -> None:
        """Count the time from ``since`` to now as tracer overhead."""
        self.add("trace.self_s", time.perf_counter() - since)

    def add(self, key: str, value: float = 1.0) -> None:
        with self._lock:
            self.counts[key] = self.counts.get(key, 0.0) + value

    def _label(self, layer: str | None) -> None:
        """Switch this thread's label, closing its open segment."""
        now = time.time()
        seg = getattr(self._tls, "segment", None)
        if seg is not None:
            with self._lock:
                self.segments.append((seg[0], seg[1], seg[2], now))
        self._tls.segment = ((threading.current_thread().name, layer, now)
                             if layer else None)
        self.sc.setLocalProperty(LABEL_KEY, layer)

    def _call(self, fn, name: str, layer: str | None, args, kwargs,
              relabel_nested: bool = False, parent: int | None = None):
        t_in = time.perf_counter()
        stack = self._stack()
        if layer and (not stack or relabel_nested):
            self._label(layer)
        if parent is None:
            parent = stack[-1] if stack else self._root
        span = {"id": next(self._ids), "name": name, "layer": layer,
                "parent": parent,
                "thread": threading.current_thread().name,
                "start": time.time(), "end": None}
        stack.append(span["id"])
        self._charge(t_in)
        try:
            return fn(*args, **kwargs)
        finally:
            t_out = time.perf_counter()
            stack.pop()
            span["end"] = time.time()
            with self._lock:
                self.spans.append(span)
            self._charge(t_out)

    def run_root(self, fn, *args, **kwargs):
        """Call ``fn`` (``run_crawl``) as the root span. Glue jobs the
        crawl driver runs outside any wrapped call carry the label
        ``crawl``; the root does not count as an outer call, so the
        layer calls it makes still set their own labels."""
        t_in = time.perf_counter()
        self._root = next(self._ids)
        if self.trace:
            self._label("crawl")
        self._charge(t_in)
        span = {"id": self._root, "name": "plans.crawl.run_crawl",
                "layer": "crawl", "parent": None,
                "thread": threading.current_thread().name,
                "start": time.time(), "end": None}
        try:
            return fn(*args, **kwargs)
        finally:
            span["end"] = time.time()
            with self._lock:
                self.spans.append(span)

    def wall(self, name: str) -> float:
        return sum(s["end"] - s["start"] for s in self.spans
                   if s["name"] == name)

    def segment_wall(self, layer: str, thread: str | None = None) -> float:
        return sum(e - s for t, lay, s, e in self.segments
                   if lay == layer and (thread is None or t == thread))

    # -- patching ------------------------------------------------------------

    def _patch(self, owner, attr: str, wrapper) -> None:
        self._patches.append((owner, attr, owner.__dict__[attr]))
        setattr(owner, attr, wrapper)

    def _wrap(self, owner, attr: str, layer: str | None,
              relabel_nested: bool = False, after=None) -> None:
        fn = getattr(owner, attr)
        name = f"{getattr(owner, '__name__', owner)}.{attr}"
        tracer = self

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            result = tracer._call(fn, name, layer, args, kwargs,
                                  relabel_nested)
            if after is not None:
                t_after = time.perf_counter()
                after(args, result)
                tracer._charge(t_after)
            return result

        self._patch(owner, attr, wrapper)

    def close(self) -> None:
        """Undo every patch, close the caller's label segment and clear
        its label, so later jobs on this thread are unlabelled."""
        for owner, attr, orig in reversed(self._patches):
            setattr(owner, attr, orig)
        self._patches.clear()
        if self.trace:
            self._label(None)

    def install(self) -> "Tracer":
        from ftw_crawler_spark.operators.indexsink import IndexSink

        def upserted(args, _result):
            sink, batch_id = args[0], args[2]
            if self.first_upsert_end is None:
                self.first_upsert_end = time.perf_counter()
            self.add("indexsink.rows_written", parquet_rows(
                os.path.join(sink.delta_root, f"batch={batch_id}")))
            self.add("indexsink.append_calls")

        self._wrap(IndexSink, "append_upserts",
                   "indexsink" if self.trace else None, after=upserted)
        if self.trace:
            self._install_layers()
        return self

    def _install_layers(self) -> None:
        from ftw_crawler_spark.operators import (indexsink, linkgraph,
                                                 politeness, robots, seen)
        from ftw_crawler_spark.plans import crawl

        def deletes_written(args, _result):
            sink, batch_id = args[0], args[2]
            self.add("incremental.purge_rows", parquet_rows(os.path.join(
                sink.delta_root, f"batch={batch_id}_deletes")))

        def filter_built(args, _result):
            if self.serving_form is None:
                self.serving_form = int(args[0].is_broadcastable)

        self._wrap(crawl, "build_frontier", "sitemaps")
        self._wrap(crawl, "purge_candidates", "incremental")
        self._wrap(indexsink.IndexSink, "append_deletes", "incremental",
                   after=deletes_written)
        self._wrap(seen.IncrementalUrlFilter, "__init__", "seen",
                   after=filter_built)
        self._wrap(seen.IncrementalUrlFilter, "add", "seen")
        self._wrap(seen.IncrementalUrlFilter, "add_bytes", "seen")
        self._wrap(crawl, "_annotate_frontier", "annotate")
        self._wrap(robots, "robots_crawl_delays", "annotate")
        self._wrap(politeness, "initial_host_state", "politeness.state")
        self._wrap(politeness, "updated_host_state", "politeness.state")
        self._wrap(politeness, "select_batch", "politeness.schedule",
                   relabel_nested=True)
        self._wrap(crawl, "_batch_resources", "extraction")
        self._wrap(crawl, "extract_documents", "extraction")
        self._wrap(indexsink.IndexSink, "compact", "indexsink.compact")
        self._wrap(linkgraph, "candidates_from_links", "linkgraph")
        self._patch(crawl, "_BgTask", self._bg_task_class(crawl._BgTask))

    def _bg_task_class(self, base):
        tracer = self

        class TracedBgTask(base):
            def __init__(self, fn, *args):
                name = getattr(fn, "__name__", type(fn).__name__)
                self._layer = _BG_LAYERS.get(name, "bg." + name)
                parent = (tracer._stack() or [None])[-1]

                def run(*a):
                    try:
                        result = tracer._call(fn, "bg." + name,
                                              self._layer, a, {},
                                              parent=parent)
                    finally:
                        t_out = time.perf_counter()
                        tracer._label(None)
                        tracer._charge(t_out)
                    if name in ("_write_ckpt", "_write_delta_ckpt"):
                        t_out = time.perf_counter()
                        kind = "full" if name == "_write_ckpt" else "delta"
                        tracer.add(f"checkpoint.{kind}_writes")
                        tracer.add("checkpoint.bytes", dir_bytes(
                            os.path.join(a[0], f"batch={a[1]}")))
                        tracer._charge(t_out)
                    return result

                super().__init__(run, *args)

            def join(self):
                t0 = time.perf_counter()
                try:
                    return super().join()
                finally:
                    tracer.add(f"join_wait.{self._layer}",
                               time.perf_counter() - t0)

        return TracedBgTask
