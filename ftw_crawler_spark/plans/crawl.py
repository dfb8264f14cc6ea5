"""The crawl micro-batch loop (M3-M5): the reference's ``bin/crawl``
re-expressed as a sequence of DataFrame micro-batches.

Reference lifecycle (main.py:69-162, SURVEY.md §3.1): per site —
discover+parse sitemaps → scan index → purge removed docs → per URL:
last-indexed lookup → is_modified / redirect / status gates → fetch →
extract → upsert into Solr. Here each *crawl iteration* is one
micro-batch over the whole (multi-site) frontier:

1. frontier = sitemap discovery+expansion (cached — the reference
   memoizes parsed sitemaps for reuse by purge + crawl,
   sitemap.py:70-77,191-198);
2. purge anti-join → tombstones (once per run, before crawling,
   main.py:102);
3. annotate frontier: last-indexed join against the PRE-RUN index
   snapshot (the reference queries Solr once per site before its loop,
   main.py:99 — this run's own upserts are invisible to is_modified),
   fetch-status join, warc_ts join (column-pruned: html is NOT read
   here), skip_reason classification (F4/F7/F8);
4. loop, one step per batch in both modes: join the prefetched
   politeness schedule → write the previous batch's checkpoint →
   host-state update (429 doubling) + exact anti-join of the admitted
   rows → page-store join (html/text read only for admitted rows) →
   extraction projection → upsert append → (follow-links) outlink
   discovery. The prefetch thread runs ``_discover_schedule``: link
   discovery over the batch's outlinks (none in plain mode) and then
   the next schedule. Plain mode is the follow-links step with no
   links: its prefetch launches before extraction, because its next
   schedule depends only on the state transition.

Determinism: the schedule is a pure function of (frontier,
host_state); crawl_seq is carried into the index (lineage) so the
reference's global order is reconstructible; crawl_time is pinned in
run_meta.json so resume is bit-stable (no wall-clock in the plan).

Resume: checkpoints/batch=K holds ONE combined *state* parquet — for a
full snapshot (batch -1 and every ``ckpt_full_every`` batches) the
whole remaining frontier + host rows, for a delta the batch's tiny
politeness-capped processed crawl_seq set + changed host rows + the
rows discovered at that batch — one write, one job either way, with a
``_COMMIT`` marker recording the kind (``full`` | ``delta``) written
LAST (row kinds inside the file split on the crawl_seq null pattern).
Every batch's checkpoint is written at the next prefetch join, once
its discoveries are known, so a full snapshot holds the grown
frontier. Delta checkpoints bound write amplification: a full rewrite
per batch is O(frontier × batches) at a 10^10-row frontier, while a
delta is proportional to the batch. Resume reconstructs
``remaining = (last_full_snapshot ∪ discovered) ANTI-JOIN
∪(processed deltas)``; a crash between sink append and commit replays
batch K idempotently (upsert-by-UID makes the replay a no-op).

Compaction: when the sink's MOR delta log exceeds ``compact_every``
generations it is folded into a fresh base snapshot mid-run, bounding
the read-side LWW window cost (the Iceberg MOR maintenance analog).
"""

from __future__ import annotations

import json
import os
import threading
import time
from dataclasses import dataclass, field
from datetime import datetime

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ftw_crawler_spark import config as cfg
from ftw_crawler_spark.functions.urls import canonical_url_col
from ftw_crawler_spark.operators import linkgraph, politeness, robots, seen
from ftw_crawler_spark.operators.extraction import extract_documents
from ftw_crawler_spark.operators.incremental import (
    is_modified_col, purge_candidates, with_last_indexed)
from ftw_crawler_spark.operators.indexsink import IndexSink
from ftw_crawler_spark.operators.sitemaps import build_frontier
from ftw_crawler_spark.sources.synth import default_sites

DEFAULT_CRAWL_TIME = datetime(2026, 1, 15, 12, 0, 0)

# crawl_seq space for link-discovered frontier rows: sitemap rows use
# site_id·2^40 + ordinal (operators/sitemaps._with_crawl_seq — far below
# 2^62), discovered rows hash into [2^62, 2^62 + 2^61). The hash keys on
# the CANONICAL url, so the seq is a pure function of the frontier (no
# task-order dependence); same-batch collisions are deduped with a
# deterministic min-loc winner, and the residual cross-batch collision
# odds (~2^-61 per pair) are the family's accepted 60-bit posture
# (operators/dedup.md5_long).
DISCOVERED_SEQ_BASE = 1 << 62
_DISCOVERED_SEQ_MOD = 1 << 61


def load_run_metrics(out_dir: str) -> list:
    """All metrics rows of a run: the append-only ``metrics.jsonl``
    lines (one O(1) append per batch instead of rewriting the whole
    history, which is O(batches²) file I/O over a long crawl). A torn
    final line (crash mid-append) is skipped; the metrics are
    observability/lineage, never resume inputs."""
    rows: list = []
    jl = os.path.join(out_dir, "metrics.jsonl")
    if os.path.exists(jl):
        with open(jl) as fh:
            for line in fh:
                line = line.strip()
                if line:
                    try:
                        rows.append(json.loads(line))
                    except ValueError:
                        pass   # torn tail from a crash mid-append
    return rows


@dataclass
class CrawlResult:
    out_dir: str
    batches: int
    metrics: list = field(default_factory=list)
    sink: IndexSink | None = None

    def index(self) -> DataFrame:
        return self.sink.current()


def sites_df(spark: SparkSession, sites: list) -> DataFrame:
    schema = T.StructType([
        T.StructField("site_id", T.IntegerType()),
        T.StructField("url", T.StringType()),
        T.StructField("sleeptime", T.DoubleType()),
        T.StructField("crawler_site_id", T.StringType()),
        T.StructField("attributes",
                      T.MapType(T.StringType(), T.StringType())),
    ])
    return spark.createDataFrame(
        [(s.site_id, s.url, s.sleeptime, s.crawler_site_id,
          s.attributes) for s in sites], schema)


def _load_world(spark: SparkSession, world_dir: str,
                pages_table: str | None = None) -> dict:
    """``pages_table`` names a bucketed catalog table
    (sources/pagestore.py) to use as the page store instead of the
    world's plain parquet — the fetch-simulate join then reads the big
    side in place (no per-batch shuffle of page bytes)."""
    world = {
        "sitemaps": spark.read.parquet(f"{world_dir}/sitemaps.parquet"),
        "pages": (spark.table(pages_table) if pages_table
                  else spark.read.parquet(f"{world_dir}/pages.parquet")),
        "index0": spark.read.parquet(f"{world_dir}/index0.parquet"),
        "fetch_status": spark.read.parquet(
            f"{world_dir}/fetch_status.parquet"),
    }
    robots_path = f"{world_dir}/robots.parquet"
    world["robots"] = (spark.read.parquet(robots_path)
                       if os.path.exists(robots_path) else None)
    return world


def _annotate_frontier(frontier: DataFrame, world: dict,
                       index_current: DataFrame | None,
                       sites_dim: DataFrame, force: bool,
                       expected_indexed: int | None = None,
                       index_filter: "seen.IncrementalUrlFilter | None"
                       = None,
                       not_due: DataFrame | None = None) -> DataFrame:
    """Steps F3/F4/F7/F8 as one narrow-column pass; html untouched.

    ``expected_indexed`` sizes the seen bloom filter without a count
    job (run_crawl reads it from the index base's parquet footers).
    ``index_filter``: a prebuilt seen filter over ``index_current``'s
    urls — callers that annotate repeatedly against the same immutable
    index snapshot (link discovery, every batch) or that can overlap
    the build with other plan-phase jobs pass one instead of paying a
    fresh O(index) filter build per call. The filter is a PRE-filter
    over the same url set, so results are bit-identical either way.
    ``not_due``: optional (loc) relation of urls the adaptive recrawl
    scheduler says are not yet due — they skip with 'not_due' BEFORE
    any fetch-dependent gate (the whole point: a not-due url costs no
    page-store touch). None (the default) adds no join and no column —
    plan bit-identical to the ungated path."""
    pages_meta = world["pages"].select(F.col("url").alias("loc"),
                                       "warc_ts")
    fs = world["fetch_status"].select(
        F.col("url").alias("loc"), "status", "n_429",
        F.col("headers").alias("header_overrides"))

    df = frontier.join(pages_meta, "loc", "left")
    df = df.join(fs, "loc", "left")
    if not_due is not None:
        # one url-keyed shuffle join against a narrow (loc) relation —
        # the same scale class as the F3 last-indexed join
        df = df.join(not_due.select(
            "loc", F.lit(True).alias("__not_due")), "loc", "left")
    df = df.withColumn("status", F.coalesce(F.col("status"), F.lit(200)))
    df = df.withColumn("n_429", F.coalesce(F.col("n_429"), F.lit(0)))

    # robots gate (north rule): broadcast per-host rules, pure-column
    # longest-prefix evaluation; checked BEFORE any fetch-dependent
    # logic (a compliant crawler never fetches a disallowed path)
    if world.get("robots") is not None:
        rules = robots.robots_rules(world["robots"])
        df = robots.apply_robots(df, rules, "loc")
    else:
        df = df.withColumn("robots_allowed", F.lit(True))

    if index_current is not None:
        # bloom prune: urls surely not indexed skip the exact join.
        # The serving form is picked by filter size — driver-bytes
        # broadcast here (small index), the end-to-end (shard, bits)
        # relation above BROADCAST_MAX_BYTES
        if index_filter is not None:
            new, cand = index_filter.split(df, "loc")
        else:
            new, cand = seen.split_by_index(
                df, index_current.select("url"), "loc", "url",
                expected_items=expected_indexed)
        cand = with_last_indexed(cand, index_current, sites_dim)
        new = new.withColumn("last_indexed",
                             F.lit(None).cast("timestamp"))
        df = new.unionByName(cand)
    else:
        df = df.withColumn("last_indexed", F.lit(None).cast("timestamp"))

    modified = is_modified_col(force)
    page_found = F.col("warc_ts").isNotNull()
    skip = F.when(~F.col("robots_allowed"),
                  F.lit("robots_disallowed"))              # RFC 9309 gate
    if not_due is not None:
        # adaptive recrawl gate (Cho & Garcia-Molina rate estimate):
        # after compliance, before every fetch-dependent gate
        skip = skip.when(F.col("__not_due"), F.lit("not_due"))
    skip = (skip
            .when(~modified, F.lit("not_modified"))        # fetcher.py:50-51
            .when(F.col("status").between(300, 399),
                  F.lit("redirect"))                       # fetcher.py:54-58
            .when((F.col("status") != 200) | ~page_found,
                  F.lit("fetch_error")))                   # fetcher.py:68-70
    return df.withColumn("skip_reason", skip).drop("__not_due")


def _annotate_discovered(cand: DataFrame, world: dict,
                         sites_dim: DataFrame, host_dim: DataFrame,
                         force: bool,
                         index_filter: "seen.IncrementalUrlFilter",
                         not_due: DataFrame | None = None) -> DataFrame:
    """Link-discovered candidates (loc, n_refs) → annotated frontier
    rows, shaped exactly like sitemap rows so they union into
    ``remaining`` and ride the same politeness/extraction path:

    - site_id via the broadcast host dim (candidates are already scoped
      to configured hosts);
    - ``priority`` = n_refs (in-reference count — well-linked pages
      first in priority order mode; sitemap priorities are ≤ 1.0, so
      discovered pages outrank them by design);
    - ``crawl_seq`` = DISCOVERED_SEQ_BASE + hash(canonical loc): a pure
      function of the url (deterministic, resume-stable), disjoint from
      the sitemap ordinal space; same-batch hash collisions resolve to
      a deterministic min-loc winner;
    - the same ``_annotate_frontier`` pass as sitemap rows (robots,
      last-indexed against the PRE-RUN index, fetch status, skip
      classification).
    """
    host = F.lower(F.parse_url(F.col("loc"), F.lit("HOST")))
    cand = (cand.withColumn("host", host)
            .join(F.broadcast(host_dim), "host")
            .withColumn(
                "crawl_seq",
                F.lit(DISCOVERED_SEQ_BASE)
                + F.pmod(F.xxhash64("loc"),
                         F.lit(_DISCOVERED_SEQ_MOD))))
    # deterministic min-loc winner on (astronomically rare) same-batch
    # seq collisions — crawl_seq is the row identity the processed
    # anti-join and checkpoints key on, so it must be unique
    cand = (cand.groupBy("crawl_seq")
            .agg(F.min(F.struct("loc", "n_refs", "host",
                                "site_id")).alias("__w"))
            .select("crawl_seq", F.col("__w.loc").alias("loc"),
                    F.col("__w.n_refs").alias("n_refs"),
                    F.col("__w.host").alias("host"),
                    F.col("__w.site_id").alias("site_id")))
    frontier = cand.select(
        "site_id",
        F.lit(None).cast("string").alias("sitemap_url"),
        F.lit(0).cast("int").alias("sitemap_ord"),
        F.lit(0).cast("int").alias("url_ord"),
        "loc",
        F.lit(None).cast("string").alias("lastmod"),
        F.lit(None).cast("string").alias("changefreq"),
        F.col("n_refs").cast("string").alias("priority"),
        F.lit(None).cast("string").alias("target"),
        "host", "crawl_seq")
    return _annotate_frontier(frontier, world, world["index0"],
                              sites_dim, force,
                              index_filter=index_filter,
                              not_due=not_due)


def _batch_resources(batch: DataFrame, world: dict,
                     sites_dim: DataFrame) -> DataFrame:
    """Fetch-simulate (S6): page-store inner join (html/text read HERE
    only), synthesized response headers (content-type + last-modified =
    warc_ts, FIXTURES §1) merged with per-url overrides, site attrs via
    broadcast."""
    pages = world["pages"].select(
        F.col("url").alias("loc"), F.col("warc_ts").alias("__wts"),
        "html", "text")
    df = batch.join(pages, "loc", "inner")
    base_headers = F.create_map(
        F.lit("content-type"), F.lit("text/html; charset=utf-8"),
        F.lit("last-modified"),
        F.date_format("__wts", "yyyy-MM-dd'T'HH:mm:ss'Z'"))
    # override-wins merge without duplicate keys (map_concat raises
    # under the default EXCEPTION dedup policy when a per-url override
    # re-specifies content-type)
    ov = F.col("header_overrides")
    base_kept = F.map_filter(
        base_headers,
        lambda k, _: ~F.array_contains(F.map_keys(ov), k))
    headers = F.when(ov.isNotNull(),
                     F.map_concat(base_kept, ov)).otherwise(base_headers)
    df = df.withColumn("headers", headers)
    df = df.withColumn(
        "content_type",
        F.split(F.col("headers")["content-type"], ";").getItem(0))
    dim = sites_dim.select(
        "site_id", F.col("attributes").alias("site_attributes"),
        F.col("crawler_site_id").alias("__csid"))
    return df.join(F.broadcast(dim), "site_id", "left")


def run_crawl(spark: SparkSession, world_dir: str, out_dir: str,
              sites: list | None = None,
              config: cfg.CrawlerConfig | None = None,
              crawl_time: datetime | None = None,
              batch_seconds: float = 600.0,
              url: str | None = None, force: bool = False,
              max_batches: int | None = None,
              resume: bool = True,
              order_mode: str = "reference",
              pages_table: str | None = None,
              ckpt_full_every: int = 8,
              compact_every: int | None = 16,
              compact_delta_frac: float | None = 0.5,
              compact_min_bytes: int = 256 << 20,
              follow_links: bool = False,
              recrawl_from: str | None = None) -> CrawlResult:
    """Both modes run the same per-batch step (module docstring): one
    prefetch callable (``_discover_schedule``), one join site, one
    checkpoint policy. Every batch's checkpoint is handed to the
    background writer at the NEXT prefetch join, once the batch's
    discoveries are known (none in plain mode), so the per-batch
    ``sec_schedule`` covers that join plus the hand-off and the state
    transition, and ``sec_checkpoint`` times mid-run compaction only.

    ``follow_links`` turns on link-following frontier discovery (the
    north rule's priority queue actually GROWING from discovered
    anchors — the sitemap-driven reference never follows links): each
    batch's extraction emits resolved outlinks from its shared DOM
    parse (zero extra page reads), they are canonicalized, trap-gated
    (functions/urls.url_trap_cols), scoped to the configured sites'
    hosts, split against the enqueued-set (sharded bloom + exact
    anti-join), annotated like sitemap rows (robots / last-indexed /
    is_modified / status), and union into ``remaining`` with ``n_refs``
    (in-reference count) as the priority signal. Discovered rows ride
    the delta checkpoints (the frontier GROWS between fulls), so resume
    replays them exactly. Purge membership stays sitemap-only
    (reference semantics): a later run purges link-discovered docs
    unless they joined a sitemap. Single-URL mode (``url=``) disables
    discovery — F1/F2 semantics pin the run to exactly that URL.

    ``recrawl_from`` (the adaptive-recrawl gate, CLI --recrawl-from):
    path to a PRIOR run's index root. Its op log (base + deltas —
    ``IndexSink.op_log``, the CDC change-history surface) feeds
    ``recrawl_schedule`` (Cho & Garcia-Molina uniform-rate revisit
    estimation); frontier urls whose ``next_due_epoch`` is after this
    run's ``crawl_time`` skip with 'not_due' before any fetch-dependent
    gate. Urls without an observed change RATE (fewer than two distinct
    (url, modified) observations) are never gated — the scheduler only
    ever defers what it has evidence about, so an empty/rate-free
    history makes the gated run bit-identical to the ungated one
    (pinned by test_recrawl_gate). History reaches back to the prior
    sink's last compaction (snapshot-expiry semantics, as documented
    on ``as_of``) — beyond it, urls simply lose observations and fall
    back to always-due, never the other way around."""
    sites = sites if sites is not None else default_sites()
    config = config or cfg.default_config()

    def _build_not_due(ct: datetime) -> DataFrame | None:
        """(loc) relation of not-yet-due urls per the prior sink's
        change history; None when the gate is off or the prior sink is
        empty. Narrow (url-only) relation; lazily checkpointed because
        fresh-plus-discovery paths consume it repeatedly under
        different partitionings (the multi-consumer-sketch invariant).
        Epochs are UTC (calendar.timegm) to match Spark's
        unix_timestamp under the session's UTC timezone."""
        if not recrawl_from:
            return None
        import calendar

        from ftw_crawler_spark.operators.incremental import (
            change_observations, recrawl_schedule)
        prior = IndexSink(spark, recrawl_from, read_only=True)
        log = prior.op_log()
        if log is None:
            return None
        now_epoch = calendar.timegm(ct.utctimetuple())
        sched = recrawl_schedule(change_observations(log),
                                 entity_col="url", ts_col="ts")
        return (sched.filter(F.col("next_due_epoch") > F.lit(now_epoch))
                .select(F.col("url").alias("loc"))
                .localCheckpoint(eager=False))
    # background writers (checkpoint / purge / schedule-prefetch): kept
    # at function scope so the error paths below can join whatever is
    # outstanding — a daemon writer must never race interpreter
    # teardown mid-parquet-write, and its failure must never be
    # silently dropped behind the primary exception
    purge_writer = ckpt_writer = pending = idx_filter_task = None
    try:
        world = _load_world(spark, world_dir, pages_table=pages_table)
        sink = IndexSink(spark, os.path.join(out_dir, "index"))
        ckpt_root = os.path.join(out_dir, "checkpoints")
        os.makedirs(ckpt_root, exist_ok=True)
        meta_path = os.path.join(out_dir, "run_meta.json")
        metrics_jsonl = os.path.join(out_dir, "metrics.jsonl")
        flushed = 0     # metrics rows already appended to the jsonl

        def _flush_metrics():
            # append-only persistence: O(new rows) per call, never a
            # rewrite of the whole history (load_run_metrics reads it)
            nonlocal flushed
            if flushed < len(metrics):
                with open(metrics_jsonl, "ab+") as fh:
                    # repair a torn tail (crash mid-append left no
                    # newline): without this the next row glues onto
                    # the fragment and BOTH lines are lost to the
                    # loader's torn-line skip
                    fh.seek(0, os.SEEK_END)
                    if fh.tell() > 0:
                        fh.seek(-1, os.SEEK_END)
                        if fh.read(1) != b"\n":
                            fh.write(b"\n")
                    for m in metrics[flushed:]:
                        fh.write((json.dumps(m) + "\n").encode())
                flushed = len(metrics)

        # F1: single-URL mode skips non-matching sites (main.py:76-78)
        if url:
            sites = [s for s in sites if url.startswith(s.url)]
            # F1/F2 pin the run to exactly this URL — link discovery
            # would silently widen it into a site crawl, so single-URL
            # mode disables follow-links (documented in the docstring)
            follow_links = False

        committed = _committed_batches(ckpt_root)
        resuming = resume and bool(committed)
        enqueued = None
        idx_filter = None   # fresh path builds one over the base index

        if resuming:
            with open(meta_path) as fh:
                meta = json.load(fh)
            crawl_time = datetime.fromisoformat(meta["crawl_time"])
            # the gate relation is rebuilt on resume from the same
            # prior sink + the SAME pinned crawl_time, so discovered-
            # candidate annotation replays exactly
            not_due = _build_not_due(crawl_time)
            last = committed[-1]
            remaining, host_state, last_full = _resume_state(
                spark, ckpt_root, committed)
            metrics = load_run_metrics(out_dir)
            flushed = len(metrics)   # new rows append after the tail
            start_batch = last + 1
            ckpt_writer = None
            if follow_links:
                # enqueued-set reconstruction, exact: the enqueued0
                # parquet carries every annotated frontier loc
                # (INCLUDING skipped — a re-discovered row annotates
                # without its sitemap lastmod, so a not_modified skip
                # would come back crawlable if dropped here), fulls
                # after -1 carry rows (incl. discovered) still pending
                # at their batch, and every delta carries the rows
                # DISCOVERED at its batch — so every enqueued url is
                # on disk regardless of when it was crawled.
                # Discovered-but-skipped candidates are the only
                # under-approximation: they re-annotate exactly as on
                # first discovery (no sitemap context either time) →
                # the same skip, never a crawl. sink.current() must
                # NOT be used here: it over-approximates —
                # failed-site docs survive the purge without ever
                # being enqueued, and seeding them would DROP
                # candidates an uninterrupted run crawls.
                fulls = [b for b in committed
                         if _ckpt_kind(ckpt_root, b) == "full"
                         and b >= 0]
                enq0 = os.path.join(ckpt_root, "enqueued0")
                enqueued = (spark.read.parquet(enq0)
                            if os.path.isdir(enq0) else
                            _read_ckpt(spark, ckpt_root, -1)[0]
                            .select("loc"))
                for b in fulls:
                    enqueued = enqueued.unionByName(
                        _read_ckpt(spark, ckpt_root, b)[0]
                        .select("loc"))
                delta_states = [
                    os.path.join(ckpt_root, f"batch={b}", "state")
                    for b in committed
                    if _ckpt_kind(ckpt_root, b) == "delta"]
                if delta_states:
                    st = (spark.read.option("mergeSchema", "true")
                          .parquet(*delta_states))
                    if "loc" in st.columns:
                        enqueued = enqueued.unionByName(
                            st.filter(F.col("crawl_seq").isNotNull()
                                      & F.col("loc").isNotNull())
                            .select("loc"))
                enqueued = (enqueued.distinct()
                            .localCheckpoint(eager=True))
                n_enqueued = enqueued.count()
        else:
            crawl_time = crawl_time or DEFAULT_CRAWL_TIME
            not_due = _build_not_due(crawl_time)
            with open(meta_path, "w") as fh:
                json.dump({"crawl_time": crawl_time.isoformat()}, fh)
            if os.path.exists(metrics_jsonl):   # stale from a prior run
                os.remove(metrics_jsonl)
            metrics = []
            start_batch = 0

            t0 = time.perf_counter()
            sink.write_base_files(f"{world_dir}/index0.parquet")
            sdf = sites_df(spark, sites)

            # the indexed-url seen filter depends only on the base
            # snapshot just written — build it on a thread so its job
            # overlaps the sitemap parse below (which runs a handful of
            # per-site tasks and leaves most cores idle)
            idx_filter_task = _BgTask(
                seen.IncrementalUrlFilter,
                spark.read.parquet(sink.base_path).select("url"), "url",
                _parquet_rows(sink.base_path))

            # P2 per-site error isolation (main.py:80-88): a site whose
            # sitemap discovery fails is recorded and skipped; the rest of
            # the run proceeds. The error metrics row is the analog of the
            # reference's failure notification (slack.py:15-61).
            site_errors: list = []
            scratch: list = []
            frontier = build_frontier(spark, sites, world["sitemaps"],
                                      errors=site_errors,
                                      scratch=scratch).cache()
            for err in site_errors:
                metrics.append({"batch": -1, "event": "site_error", **err})

            # purge BEFORE crawling, on the full sitemap membership even in
            # single-URL mode (main.py:102 runs before the URL filter) —
            # but ONLY for sites whose sitemaps resolved: the reference
            # purges inside the per-site try block, so a dead site's docs
            # are never purged (its membership is unknown, not empty)
            failed_ids = {e["site_id"] for e in site_errors}
            ok_sdf = sites_df(
                spark, [s for s in sites if s.site_id not in failed_ids])
            purged = purge_candidates(sink.current(), ok_sdf, frontier)
            # the tombstone write touches only the sink's delta dir while
            # the annotation below reads only the PRE-RUN base snapshot
            # (reference semantics: this run's writes are invisible to
            # is_modified) — the two jobs are independent, so the purge
            # write runs in the background under the annotate job. The
            # error-collect inside build_frontier already warmed the
            # parsed-entries cache both jobs re-read.
            purge_writer = _BgTask(sink.append_deletes, purged,
                                   start_batch)
            t_purge = time.perf_counter()

            if url:
                frontier = frontier.filter(F.col("loc") == url)  # F2

            # persist: three consumers below (skip metrics, the remaining
            # snapshot, initial host state) would otherwise each re-run the
            # bloom-probe + last-indexed join over the whole frontier
            idx_filter = idx_filter_task.join()
            annotated = _annotate_frontier(
                frontier, world, spark.read.parquet(sink.base_path), sdf,
                force, index_filter=idx_filter,
                not_due=not_due).persist()
            to_crawl = annotated.filter(F.col("skip_reason").isNull())

            # materialize the frontier ONCE executor-side (this scan also
            # fills the annotated cache end-to-end, so the skip-metrics
            # count below is a cheap cached pass, not the materializing
            # job) and hand the parquet snapshot write to a background
            # thread: the batch-0 schedule consumes the identical
            # localCheckpointed rows (bit-equality with the disk
            # round-trip is pinned by the resume/oracle-order tests), so
            # the frontier-sized write + its commit happen while batch 0
            # is already crawling. Exactly one writer is ever outstanding
            # (joined before the next checkpoint write), so markers still
            # appear in batch order.
            remaining = to_crawl.localCheckpoint(eager=True)
            skips = {r["skip_reason"]: r["n"] for r in
                     annotated.filter(F.col("skip_reason").isNotNull())
                     .groupBy("skip_reason").count()
                     .withColumnRenamed("count", "n").collect()}
            if follow_links:
                # every frontier loc ever enqueued (INCLUDING skipped —
                # a skipped url must not be re-queued by discovery: a
                # re-discovered row annotates WITHOUT its sitemap
                # lastmod, so e.g. a not_modified skip would come back
                # crawlable and the resumed run would diverge);
                # cheap: the annotated cache is warm from the scan
                # above. Persisted once (O(frontier) locs, the same
                # class as the batch=-1 full snapshot) so resume can
                # reconstruct the set exactly — skipped locs live
                # nowhere else on disk.
                enqueued = annotated.select("loc").localCheckpoint(
                    eager=True)
                n_enqueued = enqueued.count()
                enqueued.write.mode("overwrite").parquet(
                    os.path.join(ckpt_root, "enqueued0"))
            metrics.append({"batch": -1, "event": "plan",
                            "skips": skips,
                            "sec_frontier_purge":
                            round(t_purge - t0, 3),
                            "sec_annotate":
                            round(time.perf_counter() - t_purge, 3)})

            # robots Crawl-delay (de-facto REP extension) raises a host's
            # effective sleeptime above the site config's value
            delays = (robots.robots_crawl_delays(world["robots"])
                      if world.get("robots") is not None else None)
            host_state = politeness.initial_host_state(
                remaining, sdf, crawl_delays=delays).localCheckpoint(
                    eager=True)
            ckpt_writer = _BgTask(_write_ckpt, ckpt_root, -1,
                                  remaining, host_state)
            purge_writer.join()
            # both consumers of the parsed-entries intermediate (purge,
            # annotate) are done — drop it with the frontier caches
            for df in scratch:
                df.unpersist()
            annotated.unpersist()
            frontier.unpersist()
            last_full = -1
            start_batch = 0

        sdf = sites_df(spark, sites)
        if follow_links:
            # host → site dim for scoping + site_id assignment of
            # discovered urls (two sites on one host: min site_id wins,
            # deterministically). Keyed on the HOSTNAME (no port) so it
            # joins the same lower(parse_url HOST) derivation sitemap
            # rows, host_state and _annotate_discovered use — the
            # pipeline's politeness model treats all ports of a host as
            # one host (reference semantics)
            from urllib.parse import urlsplit
            host_site: dict[str, int] = {}
            for s in sites:
                h = (urlsplit(s.url).hostname or "").lower()
                host_site[h] = min(host_site.get(h, s.site_id),
                                   s.site_id)
            host_dim = spark.createDataFrame(
                sorted(host_site.items()), "host string, site_id int")
            # discovered-row annotation uses the immutable PRE-RUN
            # index (world index0): sink.base_path is rewritten by
            # mid-run compaction, and reference semantics pin
            # is_modified to the pre-run snapshot anyway. Its seen
            # filter is built ONCE per run and reused by every
            # discovery batch (rebuilding it per batch would be
            # O(index) per batch); on a fresh run the plan phase
            # already built the identical filter — the base snapshot
            # is a verbatim copy of index0 (write_base_files above),
            # so the url set and the footer-derived geometry match.
            n_index0 = _parquet_rows(f"{world_dir}/index0.parquet")
            index0_filter_box = [idx_filter]

            def _index0_filter():
                # lazy: resumed runs that never discover (exhausted
                # frontier) skip the O(index) build entirely; built at
                # most once — only the single prefetch thread calls it
                if index0_filter_box[0] is None:
                    index0_filter_box[0] = seen.IncrementalUrlFilter(
                        world["index0"].select("url"), "url",
                        expected_items=n_index0)
                return index0_filter_box[0]

            # INCREMENTAL enqueued-set filter: geometry pinned once
            # (sized 4× the initial frontier — a production run budgets
            # its expected discovery volume here), built over the
            # canonical enqueued set once, then grown per batch with an
            # O(batch) delta — never a rescan of the frontier-sized
            # set. Sizing overflow stays exact (anti-join backstop in
            # candidates_from_links), serving form is picked inside the
            # helper (driver bytes vs the sharded relation where the
            # filter never exists whole). `add` runs only on the
            # prefetch thread — exactly one _discover_schedule is in
            # flight at a time, satisfying the single-writer contract.
            def _canon_urls(df):
                return df.select(
                    canonical_url_col(F.col("loc")).alias("url"))

            url_filter = seen.IncrementalUrlFilter(
                _canon_urls(enqueued), "url",
                expected_items=max(4 * n_enqueued, 1024), fpp=0.03)

            # lazy-union segments added to `enq` since its last eager
            # compaction: one checkpointed batch-sized block per
            # discovering batch, compacted every ckpt_full_every
            # batches — per-batch work stays O(batch), not O(frontier)
            # (the same cadence the main loop uses for `remaining`).
            # Safe as plain mutable state: exactly one
            # _discover_schedule runs at a time (joined before the
            # next launches).
            enq_segments = [0]

        def _discover_schedule(rem, hs, links, enq):
            """The prefetch-thread unit of both modes: link discovery
            over the just-extracted batch's outlinks (skipped when
            ``links`` is None — always in plain mode, and for the first
            schedule of a follow-links run), then the next politeness
            batch. One unit, so the schedule stays a pure function of
            the post-discovery frontier (resume replays it exactly).

            The schedule is materialized with its admission metric in
            ONE job that fills the cache AND yields both the admitted
            total and the per-host lineage metric (north rule) — the
            per-batch driver latency budget is the sandbox bottleneck,
            so every folded job counts."""
            disc, n_new, n_disc = None, 0, 0
            if links is not None:
                cand = linkgraph.candidates_from_links(
                    links, enq, known_url_col="loc",
                    scope_hosts=host_dim.select("host"),
                    drop_traps=True, known_bloom=url_filter)
                # lazy checkpoint: the counts agg right below is the
                # materializing action, so plan-run + checkpoint +
                # counts are ONE job instead of two (the unit is a
                # chain of latency-bound jobs — job count is the cost
                # at sandbox scale, BASELINE.md)
                ann = _annotate_discovered(
                    cand, world, sdf, host_dim, force,
                    index_filter=_index0_filter(),
                    not_due=not_due).localCheckpoint(eager=False)
                if url_filter.is_broadcastable:
                    # FUSED admission job (small-filter serving form):
                    # the counts aggregation and the enqueued-filter
                    # bloom delta come out of ONE Arrow pass/action —
                    # the delta build was a whole second driver job per
                    # discovering batch (A/B in BASELINE.md
                    # follow-links notes); add_bytes then merges
                    # driver-side with zero jobs, bit-identical to add()
                    rows = seen.fused_delta_counts_plan(
                        ann.withColumn("__curl",
                                       canonical_url_col(F.col("loc"))),
                        "__curl", url_filter.shape,
                        "skip_reason").collect()
                    n_new = sum(r["n"] for r in rows if r["s"] == -1)
                    n_disc = sum(r["ok"] for r in rows if r["s"] == -1)
                    if n_new:
                        url_filter.add_bytes(seen.assemble_bloom_bytes(
                            [(r["s"], r["bits"]) for r in rows
                             if r["s"] >= 0], url_filter.shape))
                else:
                    # relation form: the delta never exists as driver
                    # bytes — keep the two-action path
                    counts = ann.agg(
                        F.count(F.lit(1)).alias("n"),
                        F.count(F.when(F.col("skip_reason").isNull(),
                                       F.lit(1))).alias("ok")).collect()
                    n_new, n_disc = counts[0]["n"], counts[0]["ok"]
                    if n_new:
                        # O(batch) delta into the incremental filter
                        url_filter.add(_canon_urls(ann), "url")
                if n_new:
                    # lazy union of two checkpointed relations — no
                    # frontier-sized copy per batch; periodic eager
                    # compaction bounds the union fan-in
                    enq = enq.unionByName(ann.select("loc"))
                    enq_segments[0] += 1
                    if enq_segments[0] >= ckpt_full_every:
                        enq = enq.localCheckpoint(eager=True)
                        enq_segments[0] = 0
                if n_disc:
                    # a plain filter over ann's checkpointed blocks — no
                    # checkpoint of its own (that was a whole extra job
                    # for n_disc rows); the main loop's full-checkpoint
                    # cadence compacts `remaining`
                    disc = (ann.filter(F.col("skip_reason").isNull())
                            .select(*rem.columns))
                    rem = rem.unionByName(disc)
            b = politeness.select_batch(rem, hs, batch_seconds,
                                        order_mode=order_mode).cache()
            ph = {r["host"]: r["n"] for r in
                  b.groupBy("host").agg(
                      F.count(F.lit(1)).alias("n")).collect()}
            return b, ph, rem, enq, n_new, disc, n_disc

        batch_id = start_batch
        n_batches = 0
        pending = _BgTask(_discover_schedule, remaining, host_state,
                          None, enqueued)
        prev_docs = None
        # the last batch's checkpoint inputs, written at the next join:
        # (batch_id, is_full, processed, pre-transition host_state)
        deferred = None

        def _flush_deferred(disc, n_disc, n_new):
            """Write the PREVIOUS batch's checkpoint — deferred until
            its discoveries are known, so a full snapshot reflects the
            grown frontier and a delta carries the discovered rows the
            resume replay must re-add. Exactly one writer is
            outstanding: batch K's checkpoint commits before batch
            K+1's is written, so the on-disk marker sequence never has
            gaps (resume's delta replay assumes a committed prefix)."""
            nonlocal ckpt_writer, deferred
            if deferred is None:
                return
            bid, was_full, proc, hs_before = deferred
            deferred = None
            if n_new or n_disc:
                metrics.append({"batch": bid, "event": "discovery",
                                "candidates": n_new,
                                "enqueued": n_disc})
            if ckpt_writer is not None:
                ckpt_writer.join()
            if was_full:
                # periodic full snapshot: the localCheckpoint taken at
                # the state transition truncates the anti-join lineage
                # executor-side; the write reads the checkpointed
                # blocks (plus any discovered rows), not the lineage
                ckpt_writer = _BgTask(_write_ckpt, ckpt_root, bid,
                                      remaining, host_state)
            else:
                # delta: bytes proportional to the batch, not the
                # frontier
                ckpt_writer = _BgTask(_write_delta_ckpt, ckpt_root, bid,
                                      proc, host_state, disc, hs_before)

        while True:
            t0 = time.perf_counter()
            (batch, per_host, remaining, enqueued, n_new, disc_prev,
             n_disc) = pending.join()
            if prev_docs is not None:
                prev_docs.unpersist()
                prev_docs = None
            _flush_deferred(disc_prev, n_disc, n_new)
            admitted = sum(per_host.values())
            # an empty schedule ⇒ the remaining frontier is exhausted
            # (capacity is ≥1 per host, so a non-empty frontier always
            # admits rows); at max_batches the prefetched schedule is
            # drained unused, so no schedule job runs past the return
            if admitted == 0 or (max_batches is not None
                                 and n_batches >= max_batches):
                batch.unpersist()
                break

            # state transition first — it is a pure function of batch N
            # (politeness 429 doubling + the processed-set anti-join), and
            # publishing it now lets batch N+1's schedule compute on the
            # prefetch thread WHILE batch N extracts below. The tiny
            # localCheckpoints pin the exact rows both the prefetch and
            # the background checkpoint writer consume.
            hs_prev = host_state     # pre-transition snapshot: the delta
            # writer diffs against it to persist ONLY changed host rows
            host_state = politeness.updated_host_state(
                host_state, batch.filter(F.col("n_429") > 0)
            ).localCheckpoint(eager=True)
            is_full = batch_id - last_full >= ckpt_full_every
            if is_full:
                remaining = remaining.join(
                    batch.select("crawl_seq"), "crawl_seq", "left_anti"
                ).localCheckpoint(eager=True)
                processed = None
                last_full = batch_id
            else:
                processed = batch.select("crawl_seq").localCheckpoint(
                    eager=True)
                remaining = remaining.join(processed, "crawl_seq",
                                           "left_anti")
            if not follow_links:
                # no links to wait for: the next schedule overlaps this
                # batch's extraction (follow mode launches it after the
                # extraction parse has produced the outlinks)
                pending = _BgTask(_discover_schedule, remaining,
                                  host_state, None, enqueued)
            t_sched = time.perf_counter()

            resources = _batch_resources(batch, world, sdf)
            # extraction is CPU-dense per byte (one DOM parse per row);
            # AQE's byte-based coalescing would pack the whole batch into a
            # few partitions and idle the cluster — spread it explicitly
            resources = resources.repartition(
                spark.sparkContext.defaultParallelism)
            docs = extract_documents(
                resources, config, crawl_time,
                passthrough=("crawl_seq", "site_id", "__csid"),
                emit_outlinks=follow_links)
            # crawler_site_id injection (main.py:152-153)
            docs = (docs.withColumn("crawler_site_id", F.col("__csid"))
                    .drop("__csid")
                    .withColumn("op_seq", F.col("crawl_seq"))
                    .withColumn("batch_id", F.lit(batch_id))
                    .withColumn("url", F.col(config.url_field)))
            if config.unique_field != "UID":
                docs = docs.withColumn("UID", F.col(config.unique_field))
            if follow_links:
                # the sink write fills this cache; discovery then reads
                # outlinks from it — page bytes are read and DOM-parsed
                # exactly once per batch
                from pyspark import StorageLevel
                docs = docs.persist(StorageLevel.MEMORY_AND_DISK)
                prev_docs = docs
                sink.append_upserts(docs.drop("__outlinks"), batch_id)
                links = docs.select(
                    F.col("url").alias("src_url"),
                    F.explode("__outlinks").alias("dst_url"))
                pending = _BgTask(_discover_schedule, remaining,
                                  host_state, links, enqueued)
            else:
                sink.append_upserts(docs, batch_id)
            # count from the written delta's parquet FOOTERS, driver-side —
            # a docs.count() would re-run the whole extraction stage, and
            # even a spark.read...count() costs a whole scheduler round
            # trip for what is pure file metadata
            indexed = _parquet_rows(
                os.path.join(sink.delta_root, f"batch={batch_id}"))
            t_extract = time.perf_counter()

            # MOR maintenance: fold the delta log into the base when it
            # exceeds the generation budget (read-side LWW window stays
            # bounded however long the crawl runs)
            compacted = False
            if (compact_every or compact_delta_frac is not None) and \
                    sink.should_compact(compact_every, compact_delta_frac,
                                        compact_min_bytes):
                sink.compact()
                compacted = True

            # checkpoint write DEFERRED to the next pending.join(): a
            # full snapshot must include this batch's discovered rows,
            # a delta must carry them for the resume replay
            deferred = (batch_id, is_full, processed, hs_prev)
            metrics.append({"batch": batch_id, "admitted": admitted,
                            "indexed": indexed, "compacted": compacted,
                            "per_host_admitted": per_host,
                            "sec_schedule": round(t_sched - t0, 3),
                            "sec_extract_sink":
                            round(t_extract - t_sched, 3),
                            "sec_checkpoint":
                            round(time.perf_counter() - t_extract, 3)})
            _flush_metrics()
            batch.unpersist()
            batch_id += 1
            n_batches += 1

        if ckpt_writer is not None:
            ckpt_writer.join()
        # the final batch's discovery event is appended by
        # _flush_deferred AFTER that batch's per-batch flush — flush
        # the tail so the on-disk metrics match CrawlResult.metrics
        # and a later resume doesn't drop it
        _flush_metrics()
        return CrawlResult(out_dir=out_dir, batches=batch_id,
                           metrics=metrics, sink=sink)
    except BaseException:
        # join (and suppress secondary errors from) any outstanding
        # background writers before propagating the primary failure:
        # a daemon thread mid-parquet-write must not race interpreter
        # teardown, and _COMMIT-last ordering means a joined-but-
        # failed write was never adopted
        for _t in (pending, ckpt_writer, purge_writer, idx_filter_task):
            if _t is not None:
                try:
                    _t.join()
                except BaseException:   # noqa: BLE001 — secondary
                    pass
        raise


class _BgTask:
    """Background task: runs one call (a checkpoint/sink write, or the
    next batch's schedule job) on a thread so it overlaps the current
    phase's work; ``join()`` returns the call's result and re-raises
    any failure (a silently lost write would break crash-resume / the
    purge contract)."""

    def __init__(self, fn, *args):
        self._exc = None
        self._result = None

        def run():
            try:
                self._result = fn(*args)
            except BaseException as exc:   # noqa: BLE001 — re-raised
                self._exc = exc

        self._t = threading.Thread(target=run, daemon=True)
        self._t.start()

    def join(self):
        self._t.join()
        if self._exc is not None:
            raise self._exc
        return self._result


def _parquet_rows(d: str) -> int:
    """Total row count of a parquet dir from file footers alone — no
    Spark job (one metadata read per part file; a batch writes a
    bounded number of parts, so this is O(parallelism) tiny reads)."""
    import glob

    import pyarrow.parquet as pq
    return sum(pq.read_metadata(f).num_rows
               for f in glob.glob(os.path.join(d, "*.parquet")))


# ---------------------------------------------------------------------------
# checkpoints
# ---------------------------------------------------------------------------


def _write_ckpt(root: str, batch_id: int, remaining: DataFrame,
                host_state: DataFrame) -> None:
    """Full snapshot (batch -1 + every ckpt_full_every batches): the
    remaining frontier + host rows folded into ONE parquet write (one
    Spark job, one commit — same shape as the delta checkpoint; fixed
    per-job driver latency is the sandbox pipeline's dominant cost).
    Row kinds are distinguished by the null pattern: frontier rows
    carry crawl_seq, host rows carry (host, __hs_sleeptime)."""
    d = os.path.join(root, f"batch={batch_id}")
    combined = remaining.withColumn(
        "__hs_sleeptime", F.lit(None).cast("double")).unionByName(
        host_state.select(
            "host", F.col("sleeptime").alias("__hs_sleeptime")),
        allowMissingColumns=True)
    combined.write.mode("overwrite").parquet(os.path.join(d, "state"))
    with open(os.path.join(d, "_COMMIT"), "w") as fh:
        fh.write("full")


def _ckpt_kind(root: str, batch_id: int) -> str:
    """'full' | 'delta' for a COMMITTED batch dir. The kind is recorded
    in the _COMMIT marker at commit time — the full-vs-delta decision
    is never re-derived from directory layout or from the current
    ``ckpt_full_every`` argument: a resume with a different cadence
    must still classify historical batches correctly. Any other marker
    body raises ``ValueError`` naming the batch dir."""
    d = os.path.join(root, f"batch={batch_id}")
    with open(os.path.join(d, "_COMMIT")) as fh:
        kind = fh.read().strip()
    if kind not in ("full", "delta"):
        raise ValueError(f"checkpoint {d}: _COMMIT marker holds "
                         f"{kind!r}, expected 'full' or 'delta'")
    return kind


def _read_ckpt(spark: SparkSession, root: str, batch_id: int):
    st = spark.read.parquet(
        os.path.join(root, f"batch={batch_id}", "state"))
    return (st.filter(F.col("crawl_seq").isNotNull())
            .drop("__hs_sleeptime"),
            st.filter(F.col("crawl_seq").isNull())
            .select("host",
                    F.col("__hs_sleeptime").alias("sleeptime")))


def _write_delta_ckpt(root: str, batch_id: int, processed: DataFrame,
                      host_state: DataFrame,
                      discovered: DataFrame | None,
                      prev_host_state: DataFrame) -> None:
    """Delta checkpoint: the batch's processed crawl_seq set (politeness-
    capped — tiny) + changed host rows + (follow-links mode) the
    batch's link-discovered frontier rows, folded into ONE parquet
    write (one Spark job, one commit — the fixed per-job driver latency
    is the sandbox pipeline's dominant cost, BASELINE.md). Row kinds
    are distinguished by the null pattern: processed rows carry
    crawl_seq with NULL loc, discovered rows carry crawl_seq AND loc
    (the full annotated frontier schema — the frontier GROWS between
    fulls, so the resume replay must re-add them), host rows carry
    (host, sleeptime) with NULL crawl_seq. O(batch) bytes, not
    O(frontier).

    ``prev_host_state`` is the pre-transition host relation: only host
    rows whose sleeptime CHANGED this batch are written (the 429-doubled
    hosts, a handful), not the whole O(hosts) relation — at 10^8 hosts
    a full copy per delta is O(hosts × batches) write amplification for
    state that is immutable outside 429s. Resume overlays delta host
    rows onto the last full snapshot last-wins per host
    (_resume_state)."""
    d = os.path.join(root, f"batch={batch_id}")
    prev = prev_host_state.select(
        "host", F.col("sleeptime").alias("__prev"))
    hs = (host_state.join(prev, "host", "left")
          .filter(F.col("__prev").isNull()
                  | (F.col("sleeptime") != F.col("__prev")))
          .select("host", "sleeptime"))
    combined = processed.select(
        "crawl_seq",
        F.lit(None).cast("string").alias("host"),
        F.lit(None).cast("double").alias("sleeptime"),
    ).unionByName(hs.select(
        F.lit(None).cast("long").alias("crawl_seq"),
        "host", "sleeptime"))
    if discovered is not None:
        combined = combined.unionByName(
            discovered.withColumn("sleeptime",
                                  F.lit(None).cast("double")),
            allowMissingColumns=True)
    combined.write.mode("overwrite").parquet(os.path.join(d, "state"))
    with open(os.path.join(d, "_COMMIT"), "w") as fh:
        fh.write("delta")


def _resume_state(spark: SparkSession, root: str, committed: list):
    """Reconstruct (remaining, host_state, last_full) from the last
    committed full snapshot plus the deltas after it, read in one bulk
    scan. Batch kind comes from the _COMMIT marker (``_ckpt_kind``)."""
    fulls = [b for b in committed if _ckpt_kind(root, b) == "full"]
    last_full = max(fulls)
    remaining, host_state = _read_ckpt(spark, root, last_full)
    delta_states = [os.path.join(root, f"batch={b}", "state")
                    for b in committed if b > last_full]
    if delta_states:
        # each host row is tagged with its batch id, parsed from the
        # file path and anchored to the state dir segment: a bare
        # "batch=(\d+)/" would match the FIRST occurrence in the path,
        # so an out_dir that itself contains a batch=<n>/ directory
        # would mis-tag every row with that foreign id
        _bid = F.regexp_extract(
            F.input_file_name(), r"batch=(-?\d+)/state/", 1).cast("long")
        # mergeSchema: follow-links deltas carry the full annotated
        # frontier schema for discovered rows; plain deltas carry only
        # (crawl_seq, host, sleeptime) — a resume may span both
        st = (spark.read.option("mergeSchema", "true")
              .parquet(*delta_states).withColumn("__b", _bid))
        proc = st.filter(F.col("crawl_seq").isNotNull())
        if "loc" in st.columns:
            # discovered rows (crawl_seq AND loc non-null) GROW the
            # frontier between fulls — re-add them before the processed
            # anti-join (a discovered row later processed is removed by
            # the anti-join as usual)
            disc = proc.filter(F.col("loc").isNotNull())
            remaining = remaining.unionByName(
                disc.select(*remaining.columns))
            proc = proc.filter(F.col("loc").isNull())
        remaining = remaining.join(proc.select("crawl_seq"), "crawl_seq",
                                   "left_anti")
        # deltas persist only the host rows that CHANGED at their
        # batch: overlay them onto the full snapshot, last-wins per host
        host_state = (
            host_state.select("host", "sleeptime",
                              F.lit(last_full).alias("__b"))
            .unionByName(st.filter(F.col("crawl_seq").isNull())
                         .select("host", "sleeptime", "__b"))
            .groupBy("host")
            .agg(F.max_by("sleeptime", "__b").alias("sleeptime")))
    return remaining, host_state, last_full


def _committed_batches(root: str) -> list:
    out = []
    if not os.path.isdir(root):
        return out
    for name in os.listdir(root):
        if name.startswith("batch=") and os.path.exists(
                os.path.join(root, name, "_COMMIT")):
            out.append(int(name.split("=", 1)[1]))
    return sorted(b for b in out)
