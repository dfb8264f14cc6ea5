"""Deterministic synthetic crawl world (M0 in SURVEY.md §7).

Generates, as pure functions of (sf, seed) — independent of
partitioning, wall clock, and task scheduling — the tables FIXTURES.md
specifies:

- ``pages``       (url, warc_ts, html, text, lang)  — the Common-Crawl-
  style page store (BASELINE.json input_hint). ``text`` is DEFINED as
  ``html_to_text(html)`` so byte-identity of the engine's own HTML→text
  path is a real end-to-end assertion.
- ``sites``       the seed list (5 sites exercising every discovery
  mode: sitemap index, single sitemap, static config, gz, edge cases).
- ``sitemaps``    raw namespaced XML blobs (incl. gz + an index) whose
  parse reproduces the generating entry relation exactly.
- ``index``       pre-existing index state: older/equal/newer modified
  rows (is_modified truth table, reference test_fetcher.py:124-151),
  purge targets, foreign-site docs (test_purging.py:27-61).
- ``fetch_status``  simulated HTTP behavior: 404s, redirects, 429
  bursts, header overrides (X-Document-Title, Content-Disposition,
  application/pdf rows).

Scale: URL counts are Zipf-skewed across hosts (site0 holds 50%) so
host-salting and skew handling are actually exercised; entry synthesis
is column-expression only (codegen) and page-HTML synthesis is one
Arrow pandas UDF — the generator itself is distributed and scales with
the cluster.
"""

from __future__ import annotations

import gzip as _gzip
import hashlib
from datetime import datetime, timedelta, timezone
from xml.sax.saxutils import escape

import dateutil.parser
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ftw_crawler_spark.config import Site
from ftw_crawler_spark.functions.html import html_to_text

BASE_TIME = datetime(2025, 6, 1, tzinfo=timezone.utc)
EPOCH_2020 = datetime(2020, 1, 1, tzinfo=timezone.utc)

WORDS = (
    "alpen bern graben seite dokument inhalt projekt bericht stadt "
    "verwaltung kultur sport amt wasser berg tal fluss brücke turm "
    "schule kind markt platz kirche museum garten wald weg haus tor "
    "zeit jahr monat woche tag stunde nacht licht farbe klang wort "
    "bild karte liste tabelle zahl wert preis ziel plan idee frage "
    "antwort regel recht pflicht dienst hilfe rat sitzung beschluss "
    "gesetz artikel absatz kanton gemeinde region land volk rat").split()

UMLAUT_WORDS = ("bär käse straße zürich führung gebäude grün über "
                "möglich fröhlich").split()

SITE_WEIGHTS = (0.50, 0.25, 0.125, 0.0625, 0.0625)


def default_sites() -> list:
    """5 sites, one per discovery mode (FIXTURES.md §2)."""
    return [
        Site(0, "https://site0.example.ch/", sleeptime=0.1,
             attributes={"site_area": "Site Zero"}),           # index
        Site(1, "http://site1.example.org/", sleeptime=0.05,
             attributes={"site_area": "Site One"}),            # single
        Site(2, "http://site2.example.net/", sleeptime=0.1,
             attributes={"site_area": "Site Two"},
             sitemap_urls=["http://site2.example.net/static-a.xml",
                           "http://site2.example.net/static-b.xml"]),
        Site(3, "https://site3.example.com/", sleeptime=0.2,
             crawler_site_id="site-3",
             attributes={"site_area": "Site Three"}),          # gz
        Site(4, "http://site4.example.net/", sleeptime=0.1,
             attributes={"site_area": "Edge Cases"}),          # edges
    ]


def n_urls_for_sf(sf: float) -> int:
    return max(100, int(2_000_000 * sf))


# ---------------------------------------------------------------------------
# entry synthesis (column expressions only)
# ---------------------------------------------------------------------------


def _entries_for_site(spark: SparkSession, site: Site, n: int,
                      seed: int, chunk: int) -> DataFrame:
    """n frontier entries for one site: url + optional lastmod/changefreq/
    priority/target, chunked into sitemaps of ≤ chunk urls."""
    df = spark.range(n).withColumnRenamed("id", "k")
    url = F.concat(F.lit(site.url), F.lit("page/"),
                   F.pmod(F.col("k"), F.lit(37)).cast("string"),
                   F.lit("/doc-"), F.col("k").cast("string"))
    df = df.withColumn("loc", url)
    h = F.abs(F.xxhash64(F.col("loc"), F.lit(seed)))
    df = df.withColumn("h", h)
    # ~70% have lastmod; of those ~1/4 are datetime-with-offset forms
    date_part = F.date_add(F.lit("2020-01-01"),
                           F.pmod(F.col("h"), F.lit(1800)).cast("int"))
    lastmod = F.when(
        F.pmod(F.col("h"), F.lit(10)) < 7,
        F.when(F.pmod(F.col("h"), F.lit(4)) == 0,
               F.concat(date_part.cast("string"), F.lit("T"),
                        F.lpad(F.pmod(F.col("h"), F.lit(24)).cast("string"),
                               2, "0"),
                        F.lit(":30:00+02:00")))
        .otherwise(date_part.cast("string")))
    df = df.withColumn("lastmod", lastmod)
    df = df.withColumn(
        "changefreq",
        F.element_at(F.array(F.lit("daily"), F.lit("weekly"),
                             F.lit("monthly"), F.lit(None)),
                     (F.pmod(F.col("h"), F.lit(4)) + 1).cast("int")))
    df = df.withColumn(
        "priority",
        F.element_at(F.array(F.lit("0.5"), F.lit("1.0"), F.lit(None)),
                     (F.pmod(F.col("h"), F.lit(3)) + 1).cast("int")))
    df = df.withColumn(
        "target",
        F.when(F.pmod(F.col("h"), F.lit(211)) == 0,
               F.concat(F.lit(site.url), F.lit("target/"),
                        F.col("k").cast("string"))))
    df = df.withColumn("sitemap_ord",
                       (F.col("k") / F.lit(chunk)).cast("int"))
    df = df.withColumn("url_ord",
                       F.pmod(F.col("k"), F.lit(chunk)).cast("int"))
    return df.select(
        F.lit(site.site_id).alias("site_id"), "loc", "lastmod",
        "changefreq", "priority", "target", "sitemap_ord", "url_ord")


EDGE_ENTRIES = [
    # (loc, lastmod, changefreq, priority, target)  — FIXTURES.md §1 edges
    ("http://site4.example.net/", "2021-03-04", None, "1.0", None),
    ("http://site4.example.net/stuff/", None, "daily", None, None),
    ("http://site4.example.net/foo%20bar", "2014-12-31", None, None, None),
    ("http://site4.example.net/b\xe4rengraben", "2015-06-01T08:00:00+02:00",
     None, None, None),
    ("http://site4.example.net/b%C3%A4rengraben-enc", None, None, None, None),
    ("http://site4.example.net/lstrip-quirk", "2020-05-05", None, None, None),
    ("http://site4.example.net/whitespace-heavy", None, None, None, None),
    ("http://site4.example.net/no-title", "2019-01-01", None, None, None),
    ("HTTP://SITE4.EXAMPLE.NET/MIXED-CASE", "2018-07-07", None, None, None),
    ("http://site4.example.net/with-target", "2017-02-02", None, None,
     "http://site4.example.net/the-target"),
    ("http://site4.example.net/pdf-doc", None, None, None, None),
    ("http://site4.example.net/x-doc-title", "2016-09-09", None, None, None),
    ("http://site4.example.net/latin-1-page", "2022-11-11", None, None, None),
]


def build_entries(spark: SparkSession, sites: list, n_urls: int,
                  seed: int) -> DataFrame:
    """The generating frontier-entry relation (ground truth the sitemap
    XML must round-trip through parse)."""
    parts = []
    for site, w in zip(sites, SITE_WEIGHTS):
        n = max(10, int(n_urls * w))
        # layout: site0 → many chunks behind an index; site2 → exactly
        # its two static sitemaps; others → one sitemap each
        if site.site_id == 0:
            # many chunks behind the index: sitemap-XML parse parallelism
            # is one task per sitemap, so chunk count must grow with n
            # (a single 50k-url sitemap would serialize the parse stage)
            chunk = max(50, min(5_000, n // 16 + 1))
        elif site.site_id == 2:
            chunk = n // 2 + 1
        else:
            chunk = n + len(EDGE_ENTRIES) + 10
        parts.append(_entries_for_site(spark, site, n, seed, chunk))
    gen = parts[0]
    for p in parts[1:]:
        gen = gen.unionByName(p)
    # edge entries share site 4's single sitemap, ordered after the
    # generated rows
    edge_rows = [(4,) + e + (0, 10_000_000 + i)
                 for i, e in enumerate(EDGE_ENTRIES)]
    edges = spark.createDataFrame(
        edge_rows, schema=("site_id int, loc string, lastmod string, "
                           "changefreq string, priority string, "
                           "target string, sitemap_ord int, url_ord int"))
    return gen.unionByName(edges)


# ---------------------------------------------------------------------------
# sitemap XML blobs
# ---------------------------------------------------------------------------


def _sitemap_url_for(site: Site, sitemap_ord: int) -> str:
    """Site layout → where each sitemap chunk 'lives' on the web."""
    if site.site_id == 0:
        return f"{site.url}sitemap-{sitemap_ord}.xml" if sitemap_ord != 1 \
            else f"{site.url}sitemap-{sitemap_ord}.xml.gz"
    if site.site_id == 1:
        return f"{site.url}sitemap.xml"
    if site.site_id == 2:
        return site.sitemap_urls[sitemap_ord % len(site.sitemap_urls)]
    if site.site_id == 3:
        return f"{site.url}sitemap.xml.gz"
    return f"{site.url}sitemap.xml"


def _entry_xml(row) -> str:
    parts = ["  <url>"]
    for prop in ("loc", "lastmod", "changefreq", "priority", "target"):
        v = row[prop]
        if v is not None:
            parts.append(f"    <{prop}>{escape(v)}</{prop}>")
    parts.append("  </url>")
    return "\n".join(parts)


def build_sitemaps(entries: DataFrame, sites: list) -> DataFrame:
    """Group entries per (site, sitemap) and render namespaced XML
    (url_ord order → document order). gz when the sitemap url ends .gz.
    Adds the sitemap-index rows for site 0."""
    site_by_id = {s.site_id: s for s in sites}

    # site 2 static layout has 2 fixed sitemap urls; others map ord→url
    def render(pdf: pd.DataFrame) -> pd.DataFrame:
        site = site_by_id[int(pdf["site_id"].iloc[0])]
        ord_ = int(pdf["sitemap_ord"].iloc[0])
        sm_url = _sitemap_url_for(site, ord_)
        pdf = pdf.sort_values("url_ord")
        body = "\n".join(_entry_xml(r) for _, r in pdf.iterrows())
        xml = ('<?xml version="1.0" encoding="UTF-8"?>\n'
               '<urlset xmlns="http://www.sitemaps.org/schemas/sitemap/0.9">\n'
               f"{body}\n</urlset>").encode("utf-8")
        gz = sm_url.endswith(".gz")
        if gz:
            xml = _gzip.compress(xml, compresslevel=1)
        return pd.DataFrame([{
            "sitemap_url": sm_url, "site_id": site.site_id,
            "is_index": False, "gz": gz, "xml": xml,
            "discovery_ord": ord_}])

    schema = ("sitemap_url string, site_id int, is_index boolean, "
              "gz boolean, xml binary, discovery_ord int")
    sitemaps = entries.groupBy("site_id", "sitemap_ord").applyInPandas(
        render, schema)
    return sitemaps


def build_sitemap_index_rows(spark: SparkSession, sitemaps: DataFrame,
                             sites: list) -> DataFrame:
    """Site 0 exposes a real <sitemapindex> listing its chunk sitemaps in
    discovery order (reference assets/sitemap_index.xml analog)."""
    site0 = sites[0]
    children = [r["sitemap_url"] for r in
                sitemaps.filter(F.col("site_id") == 0)
                .select("sitemap_url", "discovery_ord")
                .orderBy("discovery_ord").collect()]
    body = "\n".join(
        f"  <sitemap>\n    <loc>{escape(u)}</loc>\n  </sitemap>"
        for u in children)
    xml = ('<?xml version="1.0" encoding="UTF-8"?>\n'
           '<sitemapindex '
           'xmlns="http://www.sitemaps.org/schemas/sitemap/0.9">\n'
           f"{body}\n</sitemapindex>").encode("utf-8")
    row = [(f"{site0.url}sitemap_index.xml", 0, True, False, xml, -1)]
    return spark.createDataFrame(
        row, schema=("sitemap_url string, site_id int, is_index boolean, "
                     "gz boolean, xml binary, discovery_ord int"))


# ---------------------------------------------------------------------------
# pages
# ---------------------------------------------------------------------------

_PAGE_SCHEMA = T.StructType([
    T.StructField("url", T.StringType()),
    T.StructField("warc_ts", T.TimestampType()),
    T.StructField("html", T.BinaryType()),
    T.StructField("text", T.StringType()),
    T.StructField("lang", T.StringType()),
])


def _hash_words(h: int, n: int, pool=WORDS) -> str:
    out = []
    x = h
    for _ in range(n):
        x = (x * 6364136223846793005 + 1442695040888963407) & (2**64 - 1)
        out.append(pool[x % len(pool)])
    return " ".join(out)


def _page_for(url: str, lastmod: str | None, seed: int):
    """Deterministic page content for a url. Returns (warc_ts naive-UTC,
    html bytes, text, lang). Special-cased edge urls (FIXTURES.md §1)."""
    h = int.from_bytes(
        hashlib.md5(f"{seed}:{url}".encode()).digest()[:8], "big")
    # warc_ts: after lastmod when present, else hash-derived
    if lastmod:
        base = dateutil.parser.parse(lastmod)
        if base.tzinfo is None:
            base = base.replace(tzinfo=timezone.utc)
        warc_ts = base.astimezone(timezone.utc) + timedelta(
            hours=1 + h % 48)
    else:
        warc_ts = EPOCH_2020 + timedelta(days=h % 1800,
                                         seconds=h % 86400)
    warc_naive = warc_ts.replace(tzinfo=None)
    lang = ("de", "en", "fr", "it")[h % 4]

    name = url.rstrip("/").rsplit("/", 1)[-1] or "home"
    title = _hash_words(h ^ 1, 3).title()
    desc = _hash_words(h ^ 2, 8)
    kw_sep = ", " if h % 3 else " "
    keywords = kw_sep.join(_hash_words(h ^ 3, 2 + h % 3).split())
    author = _hash_words(h ^ 4, 2).title()
    h1 = _hash_words(h ^ 5, 2 + h % 2).title()
    paras = [
        f"<p>{_hash_words(h ^ (10 + i), 8 + (h >> i) % 20)}</p>"
        for i in range(1 + h % 4)]
    encoding = "utf-8"
    include_h1 = h % 5 != 0          # 80% have div#content/h1
    include_meta = h % 7 != 0

    if url.endswith("/lstrip-quirk"):
        h1 = "B\xe4ren"
        paras = ["<p>after title text</p>"]
        title = "B\xe4ren"
        # text begins with the h1 title → snippet lstrip quirk fires
    elif url.endswith("/whitespace-heavy"):
        paras = ["<p>foo \t\t bar\r\n\r\n baz qux</p>"]
    elif url.endswith("/no-title"):
        include_h1 = False
        include_meta = False
        title = None
    elif url.endswith("/latin-1-page"):
        encoding = "latin-1"
        h1 = "Z\xfcrich Stra\xdfe"
        paras = ["<p>caf\xe9 unter den b\xe4umen</p>"]
    elif url.endswith("/pdf-doc"):
        text = f"PDF document body {_hash_words(h, 12)}"
        return warc_naive, text.encode("utf-8"), text, lang

    head = ["<head>", f"<title>{escape(title)}</title>" if title else ""]
    if include_meta:
        head += [
            f'<meta name="description" content="{escape(desc)}"/>',
            f'<meta name="keywords" content="{escape(keywords)}"/>',
            f'<meta name="author" content="{escape(author)}"/>']
    head.append("</head>")
    body = ["<body>"]
    if include_h1:
        body.append(f'<div id="content"><h1><span>{escape(h1.split()[0])}'
                    f"</span> {escape(' '.join(h1.split()[1:]) or name)}"
                    "</h1>")
        body += paras
        body.append("</div>")
    else:
        body += paras
    body.append("</body>")
    html_str = ("<!DOCTYPE html>\n<html>" + "".join(head)
                + "".join(body) + "</html>")
    html = html_str.encode(encoding, errors="replace")
    text = html_to_text(html, "text/html")
    return warc_naive, html, text, lang


def build_pages(entries: DataFrame, seed: int) -> DataFrame:
    """Page store rows for every distinct entry loc except the
    deterministic 'missing' set (fetch-failure simulation: pmod 97/100).
    Runs as one Arrow pandas UDF; text := html_to_text(html)."""
    locs = entries.select("loc", "lastmod").dropDuplicates(["loc"])
    locs = locs.filter(
        F.pmod(F.abs(F.xxhash64("loc", F.lit(seed + 7))), F.lit(100))
        != 97)

    def gen(iterator):
        for pdf in iterator:
            rows = []
            for url, lastmod in zip(pdf["loc"], pdf["lastmod"]):
                warc_ts, html, text, lang = _page_for(url, lastmod, seed)
                rows.append((url, warc_ts, html, text, lang))
            yield pd.DataFrame(
                rows, columns=["url", "warc_ts", "html", "text", "lang"])

    return locs.mapInPandas(gen, _PAGE_SCHEMA)


# ---------------------------------------------------------------------------
# pre-existing index + fetch status
# ---------------------------------------------------------------------------


def build_preexisting_index(entries: DataFrame, pages: DataFrame,
                            sites: list, seed: int) -> DataFrame:
    """Index state before the crawl (FIXTURES.md §4): per-url bucket by
    hash → older/equal/newer modified vs the effective modification time
    (is_modified truth table), plus purge targets and foreign docs."""
    from ftw_crawler_spark.operators.extraction import md5_uuid_col

    eff = entries.dropDuplicates(["loc"]).join(
        pages.select(F.col("url").alias("loc"), "warc_ts"), "loc", "inner")
    eff = eff.withColumn(
        "effective_mod",
        F.coalesce(F.to_timestamp("lastmod"), F.col("warc_ts")))
    b = F.pmod(F.abs(F.xxhash64("loc", F.lit(seed + 13))), F.lit(10))
    indexed = eff.withColumn("bucket", b).filter(F.col("bucket") <= 5)
    modified = (
        F.when(F.col("bucket") <= 2,
               F.col("effective_mod") - F.expr("INTERVAL 1 DAY"))
        .when(F.col("bucket") <= 4, F.col("effective_mod"))
        .otherwise(F.col("effective_mod") + F.expr("INTERVAL 1 DAY")))
    site_id_to_csid = {s.site_id: s.crawler_site_id for s in sites}
    csid = F.create_map(
        *[x for sid, c in site_id_to_csid.items() if c
          for x in (F.lit(sid), F.lit(c))])
    base = indexed.select(
        md5_uuid_col(F.col("loc")).alias("UID"),
        F.col("loc").alias("url"),
        modified.alias("modified"),
        csid[F.col("site_id")].alias("crawler_site_id"))

    # purge targets: in index, under site prefix, NOT in any sitemap
    spark = entries.sparkSession
    purge_rows = []
    for s in sites:
        for k in range(3):
            u = f"{s.url}removed/{k}"
            purge_rows.append((u, s.crawler_site_id))
    # foreign docs: must never be purged or crawled
    purge_rows += [(f"http://foreign.example/doc/{k}", None)
                   for k in range(3)]
    # case-variant of a sitemap url: membership is case-insensitive →
    # NOT purged (reference sitemap.py:200-204)
    purge_rows.append(("http://site4.example.net/mixed-case", None))
    extra = spark.createDataFrame(
        purge_rows, "url string, crawler_site_id string")
    extra = extra.select(
        md5_uuid_col(F.col("url")).alias("UID"), "url",
        F.lit(datetime(2024, 1, 1)).alias("modified"), "crawler_site_id")
    return base.unionByName(extra)


def build_fetch_status(entries: DataFrame, seed: int) -> DataFrame:
    """Simulated HTTP specials (FIXTURES.md §5): 404s (pmod 96), 301
    redirects (pmod 98), 429 bursts (pmod 95 → n_429 retries), plus
    fixed header-override rows for the edge pages.

    Repeat-429s (n_429=2) are a CONSTANT COUNT per world (two fixed
    urls), not a density: each one permanently doubles the host's
    politeness sleeptime (reference fetcher.py:60-66, no reset on
    success), so any per-url probability makes doublings grow linearly
    with world size and collapses per-host capacity to ~1 url/batch —
    the reference itself would sleep 2^k·0.1 s and hang on such a
    world. Single 429s (n_429=1, no doubling) stay at ~1% density."""
    h = F.pmod(F.abs(F.xxhash64("loc", F.lit(seed + 7))), F.lit(100))
    base = entries.dropDuplicates(["loc"]).select(
        F.col("loc").alias("url"),
        F.when(h == 96, 404).when(h == 98, 301).otherwise(200)
        .alias("status"),
        F.when(h == 95, 1).otherwise(0).cast("int").alias("n_429"),
        F.lit(None).cast("map<string,string>").alias("headers"),
    ).filter((F.col("status") != 200) | (F.col("n_429") > 0))

    import base64 as b64
    spark = entries.sparkSession
    special = spark.createDataFrame(
        [("http://site4.example.net/pdf-doc", 200, 0,
          {"content-type": "application/pdf",
           "content-disposition": 'attachment; filename="bericht.pdf"'}),
         ("http://site4.example.net/x-doc-title", 200, 0,
          {"x-document-title":
           b64.b64encode(" Übergeordneter Titel ".encode()).decode()}),
         # the two fixed repeat-429 urls (sleeptime-doubling coverage)
         ("https://site0.example.ch/page/3/doc-3", 200, 2, None),
         ("http://site1.example.org/page/5/doc-5", 200, 2, None)],
        "url string, status int, n_429 int, headers map<string,string>")
    base = base.join(special.select(F.col("url").alias("u")),
                     base.url == F.col("u"), "left_anti")
    return base.unionByName(special)


ROBOTS_BODIES = {
    # site0: one page bucket disallowed, one doc-prefix within another
    # bucket re-allowed (exercises longest-prefix + tie semantics)
    "site0.example.ch": (
        "# generated robots\n"
        "User-agent: *\n"
        "Disallow: /page/13/\n"
        "Disallow: /page/7/\n"
        "Allow: /page/7/doc-1\n"),
    # site1: empty group → allow everything
    "site1.example.org": "User-agent: *\nDisallow:\n",
    # site2: NO robots row at all (host absent → allowed)
    # site3: group for a different agent only → * unaffected
    "site3.example.com": (
        "User-agent: otherbot\nDisallow: /\n"
        "User-agent: *\n# nothing disallowed for *\n"),
    # site4: gates the /stuff/ edge entry
    "site4.example.net": "User-agent: *\nDisallow: /stuff\n",
}


def build_robots(spark: SparkSession) -> DataFrame:
    """Per-host robots.txt bodies (FIXTURES.md §6). Deterministic
    constants — the oracle parses the same bytes."""
    rows = [(host, body.encode("utf-8"))
            for host, body in sorted(ROBOTS_BODIES.items())]
    return spark.createDataFrame(
        rows, "host string, robots_txt binary")


# ---------------------------------------------------------------------------
# world entry point
# ---------------------------------------------------------------------------


def generate_world(spark: SparkSession, out_dir: str, sf: float = 0.01,
                   seed: int = 42, n_urls: int | None = None) -> dict:
    """Generate + persist the synthetic world; returns table paths."""
    n_urls = n_urls or n_urls_for_sf(sf)
    sites = default_sites()
    entries = build_entries(spark, sites, n_urls, seed)
    entries.write.mode("overwrite").parquet(f"{out_dir}/entries.parquet")
    entries = spark.read.parquet(f"{out_dir}/entries.parquet")

    sitemaps = build_sitemaps(entries, sites)
    idx_rows = build_sitemap_index_rows(spark, sitemaps, sites)
    sitemaps.unionByName(idx_rows).write.mode("overwrite").parquet(
        f"{out_dir}/sitemaps.parquet")

    pages = build_pages(entries, seed)
    pages.write.mode("overwrite").parquet(f"{out_dir}/pages.parquet")
    pages = spark.read.parquet(f"{out_dir}/pages.parquet")

    index = build_preexisting_index(entries, pages, sites, seed)
    index.write.mode("overwrite").parquet(f"{out_dir}/index0.parquet")

    fetch_status = build_fetch_status(entries, seed)
    fetch_status.write.mode("overwrite").parquet(
        f"{out_dir}/fetch_status.parquet")

    build_robots(spark).write.mode("overwrite").parquet(
        f"{out_dir}/robots.parquet")

    return {name: f"{out_dir}/{name}.parquet"
            for name in ("entries", "sitemaps", "pages", "index0",
                         "fetch_status", "robots")}


# ---------------------------------------------------------------------------
# link layer (follow-links worlds)
# ---------------------------------------------------------------------------


def _link_block(url: str, site_url: str, n_s: int,
                n_hidden: int) -> str | None:
    """Deterministic anchor block for one sitemap doc page, or None if
    the url is not a generated doc page. Link classes (all pure
    functions of (url, n_s) — no RNG):

    - two sibling doc pages (already sitemap-enqueued: the discovery
      path's seen filter must never re-queue them);
    - hidden page j iff k % (j+2) == 0 → in-reference counts fall with
      j (n_refs(h-j) ≈ n_s/(j+2)): the n_refs-priority signal is
      strictly ordered;
    - every 5th page: three crawler traps (a path loop, a >12-segment
      path, a 9-parameter query) — the url_trap_cols gate must drop
      all of them before the seen probe;
    - every 7th page: an off-scope host — the scope filter drops it.
    """
    import re
    m = re.match(re.escape(site_url) + r"page/\d+/doc-(\d+)$", url)
    if not m:
        return None
    k = int(m.group(1))
    links = []
    for mult, add in ((7, 1), (13, 5)):
        t = (k * mult + add) % n_s
        links.append(f"{site_url}page/{t % 37}/doc-{t}")
    for j in range(n_hidden):
        if k % (j + 2) == 0:
            links.append(f"{site_url}hidden/h-{j}.html")
    if k % 5 == 0:
        links.append(f"{site_url}trap/x/y/x/y/x/y/p.html")
        links.append(site_url + "d/" * 13 + "deep.html")
        links.append(f"{site_url}t?"
                     + "&".join(f"p{i}=1" for i in range(9)))
    if k % 7 == 0:
        links.append(f"http://offsite.example.invalid/p-{k}")
    return "".join(f'<a href="{u}">l</a>' for u in links)


def add_link_layer(spark: SparkSession, world_dir: str, seed: int = 42,
                   n_hidden_per_site: int = 6,
                   sites: list | None = None) -> dict:
    """Upgrade a generated world into a FOLLOW-LINKS world: every
    sitemap doc page gains a deterministic anchor block (_link_block),
    and each site gains ``n_hidden_per_site`` hidden pages — present in
    the page store but in NO sitemap, reachable only by following
    links; hidden page j links to j+1 (a chain: multi-hop discovery
    across batches). ``text`` stays ``html_to_text(html)`` (the world
    contract extraction byte-identity tests rely on). Sitemaps /
    index0 / fetch_status / robots are untouched."""
    sites = sites if sites is not None else default_sites()
    pages = spark.read.parquet(f"{world_dir}/pages.parquet")
    entries = spark.read.parquet(f"{world_dir}/entries.parquet")
    n_by_site = {r["site_id"]: r["n"] for r in
                 entries.filter(F.col("loc").rlike(r"/page/\d+/doc-\d+$"))
                 .groupBy("site_id")
                 .agg(F.count(F.lit(1)).alias("n")).collect()}
    site_info = [(s.url, n_by_site.get(s.site_id, 0)) for s in sites
                 if n_by_site.get(s.site_id, 0) > 0]

    def rewrite(iterator):
        for pdf in iterator:
            htmls, texts = pdf["html"].tolist(), pdf["text"].tolist()
            for i, url in enumerate(pdf["url"].tolist()):
                block = None
                for site_url, n_s in site_info:
                    if url.startswith(site_url):
                        block = _link_block(url, site_url, n_s,
                                            n_hidden_per_site)
                        break
                if block:
                    html = bytes(htmls[i]).replace(
                        b"</body>",
                        b'<div class="outlinks">'
                        + block.encode("utf-8") + b"</div></body>")
                    htmls[i] = html
                    texts[i] = html_to_text(html, "text/html")
            out = pdf.copy()
            out["html"], out["text"] = htmls, texts
            yield out

    linked = pages.mapInPandas(rewrite, _PAGE_SCHEMA)

    hidden_rows = []
    for site_url, _n in site_info:
        for j in range(n_hidden_per_site):
            hurl = f"{site_url}hidden/h-{j}.html"
            warc_ts, html, text, lang = _page_for(hurl, None, seed)
            if j + 1 < n_hidden_per_site:
                nxt = f"{site_url}hidden/h-{j + 1}.html"
                html = html.replace(
                    b"</body>",
                    f'<a href="{nxt}">next</a></body>'.encode("utf-8"))
                text = html_to_text(html, "text/html")
            hidden_rows.append((hurl, warc_ts, html, text, lang))
    hidden = spark.createDataFrame(hidden_rows, _PAGE_SCHEMA)

    out_path = f"{world_dir}/pages.parquet"
    tmp_path = f"{world_dir}/pages_linked.parquet"
    linked.unionByName(hidden).write.mode("overwrite").parquet(tmp_path)
    import shutil
    shutil.rmtree(out_path)
    shutil.move(tmp_path, out_path)
    return {"hidden_per_site": n_hidden_per_site,
            "sites_linked": len(site_info)}
