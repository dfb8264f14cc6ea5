"""Checks every measured crawl must pass.

Output: the crawl is compared with the plain-Python oracle's answer for
the same world (``expected.json``, written by world.py). In plain mode
the seen set, the crawl order, the skip counts and the text of every
UID must match. In follow-links mode the final index must be the
oracle's index plus exactly the world's hidden pages, with the oracle's
text for every oracle UID and no trap or off-scope URL.

Accounting, from ``CrawlResult.metrics``, the checkpoint the crawl
wrote before batch 0, and the rows the sink wrote:

    frontier rows + rows enqueued by discovery
        = sum admitted + sum skips (by reason) + rows remaining
    sum indexed = rows the sink wrote

Each function returns a list of problems; an empty list is a pass.
"""

from __future__ import annotations

import os

_TRAP_MARKS = ("/trap/", "offsite.example.invalid", "/d/d/", "?p0=")


def _index_rows(result) -> list:
    return (result.index()
            .select("UID", "url", "SearchableText", "crawl_seq", "batch_id")
            .collect())


def output(result, expected: dict, follow_links: bool) -> list:
    problems = []
    rows = _index_rows(result)
    want = expected["index"]
    got = {r["UID"]: r for r in rows}
    if follow_links:
        extra = {r["url"] for uid, r in got.items() if uid not in want}
        if extra != set(expected["hidden"]):
            problems.append(
                f"index minus oracle is {len(extra)} urls, not the "
                f"{len(expected['hidden'])} hidden pages")
        bad = [u for u in extra if any(m in u for m in _TRAP_MARKS)]
        if bad:
            problems.append(f"trap or off-scope urls indexed: {bad[:3]}")
    else:
        if set(got) != set(want):
            problems.append(f"UID set differs: {len(set(got) ^ set(want))}"
                            " UIDs in only one of engine, oracle")
        crawled = sorted((r for r in rows if r["batch_id"] is not None),
                         key=lambda r: r["crawl_seq"])
        order = [r["url"] for r in crawled]
        if set(order) != set(expected["crawl_order"]):
            problems.append("seen set differs from the oracle")
        elif order != expected["crawl_order"]:
            problems.append("crawl order differs from the oracle")
        plan = next(m for m in result.metrics if m.get("event") == "plan")
        if plan["skips"] != expected["skips"]:
            problems.append(f"skips {plan['skips']} != oracle "
                            f"{expected['skips']}")
    missing = [uid for uid in want if uid not in got]
    if missing:
        problems.append(f"{len(missing)} oracle UIDs missing")
    wrong = [uid for uid, (_, text) in want.items()
             if uid in got and text is not None
             and got[uid]["SearchableText"] != text]
    if wrong:
        problems.append(f"text differs for {len(wrong)} UIDs")
    return problems


def pending_after_plan(out_dir: str) -> int:
    """Frontier rows the plan phase left to crawl: the crawl_seq rows of
    the full checkpoint written before batch 0 (its host rows carry a
    null crawl_seq)."""
    import pyarrow.parquet as pq
    t = pq.read_table(os.path.join(out_dir, "checkpoints", "batch=-1",
                                   "state"), columns=["crawl_seq"])
    return t.num_rows - t.column("crawl_seq").null_count


def accounting(result, out_dir: str, rows_written: float,
               expected: dict) -> tuple[list, dict]:
    """Returns (problems, the accounting terms)."""
    m = result.metrics
    plan = next(x for x in m if x.get("event") == "plan")
    skips = sum(plan["skips"].values())
    admitted = sum(x["admitted"] for x in m if "admitted" in x)
    indexed = sum(x["indexed"] for x in m if "indexed" in x)
    enqueued = sum(x["enqueued"] for x in m if x.get("event") == "discovery")
    frontier = pending_after_plan(out_dir) + skips
    remaining = frontier + enqueued - admitted - skips
    terms = {"frontier_rows": frontier, "skips": skips,
             "admitted": admitted, "enqueued": enqueued,
             "remaining": remaining, "indexed": indexed,
             "rows_written": rows_written}
    problems = []
    if frontier != expected["frontier_rows"]:
        problems.append(f"frontier {frontier} rows, oracle walks "
                        f"{expected['frontier_rows']} sitemap entries")
    if remaining != 0:
        problems.append(f"{remaining} frontier rows neither admitted nor "
                        "skipped after the crawl returned")
    if indexed != rows_written:
        problems.append(f"sum indexed {indexed} != {rows_written:.0f} "
                        "rows the sink wrote")
    return problems, terms
