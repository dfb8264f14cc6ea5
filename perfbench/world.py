"""Make the benchmark's pool of worlds and their expected output.

    python3 perfbench/world.py

For every pool seed whose world is not there yet (common.POOL seeds,
``common.world_dir``), writes the synthetic crawl world
(``sources.synth.generate_world`` plus ``add_link_layer``) and
``expected.json``: the plain-Python oracle's answer (``tests/oracle.py``)
for the same world. Each world is written to ``<world_dir>.tmp`` and
renamed into place at the end, so a world directory either is complete
or does not exist. All worlds are made in one session of their own, so
making worlds never warms the JVM that a measured crawl runs in.
"""

from __future__ import annotations

import json
import os
import shutil
import sys

import common


def expected_output(world: str) -> dict:
    """The oracle's crawl of ``world``, reduced to what the checks use."""
    import pyarrow.parquet as pq

    from ftw_crawler_spark import config as cfg
    from ftw_crawler_spark.operators.sitemaps import parse_entries
    from ftw_crawler_spark.sources.synth import default_sites
    from tests.oracle import _resolve, run_oracle

    sites = default_sites()
    o = run_oracle(world, sites, cfg.default_config(), common.CRAWL_TIME)
    sitemaps = {r["sitemap_url"]: r for r in
                pq.read_table(f"{world}/sitemaps.parquet").to_pylist()}
    # every sitemap entry the oracle walks is one frontier row
    frontier = sum(len(parse_entries(bytes(sitemaps[u]["xml"]),
                                     sitemaps[u]["gz"]))
                   for s in sites for u in _resolve(s, sitemaps))
    hidden = sorted(
        u for u in pq.read_table(f"{world}/pages.parquet",
                                 columns=["url"]).column("url").to_pylist()
        if "/hidden/" in u)
    return {
        "crawl_order": o["crawl_order"],
        "skips": {r: sum(1 for v in o["skipped"].values() if v == r)
                  for r in set(o["skipped"].values())},
        "index": {uid: [d["url"], d.get("SearchableText")]
                  for uid, d in o["index"].items()},
        "frontier_rows": frontier,
        "hidden": hidden,
    }


def make(spark, world: str, seed: int) -> None:
    from ftw_crawler_spark.sources.synth import (add_link_layer,
                                                 generate_world)
    tmp = world + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    generate_world(spark, tmp, n_urls=common.N_URLS, seed=seed)
    add_link_layer(spark, tmp, seed=seed)
    with open(os.path.join(tmp, "expected.json"), "w") as fh:
        json.dump(expected_output(tmp), fh)
    os.rename(tmp, world)


def main() -> int:
    todo = common.missing_worlds()
    if not todo:
        return 0
    os.makedirs(os.path.dirname(common.world_dir(0)), exist_ok=True)
    spark = common.session()
    try:
        for seed in todo:
            make(spark, common.world_dir(seed), seed)
            print(f"perfbench: world of seed {seed} made",
                  file=sys.stderr, flush=True)
    finally:
        spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
