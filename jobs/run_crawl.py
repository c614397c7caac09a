#!/usr/bin/env python
"""spark-submit entrypoint for the crawl cycle (north_rule: "ships via
spark-submit --py-files ... on multi-executor clusters").

Packaging:
    python jobs/package.py                    # → dist/spark_frontier.zip
    spark-submit --py-files dist/spark_frontier.zip jobs/run_crawl.py \\
        --world /path/to/world --store /path/to/warehouse \\
        [--days 7] [--max-per-host 64] [--dry-run]

On a real cluster the SnapStore root lives on shared storage (S3/HDFS via
an Iceberg catalog — see storage/snapstore.py for the 1:1 mapping); in
local mode any directory works. ``--dry-run`` stops after frontier
materialization (reference cli.py --dry-run, crawl_scheduler.py:330-396).
"""

from __future__ import annotations

import argparse
import json
import sys
from datetime import datetime, timezone


def main() -> int:
    p = argparse.ArgumentParser()
    p.add_argument("--world", required=True, help="dir of world parquet tables")
    p.add_argument("--store", required=True, help="SnapStore warehouse root")
    p.add_argument("--days", type=int, default=7)
    p.add_argument("--max-per-host", type=int, default=64)
    p.add_argument("--no-bloom", action="store_true")
    p.add_argument("--dry-run", action="store_true")
    p.add_argument("--run-once", action="store_true",
                   help="reference cli.py run-once: discover 7 d but only "
                        "process entries within 2 d "
                        "(crawl_scheduler.py:367-372)")
    p.add_argument("--process-days", type=int, default=2,
                   help="processing window for --run-once")
    p.add_argument("--batch-ts", default=None,
                   help="ISO timestamp for logical time (default: now UTC)")
    p.add_argument("--cleanup-ttl-days", type=int, default=None,
                   help="also run retention cleanup with this TTL")
    p.add_argument("--expire-keep-last", type=int, default=None,
                   help="store maintenance after the cycle: expire each "
                        "table's snapshot history to this depth and GC "
                        "orphaned data files (Iceberg expire_snapshots + "
                        "remove_orphan_files)")
    p.add_argument("--sites", action="store_true",
                   help="list configured sites and exit "
                        "(reference cli.py show_sites, :76-92)")
    p.add_argument("--status", action="store_true",
                   help="show blocked hosts + last committed cycle summary "
                        "and exit (reference cli.py status, :47-73)")
    p.add_argument("--init-db", action="store_true",
                   help="create empty store tables and exit "
                        "(reference cli.py init_db / init_tables)")
    args = p.parse_args()

    from pyspark.sql import SparkSession

    from spark_frontier.session import worker_daemon_conf

    # spark-submit provides master/deploy config; fall back to local dev.
    # Python workers fork from the package's daemon (worker_daemon.py).
    spark = (
        SparkSession.builder.appName("spark-frontier-crawl")
        .config(map=worker_daemon_conf())
        .getOrCreate()
    )

    from spark_frontier.pipeline.crawl import (
        load_world,
        retention_cleanup,
        run_crawl_cycle,
        seed_seen_store,
    )
    from spark_frontier.storage import SnapStore

    batch_ts = (
        datetime.fromisoformat(args.batch_ts)
        if args.batch_ts
        else datetime.now(timezone.utc).replace(tzinfo=None)
    )
    world = load_world(spark, args.world)
    store = SnapStore(args.store)

    if args.init_db:
        # reference init_tables parity: materialize the warehouse layout
        # (empty committed tables) so a first crawl starts from a known
        # catalog instead of implicit creation
        from spark_frontier.pipeline.crawl import LINK_COLUMNS
        from spark_frontier.politeness.backoff import empty_host_state

        links = store.table("links")
        if not links.exists():
            empty_links = spark.createDataFrame(
                [], "site_id string, url string, canon_url string, "
                    "url_key long, url_hash string, host string, "
                    "image_id string, caption string, title string, "
                    "sport_category string, lastmod timestamp, "
                    "published_at timestamp, http_code int, "
                    "is_valid boolean, invalid_reason string, "
                    "psnr_db double, first_seen_at timestamp",
            ).select(*LINK_COLUMNS)
            links.overwrite(empty_links, summary={"op": "init_db"})
        host = store.table("host_state")
        if not host.exists():
            host.overwrite(empty_host_state(spark),
                           summary={"op": "init_db"}, small=True)
        print(json.dumps({"init_db": True,
                          "tables": ["links", "host_state"]}))
        return 0

    if args.sites:
        # reference show_sites parity (cli.py:76-92)
        rows = world["sites"].orderBy("site_seq").collect()
        out = [
            {"site_id": r["site_id"], "name": r["name"],
             "domain": r["domain"], "sitemap_url": r["sitemap_url"],
             "is_active": bool(r["is_active"]),
             "last_crawl_at": str(r["last_crawl_at"])
             if r["last_crawl_at"] else None}
            for r in rows
        ]
        print(json.dumps({"sites": out}))
        return 0

    if args.status:
        # reference status parity (cli.py:47-73): blocked hosts from the
        # committed host_state + last committed cycle funnel
        from pyspark.sql import functions as F

        from spark_frontier.politeness.backoff import (
            blocked_hosts,
            read_host_state,
        )

        # pending-fold-aware read: a just-finished cycle records its
        # final wave's host fold as a marker; status must see it folded
        hs = read_host_state(store.table("host_state"), spark)
        blocked = (
            [r["host"] for r in blocked_hosts(hs).collect()]
            if hs is not None else []
        )
        hist = store.table("crawl_logs").history()
        print(json.dumps({
            "blocked_hosts": blocked,
            "last_cycle": hist[-1]["summary"] if hist else None,
        }))
        return 0

    if "url_seen" in world:
        seed_seen_store(store, world["url_seen"])

    if args.dry_run:
        from pyspark.sql import functions as F

        from spark_frontier.frontier.priority import build_candidates
        from spark_frontier.frontier.recency import filter_recent
        from spark_frontier.sitemap.expand import expand_sitemap_tree

        sites = world["sites"].filter(F.col("is_active"))
        entries = expand_sitemap_tree(
            sites.select("site_id", "site_seq", "sitemap_url"),
            world["sitemap_pages"],
        )
        cand = build_candidates(filter_recent(entries, sites, args.days, batch_ts))
        print(json.dumps({"dry_run": True, "candidates": cand.count()}))
        return 0

    report = run_crawl_cycle(
        spark, world, store, batch_ts=batch_ts, days=args.days,
        max_per_host=args.max_per_host, use_bloom=not args.no_bloom,
        process_within_days=args.process_days if args.run_once else None,
    )
    if args.cleanup_ttl_days is not None:
        retention_cleanup(store, spark, now=batch_ts,
                          ttl_days=args.cleanup_ttl_days)
    out = report.as_dict()
    if args.expire_keep_last is not None:
        out["maintenance"] = store.expire_and_gc(args.expire_keep_last)
    print(json.dumps(out))
    return 0


if __name__ == "__main__":
    sys.exit(main())
