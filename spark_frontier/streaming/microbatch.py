"""Structured Streaming crawl path (T8/T9, SURVEY.md §2.4) + K5 trigger.

Reference: the crawler re-runs every 10 minutes via APScheduler
(/root/reference/src/scheduler/crawl_scheduler.py:57-76) with per-site
``last_crawl_at`` watermarks (repository.py:173-181) dropping already-seen
time ranges, and every saved article firing a webhook / Redis queue push
(/root/reference/src/pipeline/trigger.py:29-116).

Spark shape: frontier *candidates* (parsed sitemap url-rows) arrive as a
file stream, and each micro-batch is ONE crawl cycle over the entries it
received: ``foreachBatch`` calls ``run_crawl_cycle(entries=batch)``, which
skips only sitemap discovery. Everything else is the batch cycle's own
code — the seen index with its bloom catch-up, the host state with its
deferred fold, every politeness wave until the batch's frontier drains,
the fetch lineage and the commit lanes (foreachBatch is the sink
primitive for table-commit-shaped sinks — the same pattern drives
streaming MERGE on Iceberg). Per micro-batch the store gains
``fetch_log`` lineage, metadata-only ``links`` rows, a ``crawl_logs``
cycle row, the ``sites`` watermark, and a ``host_state`` commit whose
final-wave fold the next micro-batch applies at init.

RECENCY: a ``withWatermark`` on the source would be a NO-OP here —
watermarks only drop rows at *stateful* operators, and this query is
stateless foreachBatch. F2's cutoff parity is therefore the cycle's
explicit ``filter_recent`` against ``batch_ts - days``.

Crash-replay of a micro-batch re-reads the seen set (now containing its
own earlier commits), so the cycle's exact dedup removes the replayed
keys: idempotent.

Triggers:
- ``availableNow=True``  → drain-what-exists (tests, catch-up runs)
- ``processingTime='10 minutes'`` → the reference's cycle cadence, live

K5: ``on_saved(saved_rows, batch_id)`` fires after each micro-batch's
commits with the batch's saved (valid) rows collected — the webhook /
queue-push seam. The reference POSTs per article and LPUSHes a Redis
queue; a deployment drops ``requests.post`` / ``redis.lpush`` into the
callback. Failures in the hook must not poison the stream (reference
logs-and-continues, trigger.py:60-66), so exceptions are swallowed.
"""

from __future__ import annotations

from datetime import datetime
from typing import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.streaming import StreamingQuery

from spark_frontier.pipeline.crawl import run_crawl_cycle
from spark_frontier.storage import SnapStore

# the parsed-entry schema as it lands in the candidate stream directory
CANDIDATE_DDL = (
    "sitemap_url string, loc string, lastmod timestamp, changefreq string, "
    "priority double, news_title string, news_publication_date timestamp, "
    "news_publication_name string, sitemap_pos long, parse_mode string, "
    "site_id string, site_seq int, depth int, path array<long>"
)

_NOTIFY_COLUMNS = ["url", "url_key", "sport_category", "caption",
                   "published_at"]


def start_stream_crawl(
    spark: SparkSession,
    candidates_dir: str,
    world: dict[str, DataFrame],
    store: SnapStore,
    checkpoint_dir: str,
    batch_ts: datetime,
    days: int = 7,
    max_per_host: int = 64,
    available_now: bool = True,
    trigger_interval: str = "10 minutes",
    on_saved: Callable[[list, int], None] | None = None,
    on_saved_partition: Callable | None = None,
) -> StreamingQuery:
    """Start the streaming crawl; returns the StreamingQuery.

    ``on_saved``: K5 hook — called with (saved_rows, batch_id) after each
    micro-batch's commits; saved_rows is the collected list of valid link
    rows (url, url_key, sport_category, caption, published_at).
    Driver-side collect — right for reference-scale webhook batches.

    ``on_saved_partition``: the EXECUTOR-SIDE K5 variant — called once per
    partition with an iterator of the same rows, via ``foreachPartition``,
    so notifications never funnel through a driver collect. Exceptions
    are swallowed per partition (trigger.py:60-66 parity: notification
    failure never fails the crawl). Both hooks may be set.

    The saved rows are the links rows this micro-batch appended, read
    incrementally from the links head before the batch (the table's
    ``is_valid`` view of the fetch lineage)."""
    src = (
        spark.readStream.schema(CANDIDATE_DDL)
        .option("maxFilesPerTrigger", 4)
        .parquet(candidates_dir)
    )
    links_tbl = store.table("links")

    def _process(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        links_before = links_tbl.snapshot_id
        report = run_crawl_cycle(spark, world, store, batch_ts, days=days,
                                 max_per_host=max_per_host, entries=batch_df)
        if report.saved == 0 or (on_saved is None
                                 and on_saved_partition is None):
            return
        saved = (links_tbl.read(spark) if links_before is None
                 else links_tbl.read_changes(spark, links_before))
        saved = saved.select(*_NOTIFY_COLUMNS)
        if on_saved_partition is not None:
            cb = on_saved_partition

            def _push(rows_iter):
                try:
                    cb(rows_iter)
                except Exception:
                    pass  # K5 parity: never fails the crawl

            saved.foreachPartition(_push)
        if on_saved is not None:
            rows = saved.collect()
            try:
                on_saved(rows, int(batch_id))
            except Exception:
                pass  # K5 parity: trigger.py:60-66 logs and continues

    writer = (
        src.writeStream.foreachBatch(_process)
        .option("checkpointLocation", checkpoint_dir)
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    else:
        writer = writer.trigger(processingTime=trigger_interval)
    return writer.start()
