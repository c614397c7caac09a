"""The crawl cycle: EP1 (SURVEY.md §3) as one Spark batch pipeline.

One cycle ≅ one reference ``run_global_crawl_cycle``
(/root/reference/src/scheduler/crawl_scheduler.py:78-225):

    sites → sitemap BFS expansion → recency filter → candidate build
    (canonicalize/hash/reject-filter) → URL-seen dedup (bloom + exact
    anti-join) → blocked-host gate → robots gate → politeness deadlines →
    wave selection → fetch (join) → payload validation → MERGE links,
    MERGE host state, append crawl log, bump sites.last_crawl_at

State lives in a SnapStore (Iceberg in production): ``links`` (the seen
store + payload, reference article_links), ``host_state``, ``bloom``,
``crawl_logs``, ``sites``. Every commit carries funnel counters in its
snapshot summary (diagnose_pipeline.py:38-53 parity), which is the
north_rule's per-batch lineage.

RESUMABILITY: a cycle processes the frontier in WAVES (max_per_host per
host per wave). Every table commit rides an async lane keyed by table
(strictly ordered within a table, concurrent across tables), and all
lanes are fully drained before the cycle returns. The bloom seen-filter
is maintained by NEXT-cycle init catch-up (``bloom_catchup`` folds the
links delta in on the init thread, overlapped with discovery) — a bloom
whose ``covers_links`` lags the links HEAD is extended incrementally,
and one that can't be (an unrecorded size or modulus, or a rewrite in
the range that retention did not re-cover) is rebuilt. A kill loses at
most one uncommitted wave — its keys are still absent from links, so a
resumed cycle re-crawls exactly that wave and the append stays
duplicate-free; no crash ordering can leak a duplicate past the bloom
short-circuit.
``test_resume_equals_uninterrupted`` kills after wave 1 and proves the
final links table equals the uninterrupted run's.
"""

from __future__ import annotations

from dataclasses import dataclass, field
from datetime import datetime

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from spark_frontier.frontier.priority import build_candidates
from spark_frontier.frontier.recency import filter_recent
from spark_frontier.fetch.fetcher import hermetic_fetch
from spark_frontier.functions.bloom import (
    BITS_PER_KEY,
    bloom_m_bits,
    bloom_usable,
    build_bloom_segments,
    dedup_unseen,
    extend_bloom,
    might_contain_udf,
    rebuild_bloom,
)
from spark_frontier.payload.validate import validate_fetched
from spark_frontier.politeness.backoff import (
    blocked_hosts,
    empty_host_state,
    update_host_state,
)
from spark_frontier.politeness.ratelimit import assign_deadlines, select_batch
from spark_frontier.politeness.robots import (
    build_rules_df,
    build_rules_df_distributed,
    robots_allowed,
)
from spark_frontier.sitemap.expand import expand_sitemap_tree
from spark_frontier.storage import SnapStore
from spark_frontier.storage.materialize import materialize

_HS_LITERAL_CAP = 4096  # above this, broadcast-join the host state
_IMAGES_BROADCAST_CAP = 1_000_000  # per-image validation results: ~50 B/row

LINK_COLUMNS = [
    "site_id", "url", "canon_url", "url_key", "url_hash", "host", "image_id",
    "caption", "title", "sport_category", "lastmod", "published_at",
    "http_code", "is_valid", "invalid_reason", "psnr_db", "first_seen_at",
]


@dataclass
class CycleReport:
    """Funnel counters — diagnose_pipeline.py:38-53 stage parity."""
    sitemap_entries_total: int = 0
    entries_within_days: int = 0
    new_urls_found: int = 0
    robots_denied: int = 0
    scheduled: int = 0
    fetched: int = 0
    fetch_failed: int = 0
    validation_failed: int = 0
    saved: int = 0
    waves: int = 0
    extra: dict = field(default_factory=dict)

    def as_dict(self) -> dict:
        d = {k: v for k, v in self.__dict__.items() if k != "extra"}
        d.update(self.extra)
        return d


def load_world(spark: SparkSession, world_dir: str) -> dict[str, DataFrame]:
    import os

    out = {}
    for name in ["sites", "images", "sitemap_pages", "web_pages", "robots_docs",
                 "url_seen"]:
        p = os.path.join(world_dir, f"{name}.parquet")
        if os.path.exists(p):
            out[name] = spark.read.parquet(p)
    return out


def seed_seen_store(store: SnapStore, url_seen: DataFrame) -> None:
    """Initialize the links table from a pre-existing seen list (fixture
    F6). Computes engine keys from raw urls."""
    from spark_frontier.functions.urls import canonicalize_url, url_key_canonical

    links = store.table("links")
    if links.exists():
        return
    seeded = (
        url_seen.withColumn("canon_url", canonicalize_url(F.col("url")))
        .withColumn("url_key", url_key_canonical(F.col("canon_url")))
        .withColumn("site_id", F.lit(None).cast("string"))
        .withColumn("image_id", F.lit(None).cast("string"))
        .withColumn("caption", F.lit(None).cast("string"))
        .withColumn("title", F.lit(None).cast("string"))
        .withColumn("sport_category", F.lit(None).cast("string"))
        .withColumn("lastmod", F.lit(None).cast("timestamp"))
        .withColumn("published_at", F.lit(None).cast("timestamp"))
        .withColumn("http_code", F.lit(None).cast("int"))
        .withColumn("is_valid", F.lit(None).cast("boolean"))
        .withColumn("invalid_reason", F.lit(None).cast("string"))
        .withColumn("psnr_db", F.lit(None).cast("double"))
        .select(*LINK_COLUMNS)
    )
    links.overwrite(seeded, summary={"op": "seed_seen"})


def first_per_key(candidates: DataFrame) -> DataFrame:
    """First candidate per url_key in selection order
    (site_seq, depth, path, sitemap_pos) — the within-cycle dedupe.

    Implemented as min(struct(order..., rest...)) rather than a
    row_number window: the order prefix is globally unique (site_seq is
    per site; the path chain + sitemap_pos are unique within a site), so
    the struct comparison is always decided before any payload field and
    the winner is identical to the window's row_number()==1 row — but
    the aggregate gets map-side partial combine and skips the window's
    full per-partition sort of the candidate rows after the exchange
    (~25% of the job on the bench world, where duplicates are rare).
    Exactness is pinned by test_first_per_key_matches_window.

    Two conditions hold this up. Every candidate column rides in the
    struct, so every one must be orderable: a map-typed column would
    fail analysis (the window ordered only the 4 priority columns).
    And equality with the window rests on the order prefix being
    globally unique: on a prefix tie the payload fields (nulls first)
    would pick the winner, where the window picks arbitrarily.
    """
    cols = candidates.columns
    order = ["site_seq", "depth", "path", "sitemap_pos"]
    rest = [c for c in cols if c not in order and c != "url_key"]
    return (
        candidates.groupBy("url_key")
        .agg(F.min(F.struct(*order, *rest)).alias("_w"))
        .select("url_key", "_w.*")
        .select(*cols)
    )


def fetch_and_validate(
    wave_batch: DataFrame,
    world: dict[str, DataFrame],
    batch_ts: datetime,
) -> DataFrame:
    """Fetch + late payload join + image/caption validation — the
    UDF-heavy tail shared by the batch cycle and the streaming path.

    NO explicit salting here: the hermetic fetch is a shuffle_hash join on
    ``url``, whose hash partitioning spreads the join output (where the
    validate UDF runs) uniformly across all shuffle partitions — a prior
    ``salted_repartition`` was a full extra shuffle of the widest rows
    that the join immediately re-shuffled away (measured round 3). Salting
    (``salted_repartition``) remains the skew tool for the LIVE path,
    which partitions by host, not url.

    Ordering/priority columns (site_seq/depth/path/sitemap_pos) have done
    their job once the wave is selected — drop them before the join
    shuffles."""
    to_fetch = wave_batch.drop("site_seq", "depth", "path", "sitemap_pos")
    fetched = hermetic_fetch(to_fetch, world["web_pages"], batch_ts)
    # DEDUPED VALIDATION (guide §4.1): decode+PSNR once per DISTINCT image
    # in the originals store, join 3 narrow scalars back by image_id, and
    # recompose the per-row caption checks in JVM — value-identical to the
    # old attach_payload+validate_images per row (parity test), with the
    # Python boundary and the payload-bytes join gone from the wave
    # entirely. Broadcast of the per-image results is gated on the store's
    # row count (parquet metadata count, memoized across cycles on the
    # world dict, same pattern as the robots-rules gate).
    n_images = world.get("_images_n")
    if n_images is None:
        n_images = world["images"].count()
        world["_images_n"] = n_images
    return validate_fetched(
        fetched, world["images"],
        broadcast_images=n_images <= _IMAGES_BROADCAST_CAP,
    )


def build_link_rows(
    validated: DataFrame,
    batch_ts: datetime,
    sites: DataFrame | None = None,
    keep: list[str] | None = None,
) -> DataFrame:
    """Link rows for the sink, incl. V6-V9 categorization (the reference
    categorizes every saved article, crawl_scheduler.py:276-294): broadcast
    site_type/sport_focus from sites, then the precedence chain
    (forced focus ≻ URL segment ≻ URL pattern ≻ caption score ≻ 'sports').

    Precedence steps 3-4 run in the Arrow kernel (RE2 pattern pass +
    per-distinct-text content scoring), value-identical to the all-JVM
    chain (grid parity test); steps 1-2 stay JVM."""
    from spark_frontier.extract.category import with_category
    from spark_frontier.functions.urls import sha256_hex

    rows = validated.withColumn("title", F.col("news_title")).withColumn(
        "published_at",
        F.coalesce(F.col("news_publication_date"), F.col("lastmod")),
    ).withColumn(
        # V10 sha256 raw-URL parity (repository.py:92-94), computed HERE —
        # post-fetch, JVM-side — so the 64-char hex never rides the
        # frontier shuffles upstream
        "url_hash", sha256_hex(F.col("url"))
    )
    if sites is not None:
        rows = rows.join(
            F.broadcast(sites.select("site_id", "site_type", "sport_focus")),
            on="site_id",
            how="left",
        )
    else:
        rows = rows.withColumn(
            "site_type", F.lit(None).cast("string")
        ).withColumn("sport_focus", F.lit(None).cast("string"))
    rows = with_category(
        rows, url="url", title="title", content="caption",
        site_type="site_type", sport_focus="sport_focus",
        out="sport_category", step34_kernel=True,
    )
    return (
        rows.withColumn("first_seen_at", F.lit(batch_ts))
        .withColumn("is_valid", F.coalesce(F.col("is_valid"), F.lit(False)))
        .select(*LINK_COLUMNS, *(keep or []))
    )


def run_crawl_cycle(
    spark: SparkSession,
    world: dict[str, DataFrame],
    store: SnapStore,
    batch_ts: datetime,
    days: int = 7,
    max_per_host: int = 64,
    max_waves: int = 100,
    use_bloom: bool = True,
    bloom_segments: int = 16,
    stop_after_wave: int | None = None,
    collect_metrics: bool = True,
    bloom_probe: str = "broadcast",
    process_within_days: int | None = None,
    report: CycleReport | None = None,
) -> CycleReport:
    """Run one crawl cycle to frontier exhaustion (or stop_after_wave, for
    the resume test). Returns funnel counters.

    ``use_bloom``/``bloom_segments``: the bloom seen-filter in front of the
    exact anti-join, and its segment modulus. The bloom is built on the
    init thread, caught up from the links delta when it lags
    (``bloom_catchup``), and rebuilt only when it cannot be extended.

    ``bloom_probe``: 'broadcast' (default; right while total bitmap size
    fits executor memory) or 'distributed' (cogroup probe, no driver
    collect — the 10^10-key path). Exactness is identical either way —
    the probe never decides, the exact anti-join does.

    ``process_within_days``: the reference's run-once quirk
    (crawl_scheduler.py:367-372): DISCOVER with ``days`` (7) but re-filter
    to entries within this many days (2) before processing; undated
    entries pass (is_within_days returns True on parse failure)."""
    import os as _os
    import time as _time

    _trace = bool(_os.environ.get("SPARK_FRONTIER_TRACE"))
    _t0 = [_time.time()]

    def _tr(tag: str) -> None:
        if _trace:
            now = _time.time()
            print(f"[trace] {tag}: {now - _t0[0]:.2f}s", flush=True)
            _t0[0] = now

    # Track block-manager state: localCheckpoint blocks from THIS cycle are
    # dead weight once the cycle's results are committed to the store, but
    # the ContextCleaner only reclaims them after a (lazy) py4j GC round —
    # a following cycle would otherwise run under needless memory pressure.
    _pre_rdds = set(spark.sparkContext._jsc.getPersistentRDDs().keySet().toArray())

    # callers may pass a CycleReport to watch funnel counters mid-cycle
    # from another thread (EP3 status surface, api/controller.py)
    if report is None:
        report = CycleReport()
    try:
        return _run_cycle_inner(
            spark, world, store, batch_ts, days, max_per_host, max_waves,
            use_bloom, bloom_segments, stop_after_wave, collect_metrics,
            bloom_probe, process_within_days, report, _tr,
        )
    finally:
        jmap = spark.sparkContext._jsc.getPersistentRDDs()
        for rid in list(jmap.keySet().toArray()):
            if rid not in _pre_rdds:
                jmap.get(rid).unpersist(False)


def _run_cycle_inner(
    spark, world, store, batch_ts, days, max_per_host, max_waves, use_bloom,
    bloom_segments, stop_after_wave, collect_metrics, bloom_probe,
    process_within_days, report, _tr,
) -> CycleReport:
    sites = world["sites"].filter(F.col("is_active")).orderBy("site_seq")
    seeds = sites.select("site_id", "site_seq", "sitemap_url")

    links_tbl = store.table("links")
    host_tbl = store.table("host_state")
    bloom_tbl = store.table("bloom")
    logs_tbl = store.table("crawl_logs")

    # Async state-commit lanes: links / host_state / bloom /
    # logs / watermark commits don't gate the next wave's reads (their
    # DataFrames stay in memory for the cycle), so they run on background
    # threads. All futures are joined before the cycle returns, so the
    # on-disk state a *completed* cycle leaves behind is unchanged.
    #
    # PER-TABLE ordering, CROSS-table parallelism: commits to one table
    # must serialize (two threads appending would race on the manifest
    # file list, and a later host-state snapshot must never be overwritten
    # by an earlier one), but commits to DIFFERENT tables are independent
    # Spark jobs — running them on one worker made the end-of-cycle tail a
    # serial ~5 s chain (measured round 3; in a single-wave drain cycle
    # there is no next wave to hide it behind). Each lane key chains its
    # futures; distinct keys run concurrently on the pool.
    from concurrent.futures import ThreadPoolExecutor

    pool = ThreadPoolExecutor(max_workers=4)
    pending: list = []
    _lane_tail: dict[str, object] = {}
    _lane_lock = __import__("threading").Lock()

    def _async(fn, *a, _lane: str = "state", **k):
        with _lane_lock:
            prev = _lane_tail.get(_lane)

            def _run(prev=prev):
                if prev is not None:
                    prev.result()  # strict order within the lane
                # FAIR pool: commit jobs interleave with in-flight wave
                # stages instead of queueing behind them
                spark.sparkContext.setLocalProperty(
                    "spark.scheduler.pool", "commits"
                )
                try:
                    return fn(*a, **k)
                finally:
                    spark.sparkContext.setLocalProperty(
                        "spark.scheduler.pool", None
                    )

            fut = pool.submit(_run)
            _lane_tail[_lane] = fut
        pending.append(fut)
        return fut

    def _seen_bloom(seen, links_snapshot):
        """The bloom fronting ``seen`` (the links table at
        ``links_snapshot``) and the exact seen-key count.

        EXACTNESS INVARIANT: a bloom miss bypasses the exact anti-join, so
        the bloom must be a SUPERSET of the seen set it fronts. Enforced by
        provenance, not commit ordering: every bloom commit records the
        links snapshot id it covers (``covers_links``). A bloom that lags
        the links HEAD is extended by the links delta; one that cannot be
        (no recorded size or modulus, or a rewrite in the range) is rebuilt
        from the full seen set. Extra bloom keys are harmless (extra
        anti-join probes only)."""

        def _commit(op, segments, fields):
            _async(bloom_tbl.overwrite, segments,
                   summary={"op": op, "covers_links": links_snapshot,
                            **fields},
                   small=True, _lane="links")

        segments = bloom_tbl.read(spark)
        meta = bloom_tbl.summary()
        if segments is not None and not bloom_usable(meta, bloom_segments):
            segments = None
        covers = meta.get("covers_links")
        if segments is not None and covers != links_snapshot:
            # CATCH-UP (round 5): cycles no longer commit an end-of-cycle
            # bloom delta — it was the entire commit tail (~4 s at 8
            # cores, pure serial drain). The NEXT cycle folds the links
            # delta in HERE instead, on the init thread, hidden behind
            # sitemap discovery. Requires the recorded snapshot to be an
            # ancestor readable incrementally.
            try:
                delta = links_tbl.read_changes(spark, covers)
            except ValueError:
                segments = None
            else:
                if delta is not None:
                    segments, fields = extend_bloom(
                        segments, meta, delta.select("url_key")
                    )
                    segments = materialize(segments)
                    _commit("bloom_catchup", segments, fields)
        if segments is not None:
            # ONE agg job: capacity check + the exact seen count the
            # broadcast-seen gate needs; runs on the caught-up segments,
            # so an outgrown filter still rebuilds bigger
            cap = segments.agg(
                F.sum("m_bits").alias("mb"),
                F.sum("n_items").alias("n"),
                F.count_distinct("m_bits").alias("sizes"),
            ).collect()[0]
            if not ((cap["n"] and cap["n"] * BITS_PER_KEY > cap["mb"])
                    or cap["sizes"] != 1):
                return segments, int(cap["n"] or 0)
        # full build at the shared size (UNIFORM m_bits, so later deltas
        # OR-merge). Called here rather than through rebuild_bloom, which
        # would add a checkpoint of the seen keys to the init thread;
        # perfbench's traced run also replays this module's
        # build_bloom_segments call.
        n_seen = seen.count()
        fields = {"n_segments": bloom_segments,
                  "m_bits": bloom_m_bits(n_seen, bloom_segments)}
        segments = build_bloom_segments(
            seen.select("url_key"), n_segments=bloom_segments,
            m_bits=fields["m_bits"],
        ).transform(materialize)
        _commit("bloom_build", segments, fields)
        return segments, n_seen

    # Cycle-init state (seen read, bloom provenance check/agg/rebuild,
    # host-state read) is INDEPENDENT of sitemap discovery, so it runs on
    # a pool thread in the "init" FAIR scheduler pool: its small jobs
    # interleave with the expand stages instead of serializing ~1-3 s of
    # job latency after them. Joined right before the wave loop needs it.
    def _init_state():
        # SNAPSHOT-ISOLATED seen set: read ONCE at cycle start (the
        # SnapTable file list is immutable per snapshot). In-cycle
        # additions are covered by the `attempted` set, so the bloom built
        # here stays valid for the whole cycle — waves never touch it.
        spark.sparkContext.setLocalProperty("spark.scheduler.pool", "init")
        try:
            links_snapshot = links_tbl.snapshot_id
            seen = links_tbl.read(spark)
            segments = None
            seen_count = None  # known exactly when the bloom path runs
            if seen is None:
                seen = spark.createDataFrame([], "url_key long")
                seen_count = 0
            elif use_bloom:
                segments, seen_count = _seen_bloom(seen, links_snapshot)

            # host state: read once, then carried IN MEMORY between waves
            # (the table write is resume state only → async)
            hs = host_tbl.read(spark)
            if hs is None:
                hs = empty_host_state(spark)
            # DEFERRED-FOLD CATCH-UP (round 5): the previous cycle's
            # FINAL-wave host fold is recorded as a pending_fold marker
            # (lineage files + batch_ts) instead of running as the last
            # job of its commit tail — at cycle end there is no compute
            # left to hide the groupBy-host job behind, but HERE it
            # overlaps sitemap discovery. Same discipline as the bloom
            # catch-up above. Unreadable fold files (retention) fall
            # back to the stale base, which only ever over-throttles —
            # the documented crash-resume semantics.
            _pend = host_tbl.summary().get("pending_fold")
            if _pend:
                try:
                    _prows = spark.read.parquet(*_pend["files"]).select(
                        "host", "politeness_deadline", "http_code"
                    )
                    _pts = datetime.fromisoformat(_pend["batch_ts"])
                    hs = update_host_state(hs, _prows, _pts).transform(
                        materialize
                    )
                except Exception:
                    pass  # stale base; marker cleared below
                # persist the folded base (clears the marker). Rides the
                # host_state lane, so this cycle's own end-of-cycle
                # marker commit serializes after it and re-points to
                # these files.
                _async(host_tbl.overwrite, hs,
                       summary={"op": "host_state_catchup"},
                       small=True, _lane="host_state")
            # wave 1's literal-state collect runs HERE, overlapped with
            # discovery (the limit-collect on an empty/small table still
            # costs 2-3 scale-up jobs of driver latency on the wave path)
            hs_rows0 = hs.limit(_HS_LITERAL_CAP + 1).collect()
            # prebuild the broadcast bloom probe (bitmap collect +
            # sc.broadcast serialization) off the wave critical path too
            probe_fn = None
            if segments is not None and bloom_probe == "broadcast":
                probe_fn = might_contain_udf(spark, segments, bloom_segments)
            return seen, segments, hs, seen_count, hs_rows0, probe_fn
        finally:
            spark.sparkContext.setLocalProperty("spark.scheduler.pool", None)

    from concurrent.futures import ThreadPoolExecutor as _TPE

    _init_pool = _TPE(max_workers=1)
    fut_state = _init_pool.submit(_init_state)
    _init_pool.shutdown(wait=False)

    try:

        # --- discovery: sitemap BFS + recency + candidate build -------------
        # expand already localCheckpoints each BFS level; counts on the
        # checkpointed levels are near-free.
        entries = expand_sitemap_tree(seeds, world["sitemap_pages"])
        _tr("expand")

        recent = filter_recent(entries, sites, days=days, now=batch_ts)

        # --- robots gate (broadcast join; zero frontier shuffles) ------------
        # parse DISTRIBUTED (mapInPandas per executor batch): only the compact
        # rules rows reach the driver-side broadcast, never the robots bodies —
        # at 10^6-10^7 hosts the round-2 collect()-then-parse loop was GBs
        # through the driver and minutes of single-threaded work
        if "robots_docs" in world:
            rules = build_rules_df_distributed(world["robots_docs"])
            # host count gates the rules broadcast (robots.py): a parquet
            # metadata count, memoized on the world dict across cycles
            n_robots_hosts = world.get("_robots_n_hosts")
            if n_robots_hosts is None:
                n_robots_hosts = world["robots_docs"].count()
                world["_robots_n_hosts"] = n_robots_hosts
        else:
            rules = build_rules_df(spark, [])
            n_robots_hosts = 0
        with_robots = robots_allowed(
            build_candidates(recent), rules, n_hosts=n_robots_hosts
        )
        candidates = with_robots.filter(F.col("robots_allowed"))

        # Deterministic within-cycle dedupe: the same URL listed by two
        # sitemaps must enter the frontier ONCE (the links append relies on
        # wave keys being unique), and the FIRST occurrence in selection order
        # wins — matching the reference's launch-order contract (SURVEY §3).
        candidates = first_per_key(candidates)
        if process_within_days is not None:
            # run-once quirk (crawl_scheduler.py:367-372): discover 7 d,
            # PROCESS only ≤ process_within_days. The reference checks ONLY
            # ``lastmod`` ("if not lastmod or is_within_days(lastmod, 2)") —
            # an entry with a NULL lastmod passes unconditionally even if its
            # news_publication_date is old.
            dd = F.datediff(
                F.lit(batch_ts).cast("date"), F.to_date(F.col("lastmod"))
            )
            candidates = candidates.filter(
                F.col("lastmod").isNull() | dd.between(0, process_within_days)
            )
        # materialize once, so the wave job's python-UDF stages overlap JVM
        # stages instead of serializing behind the discovery chain, and
        # fuse the within-days count into that job (Observation) instead
        # of a separate count job — one fewer serial job + driver gap per
        # cycle (pure serial tail at any core count)
        obs_cand = Observation("candidates_n")
        candidates = candidates.observe(
            obs_cand, F.count(F.lit(1)).alias("n")
        ).transform(materialize)
        report.entries_within_days = int(obs_cand.get["n"] or 0)
        if collect_metrics:
            report.sitemap_entries_total = entries.count()
            report.robots_denied = with_robots.filter(
                ~F.col("robots_allowed")
            ).count()

        def _site_log_rows(df: DataFrame, crawl_type: str, ts) -> DataFrame:
            """K3 per-site per-phase crawl-log rows (repository.py:473-498;
            call sites crawl_scheduler.py:164-171,203-211): one row per site
            per stage with urls_found / new_urls / status."""
            return df.select(
                F.lit(ts).alias("ts"),
                "site_id",
                F.lit(crawl_type).alias("crawl_type"),
                F.lit("success").alias("status"),
                F.lit(None).cast("int").alias("http_code"),
                F.col("urls_found").cast("long"),
                F.col("new_urls").cast("long"),
                F.lit(None).cast("string").alias("error_message"),
            )


        seen, segments, hs, seen_count, hs_rows, probe_fn = fut_state.result()
        _tr("state_init")

        # In-cycle attempted set: the reference iterates its new-URL list ONCE
        # per cycle (crawl_scheduler.py:232-241) — failures are not retried
        # until re-discovered next cycle. Only VALID articles enter the seen
        # store (save_article_link runs after validation, :288-311).
        attempted = None  # lazy union of per-wave checkpointed url_key slices

        # the fold for wave k stays LAZY until wave k+1 actually needs it —
        # the FINAL wave's fold is deferred to the next cycle's init
        # thread via a pending_fold marker (see the catch-up above)
        hs_next: DataFrame | None = None  # lazy fold from the latest wave
        final_wave_files: list[str] | None = None  # fold inputs, last wave
        hs_dirty = False  # in-memory hs diverged from the committed base

        wave_site_slices: list[DataFrame] = []  # (site_id, is_valid) for K3 logs
        wave = 0
        while wave < max_waves:
            wave += 1
            if hs_next is not None:
                hs = hs_next.transform(materialize)
                hs_next = None
                hs_dirty = True
                # LITERALIZE small host state: every broadcast exchange
                # is a separate driver-scheduled job (~0.5-1 s serial
                # wall each, at any core count); with ≤4096 hosts the
                # state rows inline into the plan as literal maps/filters
                # — zero extra jobs per wave. Above the cap (the
                # 10^6-host design point) the broadcast join path is
                # used unchanged. Wave 1's rows were collected on the
                # init thread, overlapped with discovery.
                hs_rows = hs.limit(_HS_LITERAL_CAP + 1).collect()
            hs_literal = len(hs_rows) <= _HS_LITERAL_CAP
            unseen = dedup_unseen(
                candidates, seen.select("url_key"), segments=segments,
                n_segments=bloom_segments, probe=bloom_probe,
                seen_count=seen_count, probe_fn=probe_fn,
            )
            if attempted is not None:
                unseen = unseen.join(attempted, on="url_key", how="left_anti")

            # --- blocked-host gate (F10) ---------------------------------
            obs_unseen = Observation(f"unseen_w{wave}")
            unseen = unseen.observe(obs_unseen, F.count(F.lit(1)).alias("n"))
            if hs_literal:
                blocked = [r["host"] for r in hs_rows if r["is_blocked"]]
                if blocked:
                    unseen = unseen.filter(~F.col("host").isin(blocked))
            else:
                unseen = unseen.join(
                    F.broadcast(blocked_hosts(hs)), on="host", how="left_anti"
                )

            # --- politeness deadlines + wave selection --------------------
            # Drain mode: the wave IS the politeness window (≤ max_per_host
            # per host, deadlines spaced 1/refill_rate apart). A live
            # deployment would additionally select_batch(scheduled, wave_ts,
            # trigger_s) to honor wall clock; logical time keeps tests
            # deterministic.
            scheduled = assign_deadlines(
                unseen, hs_rows if hs_literal else hs, batch_ts,
                max_per_host=max_per_host,
            )

            # --- ONE materialization per wave: dedup → schedule → fetch →
            # validate → categorize, counters observed in the same job.
            # (Round-1 ran 4 checkpoints + 4 commits per wave; the serial
            # barrier tail was the measured scaling-efficiency killer.)
            obs_v = Observation(f"valid_w{wave}")
            rows_obs = fetch_and_validate(scheduled, world, batch_ts)
            rows_obs = build_link_rows(
                rows_obs, batch_ts, sites=world["sites"],
                keep=["politeness_deadline"],
            ).observe(
                obs_v,
                F.count(F.lit(1)).alias("n"),
                F.sum(F.when(F.col("http_code") == 200, 1).otherwise(0)).alias("ok"),
                F.sum(F.when(F.col("is_valid"), 1).otherwise(0)).alias("valid"),
            )
            # MATERIALIZE-TO-SINK: the wave's one compute job writes the
            # fetch_log lineage files directly (fetch_partition = the
            # salted politeness partition that executed the fetch,
            # north_rule per-partition fetch lineage — evaluated in the
            # executing task, before any reshuffle). This replaces the
            # old localCheckpoint + separate full-table fetch_log write:
            # one job fewer in the cycle's commit tail, and the cycle's
            # biggest block-manager footprint disappears. Downstream
            # consumers re-read the just-written files with column-pruned
            # scans.
            wave_files = store.table("fetch_log").append_files(
                rows_obs.select(
                    "*", F.spark_partition_id().alias("fetch_partition")
                ),
                summary={"op": "fetch_lineage", "wave": wave},
            )
            _tr(f"wave{wave}_materialize")

            def _obs_n(obs, key):
                # a runtime-empty frontier lets AQE's empty-relation
                # propagation prune the CollectMetrics node out of the
                # executed plan, so the Observation never fires and .get
                # raises — which happens exactly when the metric is 0
                # (first seen on a fully-seen world: zero unseen URLs)
                try:
                    return int(obs.get[key] or 0)
                except Exception:
                    return 0

            n_wave = _obs_n(obs_v, "n")
            n_unseen = _obs_n(obs_unseen, "n")
            n_ok = _obs_n(obs_v, "ok")
            n_valid = _obs_n(obs_v, "valid")
            if wave == 1:
                report.new_urls_found = n_unseen
            if n_wave == 0:
                # drained wave: the write job ran (observations fired) but
                # produced no files — don't try to re-read an empty list
                break
            rows_full = spark.read.parquet(*wave_files)
            report.scheduled += n_wave
            report.waves = wave
            report.fetched += n_ok
            report.fetch_failed += n_wave - n_ok
            report.validation_failed += n_ok - n_valid
            report.saved += n_valid

            # --- sinks (K1, valid only — reference parity) -----------------
            # The wave was exactly deduped against (seen ∪ attempted), so
            # every valid key is NEW — the upsert degenerates to an APPEND
            # (no O(table) copy-on-write rewrite; Iceberg MOR equivalent).
            # The links append reads only the wave's committed lineage
            # files (column-pruned), and
            # the next wave dedups against (snapshot-isolated seen ∪
            # in-memory attempted) — never the new links — so the append
            # can ride the async lane too, overlapping the next wave's
            # compute. The lane is drained before the cycle returns, and a
            # crash before the append simply re-crawls the wave on resume
            # (keys are still absent from links → dedup readmits; append
            # stays duplicate-free).
            # METADATA-ONLY commit (round 5): the wave's lineage files
            # already hold every link row; register them into links as
            # an (is_valid, LINK_COLUMNS) shared view instead of
            # re-serializing ~n_valid rows a second time. The links-lane
            # ordering (and the watermark chained behind it) is
            # unchanged — only the tail's biggest write disappears.
            _async(
                links_tbl.append_shared_files,
                wave_files,
                where="is_valid",
                columns=list(LINK_COLUMNS),
                summary={"op": "wave", "wave": wave, "rows": n_wave,
                         "fetched_ok": n_ok, "valid": n_valid},
                _lane="links",
            )
            _tr(f"wave{wave}_links_append")

            if collect_metrics:
                wave_site_slices.append(rows_full.select("site_id", "is_valid"))

            # host-state fold: LAZY — materialized only if a next wave
            # runs (loop top); the FINAL wave's fold never runs in this
            # cycle at all — its inputs (the wave's lineage files) ride
            # the pending_fold marker and the next cycle's init thread
            # folds them, overlapped with discovery
            hs_next = update_host_state(
                hs,
                rows_full.select("host", "politeness_deadline", "http_code"),
                batch_ts,
            )
            final_wave_files = wave_files
            _tr(f"wave{wave}_hoststate")

            if stop_after_wave is not None and wave >= stop_after_wave:
                break
            if n_wave == n_unseen:
                break  # frontier fully drained — skip the empty round
            slice_df = rows_full.select("url_key")
            attempted = (
                slice_df if attempted is None
                else attempted.unionByName(slice_df)
            )

        # No end-of-cycle bloom delta (round 5): the delta build + merge +
        # commit were the cycle's whole async-drain tail (no compute left
        # to hide them behind). The NEXT cycle's init thread folds the
        # links delta into the filter incrementally (bloom_catchup in
        # _seen_bloom), overlapped with sitemap discovery — same
        # provenance discipline, zero tail.

        # host-state: ONE commit per cycle (the reference loses this state
        # entirely on restart — rate_limiter.py:16-24; we persist the
        # cycle-final fold; a mid-cycle crash resumes with the previous
        # cycle's politeness state, which only ever *over*-throttles).
        # DEFERRED FINAL FOLD (round 5): the last wave's fold job
        # (groupBy-host over every wave row) was the commit tail's
        # dominant remaining cost — nothing left in the cycle to hide it
        # behind. Instead of computing it here, record WHERE its inputs
        # live (the final wave's committed lineage files + batch_ts) in
        # the snapshot summary; the next cycle's init thread — or any
        # reader via read_host_state() — folds them on demand. When the
        # in-memory base never diverged from disk (single-wave cycles,
        # the bench drain shape) the commit is METADATA-ONLY: one
        # manifest write, zero Spark jobs in the tail. Durability is
        # unchanged: the marker is committed before the cycle returns
        # and is self-describing for resume.
        if report.waves > 0:
            if hs_next is not None and final_wave_files:
                marker = {
                    "op": "host_state", "waves": report.waves,
                    "pending_fold": {
                        "files": list(final_wave_files),
                        "batch_ts": batch_ts.isoformat(),
                    },
                }
                if hs_dirty:
                    # multi-wave: intermediate folds live only in memory
                    # — persist the (small, already-materialized) base
                    # the marker's fold applies on top of
                    _async(host_tbl.overwrite, hs, summary=marker,
                           small=True, _lane="host_state")
                else:
                    _async(host_tbl.commit_same_files, marker,
                           _lane="host_state")
            else:
                # drained-final-wave shape: the last real fold already
                # materialized into hs at loop top
                _async(host_tbl.overwrite, hs,
                       summary={"op": "host_state", "waves": report.waves},
                       small=True, _lane="host_state")

        # --- per-site per-phase crawl logs (K3 parity) --------------------
        if collect_metrics and wave_site_slices:
            from functools import reduce as _reduce

            per_site = _reduce(
                lambda a, b: a.unionByName(b), wave_site_slices
            ).groupBy("site_id").agg(
                F.count("*").alias("urls_found"),
                F.sum(F.when(F.col("is_valid"), 1).otherwise(0)).alias(
                    "new_urls"
                ),
            )
            sitemap_phase = candidates.groupBy("site_id").agg(
                F.count("*").alias("urls_found"),
                F.lit(None).cast("long").alias("new_urls"),
            )
            _async(
                logs_tbl.append,
                _site_log_rows(sitemap_phase, "sitemap", batch_ts).unionByName(
                    _site_log_rows(per_site, "article", batch_ts)
                ),
                summary={"op": "site_logs"},
                small=True, _lane="crawl_logs",
            )

        # --- cycle bookkeeping: log row + last_crawl_at watermark --------
        # (tiny driver-literal tables → local pyarrow commits, no Spark job)
        import pandas as _pd

        # cycle-level row conforms to the per-site schema; the full funnel
        # counter set rides in the snapshot SUMMARY (north_rule lineage)
        log_pdf = _pd.DataFrame(
            [
                {
                    "ts": batch_ts,
                    "site_id": None,
                    "crawl_type": "cycle",
                    "status": "ok",
                    "http_code": None,
                    "urls_found": int(report.scheduled),
                    "new_urls": int(report.saved),
                    "error_message": None,
                }
            ]
        ).astype({"site_id": "string", "crawl_type": "string",
                  "status": "string", "error_message": "string",
                  "http_code": "Int32", "urls_found": "int64",
                  "new_urls": "int64"})
        # the cycle row goes through the SAME single-worker async lane as
        # the per-site log append above: SnapTable._commit has no lock, so
        # two threads appending to crawl_logs concurrently would race on
        # the manifest file list and silently drop whichever committed
        # first. One lane ⇒ all crawl_logs commits serialize.
        _async(logs_tbl.append_local, log_pdf, summary=report.as_dict(),
               _lane="crawl_logs")

        sites_updated = world["sites"].withColumn(
            "last_crawl_at",
            F.when(F.col("is_active"), F.lit(batch_ts)).otherwise(
                F.col("last_crawl_at")
            ),
        )
        # FAILURE ATOMICITY: the watermark rides the LINKS lane, so it
        # commits only after every queued links append (and the bloom
        # commit chained behind them) succeeded. If an append fails, the
        # lane-chained prev.result() poisons this future too, and on-disk
        # state never says "crawled at batch_ts" while link rows are
        # missing — the old independent lane could commit the watermark
        # first and only surface the append error at the drain.
        _async(store.table("sites").overwrite, sites_updated,
               summary={"op": "watermark"}, small=True, _lane="links")
        _tr("bookkeeping")
    finally:
        # join the detached init thread FIRST: on the discovery-error path
        # _init_state may still be running and about to submit its bloom
        # rebuild to the pool — shutting the pool down under it would turn
        # the cycle error into an unrelated RuntimeError and could leave
        # the thread running Spark jobs after the cycle raised. Its own
        # error (if any) is secondary to whatever is propagating.
        try:
            fut_state.result()
        except Exception:
            pass
        # join the async commit lane: a cycle only RETURNS once all its
        # state commits are durable (same end state as the serial version)
        pool.shutdown(wait=True)
        for f in pending:
            f.result()
    _tr("async_drain")
    return report


def retention_cleanup(store: SnapStore, spark: SparkSession,
                      now: datetime, ttl_days: int = 2) -> None:
    """T10 (repository.py:432-450): TTL the seen store. Reference quirk
    preserved: expired URLs become re-crawlable."""
    links = store.table("links")
    if links.exists():
        cutoff = (f"first_seen_at < timestamp'{now.isoformat(sep=' ')}' "
                  f"- INTERVAL {ttl_days} DAYS")
        bloom = store.table("bloom")
        n_seg = bloom.summary().get("n_segments")
        links.delete_where(
            cutoff,
            spark,
            summary={"op": "retention", "ttl_days": ttl_days},
        )
        # seen-set shrank → the bloom (no delete support) is rebuilt once,
        # in the shape the next cycle extends: the filter's own modulus,
        # uniform m_bits, covering the post-delete head. A bloom that
        # records no modulus is left for the next cycle to rebuild.
        seen = links.read(spark)
        if seen is not None and n_seg:
            segments, fields = rebuild_bloom(
                seen.select("url_key"), int(n_seg)
            )
            bloom.overwrite(
                segments,
                summary={"op": "bloom_rebuild_after_retention",
                         "covers_links": links.snapshot_id, **fields},
            )
    # append-heavy log tables accumulate one file set per commit; the
    # 24 h maintenance pass bin-packs them (links is rewritten by the
    # delete_where above, so it is already compact)
    for name in ("fetch_log", "crawl_logs"):
        tbl = store.table(name)
        if tbl.exists():
            tbl.compact(spark)
