"""The crawl cycle: EP1 (SURVEY.md §3) as one Spark batch pipeline.

One cycle ≅ one reference ``run_global_crawl_cycle``
(/root/reference/src/scheduler/crawl_scheduler.py:78-225). ``run_crawl_cycle``
chains these stages, in order:

1. ``open_seen`` + ``open_host_state`` (the cycle's init, on a commit-lane
   thread, overlapped with discovery): the seen index — the links
   snapshot's keys, fronted by the bloom — and the host state.
2. ``expand_sitemap_tree``: sitemap BFS (skipped when the caller passes
   the ``entries``, as the stream does).
3. ``frontier``: recency filter → candidate build (canonicalize / hash /
   reject filter) → robots gate → within-cycle dedupe → within-days filter.
4. ``plan_wave``, once per politeness wave: URL-seen dedup (bloom +
   exact anti-join) → blocked-host gate → politeness deadlines → fetch →
   payload validation → categorization. The wave's rows are written once,
   as fetch lineage, then appended to links (metadata only).
5. ``commit_host_state`` and ``commit_bookkeeping``: host state, crawl
   logs and the sites ``last_crawl_at`` watermark.

Every table commit rides a ``_CommitLanes`` lane keyed by table (strictly
ordered within a table, concurrent across tables), and all lanes are
drained before the cycle returns. ``start_stream_crawl`` runs one whole
cycle per micro-batch, over the entries that micro-batch received.

State lives in a SnapStore (Iceberg in production): ``links`` (the seen
store + payload, reference article_links), ``host_state``, ``bloom``,
``crawl_logs``, ``sites``. Every commit carries funnel counters in its
snapshot summary (diagnose_pipeline.py:38-53 parity), which is the
north_rule's per-batch lineage.

RESUMABILITY: a cycle processes the frontier in WAVES (max_per_host per
host per wave). The bloom seen-filter is maintained by NEXT-cycle init
catch-up (``bloom_catchup`` folds the links delta in) — a bloom whose
``covers_links`` lags the links HEAD is extended incrementally, and one
that can't be (an unrecorded size or modulus, or a rewrite in the range
that retention did not re-cover) is rebuilt. A kill loses at most one
uncommitted wave — its keys are still absent from links, so a resumed
cycle re-crawls exactly that wave and the append stays duplicate-free; no
crash ordering can leak a duplicate past the bloom short-circuit.
``test_resume_equals_uninterrupted`` kills after wave 1 and proves the
final links table equals the uninterrupted run's.
"""

from __future__ import annotations

import threading
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass, field
from datetime import datetime

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from spark_frontier.frontier.priority import build_candidates
from spark_frontier.frontier.recency import filter_recent
from spark_frontier.fetch.fetcher import hermetic_fetch
from spark_frontier.functions.urls import sha256_hex_sql
from spark_frontier.functions import bloom as _bloom
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
    deferred_fold_summary,
    empty_host_state,
    has_pending_fold,
    read_host_state,
    update_host_state,
)
from spark_frontier.politeness.ratelimit import assign_deadlines
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
# The links table's scan-time projection of the wave's fetch_log files.
# url_hash (V10 sha256 raw-URL parity, repository.py:92-94) is a pure
# function of url that nothing in the cycle reads, so the lineage does
# not store it: the view derives it on read, and column pruning drops the
# sha2 for every reader that does not select it.
LINK_VIEW = [
    f"{sha256_hex_sql('url')} AS url_hash" if c == "url_hash" else c
    for c in LINK_COLUMNS
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


class _CommitLanes:
    """Background jobs in named lanes on one thread pool: FIFO within a
    lane, concurrent across lanes.

    Commits to one table must serialize (two threads appending would race
    on the manifest file list, and a later host-state snapshot must never
    be overwritten by an earlier one), but commits to DIFFERENT tables are
    independent Spark jobs — one serial lane made a single-wave cycle's
    tail a ~5 s chain with no next wave to hide it behind. A failed job
    poisons the later jobs of its lane, so e.g. the watermark never
    commits behind a failed links append.

    Used as a context manager, leaving it drains every lane; a drain
    error surfaces only when the block itself did not raise (the block's
    error is the one to report)."""

    def __init__(self, sc=None):
        self._sc = sc  # None: no Spark scheduler pools (plain jobs)
        self._pool = ThreadPoolExecutor(max_workers=4)
        self._lock = threading.Lock()
        self._tail: dict[str, object] = {}
        self._futures: list = []

    def submit(self, lane: str, fn, *a, spark_pool: str = "commits", **k):
        """Run ``fn(*a, **k)`` after every earlier job of ``lane``, in the
        FAIR scheduler pool ``spark_pool`` (so its jobs interleave with
        in-flight wave stages instead of queueing behind them)."""
        with self._lock:
            prev = self._tail.get(lane)

            def run():
                if prev is not None:
                    prev.result()  # strict order; a failure poisons the lane
                if self._sc is not None:
                    self._sc.setLocalProperty("spark.scheduler.pool", spark_pool)
                try:
                    return fn(*a, **k)
                finally:
                    if self._sc is not None:
                        self._sc.setLocalProperty("spark.scheduler.pool", None)

            fut = self._pool.submit(run)
            self._tail[lane] = fut
            self._futures.append(fut)
        return fut

    def drain(self) -> None:
        """Wait for every job, including jobs a running job submits, then
        re-raise the first error in submission order."""
        self.__exit__(None, None, None)

    def __enter__(self) -> _CommitLanes:
        return self

    def __exit__(self, exc_type, exc, tb) -> None:
        error, i = None, 0
        while True:
            with self._lock:
                if i == len(self._futures):
                    break
                fut = self._futures[i]
            i += 1
            try:
                fut.result()
            except Exception as e:  # re-raised below, once all are done
                error = error or e
        self._pool.shutdown(wait=True)
        if exc_type is None and error is not None:
            raise error


def observed_count(obs: Observation, key: str) -> int:
    """An Observation's count ``key``, after the action that ran its plan.

    When a stage's output is empty at runtime, AQE's empty-relation
    propagation can prune the stage — and a CollectMetrics node inside it
    — from the executed plan. The Observation then holds an empty row
    (``Observation.get`` fails an assertion converting it), and this only
    happens when the rows counted there are none: that case reads 0.
    Every other failure propagates."""
    if obs._jo.getRow().length() == 0:
        return 0
    return int(obs.get[key] or 0)


def _world_rows(world: dict, name: str) -> int:
    """Row count of a world table (a parquet metadata count), memoized on
    the world dict across cycles; it gates broadcast joins."""
    memo = f"_{name}_n"
    if memo not in world:
        world[memo] = world[name].count()
    return world[memo]


# ---- the seen index ---------------------------------------------------------

@dataclass
class SeenIndex:
    """The seen set a frontier is deduped against: the ``url_key``s of one
    links snapshot, and the bloom fronting them (``segments``, or None for
    the plain exact anti-join)."""
    keys: DataFrame
    n_segments: int
    segments: DataFrame | None = None
    count: int | None = None  # exact key count, when known
    probe_fn: object = None  # prebuilt broadcast probe (might_contain_udf)

    @property
    def probe(self) -> str:
        # the gate dedup_unseen uses for its exact side: a seen set too
        # big to ship whole to every executor is probed by cogroup, with
        # no driver collect (read per call, so a test can move the cap)
        if self.count is not None and self.count > _bloom.BROADCAST_SEEN_CAP:
            return "distributed"
        return "broadcast"

    def unseen(self, frontier: DataFrame) -> DataFrame:
        """``frontier`` rows whose key is not seen — exactly; the bloom
        only shrinks the exact anti-join's probe side."""
        return dedup_unseen(
            frontier, self.keys, segments=self.segments,
            n_segments=self.n_segments, probe=self.probe,
            seen_count=self.count, probe_fn=self.probe_fn,
        )


def open_seen(spark: SparkSession, store: SnapStore, lanes: _CommitLanes,
              use_bloom: bool, n_segments: int) -> SeenIndex:
    """The seen index for one cycle, SNAPSHOT-ISOLATED: the links table is
    read once, at cycle start (the SnapTable file list is immutable per
    snapshot). In-cycle additions are covered by the cycle's attempted
    keys, so the bloom opened here stays valid for the whole cycle. The
    broadcast probe (bitmap collect + sc.broadcast) is prebuilt here, off
    the wave's critical path."""
    links_tbl = store.table("links")
    links_snapshot = links_tbl.snapshot_id
    seen = links_tbl.read(spark)
    if seen is None:
        return SeenIndex(spark.createDataFrame([], "url_key long"),
                         n_segments, count=0)
    index = SeenIndex(seen.select("url_key"), n_segments)
    if use_bloom:
        index.segments, index.count = _seen_bloom(
            spark, store, lanes, index.keys, links_snapshot, n_segments)
        if index.probe == "broadcast":
            index.probe_fn = might_contain_udf(spark, index.segments,
                                               n_segments)
    return index


def _seen_bloom(spark, store, lanes, keys, links_snapshot, n_segments):
    """The bloom fronting ``keys`` (the links table at ``links_snapshot``)
    and the exact seen-key count.

    EXACTNESS INVARIANT: a bloom miss bypasses the exact anti-join, so the
    bloom must be a SUPERSET of the seen set it fronts. Enforced by
    provenance, not commit ordering: every bloom commit records the links
    snapshot id it covers (``covers_links``). A bloom that lags the links
    HEAD is extended by the links delta; one that cannot be (no recorded
    size or modulus, or a rewrite in the range) is rebuilt from the full
    seen set. Extra bloom keys are harmless (extra anti-join probes only).
    """
    links_tbl, bloom_tbl = store.table("links"), store.table("bloom")

    def commit(op, segments, fields):
        lanes.submit("links", bloom_tbl.overwrite, segments,
                     summary={"op": op, "covers_links": links_snapshot,
                              **fields},
                     small=True)

    segments = bloom_tbl.read(spark)
    meta = bloom_tbl.summary()
    if segments is not None and not bloom_usable(meta, n_segments):
        segments = None
    covers = meta.get("covers_links")
    if segments is not None and covers != links_snapshot:
        # catch-up: cycles commit no end-of-cycle bloom delta (it would be
        # the whole commit tail); the next cycle folds the links delta in
        # here, hidden behind sitemap discovery. Requires the recorded
        # snapshot to be an ancestor readable incrementally.
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
                commit("bloom_catchup", segments, fields)
    if segments is not None:
        # ONE agg job: capacity check + the exact seen count the
        # broadcast-seen gate needs; runs on the caught-up segments, so an
        # outgrown filter still rebuilds bigger
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
    # would add a checkpoint of the seen keys to the init job; perfbench's
    # traced run also replays this module's build_bloom_segments call.
    n_seen = keys.count()
    fields = {"n_segments": n_segments,
              "m_bits": bloom_m_bits(n_seen, n_segments)}
    segments = build_bloom_segments(
        keys, n_segments=n_segments, m_bits=fields["m_bits"],
    ).transform(materialize)
    commit("bloom_build", segments, fields)
    return segments, n_seen


# ---- host state -------------------------------------------------------------

def open_host_state(spark: SparkSession, host_tbl,
                    lanes: _CommitLanes) -> tuple[DataFrame, list]:
    """The host state at cycle start, then carried IN MEMORY between waves
    (the table write is resume state only), plus its first
    ``_HS_LITERAL_CAP + 1`` rows for wave 1's literal gate.

    A deferred final-wave fold left by the previous cycle is applied here
    (``read_host_state``), overlapped with discovery, and the folded base
    is persisted: that clears the marker, and this cycle's own host-state
    commit serializes behind it on the same lane."""
    hs = read_host_state(host_tbl, spark)
    if has_pending_fold(host_tbl):
        hs = materialize(hs)
        lanes.submit("host_state", host_tbl.overwrite, hs,
                     summary={"op": "host_state_catchup"}, small=True)
    if hs is None:
        hs = empty_host_state(spark)
    return hs, hs.limit(_HS_LITERAL_CAP + 1).collect()


def commit_host_state(lanes: _CommitLanes, host_tbl, hs: DataFrame,
                      deferred_files: list[str] | None, dirty: bool,
                      waves: int, batch_ts: datetime) -> None:
    """ONE host-state commit per cycle (the reference loses this state on
    restart — rate_limiter.py:16-24; a mid-cycle crash resumes with the
    previous cycle's state, which only ever *over*-throttles).

    ``deferred_files``: the final wave's lineage files, whose fold is NOT
    run here — it would be the commit tail's last job, with nothing left
    to hide it behind. The commit records them as a deferred fold that
    the next cycle's init (or any ``read_host_state``) applies. When the
    in-memory base never diverged from disk (``dirty`` false: single-wave
    cycles) the commit is metadata-only, zero Spark jobs. None: the final
    wave drained, and its fold already materialized into ``hs``."""
    if deferred_files is None:
        lanes.submit("host_state", host_tbl.overwrite, hs,
                     summary={"op": "host_state", "waves": waves},
                     small=True)
        return
    summary = deferred_fold_summary(deferred_files, batch_ts,
                                    op="host_state", waves=waves)
    if dirty:
        # multi-wave: intermediate folds live only in memory — persist the
        # (small, materialized) base the deferred fold applies on top of
        lanes.submit("host_state", host_tbl.overwrite, hs, summary=summary,
                     small=True)
    else:
        lanes.submit("host_state", host_tbl.commit_same_files, summary)


# ---- frontier and wave --------------------------------------------------------

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


def frontier(
    world: dict[str, DataFrame],
    entries: DataFrame,
    sites: DataFrame,
    batch_ts: datetime,
    days: int = 7,
    process_within_days: int | None = None,
    observe: bool = False,
) -> tuple[DataFrame, dict[str, Observation]]:
    """Sitemap entries → the cycle's frontier, lazily: recency filter,
    candidate build, robots gate, within-cycle dedupe, and the optional
    within-days filter.

    With ``observe``, Observations count the sitemap entries and the
    robots-denied rows in whichever job first runs the plan — no count
    jobs of their own. They come back keyed by their ``CycleReport``
    field, each counting ``n``."""
    observed: dict[str, Observation] = {}

    def count(df, name, expr):
        observed[name] = Observation(name)
        return df.observe(observed[name], expr.alias("n"))

    if observe:
        entries = count(entries, "sitemap_entries_total", F.count(F.lit(1)))
    recent = filter_recent(entries, sites, days=days, now=batch_ts)

    # robots gate: parsed DISTRIBUTED (mapInPandas per executor batch), so
    # only the compact rules rows reach a broadcast, never the robots
    # bodies; the host count gates that broadcast (robots.py)
    if "robots_docs" in world:
        rules = build_rules_df_distributed(world["robots_docs"])
        n_robots_hosts = _world_rows(world, "robots_docs")
    else:
        rules, n_robots_hosts = build_rules_df(entries.sparkSession, []), 0
    with_robots = robots_allowed(
        build_candidates(recent), rules, n_hosts=n_robots_hosts
    )
    if observe:
        with_robots = count(
            with_robots, "robots_denied",
            F.sum(F.when(~F.col("robots_allowed"), 1).otherwise(0)),
        )

    # Deterministic within-cycle dedupe: the same URL listed by two
    # sitemaps must enter the frontier ONCE (the links append relies on
    # wave keys being unique), and the FIRST occurrence in selection order
    # wins — matching the reference's launch-order contract (SURVEY §3).
    candidates = first_per_key(with_robots.filter(F.col("robots_allowed")))
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
    return candidates, observed


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

    rows = validated.withColumn("title", F.col("news_title")).withColumn(
        "published_at",
        F.coalesce(F.col("news_publication_date"), F.col("lastmod")),
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
        # no url_hash (V10): the links view derives it from url on read
        # (LINK_VIEW), so the 64-char hex is never stored per wave row
        .select(*(c for c in LINK_COLUMNS if c != "url_hash"),
                *(keep or []))
    )


def plan_wave(
    world: dict[str, DataFrame],
    candidates: DataFrame,
    seen: SeenIndex,
    hs: DataFrame,
    batch_ts: datetime,
    max_per_host: int,
    hs_rows: list | None = None,
    attempted: DataFrame | None = None,
    wave: int = 1,
) -> tuple[DataFrame, Observation, Observation]:
    """One politeness wave over ``candidates``, as ONE lazy plan: seen
    dedup (``seen``, then this cycle's ``attempted`` keys) → blocked-host
    gate → politeness deadlines → fetch → validate → categorize.

    ``hs_rows``: the host state's first ``_HS_LITERAL_CAP + 1`` rows, if
    already collected. With ≤ ``_HS_LITERAL_CAP`` hosts the state inlines
    into the plan as literal maps/filters — every broadcast exchange is a
    separate driver-scheduled job (~0.5-1 s of serial wall each); above
    the cap (the 10^6-host design point) it is broadcast-joined.

    Drain mode: the wave IS the politeness window (≤ max_per_host per
    host, deadlines spaced 1/refill_rate apart). A live deployment would
    additionally ``select_batch`` on the wall clock; logical time keeps
    the cycle deterministic.

    Returns the link rows (plus ``politeness_deadline``) and two
    Observations that fire in the job that runs them: the unseen
    frontier (``n``) and the wave (``n``, ``ok``, ``valid``)."""
    unseen = seen.unseen(candidates)
    if attempted is not None:
        unseen = unseen.join(attempted, on="url_key", how="left_anti")
    obs_unseen = Observation(f"unseen_w{wave}")
    unseen = unseen.observe(obs_unseen, F.count(F.lit(1)).alias("n"))

    # --- blocked-host gate (F10) ---
    if hs_rows is None:
        hs_rows = hs.limit(_HS_LITERAL_CAP + 1).collect()
    if len(hs_rows) <= _HS_LITERAL_CAP:
        blocked = [r["host"] for r in hs_rows if r["is_blocked"]]
        if blocked:
            unseen = unseen.filter(~F.col("host").isin(blocked))
        hs = hs_rows
    else:
        unseen = unseen.join(
            F.broadcast(blocked_hosts(hs)), on="host", how="left_anti"
        )

    scheduled = assign_deadlines(unseen, hs, batch_ts,
                                 max_per_host=max_per_host)
    # the fetch is a shuffle_hash join on url, whose hash partitioning
    # spreads the validate UDF, hot hosts included, over every shuffle
    # partition with no extra shuffle of the widest rows; the order
    # columns have done their job once the wave is set
    fetched = hermetic_fetch(
        scheduled.drop("site_seq", "depth", "path", "sitemap_pos"),
        world["web_pages"], batch_ts,
    )
    # decode + PSNR once per DISTINCT image, joined back by image_id; the
    # per-image results broadcast below a row-count gate
    validated = validate_fetched(
        fetched, world["images"],
        broadcast_images=_world_rows(world, "images") <= _IMAGES_BROADCAST_CAP,
    )
    obs_wave = Observation(f"valid_w{wave}")
    rows = build_link_rows(
        validated, batch_ts, sites=world["sites"],
        keep=["politeness_deadline"],
    ).observe(
        obs_wave,
        F.count(F.lit(1)).alias("n"),
        F.sum(F.when(F.col("http_code") == 200, 1).otherwise(0)).alias("ok"),
        F.sum(F.when(F.col("is_valid"), 1).otherwise(0)).alias("valid"),
    )
    return rows, obs_unseen, obs_wave


# ---- the cycle ----------------------------------------------------------------

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
    process_within_days: int | None = None,
    report: CycleReport | None = None,
    entries: DataFrame | None = None,
) -> CycleReport:
    """Run one crawl cycle to frontier exhaustion (or stop_after_wave, for
    the resume test). Returns funnel counters.

    ``use_bloom``/``bloom_segments``: the bloom seen-filter in front of the
    exact anti-join, and its segment modulus. The bloom is opened at cycle
    init, caught up from the links delta when it lags
    (``bloom_catchup``), and rebuilt only when it cannot be extended.
    Above ``BROADCAST_SEEN_CAP`` seen keys it is probed by cogroup instead
    of a broadcast; exactness is identical either way — the probe never
    decides, the exact anti-join does.

    ``collect_metrics``: also count the sitemap entries and robots denials
    (Observations on the candidates job) and commit the per-site crawl
    logs.

    ``process_within_days``: the reference's run-once quirk
    (crawl_scheduler.py:367-372): DISCOVER with ``days`` (7) but re-filter
    to entries within this many days (2) before processing; undated
    entries pass (is_within_days returns True on parse failure).

    ``report``: callers may pass a CycleReport to watch funnel counters
    mid-cycle from another thread (EP3 status surface,
    api/controller.py).

    ``entries``: parsed sitemap entries (``CANDIDATE_DDL`` rows) to crawl
    instead of expanding the active sites' sitemap trees — one stream
    micro-batch (streaming/microbatch.py)."""
    if report is None:
        report = CycleReport()
    sites = world["sites"].filter(F.col("is_active")).orderBy("site_seq")
    links_tbl = store.table("links")
    host_tbl = store.table("host_state")
    # localCheckpoint blocks from THIS cycle are dead weight once its
    # results are committed, but the ContextCleaner only reclaims them
    # after a (lazy) py4j GC round — a following cycle would otherwise run
    # under needless memory pressure
    jrdds = spark.sparkContext._jsc.getPersistentRDDs
    pre_rdds = set(jrdds().keySet().toArray())
    try:
        with _CommitLanes(spark.sparkContext) as lanes:
            # cycle init is independent of sitemap discovery: its small
            # jobs interleave with the expand stages (FAIR pool "init")
            init = lanes.submit(
                "init",
                lambda: (open_seen(spark, store, lanes, use_bloom,
                                   bloom_segments),
                         open_host_state(spark, host_tbl, lanes)),
                spark_pool="init",
            )
            if entries is None:
                entries = expand_sitemap_tree(
                    sites.select("site_id", "site_seq", "sitemap_url"),
                    world["sitemap_pages"],
                )
            candidates, observed = frontier(
                world, entries, sites, batch_ts, days, process_within_days,
                observe=collect_metrics,
            )
            # materialize once, so the wave job's python-UDF stages overlap
            # JVM stages instead of serializing behind the discovery chain;
            # the counters ride this job (Observations), not count jobs
            observed["entries_within_days"] = Observation("candidates_n")
            candidates = candidates.observe(
                observed["entries_within_days"], F.count(F.lit(1)).alias("n")
            ).transform(materialize)
            for name, obs in observed.items():
                setattr(report, name, observed_count(obs, "n"))
            seen, (hs, hs_rows) = init.result()

            # In-cycle attempted set: the reference iterates its new-URL
            # list ONCE per cycle (crawl_scheduler.py:232-241) — failures
            # are not retried until re-discovered next cycle. Only VALID
            # articles enter the seen store (save_article_link runs after
            # validation, :288-311).
            attempted = None  # lazy union of per-wave url_key slices
            # the fold for wave k stays LAZY until wave k+1 needs it; the
            # final wave's fold is deferred to the next cycle
            hs_next: DataFrame | None = None
            deferred_files: list[str] | None = None
            hs_dirty = False  # in-memory hs diverged from the committed base
            wave_site_slices: list[DataFrame] = []  # for the K3 logs
            wave = 0
            while wave < max_waves:
                wave += 1
                if hs_next is not None:
                    hs = hs_next.transform(materialize)
                    hs_next, hs_rows, hs_dirty = None, None, True
                rows, obs_unseen, obs_wave = plan_wave(
                    world, candidates, seen, hs, batch_ts, max_per_host,
                    hs_rows=hs_rows, attempted=attempted, wave=wave,
                )
                # the wave's ONE compute job writes its rows as fetch
                # lineage (fetch_partition = the partition that executed
                # the fetch, evaluated in the executing task); later reads
                # re-read these files with column-pruned scans
                lineage = rows.select(
                    "*", F.spark_partition_id().alias("fetch_partition")
                )
                wave_files = store.table("fetch_log").append_files(
                    lineage, summary={"op": "fetch_lineage", "wave": wave},
                )
                n_wave = observed_count(obs_wave, "n")
                n_unseen = observed_count(obs_unseen, "n")
                n_ok = observed_count(obs_wave, "ok")
                n_valid = observed_count(obs_wave, "valid")
                if wave == 1:
                    report.new_urls_found = n_unseen
                if n_wave == 0:
                    break  # drained: the write produced no files to re-read
                # the written schema, so the re-read runs no footer job
                rows_full = spark.read.schema(lineage.schema).parquet(
                    *wave_files)
                report.scheduled += n_wave
                report.waves = wave
                report.fetched += n_ok
                report.fetch_failed += n_wave - n_ok
                report.validation_failed += n_ok - n_valid
                report.saved += n_valid

                # --- sinks (K1, valid only — reference parity) ---
                # The wave was exactly deduped against (seen ∪ attempted),
                # so every valid key is NEW: the upsert is an APPEND, and a
                # METADATA-ONLY one — the lineage files are registered into
                # links as an (is_valid, LINK_VIEW) view. The next wave
                # dedups against (seen snapshot ∪ attempted), never the
                # new links, so the append rides the async lane; a crash
                # before it re-crawls the wave on resume (its keys are
                # still absent from links).
                lanes.submit(
                    "links", links_tbl.append_shared_files, wave_files,
                    where="is_valid", columns=LINK_VIEW,
                    summary={"op": "wave", "wave": wave, "rows": n_wave,
                             "fetched_ok": n_ok, "valid": n_valid},
                )
                if collect_metrics:
                    wave_site_slices.append(
                        rows_full.select("site_id", "is_valid"))
                hs_next = update_host_state(
                    hs,
                    rows_full.select("host", "politeness_deadline",
                                     "http_code"),
                    batch_ts,
                )
                deferred_files = wave_files

                if stop_after_wave is not None and wave >= stop_after_wave:
                    break
                if n_wave == n_unseen:
                    break  # frontier fully drained — skip the empty round
                slice_df = rows_full.select("url_key")
                attempted = (
                    slice_df if attempted is None
                    else attempted.unionByName(slice_df)
                )

            if report.waves > 0:
                commit_host_state(
                    lanes, host_tbl, hs,
                    deferred_files if hs_next is not None else None,
                    hs_dirty, report.waves, batch_ts,
                )
            commit_bookkeeping(
                lanes, store, world, report, batch_ts,
                candidates if collect_metrics else None, wave_site_slices,
            )
    finally:
        jmap = jrdds()
        for rid in list(jmap.keySet().toArray()):
            if rid not in pre_rdds:
                jmap.get(rid).unpersist(False)
    return report


def _site_log_rows(df: DataFrame, crawl_type: str, ts) -> DataFrame:
    """K3 per-site per-phase crawl-log rows (repository.py:473-498; call
    sites crawl_scheduler.py:164-171,203-211): one row per site per stage
    with urls_found / new_urls / status."""
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


def commit_bookkeeping(
    lanes: _CommitLanes,
    store: SnapStore,
    world: dict[str, DataFrame],
    report: CycleReport,
    batch_ts: datetime,
    candidates: DataFrame | None,
    wave_site_slices: list[DataFrame],
) -> None:
    """The cycle's log rows and its ``last_crawl_at`` watermark: per-site
    per-phase crawl logs (K3 parity, when ``candidates`` is given and a
    wave ran), the cycle row, and the sites table."""
    import pandas as pd

    logs_tbl = store.table("crawl_logs")
    # every crawl_logs commit rides ONE lane: SnapTable commits take no
    # lock, so two concurrent appends would race on the manifest file list
    if candidates is not None and wave_site_slices:
        from functools import reduce

        per_site = reduce(
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
        lanes.submit(
            "crawl_logs", logs_tbl.append,
            _site_log_rows(sitemap_phase, "sitemap", batch_ts).unionByName(
                _site_log_rows(per_site, "article", batch_ts)
            ),
            summary={"op": "site_logs"}, small=True,
        )

    # the cycle row conforms to the per-site schema; the full funnel
    # counter set rides in the snapshot SUMMARY (north_rule lineage). Tiny
    # driver-literal tables commit through local pyarrow, no Spark job.
    log_pdf = pd.DataFrame([{
        "ts": batch_ts, "site_id": None, "crawl_type": "cycle",
        "status": "ok", "http_code": None,
        "urls_found": int(report.scheduled), "new_urls": int(report.saved),
        "error_message": None,
    }]).astype({"site_id": "string", "crawl_type": "string",
                "status": "string", "error_message": "string",
                "http_code": "Int32", "urls_found": "int64",
                "new_urls": "int64"})
    lanes.submit("crawl_logs", logs_tbl.append_local, log_pdf,
                 summary=report.as_dict())

    sites_updated = world["sites"].withColumn(
        "last_crawl_at",
        F.when(F.col("is_active"), F.lit(batch_ts)).otherwise(
            F.col("last_crawl_at")
        ),
    )
    # FAILURE ATOMICITY: the watermark rides the LINKS lane, so it commits
    # only after every queued links append (and the bloom commit chained
    # behind them) succeeded — on-disk state never says "crawled at
    # batch_ts" while link rows are missing
    lanes.submit("links", store.table("sites").overwrite, sites_updated,
                 summary={"op": "watermark"}, small=True)


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
        # a rewrite of the links view: the kept rows' derived url_hash
        # (LINK_VIEW) is stored physically from here on
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
