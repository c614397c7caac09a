import hashlib
import os

import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from spark_frontier.pipeline.crawl import (
    LINK_COLUMNS,
    load_world,
    retention_cleanup,
    run_crawl_cycle,
    seed_seen_store,
)
from spark_frontier.pipeline.synth import NOW, gen_world
from spark_frontier.storage import SnapStore


@pytest.fixture(scope="module")
def world_dir(tmp_path_factory):
    d = str(tmp_path_factory.mktemp("world"))
    gen_world(d)
    return d


@pytest.fixture(scope="module")
def world(spark, world_dir):
    return load_world(spark, world_dir)


def _fresh_store(tmp_path_factory) -> SnapStore:
    return SnapStore(str(tmp_path_factory.mktemp("store")))


def _jobs_run(spark, fn) -> int:
    """How many Spark jobs ``fn()`` starts on this thread."""
    import uuid

    sc = spark.sparkContext
    group = uuid.uuid4().hex
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_cycle_end_to_end(spark, world, tmp_path_factory):
    store = _fresh_store(tmp_path_factory)
    seed_seen_store(store, world["url_seen"])
    report = run_crawl_cycle(spark, world, store, batch_ts=NOW, days=7)

    assert report.sitemap_entries_total > 100
    assert 0 < report.entries_within_days < report.sitemap_entries_total
    assert 0 < report.new_urls_found <= report.entries_within_days
    assert report.scheduled == report.new_urls_found  # frontier drained
    assert report.fetched > 0 and report.saved > 0
    assert report.robots_denied >= 0

    links = store.table("links").read(spark)
    # seen store only grows with VALID articles; no duplicate keys
    assert links.count() == links.select("url_key").distinct().count()
    saved = links.filter(F.col("is_valid"))
    assert saved.count() == report.saved
    # every saved row carries a decodable payload reference + caption
    assert saved.filter(F.col("caption").isNull()).count() == 0
    # reject patterns never reach the store
    assert links.filter(F.col("url").contains("/category/")).count() == 0

    # politeness: per-host deadline spacing ≥ 1/refill_rate (2 s default)
    logs = store.table("fetch_log").read(spark)
    assert logs is not None and logs.count() == report.scheduled
    # per-partition fetch lineage (north_rule): every fetched row records
    # the politeness partition that executed it
    assert "fetch_partition" in logs.columns
    assert logs.filter(F.col("fetch_partition").isNull()).count() == 0

    # lineage counters checkpointed per wave
    hist = store.table("links").history()
    assert any(h["summary"].get("op") == "wave" for h in hist)


def test_links_view_derives_url_hash(spark, world, tmp_path_factory):
    """V10 url_hash (sha256 of the raw url, repository.py:92-94) is a
    pure function of url: the wave's fetch_log files do not store it, and
    the links view derives it at scan time, in LINK_COLUMNS order, for
    seeded and crawled rows alike."""
    store = _fresh_store(tmp_path_factory)
    seed_seen_store(store, world["url_seen"])
    run_crawl_cycle(spark, world, store, batch_ts=NOW, days=7)

    lineage = store.table("fetch_log").current_files()
    assert lineage
    for p in lineage:
        assert "url_hash" not in pq.read_schema(p).names, p

    links = store.table("links").read(spark)
    assert links.columns == LINK_COLUMNS
    rows = links.select("url", "url_hash", "is_valid").collect()
    seeded = [r for r in rows if r["is_valid"] is None]
    crawled = [r for r in rows if r["is_valid"]]
    assert seeded and crawled and len(seeded) + len(crawled) == len(rows)
    for r in rows:
        assert r["url_hash"] == hashlib.sha256(r["url"].encode()).hexdigest()


def test_second_cycle_is_incremental(spark, world, tmp_path_factory):
    store = _fresh_store(tmp_path_factory)
    seed_seen_store(store, world["url_seen"])
    r1 = run_crawl_cycle(spark, world, store, batch_ts=NOW, days=7)
    r2 = run_crawl_cycle(spark, world, store, batch_ts=NOW, days=7)
    # second cycle over the same world: every valid URL already seen;
    # only previously-failed fetches are retried
    assert r2.saved <= max(r1.fetch_failed + r1.validation_failed, 0) + 1
    links = store.table("links").read(spark)
    assert links.count() == links.select("url_key").distinct().count()


def test_host_state_deferred_fold_parity(spark, world, tmp_path_factory):
    """Round 5: the cycle's FINAL-wave host fold is deferred — the commit
    records a pending_fold marker (lineage files + batch_ts) and the fold
    runs on the NEXT cycle's init thread (or any read_host_state call),
    value-identical to the old eager end-of-cycle fold."""
    from spark_frontier.politeness.backoff import (
        empty_host_state,
        read_host_state,
        update_host_state,
    )

    def _assert_marker_parity(store):
        host_tbl = store.table("host_state")
        pend = host_tbl.summary().get("pending_fold")
        assert pend and pend["files"], "cycle must commit a pending_fold"
        base = host_tbl.read(spark)
        if base is None:
            base = empty_host_state(spark)
        rows = spark.read.parquet(*pend["files"]).select(
            "host", "politeness_deadline", "http_code"
        )
        expected = update_host_state(base, rows, NOW)
        folded = read_host_state(host_tbl, spark)
        assert folded.exceptAll(expected).count() == 0
        assert expected.exceptAll(folded).count() == 0
        # the fold reads its lineage files with the known schema: building
        # the folded view starts no job beyond the base table read's
        assert (_jobs_run(spark, lambda: read_host_state(host_tbl, spark))
                == _jobs_run(spark, lambda: host_tbl.read(spark)))
        return pend

    # single-wave drain (metadata-only marker commit)
    s1 = _fresh_store(tmp_path_factory)
    seed_seen_store(s1, world["url_seen"])
    run_crawl_cycle(spark, world, s1, batch_ts=NOW, days=7)
    pend1 = _assert_marker_parity(s1)

    # multi-wave cycle (marker + persisted intermediate base)
    s2 = _fresh_store(tmp_path_factory)
    seed_seen_store(s2, world["url_seen"])
    r2 = run_crawl_cycle(spark, world, s2, batch_ts=NOW, days=7,
                         max_per_host=8)
    assert r2.waves > 1
    _assert_marker_parity(s2)

    # next cycle folds + clears the previous marker on its init thread,
    # then records its own
    run_crawl_cycle(spark, world, s1, batch_ts=NOW, days=7)
    host_tbl = s1.table("host_state")
    ops = [h["summary"].get("op") for h in host_tbl.history()]
    assert "host_state_catchup" in ops
    pend2 = host_tbl.summary().get("pending_fold")
    assert pend2 and pend2["files"] != pend1["files"]

    # unreadable fold inputs degrade to the stale base (over-throttle
    # only), never an error
    import json as _json
    import os as _os

    sid = host_tbl.snapshot_id
    mpath = _os.path.join(host_tbl.path, "snapshots", f"{sid}.json")
    with open(mpath) as fh:
        manifest = _json.load(fh)
    manifest["summary"]["pending_fold"]["files"] = ["/nonexistent/x.parquet"]
    with open(mpath, "w") as fh:
        _json.dump(manifest, fh)
    stale = read_host_state(host_tbl, spark)
    base = host_tbl.read(spark)
    assert stale.exceptAll(base).count() == 0
    assert base.exceptAll(stale).count() == 0


def test_host_state_broadcast_path_matches_literal(
    spark, world, tmp_path_factory, monkeypatch
):
    """Both sides of _HS_LITERAL_CAP: with the cap at 0, waves ≥ 2 take
    the broadcast-join host-state path (blocked-host anti-join, deadline
    join) instead of inlining the rows as literals — same links, same
    host state."""
    from spark_frontier.pipeline import crawl
    from spark_frontier.politeness.backoff import read_host_state

    def cycle():
        store = _fresh_store(tmp_path_factory)
        seed_seen_store(store, world["url_seen"])
        report = run_crawl_cycle(spark, world, store, batch_ts=NOW, days=7,
                                 max_per_host=8)
        assert report.waves > 1
        counters = {k: v for k, v in report.__dict__.items() if k != "extra"}
        hs = read_host_state(store.table("host_state"), spark)
        return counters, store.table("links").read(spark), hs

    lit_report, lit_links, lit_hs = cycle()

    broadcast_waves = []
    real_blocked_hosts = crawl.blocked_hosts

    def spy_blocked_hosts(hs):
        broadcast_waves.append(hs)
        return real_blocked_hosts(hs)

    monkeypatch.setattr(crawl, "_HS_LITERAL_CAP", 0)
    monkeypatch.setattr(crawl, "blocked_hosts", spy_blocked_hosts)
    bc_report, bc_links, bc_hs = cycle()

    # wave 1 starts from an empty host state (literal either way); every
    # later wave ran the broadcast path
    assert len(broadcast_waves) == bc_report["waves"] - 1
    assert bc_report == lit_report
    assert lit_links.count() == bc_links.count()
    assert lit_links.exceptAll(bc_links).count() == 0
    assert bc_links.exceptAll(lit_links).count() == 0
    assert lit_hs.count() == bc_hs.count() > 0
    assert lit_hs.exceptAll(bc_hs).count() == 0
    assert bc_hs.exceptAll(lit_hs).count() == 0


def test_resume_equals_uninterrupted(spark, world, tmp_path_factory):
    full = _fresh_store(tmp_path_factory)
    seed_seen_store(full, world["url_seen"])
    run_crawl_cycle(spark, world, full, batch_ts=NOW, days=7, max_per_host=8)

    # killed run: stop after wave 1, then "resume" by re-running the cycle
    part = _fresh_store(tmp_path_factory)
    seed_seen_store(part, world["url_seen"])
    run_crawl_cycle(spark, world, part, batch_ts=NOW, days=7, max_per_host=8,
                    stop_after_wave=1)
    run_crawl_cycle(spark, world, part, batch_ts=NOW, days=7, max_per_host=8)

    a = full.table("links").read(spark).select("url_key", "url", "is_valid")
    b = part.table("links").read(spark).select("url_key", "url", "is_valid")
    assert a.count() == b.count()
    assert a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0


def test_retention_reopens_urls(spark, world, tmp_path_factory):
    store = _fresh_store(tmp_path_factory)
    seed_seen_store(store, world["url_seen"])
    before = store.table("links").read(spark).count()
    # append-only log table: one file set per commit → the 24 h
    # maintenance pass must bin-pack it
    flog = store.table("fetch_log")
    for i in range(3):
        flog.append(spark.createDataFrame([(f"u{i}",)], "url string"))
    files_before = len(flog.current_files())
    retention_cleanup(store, spark, now=NOW, ttl_days=2)
    after = store.table("links").read(spark).count()
    assert after < before  # stale seen rows expired → re-crawlable (T10 quirk)
    assert len(flog.current_files()) < files_before
    assert flog.read(spark).count() == 3


def test_categories_and_site_logs_and_head(spark, world, tmp_path_factory):
    """Round-2 additions: every saved link carries a non-null
    sport_category (V6-V9 wired); crawl_logs has per-site per-phase rows
    (K3 parity); HEAD probe returns availability without a payload (S4)."""
    store = _fresh_store(tmp_path_factory)
    seed_seen_store(store, world["url_seen"])
    report = run_crawl_cycle(spark, world, store, batch_ts=NOW, days=7)

    links = store.table("links").read(spark)
    saved = links.filter(F.col("is_valid") & F.col("site_id").isNotNull())
    assert saved.filter(F.col("sport_category").isNull()).count() == 0
    # forced-focus parity: specific sites (site_type='specific', focus set)
    # must carry exactly their sport_focus
    specific = saved.join(
        world["sites"].filter(
            (F.col("site_type") == "specific")
            & F.col("sport_focus").isNotNull()
        ).select("site_id", "sport_focus"),
        on="site_id",
    )
    assert specific.count() > 0
    assert specific.filter(
        F.col("sport_category") != F.col("sport_focus")
    ).count() == 0

    logs = store.table("crawl_logs").read(spark)
    phases = {r["crawl_type"] for r in logs.select("crawl_type").distinct().collect()}
    assert {"sitemap", "article", "cycle"} <= phases
    art = logs.filter(F.col("crawl_type") == "article")
    assert art.count() > 1  # per SITE, not per cycle
    assert art.agg(F.sum("new_urls")).collect()[0][0] == report.saved

    # S4 HEAD probe: availability, no payload columns
    from spark_frontier.fetch.fetcher import head_probe

    batch = spark.createDataFrame(
        [(r["url"],) for r in world["web_pages"].limit(50).collect()], "url string"
    )
    probes = head_probe(batch, world["web_pages"], NOW).collect()
    assert len(probes) == 50
    assert any(p["available"] for p in probes)
    codes = {p["http_code"] for p in probes}
    assert codes <= {0, 200, 403, 404, 429, 500}


def test_reliable_checkpoint_mode(spark, tmp_path_factory, monkeypatch):
    """SPARK_FRONTIER_RELIABLE_CKPT=1 swaps localCheckpoint for
    storage-backed checkpoints (cluster-safe: blocks survive executor
    loss); cycle output is identical."""
    d = str(tmp_path_factory.mktemp("ckptworld"))
    gen_world(d, n_sites=4, urlsets_per_site=2, urls_per_urlset=15)
    world = load_world(spark, d)

    base = _fresh_store(tmp_path_factory)
    seed_seen_store(base, world["url_seen"])
    run_crawl_cycle(spark, world, base, batch_ts=NOW, days=7)

    monkeypatch.setenv("SPARK_FRONTIER_RELIABLE_CKPT", "1")
    monkeypatch.setenv(
        "SPARK_FRONTIER_CKPT_DIR", str(tmp_path_factory.mktemp("ckpt"))
    )
    rel = _fresh_store(tmp_path_factory)
    seed_seen_store(rel, world["url_seen"])
    run_crawl_cycle(spark, world, rel, batch_ts=NOW, days=7)

    a = base.table("links").read(spark).select("url_key", "is_valid")
    b = rel.table("links").read(spark).select("url_key", "is_valid")
    assert a.count() == b.count()
    assert a.exceptAll(b).count() == 0


def test_legacy_bloom_without_n_segments_is_rebuilt(spark, world,
                                                    tmp_path_factory):
    """ADVICE r3: a bloom snapshot written before n_segments was recorded
    must be treated as STALE (unknown modulus → wrong-bitmap probes →
    false negatives), not assumed current."""
    import json

    store = _fresh_store(tmp_path_factory)
    seed_seen_store(store, world["url_seen"])  # bloom needs a seen set
    run_crawl_cycle(spark, world, store, batch_ts=NOW, days=7)
    bloom = store.table("bloom")
    sid = bloom.snapshot_id
    mpath = os.path.join(bloom.path, "snapshots", f"{sid}.json")
    with open(mpath) as f:
        manifest = json.load(f)
    manifest["summary"].pop("n_segments", None)  # simulate legacy snapshot
    with open(mpath, "w") as f:
        json.dump(manifest, f)

    run_crawl_cycle(spark, world, store, batch_ts=NOW, days=7)
    bloom2 = store.table("bloom")
    # cycle 2 must have REBUILT (op=bloom_build after the edited snapshot),
    # not trusted the legacy bloom; a delta for the cycle's keys may follow
    hist = bloom2.history()
    idx = [h["snapshot_id"] for h in hist].index(sid)
    ops_after = [h["summary"].get("op") for h in hist[idx + 1:]]
    assert "bloom_build" in ops_after
    assert bloom2.summary().get("n_segments") == 16


def test_links_append_failure_aborts_watermark(spark, world, tmp_path_factory,
                                               monkeypatch):
    """ADVICE r3 (medium): if a links append fails mid-cycle, the cycle
    must raise AND the sites last_crawl_at watermark must NOT commit —
    on-disk state may never claim a cycle crawled while its rows are
    missing."""
    from spark_frontier.storage.snapstore import SnapTable

    store = _fresh_store(tmp_path_factory)
    real_shared = SnapTable.append_shared_files

    def _failing_append(self, files, **kw):
        if self.name == "links":
            raise RuntimeError("simulated links append failure")
        return real_shared(self, files, **kw)

    # the links commit is the shared-files registration since round 5
    monkeypatch.setattr(SnapTable, "append_shared_files", _failing_append)
    with pytest.raises(RuntimeError, match="simulated links append"):
        run_crawl_cycle(spark, world, store, batch_ts=NOW, days=7)
    # watermark chained on the links lane → poisoned by the failed append
    assert store.table("sites").snapshot_id is None
    assert store.table("links").snapshot_id is None


def test_bloom_probe_parity_and_retention_catchup(
    spark, world, tmp_path_factory, monkeypatch
):
    """Both sides of BROADCAST_SEEN_CAP: above it the cycle probes the
    bloom by cogroup (the distributed probe), and the links key set is
    identical (the probe never decides). Retention rebuilds the bloom
    ONCE, in the shape the next cycle reuses: that cycle re-admits the
    expired URLs without another build, and the cycle after catches up
    from the links delta and re-crawls nothing (a catch-up false negative
    would leak duplicates into links)."""
    from spark_frontier.functions import bloom

    real_probe = bloom.probe_distributed
    distributed_calls = []

    def spy_probe(*a, **k):
        distributed_calls.append(1)
        return real_probe(*a, **k)

    monkeypatch.setattr(bloom, "probe_distributed", spy_probe)
    stores = {}
    for probe in ("broadcast", "distributed"):
        st = _fresh_store(tmp_path_factory)
        seed_seen_store(st, world["url_seen"])
        with monkeypatch.context() as m:
            if probe == "distributed":
                m.setattr(bloom, "BROADCAST_SEEN_CAP", 0)
            run_crawl_cycle(spark, world, st, batch_ts=NOW, days=7)
        assert bool(distributed_calls) == (probe == "distributed")
        stores[probe] = st

    def _keys(st):
        return sorted(r["url_key"] for r in
                      st.table("links").read(spark).select("url_key")
                      .collect())

    assert _keys(stores["broadcast"]) == _keys(stores["distributed"])

    st = stores["distributed"]
    bloom = st.table("bloom")
    assert bloom.summary()["op"] == "bloom_build"
    before = {r["url_key"]: r for r in st.table("links").read(spark).collect()}
    retention_cleanup(st, spark, now=NOW, ttl_days=2)
    after = st.table("links").read(spark).collect()
    n_after = len(after)
    assert n_after < len(before)
    # the survivors are the same rows, url_hash included; the rewrite
    # reads the links view, so it now STORES the derived url_hash
    assert any(r["is_valid"] for r in after)
    assert all(r == before[r["url_key"]] for r in after)
    for e in st.table("links").current_files():
        assert not isinstance(e, dict)
        assert "url_hash" in pq.read_schema(e).names
    meta = bloom.summary()
    assert meta["op"] == "bloom_rebuild_after_retention"
    assert meta["covers_links"] == st.table("links").snapshot_id
    assert meta["n_segments"] == 16 and meta["m_bits"]
    retention_sid = bloom.snapshot_id

    # next cycle: the retention bloom is current → reused, NOT rebuilt,
    # and the expired URLs re-admit (the T10 quirk)
    run_crawl_cycle(spark, world, st, batch_ts=NOW, days=7)
    assert bloom.snapshot_id == retention_sid
    n_readmit = st.table("links").read(spark).count()
    assert n_readmit > n_after

    # cycle after that: the bloom lags by the re-admitted keys → init
    # catch-up extends it (no rebuild), and NOTHING re-crawls
    run_crawl_cycle(spark, world, st, batch_ts=NOW, days=7)
    hist = [h["summary"].get("op") for h in bloom.history()]
    assert hist[hist.index("bloom_rebuild_after_retention") + 1:] == [
        "bloom_catchup"
    ]
    assert st.table("links").read(spark).count() == n_readmit


def test_first_per_key_matches_window(spark):
    """first_per_key (min-struct dedupe) == row_number window, including
    cross-site duplicates where the deeper level of the LOWER site_seq
    must win over the shallower level of a higher site_seq."""
    from pyspark.sql import Window

    from spark_frontier.pipeline.crawl import first_per_key

    rows = [
        # url_key 1: site_seq decides (2@depth1 vs 1@depth2 -> seq 1 wins)
        (1, 2, 1, [0], 5, "a-seq2-d1", None),
        (1, 1, 2, [0, 3], 1, "a-seq1-d2", "t1"),
        # url_key 2: same site, depth decides
        (2, 1, 1, [0], 9, "b-d1", None),
        (2, 1, 2, [0, 1], 0, "b-d2", "t2"),
        # url_key 3: same site+depth, path array decides lexicographically
        (3, 3, 1, [2, 1], 4, "c-p21", None),
        (3, 3, 1, [2], 7, "c-p2", None),
        # url_key 4: only sitemap_pos differs
        (4, 3, 1, [2], 1, "d-pos1", "t4"),
        (4, 3, 1, [2], 3, "d-pos3", None),
        # url_key 5: singleton passes through
        (5, 9, 4, [1, 1, 1], 2, "e", None),
    ]
    df = spark.createDataFrame(
        rows,
        "url_key long, site_seq int, depth int, path array<long>, "
        "sitemap_pos long, url string, title string",
    )
    w = Window.partitionBy("url_key").orderBy(
        "site_seq", "depth", "path", "sitemap_pos"
    )
    expected = (
        df.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )
    got = first_per_key(df)
    assert got.columns == df.columns
    assert got.exceptAll(expected).count() == 0
    assert expected.exceptAll(got).count() == 0
    assert got.count() == 5


def test_funnel_metrics_equal_direct_counts(spark, world, tmp_path_factory):
    """collect_metrics counts the sitemap entries and the robots denials
    with Observations on the candidates job; on a world where robots.txt
    denies two hosts outright, both equal the directly computed counts."""
    from spark_frontier.frontier.priority import build_candidates
    from spark_frontier.frontier.recency import filter_recent
    from spark_frontier.politeness.robots import (
        build_rules_df_distributed,
        robots_allowed,
    )
    from spark_frontier.sitemap.expand import expand_sitemap_tree

    denied = ["site2.example.com", "site4.example.com"]
    w = dict(world)
    w["robots_docs"] = world["robots_docs"].filter(
        ~F.col("host").isin(denied)
    ).unionByName(spark.createDataFrame(
        [(h, "User-agent: *\nDisallow: /\n") for h in denied],
        "host string, content string",
    ))
    store = _fresh_store(tmp_path_factory)
    seed_seen_store(store, w["url_seen"])
    report = run_crawl_cycle(spark, w, store, batch_ts=NOW, days=7)

    sites = w["sites"].filter(F.col("is_active"))
    entries = expand_sitemap_tree(
        sites.select("site_id", "site_seq", "sitemap_url"),
        w["sitemap_pages"],
    )
    with_robots = robots_allowed(
        build_candidates(filter_recent(entries, sites, days=7, now=NOW)),
        build_rules_df_distributed(w["robots_docs"]),
    )
    n_denied = with_robots.filter(~F.col("robots_allowed")).count()
    assert n_denied > 0
    assert report.robots_denied == n_denied
    assert report.sitemap_entries_total == entries.count()


def test_lost_wave_observation_raises(spark, world, tmp_path_factory,
                                      monkeypatch):
    """An Observation that fails for any reason but AQE's pruned-empty
    case makes the cycle raise — it is never read as a drained wave."""
    from pyspark.sql import Observation

    real_get = Observation.get

    def get(self):
        if self._name.startswith("valid_w"):
            raise RuntimeError("observation lost")
        return real_get.fget(self)

    monkeypatch.setattr(Observation, "get", property(get))
    store = _fresh_store(tmp_path_factory)
    seed_seen_store(store, world["url_seen"])
    with pytest.raises(RuntimeError, match="observation lost"):
        run_crawl_cycle(spark, world, store, batch_ts=NOW, days=7)


def test_fully_seen_world_reports_zeros(spark, tmp_path_factory):
    """When every candidate is already seen, AQE prunes the unseen
    count's CollectMetrics node (its observed row is empty): that case,
    and only that one, reads as 0, and the cycle reports an empty wave."""
    d = str(tmp_path_factory.mktemp("seenworld"))
    gen_world(d, n_sites=4, urlsets_per_site=2, urls_per_urlset=15,
              seen_frac=1.0)
    world = load_world(spark, d)
    store = _fresh_store(tmp_path_factory)
    seed_seen_store(store, world["url_seen"])
    report = run_crawl_cycle(spark, world, store, batch_ts=NOW, days=7)
    assert report.entries_within_days > 0
    assert (report.new_urls_found, report.scheduled, report.saved,
            report.waves) == (0, 0, 0, 0)


def test_commit_lanes_fifo_within_lane_concurrent_across():
    """FIFO within a lane (later jobs sleep less, so only the lane chain
    keeps them in order); two lanes run at once (one job waits for the
    other's)."""
    import threading
    import time

    from spark_frontier.pipeline.crawl import _CommitLanes

    order = []
    other_ran = threading.Event()

    def wait_for_other():
        if not other_ran.wait(10):
            raise TimeoutError("lanes did not run concurrently")

    lanes = _CommitLanes()
    lanes.submit("b", wait_for_other)
    lanes.submit("c", other_ran.set)
    for i in range(6):
        lanes.submit("a", lambda i=i: (time.sleep(0.01 * (6 - i)),
                                       order.append(i)))
    lanes.drain()
    assert order == list(range(6))


def test_commit_lanes_failure_poisons_own_lane_and_drain_waits():
    """A failed job poisons the later jobs of its own lane only; drain()
    re-raises the first error only after every job has finished,
    including a job that a running job submitted."""
    import time

    from spark_frontier.pipeline.crawl import _CommitLanes

    ran = []
    lanes = _CommitLanes()

    def fail():
        raise ValueError("first")

    def spawn():
        time.sleep(0.2)
        lanes.submit("c", lambda: (time.sleep(0.3), ran.append("child")))
        ran.append("b")

    lanes.submit("a", fail)
    lanes.submit("a", ran.append, "a2")  # poisoned by the failure
    lanes.submit("b", spawn)
    lanes.submit("d", lambda: (_ for _ in ()).throw(KeyError("second")))
    with pytest.raises(ValueError, match="first"):
        lanes.drain()
    assert ran == ["b", "child"]

    # a job submitted by a running job is drained, and its error raised
    lanes = _CommitLanes()

    def spawn_failing():
        time.sleep(0.1)
        lanes.submit("c", fail)

    lanes.submit("b", spawn_failing)
    with pytest.raises(ValueError, match="first"):
        lanes.drain()

    # as a context manager the block's own error wins over a lane error
    with pytest.raises(KeyError, match="cycle"):
        with _CommitLanes() as lanes:
            lanes.submit("a", fail)
            raise KeyError("cycle")
