import os

import pytest
from pyspark.sql import functions as F

from spark_frontier.pipeline.crawl import load_world, run_crawl_cycle, seed_seen_store
from spark_frontier.pipeline.synth import NOW, gen_world
from spark_frontier.sitemap.expand import expand_sitemap_tree
from spark_frontier.storage import SnapStore
from spark_frontier.streaming.microbatch import CANDIDATE_DDL, start_stream_crawl


@pytest.fixture(scope="module")
def world_dir(tmp_path_factory):
    d = str(tmp_path_factory.mktemp("streamworld"))
    gen_world(d, n_sites=4, urlsets_per_site=2, urls_per_urlset=20)
    return d


def test_stream_crawl_matches_batch(spark, world_dir, tmp_path_factory):
    """availableNow micro-batches over the candidate stream produce the
    same final links table as the batch cycle (same world, same seen)."""
    world = load_world(spark, world_dir)
    sites = world["sites"].filter(F.col("is_active")).orderBy("site_seq")

    # batch reference run
    batch_store = SnapStore(str(tmp_path_factory.mktemp("bstore")))
    seed_seen_store(batch_store, world["url_seen"])
    run_crawl_cycle(spark, world, batch_store, batch_ts=NOW, days=7,
                    max_per_host=10_000)

    # streaming run: materialize candidates (post-recency, pre-dedup) as
    # the stream source, several files → several micro-batches
    from spark_frontier.frontier.recency import filter_recent

    entries = expand_sitemap_tree(
        sites.select("site_id", "site_seq", "sitemap_url"),
        world["sitemap_pages"],
    )
    recent = filter_recent(entries, sites, days=7, now=NOW)
    cand_dir = str(tmp_path_factory.mktemp("candstream"))
    cols = [f.split(" ")[0] for f in CANDIDATE_DDL.split(", ")]
    recent.selectExpr(*[c for c in cols]).repartition(6).write.mode(
        "overwrite"
    ).parquet(cand_dir)

    stream_store = SnapStore(str(tmp_path_factory.mktemp("sstore")))
    seed_seen_store(stream_store, world["url_seen"])
    ckpt = str(tmp_path_factory.mktemp("ckpt"))
    q = start_stream_crawl(
        spark, cand_dir, world, stream_store, ckpt, batch_ts=NOW,
        max_per_host=10_000, available_now=True,
    )
    q.awaitTermination(300)

    a = batch_store.table("links").read(spark).select("url_key", "url")
    b = stream_store.table("links").read(spark).select("url_key", "url")
    assert a.count() == b.count()
    assert a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0
    # restart with same checkpoint: no new work, table unchanged
    n_before = b.count()
    q2 = start_stream_crawl(
        spark, cand_dir, world, stream_store, ckpt, batch_ts=NOW,
        max_per_host=10_000, available_now=True,
    )
    q2.awaitTermination(120)
    assert stream_store.table("links").read(spark).count() == n_before


def test_stream_k5_trigger_hook(spark, world_dir, tmp_path_factory):
    """K5 (trigger.py:29-116): every saved article fires the on_saved hook;
    hook failures never fail the stream."""
    world = load_world(spark, world_dir)
    sites = world["sites"].filter(F.col("is_active")).orderBy("site_seq")
    from spark_frontier.frontier.recency import filter_recent

    entries = expand_sitemap_tree(
        sites.select("site_id", "site_seq", "sitemap_url"),
        world["sitemap_pages"],
    )
    recent = filter_recent(entries, sites, days=7, now=NOW)
    cand_dir = str(tmp_path_factory.mktemp("candk5"))
    cols = [f.split(" ")[0] for f in CANDIDATE_DDL.split(", ")]
    recent.selectExpr(*cols).repartition(3).write.mode("overwrite").parquet(
        cand_dir
    )
    store = SnapStore(str(tmp_path_factory.mktemp("k5store")))
    seed_seen_store(store, world["url_seen"])

    pushed = []

    def hook(rows, batch_id):
        pushed.extend(rows)
        raise RuntimeError("webhook down")  # must not fail the stream

    q = start_stream_crawl(
        spark, cand_dir, world, store, str(tmp_path_factory.mktemp("ck")),
        batch_ts=NOW, max_per_host=10_000, available_now=True, on_saved=hook,
    )
    q.awaitTermination(300)
    seeded = world["url_seen"].count()
    total = store.table("links").read(spark).count()
    assert len(pushed) == total - seeded  # one push per saved article
    assert all(r["sport_category"] is not None for r in pushed)


def _cand_stream_dir(spark, world, tmp_path_factory, name, nfiles=4):
    from spark_frontier.frontier.recency import filter_recent

    sites = world["sites"].filter(F.col("is_active")).orderBy("site_seq")
    entries = expand_sitemap_tree(
        sites.select("site_id", "site_seq", "sitemap_url"),
        world["sitemap_pages"],
    )
    recent = filter_recent(entries, sites, days=7, now=NOW)
    d = str(tmp_path_factory.mktemp(name))
    cols = [f.split(" ")[0] for f in CANDIDATE_DDL.split(", ")]
    recent.selectExpr(*cols).repartition(nfiles).write.mode(
        "overwrite"
    ).parquet(d)
    return d


def test_stream_robots_gate_matches_batch(spark, world_dir, tmp_path_factory):
    """Round-2 gap: the streaming path skipped robots entirely. With a
    robots.txt that disallows every article on one host, NEITHER path may
    fetch that host, and the final link tables must still match."""
    world = load_world(spark, world_dir)
    deny_host = "site3.example.com"
    deny = spark.createDataFrame(
        [(deny_host, "User-agent: *\nDisallow: /article/\n")],
        "host string, content string",
    )
    world["robots_docs"] = world["robots_docs"].filter(
        F.col("host") != deny_host
    ).unionByName(deny)

    batch_store = SnapStore(str(tmp_path_factory.mktemp("rb_bstore")))
    seed_seen_store(batch_store, world["url_seen"])
    run_crawl_cycle(spark, world, batch_store, batch_ts=NOW, days=7,
                    max_per_host=10_000)

    cand_dir = _cand_stream_dir(spark, world, tmp_path_factory, "rb_cand")
    stream_store = SnapStore(str(tmp_path_factory.mktemp("rb_sstore")))
    seed_seen_store(stream_store, world["url_seen"])
    q = start_stream_crawl(
        spark, cand_dir, world, stream_store,
        str(tmp_path_factory.mktemp("rb_ckpt")), batch_ts=NOW,
        max_per_host=10_000, available_now=True,
    )
    q.awaitTermination(300)

    a = batch_store.table("links").read(spark)
    b = stream_store.table("links").read(spark)
    # the denied host was fetched by NEITHER path (seeded url_seen rows for
    # it carry site_id NULL; crawled rows carry a site_id)
    for t in (a, b):
        assert t.filter(
            (F.col("host") == deny_host) & F.col("site_id").isNotNull()
        ).count() == 0
    ak = a.select("url_key")
    bk = b.select("url_key")
    assert ak.exceptAll(bk).count() == 0 and bk.exceptAll(ak).count() == 0
    # the bloom covers a links head the next micro-batch can catch up
    # from incrementally (it would probe, not rebuild)
    meta = stream_store.table("bloom").summary()
    links_tbl = stream_store.table("links")
    assert meta.get("n_segments") and meta.get("m_bits")
    assert meta.get("covers_links") in {
        h["snapshot_id"] for h in links_tbl.history()}
    links_tbl.read_changes(spark, meta["covers_links"])  # no rewrite since


def test_stream_duplicate_candidates_enter_once(spark, world_dir,
                                                tmp_path_factory):
    """The same URLs listed twice in ONE micro-batch enter the frontier
    once: the stream runs the batch cycle's within-cycle dedupe, so the
    links table holds one row per url_key, and the same keys as the batch
    cycle. The second listing shifts sitemap_pos, so the two copies differ
    in their order columns the way two sitemaps listing one URL do."""
    from spark_frontier.frontier.recency import filter_recent

    world = load_world(spark, world_dir)
    batch_store = SnapStore(str(tmp_path_factory.mktemp("dup_bstore")))
    seed_seen_store(batch_store, world["url_seen"])
    run_crawl_cycle(spark, world, batch_store, batch_ts=NOW, days=7,
                    max_per_host=10_000)

    sites = world["sites"].filter(F.col("is_active")).orderBy("site_seq")
    entries = expand_sitemap_tree(
        sites.select("site_id", "site_seq", "sitemap_url"),
        world["sitemap_pages"],
    )
    cols = [f.split(" ")[0] for f in CANDIDATE_DDL.split(", ")]
    recent = filter_recent(entries, sites, days=7, now=NOW).selectExpr(*cols)
    cand_dir = str(tmp_path_factory.mktemp("dup_cand"))
    recent.coalesce(1).write.mode("overwrite").parquet(cand_dir)
    recent.withColumn(
        "sitemap_pos", F.col("sitemap_pos") + 1_000_000
    ).coalesce(1).write.mode("append").parquet(cand_dir)  # same batch

    stream_store = SnapStore(str(tmp_path_factory.mktemp("dup_sstore")))
    seed_seen_store(stream_store, world["url_seen"])
    q = start_stream_crawl(
        spark, cand_dir, world, stream_store,
        str(tmp_path_factory.mktemp("dup_ckpt")), batch_ts=NOW,
        max_per_host=10_000, available_now=True,
    )
    q.awaitTermination(300)

    links = stream_store.table("links").read(spark)
    assert links.count() == links.select("url_key").distinct().count()

    def _keys(st):
        return sorted(r["url_key"] for r in
                      st.table("links").read(spark).select("url_key")
                      .collect())

    assert _keys(stream_store) == _keys(batch_store)


def test_stream_k5_executor_push(spark, world_dir, tmp_path_factory):
    """K5 executor-side variant: foreachPartition pushes notifications from
    the executors — same rows as the saved set, no driver collect; a
    failing partition callback never fails the stream."""
    import glob
    import json as _json
    import os
    import uuid

    world = load_world(spark, world_dir)
    cand_dir = _cand_stream_dir(spark, world, tmp_path_factory, "k5p_cand")
    store = SnapStore(str(tmp_path_factory.mktemp("k5p_store")))
    seed_seen_store(store, world["url_seen"])
    push_dir = str(tmp_path_factory.mktemp("k5p_push"))

    def part_cb(rows_iter):
        keys = [r["url_key"] for r in rows_iter]
        with open(os.path.join(push_dir, uuid.uuid4().hex + ".json"),
                  "w") as f:
            _json.dump(keys, f)
        raise RuntimeError("queue down")  # must not fail the stream

    q = start_stream_crawl(
        spark, cand_dir, world, store,
        str(tmp_path_factory.mktemp("k5p_ckpt")), batch_ts=NOW,
        max_per_host=10_000, available_now=True,
        on_saved_partition=part_cb,
    )
    q.awaitTermination(300)

    pushed = []
    for p in glob.glob(os.path.join(push_dir, "*.json")):
        with open(p) as f:
            pushed.extend(_json.load(f))
    seeded = world["url_seen"].count()
    total = store.table("links").read(spark).count()
    assert sorted(pushed) == sorted(
        r["url_key"]
        for r in store.table("links").read(spark)
        .filter(F.col("site_id").isNotNull()).select("url_key").collect()
    )
    assert len(pushed) == total - seeded


def _seeded_host_state(world, refill_rate):
    """One unblocked host_state row per world host, at ``refill_rate``."""
    return world["robots_docs"].select(
        "host",
        F.lit(refill_rate).alias("refill_rate"),
        F.lit(None).cast("timestamp").alias("rate_limit_until"),
        F.lit(None).cast("timestamp").alias("last_fetch_ts"),
        F.lit(0).alias("consecutive_failures"),
        F.array().cast("array<int>").alias("recent_codes"),
        F.lit(False).alias("is_blocked"),
    )


SEEDED_RATE = 0.25


@pytest.fixture(scope="module")
def capped_runs(spark, world_dir, tmp_path_factory):
    """The batch cycle and the stream over the module world at
    ``max_per_host=4`` (many waves per host), both from the same seeded
    links and a seeded host_state at refill_rate ``SEEDED_RATE``."""
    world = load_world(spark, world_dir)
    stores = {}
    for name in ("batch", "stream"):
        st = SnapStore(str(tmp_path_factory.mktemp(f"cap_{name}")))
        seed_seen_store(st, world["url_seen"])
        st.table("host_state").overwrite(
            _seeded_host_state(world, SEEDED_RATE),
            summary={"op": "seed"}, small=True,
        )
        stores[name] = st
    report = run_crawl_cycle(spark, world, stores["batch"], batch_ts=NOW,
                             days=7, max_per_host=4)
    assert report.waves > 1
    cand_dir = _cand_stream_dir(spark, world, tmp_path_factory, "cap_cand",
                                nfiles=6)
    q = start_stream_crawl(
        spark, cand_dir, world, stores["stream"],
        str(tmp_path_factory.mktemp("cap_ckpt")), batch_ts=NOW,
        max_per_host=4, available_now=True,
    )
    q.awaitTermination(300)
    return stores


def test_stream_matches_batch_at_host_cap(spark, capped_runs):
    """Every wave of every micro-batch drains: with ``max_per_host=4`` the
    stream saves the same link keys as the batch cycle, none dropped past
    a host's per-wave cap."""
    def _keys(st):
        return sorted(r["url_key"] for r in
                      st.table("links").read(spark).select("url_key")
                      .collect())

    assert _keys(capped_runs["stream"]) == _keys(capped_runs["batch"])


def test_stream_folds_seeded_host_state(spark, capped_runs):
    """The stream's host fold starts from the persisted host_state, not
    from scratch: a host's seeded refill_rate is halved once per 429 it
    got (floor 0.1) and kept otherwise."""
    from spark_frontier.politeness.backoff import read_host_state
    from spark_frontier.politeness.ratelimit import MIN_REFILL_RATE

    store = capped_runs["stream"]
    got = {r["host"]: r["refill_rate"] for r in
           read_host_state(store.table("host_state"), spark).collect()}
    # a 429 only ever lowers the seeded rate; nothing resets it
    assert max(got.values()) <= SEEDED_RATE, got
    n429 = {
        r["host"]: r["n"]
        for r in store.table("fetch_log").read(spark)
        .groupBy("host")
        .agg(F.sum((F.col("http_code") == 429).cast("int")).alias("n"))
        .collect()
    }
    assert set(n429) <= set(got)
    for host, rate in got.items():
        want = max(MIN_REFILL_RATE, SEEDED_RATE * 0.5 ** n429.get(host, 0))
        assert abs(rate - want) < 1e-12, (host, n429.get(host), rate)


def test_stateful_backoff_integrated_topology(spark, capped_runs):
    """The host state after the stream equals ``update_host_state``
    folded over the stream's waves, in commit order, from the seeded
    state: each wave folds once, and a micro-batch's deferred final-wave
    fold is applied by the next one (or by ``read_host_state``)."""
    from spark_frontier.politeness.backoff import (
        read_host_state,
        update_host_state,
    )
    from spark_frontier.storage.materialize import materialize

    store = capped_runs["stream"]
    log = store.table("fetch_log")
    hs = store.table("host_state").read_at(
        spark, store.table("host_state").history()[0]["snapshot_id"])
    prev: set = set()
    n_waves = 0
    for h in log.history():
        files = set(log._manifest(h["snapshot_id"])["files"])
        new = sorted(files - prev)
        prev = files
        if not new:
            continue
        n_waves += 1
        rows = spark.read.parquet(*new).select(
            "host", "politeness_deadline", "http_code")
        hs = update_host_state(hs, rows, NOW).transform(materialize)
    assert n_waves > 2
    expected = {r["host"]: r for r in hs.collect()}
    got = {r["host"]: r for r in
           read_host_state(store.table("host_state"), spark).collect()}
    assert set(got) == set(expected)
    for host, e in expected.items():
        g = got[host]
        assert g["consecutive_failures"] == e["consecutive_failures"], host
        assert g["is_blocked"] == e["is_blocked"], host
        assert list(g["recent_codes"] or []) == list(e["recent_codes"] or []), host
        assert abs(g["refill_rate"] - e["refill_rate"]) < 1e-12, host
        assert g["rate_limit_until"] == e["rate_limit_until"], host
        assert g["last_fetch_ts"] == e["last_fetch_ts"], host


def test_stream_stale_bloom_nonblocking_single_scan(spark, world_dir,
                                                    tmp_path_factory,
                                                    monkeypatch):
    """Starting with no bloom, every micro-batch probes a bloom whose
    ``covers_links`` is the links head that micro-batch read — built by
    the first, caught up from the links delta by the next — and each
    micro-batch scans the links table once."""
    from spark_frontier.pipeline import crawl
    from spark_frontier.storage.snapstore import SnapTable

    world = load_world(spark, world_dir)
    cand_dir = _cand_stream_dir(spark, world, tmp_path_factory, "bl_cand",
                                nfiles=6)
    store = SnapStore(str(tmp_path_factory.mktemp("bl_store")))
    seed_seen_store(store, world["url_seen"])  # links exist, NO bloom

    heads, probes, links_reads = [], [], []
    real_open_seen, real_dedup = crawl.open_seen, crawl.dedup_unseen
    real_read = SnapTable.read

    def spy_open_seen(spark_, store_, *a, **kw):
        heads.append(store_.table("links").snapshot_id)
        return real_open_seen(spark_, store_, *a, **kw)

    def spy_dedup(frontier, seen_keys, **kw):
        probes.append(kw.get("segments") is not None)
        return real_dedup(frontier, seen_keys, **kw)

    def spy_read(self, spark_):
        if self.name == "links":
            links_reads.append(self.snapshot_id)
        return real_read(self, spark_)

    monkeypatch.setattr(crawl, "open_seen", spy_open_seen)
    monkeypatch.setattr(crawl, "dedup_unseen", spy_dedup)
    monkeypatch.setattr(SnapTable, "read", spy_read)

    q = start_stream_crawl(
        spark, cand_dir, world, store,
        str(tmp_path_factory.mktemp("bl_ckpt")), batch_ts=NOW,
        max_per_host=10_000, available_now=True,
    )
    q.awaitTermination(300)
    monkeypatch.undo()

    assert len(heads) >= 2 and len(set(heads)) == len(heads)
    assert probes and all(probes)
    # the bloom commits cover exactly the heads the micro-batches read:
    # a build for the first, a catch-up for each later one
    bloom_hist = store.table("bloom").history()
    assert [h["summary"].get("covers_links") for h in bloom_hist] == heads
    assert [h["summary"]["op"] for h in bloom_hist] == (
        ["bloom_build"] + ["bloom_catchup"] * (len(heads) - 1))
    assert all(h["summary"].get("m_bits") and h["summary"].get("n_segments")
               for h in bloom_hist)
    # scan budget: one links read per micro-batch (its seen set); the
    # catch-up reads only the delta (read_changes)
    assert links_reads == heads


def test_windowed_metrics_watermark_drops_late(spark, tmp_path_factory):
    """streaming/windows.py: event-time tumbling windows with a 30 min
    watermark — a late-but-admitted row lands in its window, a
    beyond-watermark row is dropped by the state store, and append mode
    emits exactly the closed windows; the emitted rows equal the batch
    aggregation over the admitted rows (stream==batch parity)."""
    from datetime import datetime

    from spark_frontier.streaming.windows import windowed_host_metrics

    T = datetime.fromisoformat
    src = str(tmp_path_factory.mktemp("win_src"))
    ckpt = str(tmp_path_factory.mktemp("win_ckpt"))
    batches = [
        # batch 0: on-time rows; max event time 10:05
        [("a.com", T("2024-01-01 10:00:00"), 200),
         ("a.com", T("2024-01-01 10:05:00"), 500),
         ("b.com", T("2024-01-01 10:02:00"), 200)],
        # batch 1: 09:50 is late but within the 30 min watermark →
        # admitted into its window; 11:00 advances event time
        [("a.com", T("2024-01-01 09:50:00"), 200),
         ("b.com", T("2024-01-01 11:00:00"), 404)],
        # batch 2: runs under the watermark derived from batch 1
        # (11:00 − 30 min = 10:30) — the 09:00 straggler is beyond it and
        # is dropped by the state store; the same watermark closes every
        # window ending ≤ 10:30 (append emits them this batch)
        [("a.com", T("2024-01-01 09:00:00"), 200),
         ("c.com", T("2024-01-01 11:06:00"), 200)],
    ]
    for k, rows in enumerate(batches):
        spark.createDataFrame(
            rows, "host string, ts timestamp, status int"
        ).coalesce(1).write.mode("overwrite").parquet(
            os.path.join(src, f"f{k}")
        )
    stream = (
        spark.readStream.schema("host string, ts timestamp, status int")
        .option("maxFilesPerTrigger", 1)
        .parquet(src + "/*")
    )
    q = (
        windowed_host_metrics(stream)
        .writeStream.format("memory")
        .queryName("win_metrics")
        .outputMode("append")
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    dropped = sum(
        so.get("numRowsDroppedByWatermark", 0)
        for p in q.recentProgress
        for so in p["stateOperators"]
    )
    assert dropped == 1  # exactly the 09:00 straggler
    got = {
        (str(r["window_start"]), r["host"]):
            (r["n_fetches"], r["n_failures"])
        for r in spark.table("win_metrics").collect()
    }
    assert got == {
        ("2024-01-01 09:50:00", "a.com"): (1, 0),
        ("2024-01-01 10:00:00", "a.com"): (2, 1),
        ("2024-01-01 10:00:00", "b.com"): (1, 0),
    }
    # stream == batch parity: same function on a batch frame over the
    # admitted rows, restricted to the windows the watermark closed
    admitted = [
        r for b in batches for r in b if r[1] != T("2024-01-01 09:00:00")
    ]
    bdf = windowed_host_metrics(
        spark.createDataFrame(
            admitted, "host string, ts timestamp, status int"
        )
    ).filter(F.col("window_end") <= F.lit(T("2024-01-01 10:30:00")))
    batch_rows = {
        (str(r["window_start"]), r["host"]):
            (r["n_fetches"], r["n_failures"])
        for r in bdf.collect()
    }
    assert batch_rows == got
