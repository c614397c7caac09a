"""Tests for the round-4 additions: pagerank, hamming banding, recrawl
change-rate estimation, sessionization, tf-idf profiling, and the
near-dup image corpus generator."""

from __future__ import annotations

import itertools
import math
from datetime import datetime, timedelta

import numpy as np
import pytest
from pyspark.sql import functions as F

from spark_frontier.analytics.dedup import hamming_neardup_pairs
from spark_frontier.analytics.graph import pagerank
from spark_frontier.analytics.sessions import sessionize
from spark_frontier.analytics.textstats import tfidf_top_terms
from spark_frontier.frontier.recrawl import change_rate_priority
from spark_frontier.payload.codec import decode_image, phash64
from spark_frontier.pipeline.synth import gen_image_corpus


def _np_pagerank(edges, n_iter=3, d=0.85):
    nodes = sorted({u for u, _ in edges} | {v for _, v in edges})
    idx = {n: i for i, n in enumerate(nodes)}
    n = len(nodes)
    out = {}
    eset = sorted(set(edges))
    for u, _ in eset:
        out[u] = out.get(u, 0) + 1
    r = np.full(n, 1.0 / n)
    for _ in range(n_iter):
        nxt = np.full(n, (1.0 - d) / n)
        for u, v in eset:
            nxt[idx[v]] += d * r[idx[u]] / out[u]
        r = nxt
    return {nd: r[idx[nd]] for nd in nodes}


def test_pagerank_matches_numpy(spark):
    edges = [(0, 1), (1, 2), (2, 0), (0, 2), (3, 0), (3, 3), (0, 1)]
    df = spark.createDataFrame(edges, ["src", "dst"])
    got = {
        r["node"]: r["rank"] for r in pagerank(df, n_iter=3).collect()
    }
    want = _np_pagerank([(u, v) for u, v in edges if u != v])
    assert set(got) == set(want)
    for node, rank in want.items():
        assert got[node] == pytest.approx(rank, abs=1e-12)


def test_pagerank_dangling_and_empty(spark):
    # node 2 has no out-edges: its mass is dropped, everyone still gets
    # the teleport floor
    df = spark.createDataFrame([(0, 1), (1, 2)], ["src", "dst"])
    got = {r["node"]: r["rank"] for r in pagerank(df, n_iter=2).collect()}
    assert set(got) == {0, 1, 2}
    t = 0.15 / 3
    assert got[0] == pytest.approx(t, abs=1e-12)
    assert got[1] == pytest.approx(t + 0.85 * t, abs=1e-12)
    assert got[2] == pytest.approx(t + 0.85 * (t + 0.85 / 3), abs=1e-12)
    empty = spark.createDataFrame([], "src INT, dst INT")
    assert pagerank(empty).count() == 0


def test_hamming_banding_exact_vs_bruteforce(spark):
    rng = np.random.default_rng(7)
    base = rng.integers(-(2**62), 2**62, size=40, dtype=np.int64)
    rows = [(int(i), int(h)) for i, h in enumerate(base)]
    # append close variants: flip ≤6 random bits
    for j in range(20):
        h = int(base[j])
        for b in rng.choice(64, size=int(rng.integers(0, 7)), replace=False):
            h ^= 1 << int(b)
        hu = h % (1 << 64)
        rows.append((100 + j, hu - (1 << 64) if hu >= (1 << 63) else hu))
    df = spark.createDataFrame(rows, ["id", "fp"])
    got = {
        (r["doc_a"], r["doc_b"], r["hamming"])
        for r in hamming_neardup_pairs(
            df, "id", "fp", max_hamming=6, n_chunks=8
        ).collect()
    }
    want = set()
    for (ia, ha), (ib, hb) in itertools.combinations(rows, 2):
        d = bin((ha ^ hb) & ((1 << 64) - 1)).count("1")
        if d <= 6:
            a, b = (ia, ib) if ia < ib else (ib, ia)
            want.add((a, b, d))
    assert got == want
    assert len(want) >= 10  # the fixture actually exercises the verify


def test_image_corpus_phash_separation():
    pdf = gen_image_corpus(8, 2)
    ph = {
        r.image_id: phash64(decode_image(r.bytes)) for r in pdf.itertuples()
    }
    ids = sorted(ph)
    for a, b in itertools.combinations(ids, 2):
        d = bin((ph[a] ^ ph[b]) & ((1 << 64) - 1)).count("1")
        same_group = int(a[4:]) // 3 == int(b[4:]) // 3
        if same_group:
            assert d <= 6, (a, b, d)
        else:
            assert d > 6, (a, b, d)


def test_change_rate_priority_matches_closed_form(spark):
    t0 = datetime(2024, 1, 1)
    rows = []
    # url A: observed 11 times, 4 changes, 6h apart
    for i in range(11):
        rows.append(("A", t0 + timedelta(hours=6 * i), i % 3 == 0))
    # url B: never changes
    for i in range(6):
        rows.append(("B", t0 + timedelta(hours=12 * i), False))
    # url C: too few observations → filtered
    rows.append(("C", t0, True))
    df = spark.createDataFrame(rows, ["url", "ts", "changed"])
    ref = t0 + timedelta(days=10)
    got = {
        r["url"]: r.asDict()
        for r in change_rate_priority(df, ref, min_obs=5).collect()
    }
    assert set(got) == {"A", "B"}
    lam_a = -math.log((11 - 4 + 0.5) / (11 + 0.5)) / 6.0
    age_a = (ref - (t0 + timedelta(hours=60))).total_seconds() / 3600.0
    assert got["A"]["lambda_per_h"] == pytest.approx(lam_a, rel=1e-12)
    assert got["A"]["priority"] == pytest.approx(
        1 - math.exp(-lam_a * age_a), rel=1e-12
    )
    # X = 0 → the estimator is exactly 0 (ratio (n+0.5)/(n+0.5) = 1):
    # a never-changed URL gets zero refresh priority
    assert got["B"]["lambda_per_h"] == 0.0
    assert got["B"]["priority"] == 0.0
    assert got["A"]["n_obs"] == 11 and got["A"]["n_changed"] == 4


def test_sessionize_gap_split(spark):
    t0 = datetime(2024, 1, 1)
    rows = [
        (1, 1, t0),
        (1, 2, t0 + timedelta(minutes=10)),
        (1, 3, t0 + timedelta(minutes=50)),  # 40 min gap → new session
        (1, 4, t0 + timedelta(minutes=55)),
        (2, 5, t0),
    ]
    df = spark.createDataFrame(rows, ["user_id", "event_id", "ts"])
    out = {
        (r["user_id"], r["session_seq"]): r.asDict()
        for r in sessionize(df, gap_s=1800.0).collect()
    }
    assert set(out) == {(1, 1), (1, 2), (2, 1)}
    assert out[(1, 1)]["n_events"] == 2
    assert out[(1, 1)]["duration_s"] == pytest.approx(600.0)
    assert out[(1, 2)]["n_events"] == 2
    assert out[(1, 2)]["duration_s"] == pytest.approx(300.0)
    assert out[(2, 1)]["n_events"] == 1
    assert out[(2, 1)]["duration_s"] == 0.0


def test_tfidf_top_terms_ranking(spark):
    docs = spark.createDataFrame(
        [
            (1, "alpha alpha beta", "s1"),
            (2, "alpha gamma", "s1"),
            (3, "alpha beta beta delta", "s2"),
            (4, "delta delta delta", "s2"),
        ],
        ["doc_id", "text", "source"],
    )
    out = tfidf_top_terms(docs, k=2, group_col="source").collect()
    by_src = {}
    for r in out:
        by_src.setdefault(r["source"], []).append(r)
    # shared terms (alpha/beta appear in both sources) score 0; gamma is
    # unique to s1 → rank 1 there
    s1 = sorted(by_src["s1"], key=lambda r: r["rk"])
    assert s1[0]["term"] == "gamma"
    assert s1[0]["score"] == pytest.approx(1 * math.log(2.0), abs=1e-6)
    assert all(len(v) == 2 for v in by_src.values())
    # determinism: ties broken by term asc
    assert s1[1]["term"] == "alpha"


def test_trap_flags_structural_heuristics(spark):
    from spark_frontier.frontier.traps import trap_flags

    urls = [
        (1, "https://a.com/news/p1"),                       # clean
        (2, "https://a.com/a/b/a/b/a/p2"),                  # mirror trap
        (3, "https://a.com/2023/05/17/2024/p3"),            # calendar trap
        (4, "https://a.com/p4?" + "&".join(f"k{i}=1" for i in range(9))),
        (5, "https://a.com/" + "/".join(f"d{i}" for i in range(13)) + "/p5"),
        (6, "https://a.com/x/" + "y" * 600),                # long url
    ]
    df = spark.createDataFrame(urls, ["id", "url"])
    got = {r["id"]: r.asDict() for r in trap_flags(df).collect()}
    assert not got[1]["is_trap"]
    assert got[2]["is_trap"] and got[2]["n_dup_segs"] == 3
    assert got[3]["is_trap"] and got[3]["n_year_segs"] == 2
    assert got[4]["is_trap"] and got[4]["n_params"] == 9
    assert got[5]["is_trap"] and got[5]["depth"] == 14
    assert got[6]["is_trap"] and got[6]["long_url"]
    # clean row's flags are all benign
    assert got[1]["depth"] == 2 and got[1]["n_dup_segs"] == 0
    assert got[1]["n_params"] == 0 and got[1]["n_year_segs"] == 0


def test_build_candidates_trap_gate(spark):
    """The structural trap gate is wired into the discovery path: a
    mirror-trap URL is dropped by build_candidates, clean URLs pass."""
    from spark_frontier.frontier.priority import build_candidates

    entries = spark.createDataFrame(
        [
            ("https://a.com/news/p1",),
            ("https://a.com/a/b/a/b/a/b/p2",),
            ("https://a.com/2023/05/17/2024/p3",),
        ],
        ["loc"],
    ).selectExpr(
        "loc",
        "CAST(NULL AS STRING) AS changefreq",
        "CAST(NULL AS STRING) AS priority",
        "CAST(NULL AS STRING) AS news_publication_name",
        "CAST(NULL AS STRING) AS parse_mode",
    )
    got = [r["url"] for r in build_candidates(entries).collect()]
    assert got == ["https://a.com/news/p1"]
