import numpy as np
import pytest
from pyspark.sql import functions as F

from spark_frontier.analytics.dedup import (
    exact_dedup,
    minhash_lsh_pairs,
    ngram_jaccard_pairs,
    simhash_pairs,
)
from spark_frontier.analytics.similarity import ann_topk_lsh, cosine_topk


def _docs(spark):
    """Synthetic corpus with KNOWN near-dups: pairs (i, i+100) share most
    of their text; everything else is distinct."""
    base = [
        "the quick brown fox jumps over the lazy dog near the river bank today",
        "spark executors shuffle data across the cluster during wide stages",
        "a completely different sentence about cooking pasta with fresh basil",
        "market prices moved sharply after the central bank policy announcement",
        "the football match ended with a dramatic penalty in extra time",
    ]
    rows = []
    for i, t in enumerate(base):
        rows.append((i, t * 3))
        rows.append((i + 100, (t * 3) + " tiny tail change"))  # near-dup of i
        rows.append((i + 200, f"unrelated text number {i} " + "filler words " * 10))
    return spark.createDataFrame(rows, "doc_id long, text string")


def _exact_jaccard(a: str, b: str, n=5) -> float:
    def grams(t):
        t = " ".join(t.lower().split())
        return {t[i:i + n] for i in range(max(len(t) - n + 1, 1))}

    ga, gb = grams(a), grams(b)
    return len(ga & gb) / len(ga | gb)


def test_exact_dedup_groups(spark):
    df = spark.createDataFrame(
        [(1, "Hello  World"), (2, "hello world"), (3, "other")],
        "doc_id long, text string",
    )
    out = {r["keep_doc_id"]: r["dup_count"] for r in exact_dedup(df).collect()}
    assert out == {1: 2, 3: 1}  # whitespace/case-normalized group


def test_ngram_jaccard_finds_neardups(spark):
    pairs = ngram_jaccard_pairs(_docs(spark), n=5, threshold=0.6).collect()
    found = {(r["doc_a"], r["doc_b"]) for r in pairs}
    for i in range(5):
        assert (i, i + 100) in found
    # jaccard values match the scalar definition
    docs = {r["doc_id"]: r["text"] for r in _docs(spark).collect()}
    for r in pairs:
        expect = _exact_jaccard(docs[r["doc_a"]], docs[r["doc_b"]])
        assert abs(r["jaccard"] - expect) < 1e-9


def test_minhash_kernel_parity():
    """The vectorized flat-batch kernel (_minhash_batch) must be
    byte-identical to the naive per-doc definition it replaced — null,
    empty, shorter-than-n, exactly-n, repeated-gram, and multi-doc-batch
    cases (boundary windows between concatenated docs must not leak)."""
    import hashlib

    from spark_frontier.analytics.dedup import _minhash_batch

    n, num_perm = 5, 64
    rng = np.random.default_rng(42)
    P = np.uint64((1 << 61) - 1)
    A = rng.integers(1, P, size=num_perm, dtype=np.uint64)
    B = rng.integers(0, P, size=num_perm, dtype=np.uint64)

    def naive(texts, n=n):
        out = []
        for t in texts:
            if t is None:
                out.append([0] * num_perm)
                continue
            grams = (
                {t[i:i + n] for i in range(len(t) - n + 1)}
                if len(t) >= n else {t}
            )
            hs = np.array(
                [int(hashlib.md5(g.encode()).hexdigest()[:15], 16)
                 for g in grams],
                dtype=np.uint64,
            )
            out.append(
                ((A[:, None] * hs[None, :] + B[:, None]) % P)
                .min(axis=1).view(np.int64).tolist()
            )
        return out

    texts = [
        None, "", "ab", "abcd", "abcde", "abcdef",
        "hello world hello world", "abcde",
        "the quick brown fox " * 7, "żółć unicode ✓ emoji 🙂 text here",
        "aaaaaaaaaaaaaaaa",  # one distinct gram, many occurrences
    ]
    assert _minhash_batch(texts, n, A, B) == naive(texts)
    # a larger random batch (cross-doc boundary masking at volume)
    words = ["alpha", "beta", "gamma", "delta", "epsilon", "zeta"]
    rnd = np.random.default_rng(7)
    big = [
        " ".join(rnd.choice(words, size=rnd.integers(1, 40)))
        for _ in range(300)
    ]
    assert _minhash_batch(big, n, A, B) == naive(big)
    # grams with 2-, 3- and 4-byte UTF-8 code points take hashlib, ASCII
    # grams the vectorized md5; both kinds in one doc and one batch
    wide = [
        "ñandú café résumé über", "日本語のテキストです", "€€€€€€",
        "𝔘𝔫𝔦𝔠𝔬𝔡𝔢 🙂🙃😀🙂🙃😀",
        "plain ascii, then ñ, then 日本, then 🙂, then ascii again",
        "abcdñ", "ñ日🙂", "abcde🙂",
    ]
    assert _minhash_batch(wide, n, A, B) == naive(wide)
    mixed = [
        " ".join(rnd.choice(words + ["ñandú", "日本語", "🙂🙃", "café"],
                            size=rnd.integers(1, 30)))
        for _ in range(200)
    ]
    assert _minhash_batch(mixed, n, A, B) == naive(mixed)
    # grams too long for one MD5 block all take hashlib
    assert _minhash_batch(big[:40], 60, A, B) == naive(big[:40], n=60)


def test_md5_60_rows_matches_hashlib():
    """The vectorized one-block MD5 equals hashlib's md5-60 on random
    bytes at every length one block holds, across chunk boundaries."""
    import hashlib

    from spark_frontier.analytics.dedup import MD5_ONE_BLOCK, md5_60_rows

    rng = np.random.default_rng(3)
    for L in [0, 1, 4, 5, 31, 32, 54, MD5_ONE_BLOCK]:
        msgs = rng.integers(0, 256, size=(257, L), dtype=np.uint8)
        want = [int(hashlib.md5(r.tobytes()).hexdigest()[:15], 16)
                for r in msgs]
        assert md5_60_rows(msgs, chunk=100).tolist() == want, L
    with pytest.raises(ValueError):
        md5_60_rows(np.zeros((1, MD5_ONE_BLOCK + 1), dtype=np.uint8))


def test_minhash_lsh_recall(spark):
    """Pairs with true jaccard ≥ 0.7 collide with prob ≈ 98.8% at
    (num_perm=64, bands=16); all 5 planted pairs must surface."""
    pairs = minhash_lsh_pairs(
        _docs(spark), n=5, num_perm=64, bands=16, threshold=0.5
    ).collect()
    found = {(r["doc_a"], r["doc_b"]) for r in pairs}
    planted = {(i, i + 100) for i in range(5)}
    assert planted <= found
    # estimates approximate the true jaccard
    docs = {r["doc_id"]: r["text"] for r in _docs(spark).collect()}
    for r in pairs:
        if (r["doc_a"], r["doc_b"]) in planted:
            true_j = _exact_jaccard(docs[r["doc_a"]], docs[r["doc_b"]])
            assert abs(r["jaccard_est"] - true_j) < 0.25


def _simhash_ref(text: str) -> int:
    """Pure-Python SimHash: ±1 votes of each token's md5-60 bits."""
    import hashlib

    votes = [0] * 64
    for tok in (text or "").lower().split():
        h = int(hashlib.md5(tok.encode()).hexdigest()[:15], 16)
        for b in range(64):
            votes[b] += 1 if (h >> b) & 1 else -1
    return sum(1 << b for b in range(64) if votes[b] > 0)


def test_simhash_finds_neardups(spark):
    """simhash_pairs equals an exhaustive Hamming scan over pure-Python
    signatures; 4×16-bit banding is exact only up to distance 3, so a
    larger bound is refused."""
    import itertools

    docs = _docs(spark)
    pairs = simhash_pairs(docs, max_hamming=3).collect()
    found = {(r["doc_a"], r["doc_b"], r["hamming"]) for r in pairs}
    sigs = sorted((r["doc_id"], _simhash_ref(r["text"]))
                  for r in docs.collect())
    want = {(a, b, bin(ha ^ hb).count("1"))
            for (a, ha), (b, hb) in itertools.combinations(sigs, 2)
            if bin(ha ^ hb).count("1") <= 3}
    assert found == want
    # the planted pairs (i, i+100) at distance ≤ 3 on this fixture
    assert {(a, b) for a, b, _ in want} >= {(0, 100), (2, 102), (4, 104)}
    with pytest.raises(AssertionError, match="pigeonhole"):
        simhash_pairs(docs, max_hamming=6)


def _emb(spark, n=200, dim=16, seed=5):
    rng = np.random.default_rng(seed)
    vecs = rng.standard_normal((n, dim))
    rows = [(i, [float(x) for x in vecs[i]]) for i in range(n)]
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>"), vecs


def test_cosine_topk_exact(spark):
    df, vecs = _emb(spark)
    q = [float(x) for x in vecs[0]]
    got = [r["vec_id"] for r in cosine_topk(df.filter("vec_id != 0"), q, k=5).collect()]
    sims = vecs[1:] @ vecs[0] / (
        np.linalg.norm(vecs[1:], axis=1) * np.linalg.norm(vecs[0])
    )
    expect = (np.argsort(-sims)[:5] + 1).tolist()
    assert got == expect


def test_ann_lsh_overlaps_exact(spark):
    """LSH recall is only meaningful on CLUSTERED data (uniform random
    vectors are the adversarial case) — build 10 gaussian clusters and
    query near one center."""
    rng = np.random.default_rng(11)
    dim, per = 16, 30
    centers = rng.standard_normal((10, dim)) * 4.0
    vecs = np.concatenate(
        [centers[c] + rng.standard_normal((per, dim)) * 0.4 for c in range(10)]
    )
    df = spark.createDataFrame(
        [(i, [float(x) for x in vecs[i]]) for i in range(len(vecs))],
        "vec_id long, embedding array<float>",
    )
    q = [float(x) for x in (centers[0] + 0.1 * rng.standard_normal(dim))]
    exact = {r["vec_id"] for r in cosine_topk(df, q, k=10).collect()}
    approx = {r["vec_id"] for r in ann_topk_lsh(
        df, q, k=10, n_planes=8, seed=42
    ).collect()}
    assert len(exact & approx) >= 7  # multi-probe LSH recall on clusters


def test_ann_persisted_index_matches_scan_variant(spark, tmp_path_factory):
    """build_ann_index + ann_query (persisted signatures, the 100 TB path)
    returns the same candidates as the scan-time ann_topk_lsh."""
    from spark_frontier.analytics.similarity import (
        ann_query,
        ann_topk_lsh,
        build_ann_index,
    )
    from spark_frontier.storage import SnapStore

    import numpy as np

    rng = np.random.default_rng(5)
    base = rng.standard_normal((6, 16))
    rows = []
    vid = 0
    for c in range(6):
        for _ in range(20):
            v = base[c] + rng.standard_normal(16) * 0.05
            rows.append((vid, [float(x) for x in v]))
            vid += 1
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    q = [float(x) for x in base[2]]

    store = SnapStore(str(tmp_path_factory.mktemp("annstore")))
    build_ann_index(emb, store, n_planes=8, dim=16)
    got = ann_query(spark, store, q, k=10)
    want = ann_topk_lsh(emb, q, k=10, n_planes=8)
    a = [(r["vec_id"], round(r["cosine"], 6)) for r in got.collect()]
    b = [(r["vec_id"], round(r["cosine"], 6)) for r in want.collect()]
    assert a == b and len(a) == 10


def test_doc_stats_matches_jvm_pipeline(spark):
    """The doc_stats Arrow kernel must reproduce the old JVM shapes
    exactly: token_signals fold (n_tokens + per-lang hits) and the
    bigram explode/groupBy repetition pipeline — including the null/
    empty/short edge algebra."""
    from pyspark.sql import functions as F

    from spark_frontier.analytics.dedup import normalize_text
    from spark_frontier.analytics.textstats import (
        doc_stats,
        repetition_signals,
        token_signals,
        tokens,
    )

    rows = [
        (1, "the cat the cat the cat"),
        (2, "a b c d e f g"),
        (3, "  Weird   Spacing\tand CASE  "),
        (4, "single"),
        (5, ""),
        (6, None),
        (7, "der die und das is the of to le la"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")

    got = {r["doc_id"]: (r["n_tokens"], r["dup_word_frac"],
                         r["top_bigram_frac"])
           for r in repetition_signals(df).collect()}

    # old JVM repetition pipeline, replayed inline
    toks = tokens(F.col("text"))
    base = df.select("doc_id", toks.alias("_toks"))
    n = F.size("_toks")
    tail = F.greatest(n - 1, F.lit(0))
    bigrams = F.zip_with(
        F.slice("_toks", 1, tail), F.slice(F.col("_toks"), 2, tail),
        lambda a, b: F.concat(a, F.lit(" "), b),
    )
    bg = (base.select("doc_id", F.explode(bigrams).alias("bg"))
          .groupBy("doc_id", "bg").count()
          .groupBy("doc_id")
          .agg(F.max("count").alias("_mx"), F.sum("count").alias("_tot")))
    want_df = base.join(bg, "doc_id", "left").select(
        "doc_id", n.alias("n_tokens"),
        F.round(F.lit(1.0) - F.size(F.array_distinct("_toks"))
                / F.greatest(n, F.lit(1)).cast("double"), 6
                ).alias("dup_word_frac"),
        F.round(F.coalesce(F.col("_mx").cast("double") / F.col("_tot"),
                           F.lit(0.0)), 6).alias("top_bigram_frac"),
    )
    want = {r["doc_id"]: (r["n_tokens"], r["dup_word_frac"],
                          r["top_bigram_frac"]) for r in want_df.collect()}
    assert got == want

    # token_signals fold vs the kernel's first five slots
    st = {r["doc_id"]: r["st"] for r in df.select(
        "doc_id", doc_stats(normalize_text(F.col("text"))).alias("st")
    ).collect()}
    sig = {r["doc_id"]: r["sig"] for r in df.select(
        "doc_id", token_signals(F.col("text")).alias("sig")
    ).collect()}
    for did in sig:
        if sig[did] is None:
            assert st[did] is None, did
        else:
            assert st[did][:5] == list(sig[did]), did


def _lsh_pairs_reference(sigs, num_perm, bands, threshold):
    """Banded LSH in plain numpy over collected signatures: a pair is a
    candidate iff some band's ``rows_per_band`` slice is equal, its
    estimate is agreements / num_perm, and pairs with an estimate ≥
    threshold are kept as (doc_a < doc_b). Also returns the largest
    same-slice group, so a caller can check which kernel branch ran."""
    from itertools import combinations

    ids = sorted(sigs)
    M = np.array([sigs[i] for i in ids], dtype=np.int64)
    r = num_perm // bands
    cand, biggest = set(), 0
    for b in range(bands):
        groups: dict[bytes, list[int]] = {}
        for k, row in enumerate(M[:, b * r:(b + 1) * r]):
            groups.setdefault(row.tobytes(), []).append(k)
        for g in groups.values():
            biggest = max(biggest, len(g))
            cand.update(combinations(g, 2))      # g ascending → ids ascending
    out = {}
    for a, b in cand:
        est = int(np.count_nonzero(M[a] == M[b])) / num_perm
        if est >= threshold:
            out[(ids[a], ids[b])] = est
    return out, biggest


def test_minhash_lsh_matches_reference(spark, monkeypatch):
    """minhash_lsh_pairs' bucket kernel returns exactly the pairs and the
    estimate doubles of a numpy banded-LSH reference over the same
    signatures — through the batched small-group tensors, and again with
    ``_BIG`` at 2, so every group of ≥ 3 rows takes the chunked
    row-matrix branch."""
    from spark_frontier.analytics import dedup

    docs = spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
    sigs = {r["doc_id"]: r["signature"]
            for r in dedup.minhash_signatures(docs).collect()}
    want, biggest = _lsh_pairs_reference(sigs, 64, 16, 0.5)
    assert want and biggest >= 3

    def got():
        return {(r["doc_a"], r["doc_b"]): r["jaccard_est"]
                for r in minhash_lsh_pairs(docs).collect()}

    assert got() == want
    monkeypatch.setattr(dedup, "_BIG", 2)
    assert got() == want


def test_blocked_cosine_kernel_parity(spark):
    """The blocked-path Arrow kernel (BLAS prefilter + exact-fold verify)
    must be BIT-identical to the JVM zip_with/aggregate expression it
    replaced, for both float and double storage types — same pairs, same
    unrounded cosine doubles."""
    from pyspark.sql import functions as F

    from spark_frontier.analytics.dedup import embedding_neardup_pairs

    rng = np.random.default_rng(17)
    dim = 16
    rows = []
    vid = 0
    for blk in range(4):
        base = rng.standard_normal(dim)
        for _ in range(25):
            v = base + rng.standard_normal(dim) * rng.uniform(0.05, 2.0)
            rows.append((vid, [float(x) for x in v], blk))
            vid += 1

    def _jvm_pairs(df, tau):
        e = df.select("vec_id", "embedding", "label")
        a, b = e.alias("a"), e.alias("b")
        pairs = a.join(b, on=["label"]).filter(
            F.col("a.vec_id") < F.col("b.vec_id")
        )
        dot = F.aggregate(
            F.zip_with(F.col("a.embedding"), F.col("b.embedding"),
                       lambda x, y: x * y),
            F.lit(0.0).cast("double"),
            lambda acc, v: acc + v,
        )
        norm = lambda side: F.sqrt(  # noqa: E731
            F.aggregate(F.col(f"{side}.embedding"),
                        F.lit(0.0).cast("double"),
                        lambda acc, v: acc + v * v)
        )
        return (
            pairs.withColumn("cosine", dot / (norm("a") * norm("b")))
            .filter(F.col("cosine") >= tau)
            .select(F.col("a.vec_id").alias("vec_a"),
                    F.col("b.vec_id").alias("vec_b"), "cosine")
        )

    for elem in ("float", "double"):
        df = spark.createDataFrame(
            rows, f"vec_id long, embedding array<{elem}>, label int"
        )
        for tau in (0.3, 0.9):
            want = {(r["vec_a"], r["vec_b"]): r["cosine"]
                    for r in _jvm_pairs(df, tau).collect()}
            got = {(r["vec_a"], r["vec_b"]): r["cosine"]
                   for r in embedding_neardup_pairs(
                       df, threshold=tau, block_col="label"
                   ).collect()}
            assert got == want, (elem, tau)  # exact doubles, not approx


def test_embedding_neardup_unblocked_lsh(spark):
    """block_col=None path: LSH banding instead of a cross join; finds the
    planted near-dup pairs at high threshold."""
    from spark_frontier.analytics.dedup import embedding_neardup_pairs

    import numpy as np

    rng = np.random.default_rng(6)
    rows = []
    vid = 0
    expected = set()
    for c in range(15):
        v = rng.standard_normal(16)
        v /= np.linalg.norm(v)
        rows.append((vid, [float(x) for x in v]))
        dup = v + rng.standard_normal(16) * 0.01  # planted near-dup
        rows.append((vid + 1, [float(x) for x in dup]))
        expected.add((vid, vid + 1))
        vid += 2
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    pairs = embedding_neardup_pairs(emb, threshold=0.98, block_col=None)
    got = {(r["vec_a"], r["vec_b"]) for r in pairs.collect()}
    # all planted pairs found (recall), nothing below threshold (verify)
    assert expected <= got


def test_ivf_recall_and_persisted_index(spark, tmp_path_factory):
    """IVF ANN (k-means posting lists): probing 3/8 lists on clustered
    data recovers ≥7 of the exact top-10; the persisted index (centroids
    in the snapshot summary) returns the same rows as the scan-time
    variant; k-means is bit-deterministic for a fixed seed."""
    from spark_frontier.analytics.similarity import (
        build_ivf_index,
        ivf_assignments,
        ivf_query,
        ivf_topk,
        kmeans_fit,
    )
    from spark_frontier.storage import SnapStore

    rng = np.random.default_rng(13)
    dim, per = 16, 30
    centers = rng.standard_normal((8, dim)) * 4.0
    vecs = np.concatenate(
        [centers[c] + rng.standard_normal((per, dim)) * 0.4 for c in range(8)]
    )
    df = spark.createDataFrame(
        [(i, [float(x) for x in vecs[i]]) for i in range(len(vecs))],
        "vec_id long, embedding array<float>",
    )
    q = [float(x) for x in (centers[2] + 0.1 * rng.standard_normal(dim))]

    cents = kmeans_fit(df, n_centroids=8, n_iter=4, seed=42)
    cents2 = kmeans_fit(df, n_centroids=8, n_iter=4, seed=42)
    assert np.array_equal(cents, cents2)  # deterministic

    exact = {r["vec_id"] for r in cosine_topk(df, q, k=10).collect()}
    approx_rows = ivf_topk(
        ivf_assignments(df, cents), cents, q, k=10, n_probe=3
    ).collect()
    approx = {r["vec_id"] for r in approx_rows}
    assert len(exact & approx) >= 7

    store = SnapStore(str(tmp_path_factory.mktemp("ivf")))
    build_ivf_index(df, store, n_centroids=8, n_iter=4, seed=42)
    persisted = ivf_query(spark, store, q, k=10, n_probe=3).collect()
    assert [(r["vec_id"], round(r["cosine"], 6)) for r in persisted] == [
        (r["vec_id"], round(r["cosine"], 6)) for r in approx_rows
    ]


def test_pq_adc_matches_numpy_and_persisted_index(spark, tmp_path_factory):
    """PQ ANN: (a) codebook fit is bit-deterministic; (b) the Spark
    encode + literal-LUT ADC expression reproduces an independent numpy
    replay of encode/ADC exactly (ids and 4-dp distances); (c) every
    ADC top-10 hit lies in the query's true cluster — at 8 codes/subspace
    the quantizer resolves clusters, not in-cluster ordering, which is
    the property PQ actually promises; (d) the persisted code table
    (codebooks in the snapshot summary) returns the same rows as the
    scan-time path."""
    from spark_frontier.analytics.similarity import (
        build_pq_index,
        pq_adc_topk,
        pq_encode,
        pq_fit,
        pq_query,
    )
    from spark_frontier.storage import SnapStore

    rng = np.random.default_rng(13)
    dim, per = 16, 30
    centers = rng.standard_normal((8, dim)) * 4.0
    vecs = np.concatenate(
        [centers[c] + rng.standard_normal((per, dim)) * 0.4 for c in range(8)]
    )
    df = spark.createDataFrame(
        [(i, [float(x) for x in vecs[i]]) for i in range(len(vecs))],
        "vec_id long, embedding array<float>",
    )
    # createDataFrame stored float32 — replay from the same precision
    v32 = vecs.astype(np.float32).astype(np.float64)
    q = [float(x) for x in (centers[2] + 0.1 * rng.standard_normal(dim))]

    books = pq_fit(df, m=4, n_codes=8, n_iter=2)
    assert np.array_equal(books, pq_fit(df, m=4, n_codes=8, n_iter=2))

    got = pq_adc_topk(pq_encode(df, books), books, q, k=10).collect()

    # independent numpy replay of encode + ADC with the fitted codebooks
    m, n_codes, sub = books.shape
    qv = np.asarray(q)
    adc = np.zeros(len(v32))
    for s in range(m):
        seg = v32[:, s * sub:(s + 1) * sub]
        d2 = ((seg[:, None, :] - books[s][None, :, :]) ** 2).sum(axis=2)
        lut = ((books[s] - qv[s * sub:(s + 1) * sub][None, :]) ** 2).sum(
            axis=1)
        adc += lut[d2.argmin(axis=1)]
    want = sorted(range(len(v32)), key=lambda i: (adc[i], i))[:10]
    assert [r["vec_id"] for r in got] == want
    for r in got:
        assert abs(r["adc_d2"] - adc[r["vec_id"]]) < 1e-3

    # quantizer resolves clusters: all hits from the query's cluster
    assert all(60 <= r["vec_id"] < 90 for r in got)

    store = SnapStore(str(tmp_path_factory.mktemp("pq")))
    build_pq_index(df, store, m=4, n_codes=8, n_iter=2)
    persisted = pq_query(spark, store, q, k=10).collect()
    assert [(r["vec_id"], r["adc_d2"]) for r in persisted] == [
        (r["vec_id"], r["adc_d2"]) for r in got
    ]


def test_ivfpq_matches_numpy_and_persisted_index(spark, tmp_path_factory):
    """IVF-PQ (residual PQ over k-means posting lists): the Spark probe
    reproduces an independent numpy replay of assign → residual → encode →
    reconstruction-ADC exactly; training is deterministic; the persisted
    centroid-partitioned index returns the same rows as the scan path."""
    from spark_frontier.analytics.similarity import (
        build_ivfpq_index,
        ivfpq_encode,
        ivfpq_fit,
        ivfpq_query,
        ivfpq_topk,
    )
    from spark_frontier.storage import SnapStore

    rng = np.random.default_rng(13)
    dim, per = 16, 30
    centers = rng.standard_normal((8, dim)) * 4.0
    vecs = np.concatenate(
        [centers[c] + rng.standard_normal((per, dim)) * 0.4 for c in range(8)]
    )
    df = spark.createDataFrame(
        [(i, [float(x) for x in vecs[i]]) for i in range(len(vecs))],
        "vec_id long, embedding array<float>",
    )
    v32 = vecs.astype(np.float32).astype(np.float64)
    q = [float(x) for x in (centers[2] + 0.1 * rng.standard_normal(dim))]

    cents, books, resid = ivfpq_fit(
        df, n_centroids=8, ivf_iter=2, m=4, n_codes=8, pq_iter=2
    )
    cents2, books2, _ = ivfpq_fit(
        df, n_centroids=8, ivf_iter=2, m=4, n_codes=8, pq_iter=2
    )
    assert np.array_equal(cents, cents2) and np.array_equal(books, books2)

    got = ivfpq_topk(
        ivfpq_encode(resid, books), cents, books, q, k=10, n_probe=3
    ).collect()

    # independent numpy replay with the fitted quantizers
    m, n_codes, sub = books.shape
    qv = np.asarray(q)
    a = ((v32[:, None, :] - cents[None, :, :]) ** 2).sum(axis=2).argmin(axis=1)
    rv = v32 - cents[a]
    probe = set(
        np.argsort(((cents - qv[None, :]) ** 2).sum(axis=1),
                   kind="stable")[:3].tolist()
    )
    adc = np.zeros(len(v32))
    for s in range(m):
        seg = rv[:, s * sub:(s + 1) * sub]
        codes = ((seg[:, None, :] - books[s][None, :, :]) ** 2).sum(
            axis=2).argmin(axis=1)
        recon = cents[a][:, s * sub:(s + 1) * sub] + books[s][codes]
        adc += ((recon - qv[s * sub:(s + 1) * sub][None, :]) ** 2).sum(axis=1)
    eligible = [i for i in range(len(v32)) if a[i] in probe]
    want = sorted(eligible, key=lambda i: (adc[i], i))[:10]
    assert [r["vec_id"] for r in got] == want
    for r in got:
        assert abs(r["adc_d2"] - adc[r["vec_id"]]) < 1e-3
    # residual quantization resolves the query's cluster
    assert all(60 <= r["vec_id"] < 90 for r in got)

    store = SnapStore(str(tmp_path_factory.mktemp("ivfpq")))
    build_ivfpq_index(df, store, n_centroids=8, ivf_iter=2, m=4,
                      n_codes=8, pq_iter=2)
    persisted = ivfpq_query(spark, store, q, k=10, n_probe=3).collect()
    assert [(r["vec_id"], r["adc_d2"]) for r in persisted] == [
        (r["vec_id"], r["adc_d2"]) for r in got
    ]


def test_winnow_fingerprints_replay_and_guarantee(spark):
    """Winnowing: (a) the Spark window pipeline reproduces an independent
    hashlib replay exactly (per-doc fingerprint sets); (b) the MOSS
    guarantee holds — documents sharing a substring of length ≥ w+k-1
    share at least one fingerprint; (c) a document shorter than one full
    window still yields its all-grams minimum (nothing dropped)."""
    import hashlib

    from spark_frontier.analytics.textstats import winnow_fingerprints

    k, w = 5, 8
    shared = "the quick brown fox jumps over the lazy dog"
    docs = [
        (1, f"AAA {shared} tail one"),
        (2, f"completely different prefix {shared}"),
        (3, "unrelated text about market prices and rates"),
        (4, "tiny"),  # shorter than k: one gram, one fingerprint
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    got: dict[int, set] = {}
    for r in winnow_fingerprints(df, k=k, w=w).collect():
        got.setdefault(r["doc_id"], set()).add(r["fingerprint"])

    def replay(text):
        import re

        t = re.sub(r"\s+", " ", text.strip().lower())
        n_pos = max(len(t) - k + 1, 1)
        ghs = [
            int(hashlib.md5(t[i:i + k].encode()).hexdigest()[:15], 16)
            for i in range(n_pos)
        ]
        out = set()
        for i in range(max(n_pos - w, 0) + 1):
            out.add(min(ghs[i:i + w]))
        return out

    for doc_id, text in docs:
        assert got[doc_id] == replay(text), doc_id

    assert got[1] & got[2]          # shared 43-char substring ≥ w+k-1
    assert not (got[3] & got[1])    # disjoint content, disjoint prints
    assert len(got[4]) == 1


def test_sampling_deterministic_and_replayable(spark):
    """hash_sample/stratified_mix: quotas are honored, selection matches
    an independent hashlib replay, and hash_sample composes with itself
    (f1 then f2 == min(f1, f2) — same hash compared both times)."""
    import hashlib

    from spark_frontier.analytics.sampling import (
        HASH_SPACE,
        hash_sample,
        stratified_mix,
    )

    rows = [(i, f"g{i % 3}") for i in range(90)]
    df = spark.createDataFrame(rows, "doc_id long, source string")

    def h(i):
        return int(hashlib.md5(str(i).encode()).hexdigest()[:15], 16)

    quotas = {"g0": 5, "g1": 10}  # g2 absent -> default 0
    got = sorted(
        (r["doc_id"], r["source"])
        for r in stratified_mix(df, quotas, group_col="source").collect()
    )
    want = []
    for g, q in quotas.items():
        members = sorted((i for i, s in rows if s == g), key=lambda i: (h(i), i))
        want += [(i, g) for i in members[:q]]
    assert got == sorted(want)

    s1 = {r["doc_id"] for r in hash_sample(df, 0.5).collect()}
    assert s1 == {i for i, _ in rows if h(i) < int(0.5 * HASH_SPACE)}
    s2 = {r["doc_id"] for r in hash_sample(hash_sample(df, 0.8), 0.5).collect()}
    assert s2 == s1


def test_dedup_clusters_connected_components(spark):
    """Min-label propagation == brute-force union-find on a graph with a
    chain (transitivity across hops), a clique, isolated vertices, and a
    two-node island."""
    from spark_frontier.analytics.dedup import dedup_clusters

    edges = [
        (1, 2), (2, 3), (3, 4),          # chain: all -> 1
        (10, 11), (11, 12), (10, 12),    # clique: all -> 10
        (20, 21),                        # island
    ]
    pairs = spark.createDataFrame(edges, "doc_a long, doc_b long")
    verts = spark.createDataFrame(
        [(i,) for i in [1, 2, 3, 4, 10, 11, 12, 20, 21, 30, 31]],
        "doc_id long",
    )
    got = {
        r["doc_id"]: r["cluster_id"]
        for r in dedup_clusters(pairs, vertices=verts).collect()
    }
    assert got == {1: 1, 2: 1, 3: 1, 4: 1,
                   10: 10, 11: 10, 12: 10,
                   20: 20, 21: 20,
                   30: 30, 31: 31}


def test_dedup_clusters_long_chain_converges(spark):
    """A 30-hop path exercises multi-round propagation + the changed-only
    frontier optimization; every vertex must still reach label 0."""
    from spark_frontier.analytics.dedup import dedup_clusters

    n = 30
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(n)], "doc_a long, doc_b long"
    )
    # driver_edge_threshold=0 forces the distributed propagation loop
    out = dedup_clusters(pairs, max_iter=64, driver_edge_threshold=0).collect()
    assert len(out) == n + 1
    assert all(r["cluster_id"] == 0 for r in out)


def test_dedup_clusters_driver_matches_distributed(spark):
    """The size-gated driver union-find and the distributed propagation
    loop are the same function — checked on long ids and on string ids
    (UTF8 vs Python ordering must agree on the min representative)."""
    from spark_frontier.analytics.dedup import dedup_clusters

    edges = [(i, (i * 3) % 40) for i in range(40) if i != (i * 3) % 40]
    pairs = spark.createDataFrame(edges, "doc_a long, doc_b long")
    a = sorted(map(tuple, dedup_clusters(pairs).collect()))
    b = sorted(map(tuple,
                   dedup_clusters(pairs, driver_edge_threshold=0).collect()))
    assert a == b

    spairs = spark.createDataFrame(
        [(f"img{a:03d}", f"img{b:03d}") for a, b in edges],
        "doc_a string, doc_b string",
    )
    sa = sorted(map(tuple, dedup_clusters(spairs).collect()))
    sb = sorted(map(tuple,
                    dedup_clusters(spairs, driver_edge_threshold=0).collect()))
    assert sa == sb


def test_pii_scrub_counts_and_redaction(spark):
    """Hand-built rows with known PII: counts per class and the exact
    redacted text. Also covers the ordering guarantee (card masked before
    the phone pattern could bite a fragment) and a no-PII row."""
    from spark_frontier.analytics.pii import pii_report

    rows = [
        (1, "write to alice.smith+x@sub.example.co.uk or bob@x.io now"),
        (2, "call 555-123-4567 or 555 987 6543 today"),
        (3, "server at 10.0.0.1 and 192.168.255.254 responded"),
        (4, "card 4111 1111 1111 1234 expires soon"),
        (5, "nothing sensitive here at all"),
        (6, "mix bob@x.io 555-123-4567 10.0.0.1 4111-1111-1111-9999"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["doc_id"]: r.asDict() for r in pii_report(df).collect()}

    assert got[1]["n_email"] == 2 and got[1]["n_phone"] == 0
    assert "<EMAIL>" in got[1]["clean_text"]
    assert "alice" not in got[1]["clean_text"]
    assert got[2]["n_phone"] == 2
    assert got[2]["clean_text"] == "call <PHONE> or <PHONE> today"
    assert got[3]["n_ipv4"] == 2
    assert got[3]["clean_text"] == "server at <IP> and <IP> responded"
    # the card number also contains phone-shaped digit runs; the \b
    # anchors keep the phone count at 0 and the card masks as one unit
    assert got[4]["n_ccn"] == 1 and got[4]["n_phone"] == 0
    assert got[4]["clean_text"] == "card <CC> expires soon"
    assert got[5] == {"doc_id": 5, "text": rows[4][1], "n_email": 0,
                      "n_ccn": 0, "n_phone": 0, "n_ipv4": 0,
                      "clean_text": rows[4][1]}
    assert got[6]["clean_text"] == "mix <EMAIL> <PHONE> <IP> <CC>"


def test_repetition_signals_known_fractions(spark):
    """Crafted docs with hand-computed repetition fractions."""
    from spark_frontier.analytics.textstats import repetition_signals

    rows = [
        # 6 tokens, all distinct; top bigram count 1 of 5
        (1, "one two three four five six"),
        # "spam ham" * 3 → 6 tokens, 2 distinct → dup 4/6; bigrams:
        # "spam ham" x3, "ham spam" x2 → top 3/5
        (2, "spam ham spam ham spam ham"),
        # single token → 0 bigrams → top_bigram_frac 0
        (3, "alone"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["doc_id"]: r.asDict() for r in repetition_signals(df).collect()}

    assert got[1]["n_tokens"] == 6
    assert got[1]["dup_word_frac"] == 0.0
    assert got[1]["top_bigram_frac"] == 0.2
    assert got[2]["dup_word_frac"] == round(4 / 6, 6)
    assert got[2]["top_bigram_frac"] == 0.6
    assert got[3]["n_tokens"] == 1
    assert got[3]["top_bigram_frac"] == 0.0


def test_pii_scrub_matches_python_reference_fuzz(spark):
    """Property parity: the JVM regexp chain equals Python re with the
    same patterns over adversarial near-PII strings (boundary digits,
    glued emails, mixed separators)."""
    import re

    from spark_frontier.analytics.pii import PII_PATTERNS, pii_report

    frags = [
        "x@y.io", "a.b@c.example.com", "user@@double.com", "@nodomain",
        "555-123-4567", "4111 1111 1111 1111", "12345-678-9012",
        "999.999.999.999", "1.2.3.4", "1.2.3.4.5", "v1.2.3.4x",
        "5551234567", "555 123 4567", "4111-1111-1111-9999",
        "text", "#", "10.0.0.256", "a1.2.3.4",
    ]
    rows = []
    k = 0
    for i in range(len(frags)):
        for j in range(len(frags)):
            rows.append((k, frags[i] + " " + frags[j] + " tail"))
            k += 1
            rows.append((k, frags[i] + frags[j]))  # glued, no separator
            k += 1

    def py_ref(t: str):
        counts = {n: len(re.findall(p, t)) for n, p, _ in PII_PATTERNS}
        for _, p, rep in PII_PATTERNS:
            t = re.sub(p, rep, t)
        return counts, t

    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["doc_id"]: r.asDict() for r in pii_report(df).collect()}
    for did, text in rows:
        counts, clean = py_ref(text)
        g = got[did]
        assert g["clean_text"] == clean, (text, g["clean_text"], clean)
        for n in counts:
            assert g[f"n_{n}"] == counts[n], (text, n, g[f"n_{n}"], counts)


def test_decontaminate_known_overlap(spark):
    """An 8-gram lifted verbatim from an eval doc flags the corpus doc;
    distinct-gram counting ignores repeats on either side."""
    from spark_frontier.analytics.decontam import decontaminate

    ev_text = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    docs = spark.createDataFrame(
        [
            # contains eval grams: tokens 1..9 of ev_text → two 8-grams
            (1, "XX " + ev_text + " YY"),
            # repeats the SAME contaminated 8-gram twice → still counted once
            (2, "alpha beta gamma delta epsilon zeta eta theta PAD "
                "alpha beta gamma delta epsilon zeta eta theta"),
            (3, "totally clean text with nothing shared at all here okay"),
            (4, "short"),
        ],
        "doc_id long, text string",
    )
    ev = spark.createDataFrame([(99, ev_text)], "doc_id long, text string")
    got = {r["doc_id"]: r for r in decontaminate(docs, ev, n=8).collect()}
    assert len(got) == 4  # every corpus row present, zero-filled
    # ev_text has 10 tokens → 3 distinct eval 8-grams; doc 1 embeds all 10
    # tokens contiguously → all 3 grams hit
    assert got[1]["n_hits"] == 3 and got[1]["is_contaminated"]
    assert got[2]["n_hits"] == 1 and got[2]["is_contaminated"]
    assert got[3]["n_hits"] == 0 and not got[3]["is_contaminated"]
    assert got[4]["n_hits"] == 0 and not got[4]["is_contaminated"]


def test_bigram_lm_scores_hand_computed(spark):
    """Tiny corpus where the add-one-smoothed bigram log-probs are
    hand-computable: c('a b')=2, c('b a')=1, c1('a')=3, c1('b')=2, V=2."""
    import math

    from spark_frontier.analytics.decontam import bigram_lm_scores

    docs = spark.createDataFrame(
        [(1, "a b a b"), (2, "a"), (3, "")],
        "doc_id long, text string",
    )
    got = {r["doc_id"]: r for r in bigram_lm_scores(docs).collect()}
    # docs 2 (one token) and 3 (empty) have no bigrams → omitted
    assert set(got) == {1}
    lp_ab = math.log((2 + 1) / (3 + 2))   # c2('a b')=2, c1('a')=3, V=2
    lp_ba = math.log((1 + 1) / (2 + 2))   # c2('b a')=1, c1('b')=2
    want = (2 * lp_ab + lp_ba) / 3
    assert got[1]["n_bigrams"] == 3
    assert abs(got[1]["lm_logprob"] - want) < 1e-9


def test_semdedup_known_components(spark):
    """Two tight semantic groups + isolated vectors: group members map to
    the group's min id with exactly one keeper; isolates keep
    themselves. 64-dim to match the embeddings table contract."""
    import numpy as np

    from spark_frontier.analytics.dedup import semdedup

    rng = np.random.default_rng(7)
    base_a = rng.normal(size=64)
    base_b = rng.normal(size=64)
    rows = []
    # group A: ids 1,2,3 — tiny perturbations of base_a (cosine ~1)
    for i, eps in [(1, 0.0), (2, 1e-3), (3, 2e-3)]:
        v = base_a + eps * rng.normal(size=64)
        rows.append((i, [float(x) for x in v]))
    # group B: ids 10, 11
    for i, eps in [(10, 0.0), (11, 1e-3)]:
        v = base_b + eps * rng.normal(size=64)
        rows.append((i, [float(x) for x in v]))
    # isolates: orthogonal-ish random vectors
    for i in (20, 21, 22):
        rows.append((i, [float(x) for x in rng.normal(size=64)]))

    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    got = {r["vec_id"]: r for r in
           semdedup(df, n_centroids=3, n_iter=2, threshold=0.99).collect()}
    assert len(got) == 8
    assert [got[i]["cluster_id"] for i in (1, 2, 3)] == [1, 1, 1]
    assert [got[i]["keep"] for i in (1, 2, 3)] == [True, False, False]
    assert [got[i]["cluster_id"] for i in (10, 11)] == [10, 10]
    assert [got[i]["keep"] for i in (10, 11)] == [True, False]
    for i in (20, 21, 22):
        assert got[i]["cluster_id"] == i and got[i]["keep"]


def test_pack_sequences_hand_computed(spark):
    """Known token counts at capacity 10: offsets are the exclusive
    prefix sum in doc_id order regardless of partitioning; boundary
    docs span two sequences; empty docs consume no stream positions."""
    from spark_frontier.analytics.packing import pack_sequences

    rows = [
        (1, "a b c d"),            # 4 toks  off 0   seqs 0..0
        (2, " ".join("x" * 1 for _ in range(8))),  # 8 toks off 4 seqs 0..1
        (3, ""),                   # 0 toks  off 12  n_seqs 0
        (4, "one two three"),      # 3 toks  off 12  seqs 1..1
        (5, " ".join(str(i) for i in range(9))),   # 9 toks off 15 seqs 1..2
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["doc_id"]: r for r in
           pack_sequences(df, capacity=10, n_parts=3).collect()}
    assert len(got) == 5
    want = {
        1: (4, 0, 0, 0, 1),
        2: (8, 4, 0, 1, 2),
        3: (0, 12, 1, 1, 0),
        4: (3, 12, 1, 1, 1),
        5: (9, 15, 1, 2, 2),
    }
    for k, (nt, off, sf_, sl, ns) in want.items():
        r = got[k]
        assert (r["n_tokens"], r["offset"], r["seq_first"], r["seq_last"],
                r["n_seqs"]) == (nt, off, sf_, sl, ns), (k, dict(r.asDict()))


def test_pack_sequences_partition_invariant(spark):
    """The two-phase prefix sum gives identical offsets at 1 and 7
    range partitions (the local cumsum + driver fold cannot depend on
    where the range boundaries land)."""
    from spark_frontier.analytics.packing import pack_sequences

    rows = [(i, "tok " * (i % 13)) for i in range(100, 0, -1)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    a = sorted(pack_sequences(df, capacity=16, n_parts=1).collect())
    b = sorted(pack_sequences(df, capacity=16, n_parts=7).collect())
    assert a == b
    # spot-check the global total: last doc's offset + n_tokens
    total = sum(i % 13 for i in range(1, 101))
    last = max(a, key=lambda r: r["doc_id"])
    assert last["offset"] + last["n_tokens"] == total


def test_allocate_budget_hand_computed(spark):
    """B=10 over weights 5,3,1 (W=9): quotas 50/9,30/9,10/9 -> bases
    5,3,1 (sum 9), leftover 1 goes to the largest remainder (a: 5)."""
    from spark_frontier.frontier.budget import allocate_budget

    df = spark.createDataFrame(
        [("a", 5), ("b", 3), ("c", 1)], "host string, weight long"
    )
    got = {r["host"]: r["alloc"] for r in
           allocate_budget(df, total_budget=10, n_parts=2).collect()}
    assert got == {"a": 6, "b": 3, "c": 1}


def test_allocate_budget_invariants(spark):
    """Sum equals the budget exactly; zero-weight hosts get 0; result is
    independent of the partition count; all-zero weights -> all zero."""
    from spark_frontier.frontier.budget import allocate_budget

    rows = [(f"h{i:03d}", (i * 7919) % 23) for i in range(200)]
    df = spark.createDataFrame(rows, "host string, weight long")
    a = sorted(allocate_budget(df, 997, n_parts=1).collect())
    b = sorted(allocate_budget(df, 997, n_parts=9).collect())
    assert a == b
    assert sum(r["alloc"] for r in a) == 997
    assert all(r["alloc"] == 0 for r in a if r["weight"] == 0)
    zero = df.withColumn("weight", F.lit(0))
    z = allocate_budget(zero, 997).collect()
    assert sum(r["alloc"] for r in z) == 0


def test_dup_ngram_signals_hand_computed(spark):
    """Docs 1/2 share one 8-token span (1 dup position each); doc 3 is
    clean; doc 4 is an exact copy of doc 1 (all positions dup, dropped);
    doc 5 is shorter than n (zero grams, kept)."""
    from spark_frontier.analytics.decontam import dup_ngram_signals

    span = "alpha beta gamma delta epsilon zeta eta theta"  # 8 tokens
    rows = [
        (1, span + " one two"),          # 3 grams, 3 dup (doc 4 copies all)
        (2, "x y " + span),              # 3 grams, 1 dup (the span itself)
        (3, "p q r s t u v w x y z"),    # 4 grams, 0 dup
        (4, span + " one two"),          # copy of doc 1
        (5, "too short"),                # 0 grams
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["doc_id"]: r for r in dup_ngram_signals(df, n=8).collect()}
    assert len(got) == 5
    assert (got[1]["n_grams"], got[1]["n_dup_grams"]) == (3, 3)
    assert got[1]["drop_doc"] and got[4]["drop_doc"]
    assert (got[2]["n_grams"], got[2]["n_dup_grams"]) == (3, 1)
    assert not got[2]["drop_doc"]
    assert (got[3]["n_grams"], got[3]["n_dup_grams"]) == (4, 0)
    assert got[3]["dup_frac"] == 0.0 and not got[3]["drop_doc"]
    assert (got[5]["n_grams"], got[5]["n_dup_grams"]) == (0, 0)
    assert not got[5]["drop_doc"]


def test_dsir_logweights_hand_computed(spark):
    """3-doc corpus, 1-doc target: weights recomputed in pure Python
    with the same md5 bucketing and add-one smoothing must match to
    1e-6 (the operator's rounding); target-like docs outscore others."""
    import hashlib
    import math

    from spark_frontier.analytics.sampling import dsir_logweights

    rows = [
        (1, "good clean prose about science"),
        (2, "good clean prose about science"),   # same as target doc
        (3, "zz yy xx ww vv uu"),                # nothing in common
    ]
    target = [(9, "good clean prose about science")]
    B = 64
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    tgt = spark.createDataFrame(target, "doc_id long, text string")
    got = {r["doc_id"]: r for r in
           dsir_logweights(docs, tgt, n_buckets=B).collect()}

    def feats(text):
        toks = text.split()
        return toks + [f"{a} {b}" for a, b in zip(toks, toks[1:])]

    def bucket(f):
        return int(hashlib.md5(f.encode()).hexdigest()[:15], 16) % B

    from collections import Counter
    tcnt = Counter(bucket(f) for f in feats(target[0][1]))
    rcnt = Counter(bucket(f) for r in rows for f in feats(r[1]))
    tt, rt = sum(tcnt.values()), sum(rcnt.values())
    for i, text in rows:
        fs = [bucket(f) for f in feats(text)]
        want = sum(
            math.log((tcnt.get(b, 0) + 1) / (tt + B))
            - math.log((rcnt.get(b, 0) + 1) / (rt + B))
            for b in fs
        )
        assert got[i]["n_feats"] == len(fs)
        assert abs(got[i]["logweight"] - want) < 2e-6, (i, want, got[i])
    assert got[1]["logweight"] == got[2]["logweight"]
    assert got[1]["logweight"] > got[3]["logweight"]


def test_select_token_budget_hand_computed(spark):
    """Budget 10 over quality-ranked docs: rank order (quality desc, id
    asc), prefix-greedy cutoff mid-stream, partition-count invariant."""
    from spark_frontier.analytics.packing import select_token_budget

    rows = [
        (1, 0.9, "a b c d"),        # rank 1: 4 toks, cum 0  -> selected
        (2, 0.9, "e f g"),          # rank 2 (tie->id): 3, cum 4 -> sel
        (3, 0.5, "h i j k l"),      # rank 3: 5 toks, cum 7 -> 12 > 10 no
        (4, 0.4, "m n o"),          # rank 4: cum 12 -> no
        (5, 0.3, ""),               # 0 toks, cum 15 <= ... 15>10 -> no
    ]
    df = spark.createDataFrame(rows, "doc_id long, quality double, "
                                     "text string")
    for parts in (1, 3):
        got = {r["doc_id"]: r for r in
               select_token_budget(df, 10, n_parts=parts).collect()}
        assert [got[i]["selected"] for i in (1, 2, 3, 4, 5)] == \
            [True, True, False, False, False]
        assert [got[i]["cum_before"] for i in (1, 2, 3, 4, 5)] == \
            [0, 4, 7, 12, 15]


def test_safety_flags_hand_computed(spark):
    """Known token hits per category; density threshold behavior; clean
    substrings ('classy' vs blocklisted 'class') never match."""
    from spark_frontier.analytics.pii import safety_flags

    kw = {"x": ["bad", "worse"], "y": ["ugly"]}
    rows = [
        (1, "bad worse ugly and seventeen more clean tokens here now ok"),
        (2, "all clean text with nothing blocked at all"),
        (3, "badly classy estimates"),        # substrings must NOT match
        (4, "bad " * 10),                     # pure blocklist -> drop
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["doc_id"]: r for r in
           safety_flags(df, keywords=kw, max_hit_frac=0.2).collect()}
    assert (got[1]["n_x"], got[1]["n_y"]) == (2, 1)
    assert got[1]["hit_frac"] == round(3 / 11, 6)
    assert got[1]["drop_doc"]              # 27% > 20%
    assert (got[2]["n_x"], got[2]["n_y"]) == (0, 0)
    assert not got[2]["drop_doc"]
    assert (got[3]["n_x"], got[3]["n_y"]) == (0, 0)
    assert got[4]["drop_doc"] and got[4]["hit_frac"] == 1.0


def test_assign_image_shards_invariants(spark):
    """Every full shard has exactly batch_size members of ONE aspect
    bucket; ragged tails are flagged; assignment is deterministic and
    partitioning-independent."""
    from spark_frontier.analytics.multimodal import assign_image_shards

    rows = []
    for i in range(19):
        rows.append((f"p{i:03d}", 32, 24))   # bucket 1333, 19 imgs (ragged)
    for i in range(16):
        rows.append((f"q{i:03d}", 24, 32))   # bucket 750, 16 imgs (even)
    df = spark.createDataFrame(rows, "image_id string, w int, h int")
    a = sorted(map(tuple,
                   assign_image_shards(df, batch_size=8).collect()))
    b = sorted(map(tuple, assign_image_shards(
        df.repartition(7), batch_size=8).collect()))
    assert a == b and len(a) == 35

    from collections import defaultdict
    shards = defaultdict(list)
    for (iid, w, h, bucket, shard, pos, full) in a:
        shards[(bucket, shard)].append((pos, full, iid))
    for (bucket, shard), members in shards.items():
        poss = sorted(p for p, _, _ in members)
        assert poss == list(range(len(members)))
        fulls = {f for _, f, _ in members}
        assert len(fulls) == 1
        assert (len(members) == 8) == fulls.pop()
    # 19 -> 2 full + ragged 3; 16 -> 2 full, no tail
    n_full = sum(1 for k, m in shards.items() if len(m) == 8)
    assert n_full == 4


def test_assign_splits_disjoint_and_stable(spark):
    """Every row gets exactly one split; proportions are near the
    fractions; assignment of an existing id never changes when the
    corpus grows (the hash property random splits lack)."""
    from spark_frontier.analytics.sampling import assign_splits

    small = spark.range(0, 500).withColumnRenamed("id", "doc_id")
    big = spark.range(0, 2000).withColumnRenamed("id", "doc_id")
    fr = {"train": 0.8, "val": 0.1, "test": 0.1}
    s1 = {r["doc_id"]: r["split"] for r in assign_splits(small, fr).collect()}
    s2 = {r["doc_id"]: r["split"] for r in assign_splits(big, fr).collect()}
    assert len(s1) == 500 and len(s2) == 2000
    assert all(s2[k] == v for k, v in s1.items())  # growth-stable
    from collections import Counter
    c = Counter(s2.values())
    assert set(c) == {"train", "val", "test"}
    assert 0.75 < c["train"] / 2000 < 0.85
    assert 0.06 < c["val"] / 2000 < 0.14


def test_allocate_budget_matches_python_hamilton(spark):
    """Random instances vs a pure-python largest-remainder reference."""
    import numpy as np

    from spark_frontier.frontier.budget import allocate_budget

    rng = np.random.default_rng(13)
    for trial in range(3):
        n = int(rng.integers(5, 60))
        weights = rng.integers(0, 50, size=n)
        b = int(rng.integers(1, 500))
        rows = [(f"h{i:03d}", int(w)) for i, w in enumerate(weights)]
        df = spark.createDataFrame(rows, "host string, weight long")
        got = {r["host"]: r["alloc"] for r in
               allocate_budget(df, b, n_parts=4).collect()}

        w_sum = int(weights.sum())
        if w_sum == 0:
            assert all(v == 0 for v in got.values())
            continue
        base = {h: (w * b) // w_sum for (h, w) in rows}
        rem = {h: (w * b) % w_sum for (h, w) in rows}
        leftover = b - sum(base.values())
        order = sorted(rows, key=lambda hw: (-rem[hw[0]], hw[0]))
        want = dict(base)
        for h, _ in order[:leftover]:
            want[h] += 1
        assert got == want, trial
