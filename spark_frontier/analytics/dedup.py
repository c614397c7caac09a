"""Document deduplication for training-data pipelines.

Not in the reference (its dedup is URL-level, F5) — these are the
large-scale corpus operators a 100 TB training-data pipeline needs, built
Spark-first over the ``documents`` table (doc_id, text, lang, source,
n_chars):

- exact_dedup            hash-groupBy on normalized text (1 shuffle,
                         map-side partial agg)
- ngram_jaccard_pairs    n-gram inverted index self-join → |∩|/|∪| — the
                         exact pairwise Jaccard, pruned by a same-gram
                         pre-join so it never goes O(n²) on disjoint docs
- minhash_lsh_pairs      MinHash signatures (vectorized numpy) → banded
                         LSH buckets → one Arrow kernel per bucket
                         partition verifies every same-bucket pair and
                         emits only survivors. The scale path: work ∝
                         bucket sizes, not n². Probabilistic recall
                         (tunable perms/bands).
- simhash_pairs          64-bit SimHash → hamming_neardup_pairs (4×16-bit
                         chunk banding, exact for hamming ≤ 3)
- embedding_neardup      cosine ≥ τ pairs over embeddings (block join)

Each has a ``queries()`` entry in __spark_entry__.py with a DuckDB oracle:
MinHash/SimHash use a fixed-seed permutation family over md5-60-bit
hashes, so even the probabilistic operators are bit-reproducible and the
oracle replays them exactly; property tests additionally check recall vs
exact Jaccard.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from spark_frontier.storage.materialize import materialize

# ---------------------------------------------------------------------------
# exact


def normalize_text(col) -> F.Column:
    """lowercase + collapse whitespace — the canonical form for exact dedup."""
    return F.regexp_replace(F.lower(F.trim(col)), r"\s+", " ")


def exact_dedup(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Keep the smallest doc_id per identical normalized text. One shuffle
    on a 128-bit hash (not the full text — bytes stay out of the shuffle);
    collision probability negligible at any realistic corpus size."""
    h = F.md5(normalize_text(F.col(text_col))).alias("text_hash")
    return (
        docs.select("doc_id", h)
        .groupBy("text_hash")
        .agg(F.min("doc_id").alias("keep_doc_id"), F.count("*").alias("dup_count"))
    )


# ---------------------------------------------------------------------------
# n-gram jaccard (exact pairwise, inverted-index pruned)


def _char_ngrams(col, n: int) -> F.Column:
    """Distinct character n-grams of an ALREADY-NORMALIZED text column,
    JVM-side: sequence+transform+substring — no Python.

    The input must be a plain column reference (project normalize_text into
    a column first): Catalyst inlines whatever expression is passed here
    into the per-element lambda, so a normalize expression would re-run its
    regexp once per character of every document."""
    return F.array_distinct(
        F.transform(
            F.sequence(F.lit(1), F.greatest(F.length(col) - n + 1, F.lit(1))),
            lambda i: col.substr(i, F.lit(n)),
        )
    )


def ngram_jaccard_pairs(
    docs: DataFrame, n: int = 5, threshold: float = 0.8, text_col: str = "text",
    df_cap_frac: float = 0.02, df_cap_min: int = 64,
) -> DataFrame:
    """Jaccard over DISCRIMINATIVE character n-grams for every pair sharing
    ≥1 such gram. Inverted index join: explode grams → self-join on gram →
    count shared → |∪| = |A|+|B|-shared.

    Stop-gram pruning (standard for inverted-index similarity joins): grams
    appearing in more than max(df_cap_min, df_cap_frac·|docs|) documents
    are excluded from BOTH the pair generation and the set sizes — they
    carry no discriminative signal and would make the self-join quadratic
    in corpus size. Near-dup pairs keep high scores because their rare
    grams dominate numerator and denominator alike. The DuckDB oracle in
    __spark_entry__.py applies the identical rule."""
    from pyspark.sql import Observation

    par = docs.sparkSession.sparkContext.defaultParallelism
    # the doc count (df_cap input) rides the checkpoint job as an
    # Observation on the pre-explode projection — it was a separate
    # driver-blocking count() job per call
    obs = Observation("ngram_n_docs")
    grams = (
        docs.select("doc_id", normalize_text(F.col(text_col)).alias("_t"))
        # spread the explode+hash across cores: a small-file parquet scan
        # is one task, and this stage does the gram-count-dominated work
        .repartition(par)
        .observe(obs, F.count(F.lit(1)).alias("n"))
        .select("doc_id", F.explode(_char_ngrams(F.col("_t"), n)).alias("gram"))
        .withColumn("gram", F.xxhash64("gram"))  # shuffle 8 bytes, not strings
        # materialize once: grams feed the hot-gram agg, the sizes agg, and
        # BOTH sides of the self-join — recomputing the explode 5× would
        # dominate the query
        .transform(materialize)
    )
    try:
        n_docs = int(obs.get["n"] or 0)
    except Exception:      # empty input → the metric never fires
        n_docs = 0
    df_cap = max(df_cap_min, int(df_cap_frac * n_docs))
    hot = grams.groupBy("gram").count().filter(F.col("count") > df_cap).select("gram")
    pruned = materialize(grams.join(F.broadcast(hot), on="gram", how="left_anti"))
    sizes = pruned.groupBy("doc_id").agg(F.count("*").alias("set_size"))
    pairs = (
        pruned.alias("a")
        .join(pruned.alias("b"), on="gram")
        .filter(F.col("a.doc_id") < F.col("b.doc_id"))
        .groupBy(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .agg(F.count("*").alias("shared"))
    )
    return (
        pairs.join(sizes.withColumnRenamed("doc_id", "doc_a")
                   .withColumnRenamed("set_size", "size_a"), on="doc_a")
        .join(sizes.withColumnRenamed("doc_id", "doc_b")
              .withColumnRenamed("set_size", "size_b"), on="doc_b")
        .withColumn(
            "jaccard",
            F.col("shared") / (F.col("size_a") + F.col("size_b") - F.col("shared")),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", "jaccard")
    )


# ---------------------------------------------------------------------------
# MinHash + LSH


def md5_hash60(col) -> F.Column:
    """60-bit non-negative hash both engines can compute bit-identically:
    Spark ``conv(substr(md5(x),1,15),16,10)`` == DuckDB
    ``CAST('0x'||substr(md5(x),1,15) AS BIGINT)`` == Python
    ``int(md5(x).hexdigest()[:15],16)``. Used where a DuckDB oracle must
    reproduce the exact hash (minhash grams, simhash tokens); pure-engine
    paths keep xxhash64 (JVM, faster)."""
    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("long")


_MD5_SHIFT = ([7, 12, 17, 22] * 4 + [5, 9, 14, 20] * 4
              + [4, 11, 16, 23] * 4 + [6, 10, 15, 21] * 4)
_MD5_K = np.array([int(abs(np.sin(i + 1)) * 2**32) for i in range(64)],
                  dtype=np.uint32)
_MD5_WORD = [i if i < 16 else (5 * i + 1) % 16 if i < 32
             else (3 * i + 5) % 16 if i < 48 else 7 * i % 16
             for i in range(64)]
_MD5_INIT = np.array([0x67452301, 0xEFCDAB89, 0x98BADCFE, 0x10325476],
                     dtype=np.uint32)
MD5_ONE_BLOCK = 55  # longest message whose padded form is one 64-byte block


def md5_60_rows(msgs: np.ndarray, chunk: int = 1 << 14) -> np.ndarray:
    """``int(md5(row).hexdigest()[:15], 16)`` for every row of an
    (m, L) uint8 matrix, L ≤ MD5_ONE_BLOCK: RFC 1321's 64 rounds run once
    over the whole column of padded blocks (uint32 lanes wrap exactly
    like MD5's mod-2^32 adds). Chunks of 16k rows keep the ~20 working
    lanes in cache; larger chunks measured slower."""
    m, L = msgs.shape
    if L > MD5_ONE_BLOCK:
        raise ValueError(f"{L}-byte rows need more than one MD5 block")
    out = np.empty(m, dtype=np.uint64)
    bitlen = np.frombuffer((8 * L).to_bytes(8, "little"), dtype=np.uint8)
    for c0 in range(0, m, chunk):
        part = msgs[c0:c0 + chunk]
        k = len(part)
        blk = np.zeros((k, 64), dtype=np.uint8)
        blk[:, :L] = part
        blk[:, L] = 0x80
        blk[:, 56:] = bitlen
        X = np.ascontiguousarray(blk.view("<u4").T)  # 16 message words
        a, b, c, d = (np.full(k, v, dtype=np.uint32) for v in _MD5_INIT)
        f = np.empty(k, dtype=np.uint32)
        t = np.empty(k, dtype=np.uint32)
        for i in range(64):
            if i < 16:    # (b & c) | (~b & d)
                np.bitwise_and(b, c, out=f)
                np.invert(b, out=t)
                t &= d
                f |= t
            elif i < 32:  # (d & b) | (~d & c)
                np.bitwise_and(d, b, out=f)
                np.invert(d, out=t)
                t &= c
                f |= t
            elif i < 48:  # b ^ c ^ d
                np.bitwise_xor(b, c, out=f)
                f ^= d
            else:         # c ^ (b | ~d)
                np.invert(d, out=f)
                f |= b
                f ^= c
            f += a
            f += _MD5_K[i]
            f += X[_MD5_WORD[i]]
            s = _MD5_SHIFT[i]
            np.left_shift(f, np.uint32(s), out=a)  # a is dead: reuse it
            f >>= np.uint32(32 - s)
            a |= f
            a += b
            a, b, c, d = d, a, b, c
        a += _MD5_INIT[0]
        b += _MD5_INIT[1]
        # the digest's first 8 bytes are a, b little-endian; its first 15
        # hex digits are their big-endian reading shifted right by 4
        hi = a.byteswap().astype(np.uint64)
        lo = b.byteswap().astype(np.uint64)
        out[c0:c0 + k] = ((hi << np.uint64(32)) | lo) >> np.uint64(4)
    return out


def gram_md5_60(grams: np.ndarray) -> np.ndarray:
    """md5-60 of each row of an (m, n) uint32 code-point matrix read as
    UTF-8 text: vectorized (``md5_60_rows``) for all-ASCII rows, whose
    UTF-8 bytes are their code points; ``hashlib`` for the rest."""
    import hashlib

    h60 = np.empty(len(grams), dtype=np.uint64)
    fast = (grams < 128).all(axis=1) & (grams.shape[1] <= MD5_ONE_BLOCK)
    if fast.any():
        h60[fast] = md5_60_rows(grams[fast].astype(np.uint8))
    h60[~fast] = np.array(
        [
            int(hashlib.md5(
                r.tobytes().decode("utf-32-le").encode()
            ).hexdigest()[:15], 16)
            for r in grams[~fast]
        ],
        dtype=np.uint64,
    )
    return h60


def _minhash_batch(
    texts, n: int, A: np.ndarray, B: np.ndarray
) -> list:
    """Vectorized minhash kernel over one Arrow batch of texts.

    Semantics (byte-identical to the naive per-doc form, parity-tested in
    tests/test_analytics.py::test_minhash_kernel_parity):
      null → [0]*num_perm;  len(text) < n → one gram = the whole text;
      else min over (A*md5_60(gram)+B) mod (2^61-1) per permutation.

    The whole batch is processed as flat arrays — no per-doc Python loop on
    the hot path:
      1. concat all long-doc codepoints, ONE sliding_window_view, mask out
         windows that cross doc boundaries;
      2. factorize grams by a wrapping 64-bit poly-hash + adjacent
         byte-verify after a stable argsort (a colliding pair of distinct
         grams merely gets two group ids → duplicate md5 work, never a
         wrong value) — replaces np.unique's memcmp sort of 20-byte rows,
         the old profile's single biggest cost;
      3. md5 once per DISTINCT gram (corpus gram vocabulary ≪ occurrences),
         vectorized for all-ASCII grams (``gram_md5_60``) — per-gram
         hashlib and UTF-32 decode were ~2/3 of the kernel;
      4. FUSED permute+min over doc-aligned occurrence chunks: gather each
         occurrence's gram hash once, then per ~8k-occurrence chunk compute
         the (num_perm × chunk) permutation block with an exact Mersenne
         fold (x mod 2^61-1 == (x>>61)+(x&P), refolded once) and
         immediately np.minimum.reduceat it over the chunk's doc offsets —
         the block never leaves cache. The unfused form (materialize the
         full num_perm × n_distinct matrix, then 64 gather+reduceat passes
         over all occurrences) moves ~7 GB through DRAM per 10k-doc batch
         and stops scaling past ~3 concurrent workers on one socket;
         fusing trades 6× more in-cache multiplies for ~35× less memory
         traffic. Measured per-worker walls at 8-way concurrency: 16 s
         fused vs 27 s unfused vs 54 s for the np.unique original —
         this kernel runs on EVERY task slot at once, so concurrent-run
         scaling is the number that matters, not the solo wall."""
    import hashlib

    num_perm = len(A)
    P = np.uint64((1 << 61) - 1)
    S61 = np.uint64(61)
    nd = len(texts)
    cps = []                       # per-long-doc codepoint arrays, doc order
    ng = np.zeros(nd, dtype=np.int64)
    short = {}                     # len(text) < n → one gram: the text
    for k, t in enumerate(texts):
        if t is None:
            continue
        cp = np.frombuffer(t.encode("utf-32-le"), dtype=np.uint32)
        if len(cp) >= n:
            cps.append(cp)
            ng[k] = len(cp) - n + 1
        else:
            short[k] = t           # substr(t,1,n) == t (incl. '')
    sig_long = None
    if cps:
        flat = np.concatenate(cps)
        bounds = np.cumsum([len(c) for c in cps])
        wv = np.lib.stride_tricks.sliding_window_view(flat, n)
        valid = np.ones(len(flat) - n + 1, dtype=bool)
        for b in bounds[:-1]:
            valid[b - n + 1:b] = False      # windows spanning two docs
        w = np.ascontiguousarray(wv[valid])
        K = np.uint64(0x9E3779B97F4A7C15)
        h = np.zeros(len(w), dtype=np.uint64)
        for j in range(n):
            h = h * K + w[:, j].astype(np.uint64)
        order = np.argsort(h, kind="stable")
        hs, ws = h[order], w[order]
        newgrp = np.empty(len(ws), dtype=bool)
        newgrp[0] = True
        newgrp[1:] = (hs[1:] != hs[:-1]) | (ws[1:] != ws[:-1]).any(axis=1)
        gid = np.cumsum(newgrp) - 1
        codes = np.empty(len(ws), dtype=np.int64)
        codes[order] = gid
        g = gram_md5_60(ws[newgrp])[codes]  # occurrence hashes, doc order
        n_long = len(cps)
        offs = np.concatenate(([0], np.cumsum(ng[ng > 0])))
        sig_long = np.empty((n_long, num_perm), dtype=np.uint64)
        OCC = 8192                 # (num_perm × OCC) block ≈ 4 MB: in-cache
        d0 = 0
        while d0 < n_long:
            d1 = d0 + 1
            while d1 < n_long and offs[d1 + 1] - offs[d0] <= OCC:
                d1 += 1            # whole docs only; ≥1 doc per chunk
            s0, s1 = offs[d0], offs[d1]
            pr = A[:, None] * g[None, s0:s1]
            pr += B[:, None]
            fold = pr >> S61
            pr &= P
            pr += fold
            np.subtract(pr, P, out=pr, where=pr >= P)
            sig_long[d0:d1] = np.minimum.reduceat(
                pr, offs[d0:d1] - s0, axis=1
            ).T
            d0 = d1
    out, li = [], 0
    for k in range(nd):
        if ng[k] > 0:
            out.append(sig_long[li].view(np.int64).tolist())
            li += 1
        elif k in short:
            x = np.uint64(
                int(hashlib.md5(short[k].encode()).hexdigest()[:15], 16)
            )
            out.append(((A * x + B) % P).view(np.int64).tolist())
        else:
            out.append([0] * num_perm)
    return out


def minhash_signatures(
    docs: DataFrame, n: int = 5, num_perm: int = 64, text_col: str = "text"
) -> DataFrame:
    """num_perm minhashes per doc via the standard (a*x+b) mod p family over
    md5-60-bit shingles (DuckDB-reproducible — the q21 oracle replays the
    identical uint64-wrapping arithmetic).

    ONE code path, engine-speed AND oracle-exact: gram generation + hashing
    happen inside the Arrow UDF via the flat-batch kernel
    (``_minhash_batch``), so md5 runs once per DISTINCT gram — the 5-gram
    vocabulary of a corpus is orders of magnitude smaller than its gram
    occurrences (round-2 computed md5+conv per occurrence in the JVM, +70%
    wall). minhash is set-invariant, so per-doc array_distinct is
    unnecessary: min over the multiset == min over the set. The input is
    repartitioned first — a small-file parquet scan would otherwise run the
    whole UDF stage in one task."""
    from pyspark.sql.functions import pandas_udf
    from pyspark.sql.types import ArrayType, LongType

    rng = np.random.default_rng(42)
    P = np.uint64((1 << 61) - 1)
    A = rng.integers(1, P, size=num_perm, dtype=np.uint64)
    B = rng.integers(0, P, size=num_perm, dtype=np.uint64)

    @pandas_udf(ArrayType(LongType()))
    def _minhash(texts: pd.Series) -> pd.Series:
        return pd.Series(_minhash_batch(texts, n, A, B))

    par = docs.sparkSession.sparkContext.defaultParallelism
    normed = docs.select(
        "doc_id", normalize_text(F.col(text_col)).alias("_t")
    ).repartition(par)
    return normed.select("doc_id", _minhash(F.col("_t")).alias("signature"))


# (band, bucket) groups above this many rows verify via chunked row
# matrices instead of the batched (g, m, m) tensors
_BIG = 4096


def minhash_lsh_pairs(
    docs: DataFrame,
    n: int = 5,
    num_perm: int = 64,
    bands: int = 16,
    threshold: float = 0.5,
    text_col: str = "text",
) -> DataFrame:
    """Banded LSH: split signatures into ``bands`` rows-per-band groups,
    bucket the corpus on (band, band-hash), and verify every same-bucket
    candidate pair with the signature Jaccard estimate (agreements /
    num_perm, an exact double). Collision prob for a pair with true
    Jaccard s is 1-(1-s^r)^b — tune bands/num_perm for the target
    threshold.

    One Arrow pass per (band, bucket) shuffle partition computes all
    pairwise agreement counts vectorized, and only SURVIVING pairs leave
    the task: filter, then verify inside the partition. That fits every
    caller's shape, where collisions outnumber survivors — 24 M
    candidates → 2.6 k survivors for q21 at sf1.0, and the corpus
    funnel's near-dup input is sparse too: 400 pairs on the bench
    corpus, 31,920 on the 88,150 docs a 100 k-doc corpus keeps after the
    repetition gate (the 4.5 M pairs of the raw corpus are its 3,000
    near-identical spam docs, which that gate drops). Cost: the bucket
    shuffle carries each signature once per band; a degenerate bucket
    still costs one task m² compares, at vector speed and in bounded
    memory (groups above ``_BIG`` rows verify in row chunks).
    """
    from pyspark.sql.types import DoubleType, StructField, StructType

    rows_per_band = num_perm // bands
    sigs = minhash_signatures(docs, n=n, num_perm=num_perm, text_col=text_col)
    banded = sigs.select(
        "doc_id",
        "signature",
        F.posexplode(
            F.transform(
                F.sequence(F.lit(0), F.lit(bands - 1)),
                # hash the slice ARRAY natively: equal slices ⟺ equal
                # hash, which is all the bucket key needs
                lambda b: F.xxhash64(
                    F.slice(
                        F.col("signature"),
                        b * rows_per_band + 1,
                        rows_per_band,
                    )
                ),
            )
        ).alias("band", "bucket"),
    )
    id_type = docs.schema["doc_id"].dataType
    out_schema = StructType([
        StructField("doc_a", id_type),
        StructField("doc_b", id_type),
        StructField("jaccard_est", DoubleType()),
    ])
    thr = float(threshold)
    perm_d = float(num_perm)
    # read per call: the kernel closure carries the value to the workers
    big = _BIG

    def _verify_part(batches):
        # ONE Arrow table per shuffle partition (hash partitioning on
        # (band, bucket) keeps every group whole); signatures come out of
        # the ListArray's flat values buffer with ONE zero-copy reshape —
        # an applyInPandas per group paid ~0.1 ms of frame overhead ×
        # 10^5 mostly-tiny buckets, and a pandas variant built a python
        # object per signature cell (~10 s at 2 cores on the corpus
        # funnel's 1.6 M banded rows)
        import pyarrow as pa

        tbls = list(batches)
        if not tbls:
            return
        tbl = pa.Table.from_batches(tbls).combine_chunks()
        n = len(tbl)
        if n == 0:
            return
        bandv = tbl["band"].to_numpy()
        buckv = tbl["bucket"].to_numpy()
        idsv = tbl["doc_id"].to_numpy()
        sig = tbl["signature"].chunk(0)
        flat = np.asarray(sig.values)
        perms = len(flat) // n
        order = np.lexsort((idsv, buckv, bandv))
        bandv, buckv, idsv = bandv[order], buckv[order], idsv[order]
        # fixed-length lists, no nulls → values is exactly (n, perms);
        # slice off any leading offset from upstream array slicing
        off = sig.offsets[0].as_py()
        M = flat[off:off + n * perms].reshape(n, perms)[order]
        nb = (np.flatnonzero(
            (bandv[1:] != bandv[:-1]) | (buckv[1:] != buckv[:-1])
        ) + 1)
        starts = np.concatenate(([0], nb, [n]))
        out_a, out_b, out_e = [], [], []
        # small groups batch by SIZE into (g, m, perms) tensors: one perm
        # loop of contiguous (g, m, m) compares per size class — no
        # per-group numpy-call overhead and no fancy-indexed gathers
        # (a flat triu-gather variant moved 2×8 B per pair per perm
        # through random access and ran 3× slower)
        from collections import defaultdict

        by_size: dict[int, list[int]] = defaultdict(list)
        for s, e in zip(starts[:-1], starts[1:]):
            m = e - s
            if m < 2:
                continue
            if m <= big:
                by_size[m].append(s)
                continue
            # degenerate hot bucket: chunked (rows × m) matrices bound
            # memory; same O(m²·perms) the self-join had, vectorized
            Mg, idg = M[s:e], idsv[s:e]
            chunk = max(1, (8 << 20) // m)
            for i0 in range(0, m, chunk):
                i1 = min(i0 + chunk, m)
                eq = np.zeros((i1 - i0, m), dtype=np.int32)
                for p in range(Mg.shape[1]):
                    eq += Mg[i0:i1, p][:, None] == Mg[None, :, p]
                est = eq / perm_d          # exact: small-int / 2^k
                ia, ib = np.nonzero(est >= thr)
                ia = ia + i0
                keep = ia < ib
                ia, ib = ia[keep], ib[keep]
                if len(ia):
                    out_a.append(idg[ia])
                    out_b.append(idg[ib])
                    out_e.append(est[ia - i0, ib])
        for m, slist in by_size.items():
            iu0, iu1 = np.triu_indices(m, 1)
            gmax = max(1, (2 << 20) // (m * m))   # (g,m,m) temps ≤ ~8 MB
            for c0 in range(0, len(slist), gmax):
                S = np.asarray(slist[c0:c0 + gmax])
                idx = S[:, None] + np.arange(m)[None, :]      # (g, m)
                G = M[idx]                                    # (g, m, P)
                g = len(S)
                eq = np.zeros((g, m, m), dtype=np.int32)
                for p in range(G.shape[2]):
                    col = G[:, :, p]
                    eq += col[:, :, None] == col[:, None, :]
                est = eq / perm_d
                sel = est[:, iu0, iu1]                        # (g, pairs)
                gi, pi = np.nonzero(sel >= thr)
                if len(gi):
                    out_a.append(idsv[idx[gi, iu0[pi]]])
                    out_b.append(idsv[idx[gi, iu1[pi]]])
                    out_e.append(sel[gi, pi])
        if out_a:
            yield pa.RecordBatch.from_arrays(
                [
                    pa.array(np.concatenate(out_a), type=pa.int64()),
                    pa.array(np.concatenate(out_b), type=pa.int64()),
                    pa.array(np.concatenate(out_e), type=pa.float64()),
                ],
                names=["doc_a", "doc_b", "jaccard_est"],
            )

    survivors = banded.repartition("band", "bucket").mapInArrow(
        _verify_part, out_schema
    )
    # a pair sharing several buckets surfaces once per band with the SAME
    # estimate (it depends only on the signatures) → keep one
    return survivors.dropDuplicates(["doc_a", "doc_b"])


# ---------------------------------------------------------------------------
# SimHash


def simhash_pairs(
    docs: DataFrame, max_hamming: int = 3, text_col: str = "text"
) -> DataFrame:
    """64-bit SimHash over token hashes; near-dup pairs by
    ``hamming_neardup_pairs`` with 4×16-bit chunks (pigeonhole: hamming
    ≤ 3 ⇒ at least one chunk equal, so ``max_hamming`` > 3 is refused),
    then an exact bit_count(xor) verify. Returns (doc_a, doc_b,
    hamming)."""
    from pyspark.sql.functions import pandas_udf
    from pyspark.sql.types import LongType

    import hashlib

    # Python's builtin hash() is salted per process → NOT usable on
    # executors. md5-prefix (60-bit, non-negative) so the q22 DuckDB
    # oracle reproduces it exactly; bits 60-63 of the simhash are
    # structurally 0 on both sides. Tokens are factorized per batch so
    # md5 runs once per DISTINCT token, and the ±1 bit votes are summed
    # with one reduceat over the gathered sign matrix — no per-doc loop.
    @pandas_udf(LongType())
    def _simhash(texts: pd.Series) -> pd.Series:
        toks_per_doc = [(t or "").lower().split() for t in texts]
        counts = np.array([len(x) for x in toks_per_doc], dtype=np.int64)
        nd = len(texts)
        v = np.zeros((nd, 64), dtype=np.int32)
        if counts.sum() > 0:
            all_toks = np.array(
                [tok for toks in toks_per_doc for tok in toks], dtype=object
            )
            codes, uniques = pd.factorize(all_toks)
            h = np.array(
                [int(hashlib.md5(u.encode()).hexdigest()[:15], 16)
                 for u in uniques],
                dtype=np.uint64,
            )
            bits = ((h[:, None] >> np.arange(64, dtype=np.uint64)[None, :])
                    & np.uint64(1)).astype(np.int32)
            signs = 2 * bits - 1                     # (n_uniq, 64)
            gathered = signs[codes]                  # (n_toks, 64)
            starts = np.zeros(nd + 1, dtype=np.int64)
            starts[1:] = np.cumsum(counts)
            nz = counts > 0                          # reduceat needs strictly
            v[nz] = np.add.reduceat(gathered, starts[:-1][nz], axis=0)
        pow2 = np.uint64(1) << np.arange(64, dtype=np.uint64)
        sh = ((v > 0).astype(np.uint64) * pow2[None, :]).sum(
            axis=1, dtype=np.uint64
        )
        return pd.Series(sh.view(np.int64))

    par = docs.sparkSession.sparkContext.defaultParallelism
    sigs = docs.select("doc_id", F.col(text_col)).repartition(par).select(
        "doc_id", _simhash(F.col(text_col)).alias("simhash")
    ).transform(materialize)
    # signatures are < 2^60 (non-negative), so the unsigned shift in the
    # banding sees the same 16-bit chunks as a signed one
    return hamming_neardup_pairs(sigs, "doc_id", "simhash",
                                 max_hamming=max_hamming, n_chunks=4)


# ---------------------------------------------------------------------------
# generic 64-bit hamming banding (phash image near-dup)


def hamming_neardup_pairs(
    df: DataFrame,
    id_col: str,
    hash_col: str,
    max_hamming: int = 6,
    n_chunks: int = 8,
) -> DataFrame:
    """Near-dup pairs over ANY 64-bit fingerprint column (perceptual
    phash for images, simhash for text) via chunk-banded self-join.

    Pigeonhole guarantee: hamming ≤ n_chunks - 1 ⇒ at least one
    64/n_chunks-bit chunk is equal, so with the default 8×8-bit chunks
    every pair at distance ≤ 7 is found exactly (max_hamming must stay
    ≤ n_chunks - 1 for exactness; asserted).

    Scale: candidates come only from same-chunk buckets — cost tracks
    true near-dup density, never O(n²). The join shuffles on
    (chunk_idx, chunk_val); the exact bit_count(xor) verify is JVM-side
    whole-stage codegen. ``simhash_pairs`` runs it on its text
    signatures, and the image pipeline on the phash column that
    payload/validate.py recomputes from decoded pixels.

    Returns (doc_a, doc_b, hamming) with doc_a < doc_b, the pair
    columns ``dedup_clusters`` reads by default.
    """
    assert max_hamming <= n_chunks - 1, "pigeonhole exactness bound"
    assert 64 % n_chunks == 0
    width = 64 // n_chunks
    mask = (1 << width) - 1
    h = F.col(hash_col)
    chunks = df.select(
        F.col(id_col).alias("id"),
        h.alias("fp"),
        F.posexplode(
            F.array(
                *[
                    F.shiftrightunsigned(h, i * width).bitwiseAND(F.lit(mask))
                    for i in range(n_chunks)
                ]
            )
        ).alias("chunk_idx", "chunk_val"),
    )
    cand = (
        chunks.alias("a")
        .join(chunks.alias("b"), on=["chunk_idx", "chunk_val"])
        .filter(F.col("a.id") < F.col("b.id"))
        .select(
            F.col("a.id").alias("doc_a"),
            F.col("b.id").alias("doc_b"),
            F.col("a.fp").alias("fp_a"),
            F.col("b.fp").alias("fp_b"),
        )
        .dropDuplicates(["doc_a", "doc_b"])
    )
    return (
        cand.withColumn(
            "hamming", F.bit_count(F.col("fp_a").bitwiseXOR(F.col("fp_b")))
        )
        .filter(F.col("hamming") <= max_hamming)
        .select("doc_a", "doc_b", "hamming")
    )


# ---------------------------------------------------------------------------
# embedding near-dup


def _block_cosine_pairs_batch(
    ids: np.ndarray, M: np.ndarray, threshold: float
) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """All (i<j) pairs of one block with cosine ≥ threshold.

    Bit-identical to the JVM expression it replaced
    (``aggregate(zip_with(a,b,x*y), 0.0, acc+cast(v as double))`` over
    ``array<float>`` columns — parity-tested in
    tests/test_analytics.py::test_blocked_cosine_kernel_parity):
    products and squares are computed in float32 (the storage type),
    cast to double, and accumulated LEFT-TO-RIGHT per dimension — a
    dim-loop of vectorized adds reproduces the fold exactly, while a
    numpy pairwise-summed ``sum(axis=1)``/``dot`` would not.

    The exact fold only runs on CANDIDATES from a BLAS prefilter:
    cosine from normalized float64 matmul differs from the exact fold by
    at most ~2^-24 (the float32 product rounding; |Σ x_i y_i δ_i| ≤
    ‖a‖‖b‖·2^-24 by Cauchy-Schwarz, f64 summation error orders below),
    so a 1e-4 candidate margin can never lose a true pair. Matmul is
    O(n²d) at memory bandwidth instead of one interpreted-fold per pair
    — the piece that made the blocked join O(pairs × dim) in the JVM."""
    n, d = M.shape
    sq64 = (M * M).astype(np.float64)           # f32 squares, then cast
    nrm = np.zeros(n, dtype=np.float64)
    for j in range(d):                          # left fold, like the JVM
        nrm += sq64[:, j]
    nrm = np.sqrt(nrm)
    safe = np.where(nrm > 0, nrm, 1.0)
    Mn = M.astype(np.float64) / safe[:, None]
    out_a, out_b, out_c = [], [], []
    margin = 1e-4
    chunk = max(1, min(n, (8 << 20) // max(n, 1)))  # ≤ ~64 MB of C rows
    for i0 in range(0, n, chunk):
        i1 = min(i0 + chunk, n)
        C = Mn[i0:i1] @ Mn.T                    # (chunk, n) float64
        ia, ib = np.nonzero(C >= threshold - margin)
        ia = ia + i0
        keep = ia < ib                          # upper triangle only
        ia, ib = ia[keep], ib[keep]
        if len(ia) == 0:
            continue
        dot = np.zeros(len(ia), dtype=np.float64)
        for j in range(d):                      # exact JVM fold replay
            dot += (M[ia, j] * M[ib, j]).astype(np.float64)
        cos = dot / (nrm[ia] * nrm[ib])
        final = cos >= threshold
        out_a.append(ids[ia[final]])
        out_b.append(ids[ib[final]])
        out_c.append(cos[final])
    if not out_a:
        z = np.array([], dtype=ids.dtype)
        return z, z, np.array([], dtype=np.float64)
    return np.concatenate(out_a), np.concatenate(out_b), np.concatenate(out_c)


def embedding_neardup_pairs(
    embeddings: DataFrame, threshold: float = 0.95,
    block_col: str | None = "label", lsh_planes: int = 16,
    lsh_bands: int = 4,
) -> DataFrame:
    """Cosine ≥ τ pairs. Blocked path (same ``block_col``): one Arrow
    ``applyInPandas`` per block runs a BLAS prefilter + exact-fold verify
    (``_block_cosine_pairs_batch``) — only surviving pairs ever leave the
    task, so the shuffle is ∝ true near-dups, and per-pair cost is a
    memory-bandwidth matmul instead of an interpreted JVM fold over
    every candidate (the round-5 profile's q14/q49 dominator). WITHOUT a
    blocking key, hyperplane-LSH banding replaces the would-be cross
    join (the 100 TB path): signatures are split into ``lsh_bands``
    bands and pairs sharing ANY band become candidates
    (OR-amplification — near-parallel vectors agree on most sign bits,
    so recall at high τ is high), then exact cosine verifies. Values are
    bit-identical between the two paths (kernel parity test)."""
    if block_col:
        from pyspark.sql.types import (
            DoubleType,
            FloatType,
            StructField,
            StructType,
        )

        id_field = embeddings.schema["vec_id"]
        out_schema = StructType([
            StructField("vec_a", id_field.dataType),
            StructField("vec_b", id_field.dataType),
            StructField("cosine", DoubleType()),
        ])
        tau = float(threshold)
        # products/squares happen in the column's STORAGE type before the
        # double accumulation, exactly like the JVM fold they replace
        elem = embeddings.schema["embedding"].dataType.elementType
        np_dt = np.float32 if isinstance(elem, FloatType) else np.float64

        def _pairs(pdf: pd.DataFrame) -> pd.DataFrame:
            pdf = pdf.dropna(subset=["embedding"])
            if len(pdf) < 2:
                return pd.DataFrame({
                    "vec_a": np.array([], dtype=np.int64),
                    "vec_b": np.array([], dtype=np.int64),
                    "cosine": np.array([], dtype=np.float64),
                })
            pdf = pdf.sort_values("vec_id")     # pair order: a.id < b.id
            ids = pdf["vec_id"].to_numpy()
            M = np.stack(
                [np.asarray(v, dtype=np_dt) for v in pdf["embedding"]]
            )
            a, b, c = _block_cosine_pairs_batch(ids, M, tau)
            return pd.DataFrame({"vec_a": a, "vec_b": b, "cosine": c})

        return (
            embeddings.select("vec_id", "embedding", block_col)
            .groupBy(block_col)
            .applyInPandas(_pairs, out_schema)
        )
    e = embeddings.select(F.col("vec_id"), F.col("embedding"))
    from spark_frontier.analytics.similarity import hyperplane_signatures

    row = embeddings.select("embedding").first()
    if row is None:  # empty corpus → empty pairs, not a TypeError
        return embeddings.sparkSession.createDataFrame(
            [], "vec_a long, vec_b long, cosine double"
        )
    dim = len(row["embedding"])
    sigs = materialize(hyperplane_signatures(
        e, n_planes=lsh_planes, dim=dim, vec_col="embedding",
        id_col="vec_id",
    ))
    bits_per_band = lsh_planes // lsh_bands
    mask = (1 << bits_per_band) - 1
    banded = sigs.select(
        "vec_id", "embedding",
        F.posexplode(
            F.array(*[
                F.shiftright(F.col("bucket"), i * bits_per_band)
                .bitwiseAND(F.lit(mask))
                for i in range(lsh_bands)
            ])
        ).alias("band", "band_sig"),
    )
    pairs = (
        banded.alias("a")
        .join(banded.alias("b"), on=["band", "band_sig"])
        .filter(F.col("a.vec_id") < F.col("b.vec_id"))
    )
    dot = F.aggregate(
        F.zip_with(F.col("a.embedding"), F.col("b.embedding"),
                   lambda x, y: x * y),
        F.lit(0.0).cast("double"),
        lambda acc, v: acc + v,
    )
    norm = lambda side: F.sqrt(  # noqa: E731
        F.aggregate(F.col(f"{side}.embedding"), F.lit(0.0).cast("double"),
                    lambda acc, v: acc + v * v)
    )
    out = (
        pairs.withColumn("cosine", dot / (norm("a") * norm("b")))
        .filter(F.col("cosine") >= threshold)
        .select(
            F.col("a.vec_id").alias("vec_a"),
            F.col("b.vec_id").alias("vec_b"),
            "cosine",
        )
    )
    # a pair sharing several bands verified several times → dedupe
    return out.dropDuplicates(["vec_a", "vec_b"])


# ---------------------------------------------------------------------------
# connected components: near-dup pairs -> dedup clusters


def _driver_components(edges: DataFrame, rows=None) -> DataFrame:
    """Union-find closure of a SMALL (already counted) symmetrized edge
    list: one collect, path-compressed finds, representative = component
    min id. Returns (doc_id, cluster_id) typed like the edge columns.
    ``rows``: the already-collected edge rows, when the caller's size
    gate fetched them (saves re-running the edge plan)."""
    from pyspark.sql import types as T

    parent: dict = {}

    def find(x):
        root = x
        while parent.get(root, root) != root:
            root = parent[root]
        while parent.get(x, x) != x:  # path compression
            parent[x], x = root, parent[x]
        return root

    for row in (edges.collect() if rows is None else rows):
        a, b = row["src"], row["dst"]
        # register endpoints even when the union is a no-op (self-loop
        # or already merged) so every edge vertex reaches the output,
        # matching the distributed loop's label initialization
        parent.setdefault(a, a)
        parent.setdefault(b, b)
        ra, rb = find(a), find(b)
        if ra != rb:
            # union-by-min keeps the invariant root == component min,
            # so no second pass is needed to pick representatives
            lo, hi = (ra, rb) if ra < rb else (rb, ra)
            parent[hi] = lo

    rows = [(x, find(x)) for x in sorted(parent)]
    id_type = edges.schema["src"].dataType
    schema = T.StructType([
        T.StructField("doc_id", id_type),
        T.StructField("cluster_id", id_type),
    ])
    return edges.sparkSession.createDataFrame(rows, schema)


def dedup_clusters(
    pairs: DataFrame,
    vertices: DataFrame | None = None,
    id_a: str = "doc_a",
    id_b: str = "doc_b",
    max_iter: int = 25,
    driver_edge_threshold: int = 2_000_000,
) -> DataFrame:
    """Connected components over a near-duplicate pair list: every doc in
    a component gets ``cluster_id`` = the component's minimum doc id —
    the canonical "keep one representative per duplicate cluster" step
    that follows any pairwise dedup (ngram_jaccard_pairs /
    minhash_lsh_pairs / simhash_pairs feed straight in).

    Algorithm: min-label propagation to fixpoint. Each round every vertex
    takes the min of its own label and its neighbors' labels — one
    shuffle (groupBy on the vertex id) per round, lineage truncated per
    round (localCheckpoint; reliable checkpoint on a cluster via
    ``materialize``). Rounds needed = graph diameter, which for dedup
    clusters (near-cliques of copies plus short chains of drifted
    versions) is small and bounded by ``max_iter``; a frontier-style
    optimization propagates only labels that changed in the previous
    round, so late rounds touch only the unconverged tail of the graph.
    At 10^9-edge scale with long chains, swap the inner loop for
    alternating large-star/small-star contraction (Kiveris et al. 2014,
    "Connected Components in MapReduce and Beyond") — same contract,
    O(log n) rounds; the propagation loop is the right default below
    that regime.

    Below ``driver_edge_threshold`` symmetrized edges the whole closure
    runs as union-find on the driver instead (one collect of 16-byte-ish
    rows, O(E·α) with path compression) — a dedup graph is SPARSE
    relative to its corpus (edges ∝ true near-dups, not documents), so
    even 100 TB corpora routinely land under a few million edges and the
    per-round Spark job latency (~0.4 s × diameter) is the actual cost.
    The distributed loop stays as the unbounded-scale path; both
    branches produce identical labels (min is order-free; Python's str
    ordering == Spark's UTF8 binary ordering because UTF-8 byte order
    preserves code-point order).

    Deterministic: labels are ids, min is order-free. Returns
    (doc_id, cluster_id); with ``vertices`` given (a DataFrame with a
    ``doc_id`` column), isolated docs appear as their own cluster."""
    ea = pairs.select(F.col(id_a).alias("src"), F.col(id_b).alias("dst"))
    eb = pairs.select(F.col(id_b).alias("src"), F.col(id_a).alias("dst"))
    # NO distinct: duplicate edges can never change connected components
    # (union-find unions are idempotent; min-label propagation takes a
    # min over neighbors, which duplicates don't move) — and every
    # in-repo producer emits unique pairs anyway. The old defensive
    # distinct was a full extra shuffle of the edge list (9 M rows on
    # the corpus funnel).
    from pyspark.sql import Observation as _Obs

    # size gate rides the edges materialize as an Observation: the count
    # is known the moment the checkpoint job finishes, so the distributed
    # branch pays NO extra gate job (the old limited collect read
    # ~threshold × 16 B in its own job before every large-graph run).
    # The driver branch still collects — but only after the gate says the
    # rows fit, and that collect replaces the old gate collect 1:1.
    # Observation.get blocks until an action has run the observed plan,
    # and counts every execution of it: this relies on materialize being
    # an EAGER checkpoint that executes the plan exactly once (a lazy one
    # would hang here; a recomputing checkpoint write, as on Spark 3.x,
    # would double n and halve the effective threshold).
    obs_e = _Obs()
    edges = (
        ea.unionByName(eb)
        .observe(obs_e, F.count(F.lit(1)).alias("n"))
        .transform(materialize)
    )
    if int(obs_e.get["n"] or 0) <= driver_edge_threshold:
        out = _driver_components(edges, rows=edges.collect())
        if vertices is not None:
            out = (
                vertices.select("doc_id").distinct()
                .join(out, on="doc_id", how="left")
                .select(
                    "doc_id",
                    F.coalesce(F.col("cluster_id"), F.col("doc_id")).alias(
                        "cluster_id"
                    ),
                )
            )
        return out

    labels = (
        edges.select(F.col("src").alias("id"))
        .distinct()
        .withColumn("label", F.col("id"))
        .transform(materialize)
    )
    # only vertices whose label changed last round need to re-broadcast
    # their label; round 1: everyone
    changed = labels

    for _ in range(max_iter):
        # neighbor labels, from changed vertices only
        prop = (
            edges.join(changed.withColumnRenamed("id", "src"), on="src")
            .groupBy(F.col("dst").alias("id"))
            .agg(F.min("label").alias("nbr_label"))
        )
        # the changed count rides the materialize job (the edge gate's
        # Observation pattern above), not a count job of its own
        obs_chg = _Obs()
        merged = (
            labels.join(prop, on="id", how="left")
            .select(
                "id",
                F.least(
                    F.col("label"),
                    F.coalesce(F.col("nbr_label"), F.col("label")),
                ).alias("label"),
                (F.col("nbr_label") < F.col("label")).alias("_chg"),
            )
            .observe(obs_chg, F.count_if(F.col("_chg")).alias("n"))
        ).transform(materialize)
        n_changed = int(obs_chg.get["n"] or 0)
        labels = merged.drop("_chg")
        if n_changed == 0:
            break
        changed = merged.filter(F.col("_chg")).drop("_chg")

    out = labels.select(F.col("id").alias("doc_id"),
                        F.col("label").alias("cluster_id"))
    if vertices is not None:
        out = (
            vertices.select("doc_id").distinct()
            .join(out, on="doc_id", how="left")
            .select(
                "doc_id",
                F.coalesce(F.col("cluster_id"), F.col("doc_id")).alias(
                    "cluster_id"
                ),
            )
        )
    return out


# ---------------------------------------------------------------------------
# SemDeDup: semantic dedup = k-means blocking + within-cluster cosine +
# connected components


def semdedup(
    embeddings: DataFrame,
    n_centroids: int = 8,
    n_iter: int = 3,
    threshold: float = 0.9,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """SemDeDup (Abbas et al. 2023, "SemDeDup: Data-efficient learning at
    web-scale through semantic deduplication"): drop documents whose
    EMBEDDINGS near-coincide, even when their text differs.

    Pipeline — every stage an already-oracle-checked operator:
      1. deterministic k-means (``similarity.kmeans_fit``, md5-order init
         so a SQL oracle can unroll the iterations) clusters the corpus;
      2. cosine >= ``threshold`` pairs are computed ONLY within a cluster
         (``embedding_neardup_pairs`` blocked on the centroid id) — the
         SemDeDup trick that turns the O(n^2) all-pairs scan into
         sum-of-squares over cluster sizes; at 100 TB the assignment
         table is written partitioned by centroid so each cluster's
         pairwise stage is co-located, no global shuffle;
      3. connected components (``dedup_clusters``) collapse transitive
         near-dup chains; the component's minimum id is kept.

    Returns one row per input vector: (id_col, cluster_id, keep) where
    ``keep`` marks the component representative (isolated vectors keep
    themselves)."""
    from spark_frontier.analytics.similarity import (
        ivf_assignments,
        kmeans_fit,
    )

    centroids = kmeans_fit(
        embeddings, n_centroids=n_centroids, n_iter=n_iter,
        vec_col=vec_col, id_col=id_col,
    )
    # materialize: the blocked self-join consumes this twice, and its
    # upstream is a pandas UDF — Catalyst neither CSEs nor reuses
    # python-UDF subtrees across join branches
    assigned = materialize(
        ivf_assignments(embeddings, centroids, vec_col=vec_col,
                        id_col=id_col)
        .select(F.col(id_col).alias("vec_id"),
                F.col(vec_col).alias("embedding"), "centroid")
    )
    pairs = embedding_neardup_pairs(
        assigned, threshold=threshold, block_col="centroid"
    )
    comp = dedup_clusters(
        pairs,
        vertices=embeddings.select(F.col(id_col).alias("doc_id")),
        id_a="vec_a", id_b="vec_b",
    )
    return comp.select(
        F.col("doc_id").alias(id_col),
        "cluster_id",
        (F.col("doc_id") == F.col("cluster_id")).alias("keep"),
    )
