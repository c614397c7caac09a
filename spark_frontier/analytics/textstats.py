"""Text analysis operators over the documents table (training-data ops).

All JVM-side expressions (split/regexp/aggregate) — designed so every one
has an exact DuckDB-SQL oracle twin in __spark_entry__.py:

- token_count      whitespace tokens + a BPE-ish subword regex count
- quality_score    length / punctuation-ratio / stopword-ratio composite
- lang_id          stopword-hit n-gram heuristic (en/es/de/fr)
- fingerprint      md5 of normalized text (rolling-hash analogue that both
                   engines compute identically)
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import functions as F

from spark_frontier.analytics.dedup import gram_md5_60, normalize_text

STOPWORDS = {
    "en": ["the", "and", "of", "to", "in", "is", "that", "with", "for", "on"],
    "es": ["el", "la", "de", "que", "y", "en", "los", "del", "las", "por"],
    "de": ["der", "die", "und", "das", "von", "mit", "den", "ist", "im", "für"],
    "fr": ["le", "la", "et", "les", "des", "de", "un", "une", "dans", "est"],
}

BPE_ISH_RE = r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"


def tokens(col) -> F.Column:
    """Whitespace tokens of normalized text (empty string → empty array)."""
    s = normalize_text(col)
    return F.filter(F.split(s, r"\s+"), lambda t: t != "")


def token_count(col) -> F.Column:
    return F.size(tokens(col))


def subword_count(col) -> F.Column:
    """BPE-ish unit count: alpha runs + digit runs + single punctuation."""
    return F.size(
        F.filter(F.regexp_extract_all(col, F.lit(BPE_ISH_RE), 0), lambda t: t != "")
    )


def punct_ratio(col) -> F.Column:
    n_punct = F.length(F.regexp_replace(col, r"[^.,;:!?'\"]", ""))
    return n_punct / F.greatest(F.length(col), F.lit(1))


_LANGS = sorted(STOPWORDS)  # de, en, es, fr — tie-break order


def token_signals(col) -> F.Column:
    """ONE tokenization pass over a document: array of
    [n_tokens, hits_de, hits_en, hits_es, hits_fr].

    The round-4 lang_id inlined ``tokens(col)`` into one HOF filter PER
    LANGUAGE (Catalyst re-evaluates the whole normalize+split per
    consumer, the q27 scorer lesson), so every doc tokenized 4× for
    lang + 2× more for quality. This single ``aggregate`` does it once;
    per token the step is 4 hash-set probes + a 5-int array. lang_id /
    quality_score / cheap_signals all derive from these counts, so the
    values (and the DuckDB oracle) are unchanged."""
    toks = tokens(col)
    zero = F.array(*[F.lit(0) for _ in range(1 + len(_LANGS))])

    def _step(acc, t):
        return F.array(
            acc[0] + 1,
            *[
                acc[i + 1] + t.isin(*STOPWORDS[lg]).cast("int")
                for i, lg in enumerate(_LANGS)
            ],
        )

    return F.aggregate(toks, zero, _step)


def lang_from_signals(sig) -> F.Column:
    """Argmax language from a ``token_signals`` array; 'und' when all
    hit counts are zero. First max in ``_LANGS`` order == the
    alphabetical tie-break the oracle replays."""
    scores = F.slice(sig, 2, len(_LANGS))
    mx = F.array_max(scores)
    langs = F.array(*[F.lit(lg) for lg in _LANGS])
    return F.when(
        mx > 0,
        F.element_at(langs, F.array_position(scores, mx).cast("int")),
    ).otherwise(F.lit("und"))


def quality_from_signals(sig, col) -> F.Column:
    """quality_score from precomputed token counts (punctuation still
    reads the raw text — one regexp, no tokenization)."""
    n_tok = sig[0].cast("double")
    len_score = F.least(n_tok / F.lit(20.0), F.lit(1.0))
    punct_score = F.lit(1.0) - F.least(punct_ratio(col) * 5.0, F.lit(1.0))
    en_hits = sig[1 + _LANGS.index("en")].cast("double")
    stop_score = F.least(
        en_hits / F.greatest(n_tok, F.lit(1.0)) * 4.0, F.lit(1.0)
    )
    return ((len_score + punct_score + stop_score) / F.lit(3.0)).alias(
        "quality_score"
    )


def quality_score(col) -> F.Column:
    """Composite ∈ [0,1]: length band + low punctuation + stopword presence
    (the classic cheap heuristics a pretraining filter runs first)."""
    return quality_from_signals(token_signals(col), col)


def lang_id(col) -> F.Column:
    """Argmax of per-language stopword hits; 'und' (undetermined) when all
    zero. Deterministic tie-break by language code order (en<es<de<fr is
    resolved alphabetically: de, en, es, fr)."""
    return lang_from_signals(token_signals(col))


def fingerprint(col) -> F.Column:
    """Deterministic 128-bit content fingerprint over normalized text."""
    return F.md5(normalize_text(col))


def _winnow_batch(texts, k: int, w: int) -> list:
    """Vectorized winnowing kernel over one Arrow batch of ALREADY-
    NORMALIZED texts: per doc, the DISTINCT set of sliding-window minima
    of md5-60-bit k-gram hashes.

    Semantics (identical to the window/explode pipeline it replaced,
    pinned by tests/test_analytics.py's independent hashlib replay):
    null → {null}; len(text) < k → one gram = the whole text; fewer than
    w full windows → the minimum over all grams. The flat-batch shape is
    ``dedup._minhash_batch``'s: concat all long-doc codepoints, ONE
    sliding_window_view, factorize grams by poly-hash + byte-verify, md5
    once per DISTINCT gram (corpus gram vocabulary ≪ occurrences — the
    JVM pipeline paid md5+conv per OCCURRENCE), then per-doc
    sliding-window minima with one more sliding_window_view."""
    import hashlib

    nd = len(texts)
    cps = []
    ng = np.zeros(nd, dtype=np.int64)
    short: dict[int, str] = {}
    is_null = np.zeros(nd, dtype=bool)
    for i, t in enumerate(texts):
        if t is None:
            is_null[i] = True
            continue
        cp = np.frombuffer(t.encode("utf-32-le"), dtype=np.uint32)
        if len(cp) >= k:
            cps.append(cp)
            ng[i] = len(cp) - k + 1
        else:
            short[i] = t
    g = None
    if cps:
        flat = np.concatenate(cps)
        bounds = np.cumsum([len(c) for c in cps])
        wv = np.lib.stride_tricks.sliding_window_view(flat, k)
        valid = np.ones(len(flat) - k + 1, dtype=bool)
        for b in bounds[:-1]:
            valid[b - k + 1:b] = False      # windows spanning two docs
        wgrams = np.ascontiguousarray(wv[valid])
        K = np.uint64(0x9E3779B97F4A7C15)
        h = np.zeros(len(wgrams), dtype=np.uint64)
        for j in range(k):
            h = h * K + wgrams[:, j].astype(np.uint64)
        order = np.argsort(h, kind="stable")
        hs, ws = h[order], wgrams[order]
        newgrp = np.empty(len(ws), dtype=bool)
        newgrp[0] = True
        newgrp[1:] = (hs[1:] != hs[:-1]) | (ws[1:] != ws[:-1]).any(axis=1)
        gid = np.cumsum(newgrp) - 1
        codes = np.empty(len(ws), dtype=np.int64)
        codes[order] = gid
        g = gram_md5_60(ws[newgrp])[codes]  # occurrence hashes, doc order
    offs = np.concatenate(([0], np.cumsum(ng[ng > 0])))
    out, li = [], 0
    for i in range(nd):
        if ng[i] > 0:
            hh = g[offs[li]:offs[li + 1]]
            li += 1
            if len(hh) <= w:
                fps = hh.min(keepdims=True)
            else:
                fps = np.unique(
                    np.lib.stride_tricks.sliding_window_view(hh, w)
                    .min(axis=1)
                )
            out.append(fps.view(np.int64).tolist())
        elif is_null[i]:
            out.append([None])             # JVM: null text → null print
        else:
            t = short[i]                   # one gram = the whole text
            # 60-bit hash → always fits a positive int64, no wrap needed
            out.append([int(hashlib.md5(t.encode()).hexdigest()[:15], 16)])
    return out


def winnow_fingerprints(docs, k: int = 5, w: int = 8,
                        text_col: str = "text", id_col: str = "doc_id"):
    """Winnowing document fingerprints (Schleimer et al., MOSS): hash every
    k-gram, slide a window of w consecutive hashes, keep each window's
    minimum — any shared substring of length ≥ w+k-1 between two documents
    is GUARANTEED to share a fingerprint, which makes the selected set the
    classic index key for partial-overlap / plagiarism-style near-dup
    detection (the rolling-hash fingerprinting the flat ``fingerprint``
    column can't do).

    One Arrow pass (``_winnow_batch``: factorized grams, md5 once per
    DISTINCT gram, vectorized sliding minima) replaces the round-5
    explode → md5-per-occurrence → window pipeline, which shuffled and
    sorted every gram occurrence (14 M rows at sf1.0) and paid JVM
    md5+conv per occurrence — 5× the wall at 32 cores. The text never
    leaves its task; only the per-doc distinct fingerprints (≤ one per
    window position, typically ≪) reach the explode. Values are
    byte-identical (DuckDB-replayable md5-60-bit hashes, see
    ``dedup.md5_hash60``; the oracle and the hashlib replay test are
    unchanged). Returns distinct (id, fingerprint) rows."""
    from pyspark.sql.functions import pandas_udf
    from pyspark.sql.types import ArrayType, LongType

    @pandas_udf(ArrayType(LongType()))
    def _winnow(texts: pd.Series) -> pd.Series:
        return pd.Series(_winnow_batch(texts, k, w))

    par = docs.sparkSession.sparkContext.defaultParallelism
    normed = docs.select(
        F.col(id_col), normalize_text(F.col(text_col)).alias("_t")
    ).repartition(par)
    return normed.select(
        F.col(id_col), F.explode(_winnow(F.col("_t"))).alias("fingerprint")
    )


def _doc_stats_batch(texts) -> list:
    """Flat-batch per-document token statistics over ALREADY-NORMALIZED
    texts: [n_tokens, hits_de, hits_en, hits_es, hits_fr, n_distinct,
    top_bigram_count, n_bigrams] — every downstream signal (lang id,
    quality, Gopher repetition) is integer arithmetic over these, so the
    derived doubles are bit-identical to the JVM fold/explode pipelines
    this replaces (parity test + q43/q16 oracles unchanged).

    Vectorization: python str.split per doc (C speed), then ONE
    pd.factorize over the flat token stream; stopword hits via np.isin
    on the UNIQUES + reduceat per doc; distinct-per-doc and per-(doc,
    bigram) counts via packed-key np.unique — no per-token python."""
    nd = len(texts)
    toks_per_doc: list = [None] * nd
    counts = np.zeros(nd, dtype=np.int64)
    null_mask = np.zeros(nd, dtype=bool)
    for i, t in enumerate(texts):
        if t is None:
            null_mask[i] = True
            toks_per_doc[i] = []
            continue
        tk = [x for x in t.split(" ") if x]
        toks_per_doc[i] = tk
        counts[i] = len(tk)
    stats = np.zeros((nd, 8), dtype=np.int64)
    stats[:, 0] = counts
    stats[:, 7] = np.maximum(counts - 1, 0)        # n_bigrams
    total = int(counts.sum())
    if total:
        flat = np.empty(total, dtype=object)
        pos = 0
        for tk in toks_per_doc:
            if tk:
                flat[pos:pos + len(tk)] = tk
                pos += len(tk)
        codes, uniques = pd.factorize(flat)
        codes = codes.astype(np.int64)
        doc_idx = np.repeat(np.arange(nd, dtype=np.int64), counts)
        starts = np.zeros(nd + 1, dtype=np.int64)
        starts[1:] = np.cumsum(counts)
        nz = counts > 0
        uarr = np.asarray(uniques, dtype=object)
        for li, lg in enumerate(_LANGS):
            hit_u = np.isin(uarr, STOPWORDS[lg]).astype(np.int64)
            occ = hit_u[codes]
            stats[nz, 1 + li] = np.add.reduceat(occ, starts[:-1][nz])
        # distinct tokens per doc: unique (doc, code) packed keys
        dk = (doc_idx << np.int64(32)) | codes
        du = np.unique(dk)
        stats[:, 5] = np.bincount(
            (du >> np.int64(32)).astype(np.int64), minlength=nd
        )
        # most-frequent-bigram count per doc: packed (doc, c1, c2) keys;
        # codes fit 22 bits for any realistic per-batch vocabulary
        bits = max(int(codes.max()).bit_length(), 1)
        valid = doc_idx[:-1] == doc_idx[1:]
        if valid.any() and 2 * bits + 20 <= 63:
            bk = ((doc_idx[:-1] << np.int64(2 * bits))
                  | (codes[:-1] << np.int64(bits)) | codes[1:])[valid]
            bu, bc = np.unique(bk, return_counts=True)
            bdoc = (bu >> np.int64(2 * bits)).astype(np.int64)
            bnd = np.flatnonzero(bdoc[1:] != bdoc[:-1]) + 1
            bstarts = np.concatenate(([0], bnd))
            stats[bdoc[bstarts], 6] = np.maximum.reduceat(bc, bstarts)
        elif valid.any():                          # huge vocab fallback
            for i in range(nd):
                tk = toks_per_doc[i]
                if len(tk) >= 2:
                    from collections import Counter

                    stats[i, 6] = max(
                        Counter(zip(tk, tk[1:])).values()
                    )
    out = [None if null_mask[i] else stats[i].tolist() for i in range(nd)]
    return out


def doc_stats(normed_col) -> F.Column:
    """Arrow UDF over a NORMALIZED text column → the ``_doc_stats_batch``
    long array (null text → null array, matching the JVM null algebra)."""
    from pyspark.sql.functions import pandas_udf
    from pyspark.sql.types import ArrayType, LongType

    @pandas_udf(ArrayType(LongType()))
    def _stats(texts: pd.Series) -> pd.Series:
        return pd.Series(_doc_stats_batch(texts))

    return _stats(normed_col)


def repetition_from_stats(st) -> dict:
    """Gopher repetition doubles from a ``doc_stats`` array — the exact
    expressions the explode/groupBy pipeline produced: null text → null
    dup_word_frac but 0.0 top_bigram_frac (the old left-join coalesce)."""
    n = st[0]
    return {
        "n_tokens": n.cast("int"),
        "dup_word_frac": F.round(
            F.lit(1.0) - st[5] / F.greatest(n, F.lit(1)).cast("double"), 6
        ),
        "top_bigram_frac": F.round(
            F.when(
                st[7] > 0, st[6].cast("double") / st[7]
            ).otherwise(F.lit(0.0)),
            6,
        ),
    }


def repetition_signals(docs, text_col: str = "text",
                       id_col: str = "doc_id"):
    """Gopher-style repetition quality signals (Rae et al. 2021 §A1.1):
    machine-generated and boilerplate pages repeat themselves, so a
    pretraining filter measures repetition before anything smarter runs.

    Per document:
    - ``n_tokens``        whitespace tokens of normalized text
    - ``dup_word_frac``   1 − distinct/total tokens (word-level repetition)
    - ``top_bigram_frac`` occurrences of the most frequent bigram over
                          total bigrams (phrase-level repetition)

    One Arrow projection (``doc_stats``) — the round-5 pipeline exploded
    every bigram into a groupBy + join-back (two shuffles and a second
    tokenization); the text now never leaves its task and the values are
    identical (integer counts → the same double expressions; q43 oracle
    unchanged)."""
    par = docs.sparkSession.sparkContext.defaultParallelism
    base = docs.select(
        F.col(id_col), normalize_text(F.col(text_col)).alias("_t")
    ).repartition(par).select(
        F.col(id_col), doc_stats(F.col("_t")).alias("_st")
    )
    rep = repetition_from_stats(F.col("_st"))
    return base.select(
        F.col(id_col),
        rep["n_tokens"].alias("n_tokens"),
        rep["dup_word_frac"].alias("dup_word_frac"),
        rep["top_bigram_frac"].alias("top_bigram_frac"),
    )


def tfidf_top_terms(
    docs,
    k: int = 3,
    group_col: str = "source",
    text_col: str = "text",
):
    """Top-k characteristic terms per corpus slice (tf·idf with the
    slice as the "document"): the standard corpus-profiling step when
    assembling a training-data mix — which vocabulary distinguishes each
    source. idf = ln(S / df) over S slices; ties break on term ASC so
    the ranking is fully deterministic and DuckDB-replayable.

    Scale: explode → two hash aggregations (term×slice tf, then term df)
    + one broadcast-size join (df table is |vocab| rows after the agg)
    + a per-slice top-k window over |vocab-per-slice| rows. The raw text
    leaves the plan at the explode; everything downstream carries terms
    and counts only."""
    from pyspark.sql import Window

    from spark_frontier.storage.materialize import materialize

    n_groups = docs.select(group_col).distinct().count()
    terms = docs.select(
        F.col(group_col).alias("grp"),
        F.explode(tokens(F.col(text_col))).alias("term"),
    )
    # tf fans out to BOTH the df aggregation and the scoring join —
    # without an eager cut the scan+explode+agg subtree runs twice
    tf = terms.groupBy("grp", "term").agg(
        F.count("*").alias("tf")
    ).transform(materialize)
    df = tf.groupBy("term").agg(F.count("*").alias("df"))
    scored = tf.join(df, "term").select(
        "grp",
        "term",
        "tf",
        (F.col("tf") * F.log(F.lit(float(n_groups)) / F.col("df"))).alias(
            "score"
        ),
    )
    w = Window.partitionBy("grp").orderBy(
        F.col("score").desc(), F.col("term").asc()
    )
    return (
        scored.withColumn("rk", F.row_number().over(w).cast("int"))
        .filter(F.col("rk") <= k)
        .select(
            F.col("grp").alias(group_col),
            "term",
            "tf",
            F.round("score", 6).alias("score"),
            "rk",
        )
    )
