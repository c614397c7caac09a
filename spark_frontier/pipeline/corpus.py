"""End-to-end training-corpus filter: the LLM-data counterpart of
``pipeline/crawl.py``.

Chains the analytics operators the engine already oracle-checks one by
one (q16-q19, q21, q30, q43, q47, q49, q50, q12, q34, q52) into the
funnel a 100 TB pretraining pipeline actually runs:

    lang-ID → quality score → Gopher repetition → safety blocklist
    (optional) → exact dedup → MinHash near-dup clusters → cross-doc
    dup-ngram drop → benchmark decontamination → DSIR target selection
    (optional) → SemDeDup (optional, needs embeddings) → stratified
    source mix (optional) → sequence packing

Scale shape: the cheap per-document signals (lang, quality, token
count) are ONE JVM projection and their funnel counts ONE aggregate —
no per-stage actions over the raw corpus. The set-based stages (dedup
families) narrow a materialized survivor set with semi-/anti-joins, so
each later stage reads fewer rows. Results commit to the SnapStore
(``corpus_docs``, ``corpus_packing``, ``corpus_log``) with funnel
counters in the snapshot summary, mirroring how crawl cycles record
lineage.
"""

from __future__ import annotations

from datetime import datetime, timezone

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from spark_frontier.storage.materialize import materialize
from spark_frontier.storage.snapstore import SnapStore


def cheap_signals(
    docs: DataFrame,
    allowed_langs: tuple[str, ...] = ("en",),
    min_quality: float = 0.3,
    max_dup_word_frac: float = 0.30,
    max_top_bigram_frac: float = 0.18,
    safety_keywords: dict[str, list[str]] | None = None,
    safety_max_hit_frac: float = 0.05,
) -> DataFrame:
    """The funnel's single-pass per-document signal projection: lang,
    quality, token count, Gopher repetition, optional safety blocklist —
    plus the four gate flags (lang_ok, quality_ok, rep_ok, safety_ok).
    Shared by the batch funnel and the streaming ingest so their gate
    semantics can never drift."""
    from spark_frontier.analytics.dedup import normalize_text
    from spark_frontier.analytics.textstats import (
        doc_stats,
        lang_from_signals,
        quality_from_signals,
        repetition_from_stats,
    )

    base = docs.select("doc_id", "text", "source")
    if safety_keywords is not None:
        from spark_frontier.analytics.pii import safety_flags

        saf = safety_flags(
            docs, keywords=safety_keywords, max_hit_frac=safety_max_hit_frac
        ).select("doc_id", F.col("drop_doc").alias("_saf_drop"))
        base = base.join(saf, "doc_id", "left")
    else:
        base = base.withColumn("_saf_drop", F.lit(False))
    # ONE Arrow stats pass per doc (doc_stats: tokens, per-lang stopword
    # hits, distinct/bigram counts) feeds lang + quality + the Gopher
    # repetition signals — round 5 ran a separate repetition pipeline
    # (bigram explode → groupBy → join-back, two shuffles and a second
    # tokenization) joined onto a per-doc JVM fold; the derived doubles
    # are unchanged (integer stats → the same expressions)
    base = base.withColumn(
        "_st", doc_stats(normalize_text(F.col("text")))
    )
    rep = repetition_from_stats(F.col("_st"))
    return (
        base
        .select(
            "doc_id",
            "text",
            "source",
            lang_from_signals(F.col("_st")).alias("lang"),
            F.round(
                quality_from_signals(F.col("_st"), F.col("text")), 6
            ).alias("quality"),
            F.col("_st")[0].cast("int").alias("n_tokens"),
            rep["dup_word_frac"].alias("dup_word_frac"),
            rep["top_bigram_frac"].alias("top_bigram_frac"),
            (~F.coalesce("_saf_drop", F.lit(False))).alias("safety_ok"),
        )
        .withColumn("lang_ok", F.col("lang").isin(*allowed_langs))
        .withColumn("quality_ok", F.col("quality") >= min_quality)
        .withColumn(
            "rep_ok",
            (F.coalesce("dup_word_frac", F.lit(0.0)) <= max_dup_word_frac)
            & (F.coalesce("top_bigram_frac", F.lit(0.0))
               <= max_top_bigram_frac),
        )
    )


def run_corpus_filter(
    spark: SparkSession,
    docs: DataFrame,
    store_root: str,
    *,
    embeddings: DataFrame | None = None,
    eval_docs: DataFrame | None = None,
    allowed_langs: tuple[str, ...] = ("en",),
    min_quality: float = 0.3,
    max_dup_word_frac: float = 0.30,
    max_top_bigram_frac: float = 0.18,
    neardup_threshold: float = 0.5,
    dup_gram_threshold: float = 0.5,
    decontam_n: int = 8,
    safety_keywords: dict[str, list[str]] | None = None,
    safety_max_hit_frac: float = 0.05,
    dsir_target: DataFrame | None = None,
    dsir_threshold: float = 0.0,
    semdedup_threshold: float = 0.9,
    semdedup_centroids: int = 8,
    pack_capacity: int = 2048,
    pack_tokens: str = "whitespace",
    bpe_merges: int = 64,
    quotas: dict[str, int] | None = None,
    splits: dict[str, float] | None = None,
    scrub_pii_text: bool = False,
    batch_ts: datetime | None = None,
) -> dict:
    """Run the corpus filter funnel over ``docs`` (doc_id, text, source,
    …), committing results to ``store_root`` and returning the funnel
    report. ``embeddings`` (doc_id, embedding) enables the SemDeDup
    stage; ``eval_docs`` enables decontamination; ``quotas`` enables the
    per-source stratified mix."""
    from spark_frontier.analytics.decontam import (
        decontaminate,
        dup_ngram_signals,
    )
    from spark_frontier.analytics.dedup import (
        dedup_clusters,
        minhash_lsh_pairs,
        normalize_text,
        semdedup,
    )
    from spark_frontier.analytics.packing import pack_sequences
    from spark_frontier.analytics.sampling import stratified_mix

    import time as _time

    batch_ts = batch_ts or datetime.now(timezone.utc)
    store = SnapStore(store_root)
    report: dict = {"batch_ts": batch_ts.isoformat()}
    # per-stage wall clocks (driver-observed, barriers included):
    # bench.py's corpus leg reports them as ``stage_walls_s`` so the
    # fixed-vs-parallel cost of each stage is auditable
    stage_walls: dict[str, float] = {}
    report["stage_walls_s"] = stage_walls
    _last = [_time.time()]

    def _tick(name: str) -> None:
        now = _time.time()
        stage_walls[name] = round(now - _last[0], 3)
        _last[0] = now

    # ---- cheap per-doc signals + gates: ONE materialized pass (round
    # 5; was three driver barriers). Funnel counts ride an Observation
    # on the same job (the crawl pipeline's pattern), and the content
    # fingerprint is computed here so the exact-dedup stage and the
    # final commit never re-derive it. NOT a window over fingerprint:
    # that would shuffle full rows (text included); the keeper groupBy
    # below exchanges only (fingerprint, doc_id) pairs and joins back
    # against the checkpointed survivors.
    from pyspark.sql import Observation

    sig = cheap_signals(
        docs,
        allowed_langs=allowed_langs,
        min_quality=min_quality,
        max_dup_word_frac=max_dup_word_frac,
        max_top_bigram_frac=max_top_bigram_frac,
        safety_keywords=safety_keywords,
        safety_max_hit_frac=safety_max_hit_frac,
    )
    obs = Observation("corpus_funnel")
    sig = sig.observe(
        obs,
        F.count(F.lit(1)).alias("n_input"),
        F.sum(F.col("lang_ok").cast("long")).alias("n_lang"),
        F.sum((F.col("lang_ok") & F.col("quality_ok")).cast("long")).alias(
            "n_quality"
        ),
        F.sum(
            (F.col("lang_ok") & F.col("quality_ok") & F.col("rep_ok"))
            .cast("long")
        ).alias("n_repetition"),
        F.sum(
            (F.col("lang_ok") & F.col("quality_ok") & F.col("rep_ok")
             & F.col("safety_ok")).cast("long")
        ).alias("n_safety"),
    )
    live = materialize(
        sig.filter("lang_ok AND quality_ok AND rep_ok AND safety_ok")
        .drop("lang_ok", "quality_ok", "rep_ok", "safety_ok")
        .withColumn("fingerprint", F.md5(normalize_text(F.col("text"))))
    )
    funnel = obs.get
    report.update({k: int(funnel[k]) for k in
                   ("n_input", "n_lang", "n_quality", "n_repetition")})
    if safety_keywords is not None:
        report["n_safety"] = int(funnel["n_safety"])
    _tick("signals")

    # ---- exact dedup: keep the min doc_id per fingerprint. Only the
    # (fingerprint, doc_id) projection shuffles; text stays put.
    keepers = live.groupBy("fingerprint").agg(
        F.min("doc_id").alias("doc_id")
    ).select("doc_id")
    live = materialize(live.join(keepers, "doc_id", "semi"))
    report["n_exact"] = live.count()
    _tick("exact_dedup")

    # ---- MinHash near-dup: keep one representative per cluster.
    pairs = minhash_lsh_pairs(live, threshold=neardup_threshold)
    comps = dedup_clusters(
        pairs, vertices=live.select("doc_id"), id_a="doc_a", id_b="doc_b"
    )
    live = materialize(
        live.join(
            comps.filter(F.col("doc_id") == F.col("cluster_id"))
            .select("doc_id"),
            "doc_id",
            "semi",
        )
    )
    report["n_neardup"] = live.count()
    _tick("neardup")

    # ---- cross-doc duplicated n-gram spans (exact-substring signal)
    dupg = dup_ngram_signals(live, n=8, drop_threshold=dup_gram_threshold)
    live = materialize(
        live.join(dupg.filter(~F.col("drop_doc")).select("doc_id"),
                  "doc_id", "semi")
    )
    report["n_dupgram"] = live.count()
    _tick("dupgram")

    # ---- benchmark decontamination (optional)
    if eval_docs is not None:
        cont = decontaminate(live, eval_docs, n=decontam_n)
        live = materialize(
            live.join(
                cont.filter(~F.col("is_contaminated")).select("doc_id"),
                "doc_id",
                "semi",
            )
        )
        report["n_decontam"] = live.count()

    # ---- DSIR target-domain selection (optional)
    if dsir_target is not None:
        from spark_frontier.analytics.sampling import dsir_logweights

        dw = dsir_logweights(live, dsir_target)
        live = materialize(
            live.join(
                dw.filter(F.col("logweight") >= dsir_threshold)
                .select("doc_id"),
                "doc_id",
                "semi",
            )
        )
        report["n_dsir"] = live.count()

    # ---- SemDeDup over embeddings (optional)
    if embeddings is not None:
        emb_live = embeddings.join(
            live.select(F.col("doc_id").alias("vec_id")), "vec_id", "semi"
        )
        sd = semdedup(
            emb_live,
            n_centroids=semdedup_centroids,
            threshold=semdedup_threshold,
        )
        live = materialize(
            live.join(
                sd.filter(F.col("keep"))
                .select(F.col("vec_id").alias("doc_id")),
                "doc_id",
                "semi",
            )
        )
        report["n_semdedup"] = live.count()

    # ---- stratified per-source mix (optional)
    if quotas is not None:
        live = materialize(stratified_mix(live, quotas))
        report["n_mix"] = live.count()

    report["n_kept"] = next(
        report[k]
        for k in ("n_mix", "n_semdedup", "n_dsir", "n_decontam", "n_dupgram")
        if k in report
    )

    # ---- packing assignments over the kept set; optionally measured in
    # learned BPE subwords (the tokenizer trains on the FILTERED corpus,
    # like a production run, and its merge table commits as an artifact)
    if pack_tokens == "bpe":
        from spark_frontier.analytics.bpe import bpe_encode, bpe_train

        merges = bpe_train(live, n_merges=bpe_merges)
        enc = bpe_encode(live, merges).select("doc_id", "n_subwords")
        packing = pack_sequences(
            live.join(enc, "doc_id"),
            capacity=pack_capacity,
            count_col="n_subwords",
        )
        store.table("corpus_bpe_merges").overwrite(
            spark.createDataFrame(
                [(i, l, r, c) for i, (l, r, c) in enumerate(merges)],
                "merge_rank int, left string, right string, "
                "pair_count long",
            ),
            summary={"op": "corpus_filter_bpe", "n_merges": len(merges)},
            small=True,
        )
        report["n_bpe_merges"] = len(merges)
    elif pack_tokens == "whitespace":
        packing = pack_sequences(live, capacity=pack_capacity)
    else:
        raise ValueError(f"unknown pack_tokens mode: {pack_tokens!r}")
    n_seq = packing.agg(
        (F.max(F.col("seq_last")) + 1).alias("n")
    ).first()["n"]
    report["n_sequences"] = int(n_seq) if n_seq is not None else 0
    _tick("packing")

    # ---- PII scrubbing (optional): committed text is the REDACTED form
    # (the q42 operator); the fingerprint below still hashes the text as
    # committed, so dedup and provenance stay self-consistent
    if scrub_pii_text:
        from spark_frontier.analytics.pii import scrub_pii

        # the fingerprint must hash the text AS COMMITTED (the scrubbed
        # form), so re-derive it after redaction
        live = live.withColumn("text", scrub_pii(F.col("text"))).withColumn(
            "fingerprint", F.md5(normalize_text(F.col("text")))
        )

    # ---- deterministic split assignment (optional) rides the kept set
    if splits is not None:
        from spark_frontier.analytics.sampling import assign_splits

        live = assign_splits(live, splits)
        report["splits"] = {
            r["split"]: int(r["n"]) for r in
            live.groupBy("split").agg(F.count("*").alias("n")).collect()
        }

    # ---- commit: docs + packing + funnel row (summaries carry lineage)
    store.table("corpus_docs").overwrite(
        live,  # fingerprint already on the row from the exact-dedup pass
        summary={"op": "corpus_filter", "batch_ts": report["batch_ts"],
                 "n_kept": report["n_kept"]},
    )
    store.table("corpus_packing").overwrite(
        packing,
        summary={"op": "corpus_filter", "capacity": pack_capacity,
                 "n_sequences": report["n_sequences"]},
    )
    # driver-local one-row commit (append_local): a Spark job for a
    # single log row is ~1.3 s of pure scheduling overhead per funnel
    # run at ANY core count — the same fixed-tail cut the crawl cycle's
    # crawl_logs lane already uses
    import pandas as _pd

    log_pdf = _pd.DataFrame({
        "batch_ts": [report["batch_ts"]],
        "n_input": _pd.array([report["n_input"]], dtype="int64"),
        "n_kept": _pd.array([report["n_kept"]], dtype="int64"),
        "n_sequences": _pd.array([report["n_sequences"]], dtype="int64"),
    })
    store.table("corpus_log").append_local(
        log_pdf,
        summary={"op": "corpus_filter_log", **{
            k: v for k, v in report.items() if isinstance(v, int)}},
    )
    _tick("commit")
    return report
