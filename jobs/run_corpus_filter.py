#!/usr/bin/env python
"""spark-submit entrypoint for the training-corpus filter funnel.

Packaging (same surface as jobs/run_crawl.py):
    python jobs/package.py                    # → dist/spark_frontier.zip
    spark-submit --py-files dist/spark_frontier.zip \\
        jobs/run_corpus_filter.py --docs /data/documents.parquet \\
        --store /warehouse [--embeddings /data/embeddings.parquet] \\
        [--eval-mod 37] [--langs en,es] [--quotas '{"web": 1000}']

Prints the funnel report as one JSON line. ``--eval-mod k`` holds out
doc_id % k == 0 as the decontamination eval slice (the q47 fixture
rule); pass a real benchmark table instead in production.
"""

from __future__ import annotations

import argparse
import json
import sys


def main() -> int:
    p = argparse.ArgumentParser()
    p.add_argument("--docs", default=None, help="documents parquet path")
    p.add_argument("--docs-store", default=None,
                   help="read input docs from this SnapStore's corpus_docs "
                        "table instead of --docs — the periodic global-"
                        "dedup compaction pass over a stream-ingested "
                        "store (see streaming/corpus_stream.py)")
    p.add_argument("--store", required=True, help="SnapStore warehouse root")
    p.add_argument("--embeddings", default=None,
                   help="embeddings parquet (vec_id aligned to doc_id) "
                        "enabling the SemDeDup stage")
    p.add_argument("--eval-mod", type=int, default=None,
                   help="hold out doc_id %% K == 0 as the decontam eval set")
    p.add_argument("--langs", default="en")
    p.add_argument("--min-quality", type=float, default=0.3)
    p.add_argument("--capacity", type=int, default=2048)
    p.add_argument("--quotas", default=None,
                   help="JSON dict source -> quota for the stratified mix")
    p.add_argument("--safety-keywords", default=None,
                   help="JSON dict category -> [blocked tokens] enabling "
                        "the safety gate")
    p.add_argument("--dsir-target", default=None,
                   help="parquet path of target-domain docs enabling DSIR "
                        "selection")
    p.add_argument("--dsir-threshold", type=float, default=0.0)
    p.add_argument("--pack-tokens", default="whitespace",
                   choices=["whitespace", "bpe"],
                   help="packing stream units; 'bpe' trains the tokenizer "
                        "on the filtered corpus and commits its merges")
    p.add_argument("--bpe-merges", type=int, default=64)
    p.add_argument("--splits", default=None,
                   help="JSON dict split -> fraction for deterministic "
                        "train/val/test assignment on the kept docs")
    p.add_argument("--scrub-pii", action="store_true",
                   help="commit PII-redacted text (q42 operator)")
    args = p.parse_args()

    from pyspark.sql import SparkSession

    from spark_frontier.session import worker_daemon_conf

    # Python workers fork from the package's daemon (worker_daemon.py)
    spark = (
        SparkSession.builder.appName("spark-frontier-corpus")
        .config(map=worker_daemon_conf())
        .getOrCreate()
    )

    from spark_frontier.pipeline.corpus import run_corpus_filter

    if bool(args.docs) == bool(args.docs_store):
        p.error("exactly one of --docs / --docs-store is required")
    if args.docs_store:
        from spark_frontier.storage import SnapStore

        docs = SnapStore(args.docs_store).table("corpus_docs").read(spark)
        if docs is None:
            p.error(f"--docs-store {args.docs_store} has no corpus_docs")
        docs = docs.select("doc_id", "text", "source")
    else:
        docs = spark.read.parquet(args.docs)
    eval_docs = None
    if args.eval_mod:
        eval_docs = docs.filter(f"doc_id % {int(args.eval_mod)} = 0")
        docs = docs.filter(f"doc_id % {int(args.eval_mod)} <> 0")
    report = run_corpus_filter(
        spark,
        docs,
        args.store,
        embeddings=(spark.read.parquet(args.embeddings)
                    if args.embeddings else None),
        eval_docs=eval_docs,
        allowed_langs=tuple(args.langs.split(",")),
        min_quality=args.min_quality,
        pack_capacity=args.capacity,
        pack_tokens=args.pack_tokens,
        bpe_merges=args.bpe_merges,
        quotas=json.loads(args.quotas) if args.quotas else None,
        splits=json.loads(args.splits) if args.splits else None,
        scrub_pii_text=args.scrub_pii,
        safety_keywords=(json.loads(args.safety_keywords)
                         if args.safety_keywords else None),
        dsir_target=(spark.read.parquet(args.dsir_target)
                     if args.dsir_target else None),
        dsir_threshold=args.dsir_threshold,
    )
    print(json.dumps(report))
    return 0


if __name__ == "__main__":
    sys.exit(main())
