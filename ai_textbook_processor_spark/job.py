"""spark-submit entry point for the extraction pipeline.

Usage (the north rule's launch shape):

    spark-submit --py-files atps.zip -m ai_textbook_processor_spark.job ...
    # or locally:
    python -m ai_textbook_processor_spark.job --n-docs 1000 --out /tmp/out

Reads either a generated deterministic corpus (--n-docs) or an existing
interleaved-documents table (--input parquet path), runs the extraction
plan, writes the extracted table + quarantine + lineage, prints a one-line
JSON summary to stdout.
"""

from __future__ import annotations

import argparse
import json
import sys
import time

from pyspark.sql import functions as F

from ai_textbook_processor_spark.corpus import corpus_df
from ai_textbook_processor_spark.functions.readability import CriteriaConfig
from ai_textbook_processor_spark.plans.pipeline import extract_documents
from ai_textbook_processor_spark.session import get_spark


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description="PySpark main-content extraction job")
    src = ap.add_mutually_exclusive_group(required=True)
    src.add_argument("--n-docs", type=int, help="generate a deterministic corpus")
    src.add_argument("--input", help="parquet path of documents_interleaved")
    ap.add_argument("--out", required=True, help="output directory")
    ap.add_argument("--seed", type=int, default=42)
    ap.add_argument(
        "--doc-offset", type=int, default=0,
        help="first doc index of the generated range (disjoint slices of "
        "one logical corpus across multiple executor JVMs)",
    )
    ap.add_argument("--mega-every", type=int, default=0)
    ap.add_argument("--buckets", type=int, default=32)
    ap.add_argument("--master", default=None)
    ap.add_argument(
        "--warmup",
        action="store_true",
        help="run a small extraction before starting the timer (JVM JIT + "
        "Python-worker import warm-up; keeps throughput measurements "
        "compute-dominated)",
    )
    ap.add_argument("--relaxed", action="store_true", help="P7 relaxed relevance gate")
    ap.add_argument("--grade-lo", type=float, default=1.0)
    ap.add_argument("--grade-hi", type=float, default=12.0)
    ap.add_argument(
        "--resumable",
        metavar="RUN_ID",
        help="checkpoint-resumable mode: commit per bucket group with "
        "lineage rows; rerunning with the same RUN_ID skips committed "
        "buckets (anti-join on the lineage table)",
    )
    ap.add_argument("--buckets-per-commit", type=int, default=8)
    ap.add_argument(
        "--clean-corpus",
        action="store_true",
        help="run the full training-data pipeline (extract -> quality/lang "
        "gate -> exact dedup -> MinHash-LSH near-dedup) instead of plain "
        "extraction; writes the cleaned corpus and prints the funnel",
    )
    ap.add_argument("--min-quality", type=float, default=0.3)
    ap.add_argument(
        "--benchmark",
        help="clean-corpus: parquet path of a (doc_id, text) eval set; "
        "surviving docs sharing word-3-gram shingles with it are dropped "
        "(decontamination stage)",
    )
    ap.add_argument(
        "--mix-rates",
        help="clean-corpus: per-language keep rates as 'en=0.5,zh=1.0' "
        "(deterministic hash-stratified mixing stage; unlisted languages "
        "use --mix-default)",
    )
    ap.add_argument("--mix-default", type=float, default=1.0)
    ap.add_argument(
        "--domain-cap", type=int, default=None,
        help="clean-corpus: keep at most K best-by-quality docs per "
        "content_type (grouped_topk — no per-domain window sort)",
    )
    ap.add_argument(
        "--dsir-target",
        default=None,
        help="clean-corpus: comma-separated content_type values forming "
        "the DSIR target sample; target docs pass through, the rest of "
        "the pool keeps only --dsir-top-k by importance ratio",
    )
    ap.add_argument("--dsir-top-k", type=int, default=None)
    ap.add_argument(
        "--split",
        default=None,
        help="clean-corpus: deterministic train/val/test fractions as "
        "'train=0.9,val=0.05,test=0.05' (hash of doc_id; leakage-safe "
        "because the dedup stages upstream already removed near-dups)",
    )
    ap.add_argument(
        "--export-shards",
        type=int,
        default=None,
        help="clean-corpus: write each split as N deterministic shards "
        "(one file per shard, verified manifest) under OUT/shards/<split>",
    )
    ap.add_argument(
        "--sink", choices=("parquet", "noop"), default="parquet",
        help="noop: execute the full plan but discard output (isolates "
        "extraction throughput from the writer in bench runs)",
    )
    ap.add_argument(
        "--salted",
        action="store_true",
        help="mega-document skew path: chunk-split docs above the span "
        "threshold, extract chunks on separate executors, reassemble",
    )
    ap.add_argument(
        "--span-threshold",
        default=None,
        help="salted path: docs above this span count are chunk-split; an "
        "integer, or 'auto' (the default: one pre-pass job salts only the "
        "docs larger than the median input partition's span total, and "
        "plans the plain one-stage path when there is none)",
    )
    args = ap.parse_args(argv)
    # the resumable and clean-corpus branches return before these flags are
    # read: reject them there instead of ignoring them
    plain_only = [
        flag
        for flag, given in (
            ("--salted", args.salted),
            ("--span-threshold", args.span_threshold is not None),
            ("--sink noop", args.sink == "noop"),
        )
        if given
    ]
    mode = "--resumable" if args.resumable else "--clean-corpus" if args.clean_corpus else None
    if mode and plain_only:
        ap.error(f"{plain_only[0]} cannot be combined with {mode}")
    if args.span_threshold is not None and not args.salted:
        ap.error("--span-threshold needs --salted")

    spark = get_spark(app_name="extract_job", master=args.master)
    if args.warmup:
        n_slots = spark.sparkContext.defaultParallelism
        for _ in range(2):
            extract_documents(
                corpus_df(spark, 32 * n_slots, seed=1, num_partitions=n_slots)
            ).write.format("noop").mode("overwrite").save()
    t0 = time.monotonic()
    if args.input:
        docs = spark.read.parquet(args.input)
    else:
        docs = corpus_df(
            spark, args.n_docs, seed=args.seed, mega_every=args.mega_every,
            start=args.doc_offset,
        )

    cfg = CriteriaConfig(
        grade_lo=args.grade_lo, grade_hi=args.grade_hi, relaxed_relevance=args.relaxed
    )

    if args.resumable and args.clean_corpus:
        from ai_textbook_processor_spark.plans.training_pipeline import (
            run_clean_corpus,
        )

        benchmark = (
            spark.read.parquet(args.benchmark) if args.benchmark else None
        )
        mix_rates = None
        if args.mix_rates:
            mix_rates = {
                k: float(v)
                for k, v in (kv.split("=") for kv in args.mix_rates.split(","))
            }
        summary = run_clean_corpus(
            spark,
            docs,
            args.out,
            args.resumable,
            cfg=cfg,
            n_buckets=args.buckets,
            buckets_per_commit=args.buckets_per_commit,
            min_quality=args.min_quality,
            benchmark=benchmark,
            mix_rates=mix_rates,
            mix_default_rate=args.mix_default,
            domain_cap=args.domain_cap,
            dsir_target_types=(
                tuple(args.dsir_target.split(",")) if args.dsir_target else ()
            ),
            dsir_top_k=args.dsir_top_k,
            split_fractions=(
                tuple(
                    (k, float(v))
                    for k, v in (kv.split("=") for kv in args.split.split(","))
                )
                if args.split
                else None
            ),
            export_shards_n=args.export_shards,
        )
        summary["mode"] = "clean_corpus_resumable"
        summary["wall_sec"] = round(time.monotonic() - t0, 3)
        print(json.dumps(summary))
        spark.stop()
        return 0

    if args.resumable:
        from ai_textbook_processor_spark.plans.lineage import run_extraction

        summary = run_extraction(
            spark,
            docs,
            args.out,
            args.resumable,
            n_buckets=args.buckets,
            buckets_per_commit=args.buckets_per_commit,
            cfg=cfg,
        )
        summary["wall_sec"] = round(time.monotonic() - t0, 3)
        print(json.dumps(summary))
        spark.stop()
        return 0

    if args.clean_corpus:
        from ai_textbook_processor_spark.plans.training_pipeline import (
            clean_corpus,
        )

        benchmark = (
            spark.read.parquet(args.benchmark) if args.benchmark else None
        )
        mix_rates = None
        if args.mix_rates:
            mix_rates = {
                k: float(v)
                for k, v in (kv.split("=") for kv in args.mix_rates.split(","))
            }
        cleaned, funnel = clean_corpus(
            docs,
            cfg,
            min_quality=args.min_quality,
            benchmark=benchmark,
            mix_rates=mix_rates,
            mix_default_rate=args.mix_default,
            domain_cap=args.domain_cap,
            dsir_target_types=(
                tuple(args.dsir_target.split(",")) if args.dsir_target else ()
            ),
            dsir_top_k=args.dsir_top_k,
        )
        splits_summary = None
        if args.split or args.export_shards:
            from ai_textbook_processor_spark.operators.sampling import (
                hash_split,
            )

            fr = (
                tuple(
                    (k, float(v))
                    for k, v in (kv.split("=") for kv in args.split.split(","))
                )
                if args.split
                else (("train", 1.0),)
            )
            final = cleaned.drop("text").select("*", hash_split("doc_id", fr))
            splits_summary = {}
            if args.export_shards:
                from ai_textbook_processor_spark.operators.export import (
                    export_shards,
                )

                for name, _frac in fr:
                    man = export_shards(
                        final.where(F.col("split") == name).drop("split"),
                        f"{args.out}/shards/{name}",
                        n_shards=args.export_shards,
                    )
                    splits_summary[name] = {
                        "n_docs": sum(m["n_docs"] for m in man),
                        "n_shards": len(man),
                        "n_files": sum(m["n_files"] for m in man),
                    }
            else:
                final.write.mode("overwrite").partitionBy("split").parquet(
                    f"{args.out}/cleaned"
                )
                splits_summary = {
                    r["split"]: {"n_docs": int(r["n"])}
                    for r in final.groupBy("split")
                    .agg(F.count("*").alias("n"))
                    .collect()
                }
        else:
            cleaned.drop("text").write.mode("overwrite").parquet(
                f"{args.out}/cleaned"
            )
        wall = time.monotonic() - t0
        stages = {r["stage"]: int(r["n"]) for r in funnel.collect()}
        final_stage = (
            "after_mix"
            if mix_rates is not None
            else "after_dsir"
            if (args.dsir_target and args.dsir_top_k)
            else "after_domain_cap"
            if args.domain_cap is not None
            else "after_decontam"
            if benchmark is not None
            else "after_near_dedup"
        )
        payload = {
            "mode": "clean_corpus",
            "funnel": stages,
            "docs_total": stages.get("input", 0),
            "docs_kept": stages.get(final_stage, 0),
            "wall_sec": round(wall, 3),
            "docs_per_sec": (
                round(stages.get("input", 0) / wall, 3) if wall > 0 else None
            ),
        }
        if splits_summary is not None:
            payload["splits"] = splits_summary
        print(json.dumps(payload))
        spark.stop()
        return 0

    if args.salted:
        from ai_textbook_processor_spark.operators.skew import (
            extract_documents_salted,
        )

        kw = {}
        if args.span_threshold is not None:
            kw["span_threshold"] = (
                "auto"
                if args.span_threshold == "auto"
                else int(args.span_threshold)
            )
        out = extract_documents_salted(docs, cfg, n_buckets=args.buckets, **kw)
    else:
        out = extract_documents(docs, cfg, n_buckets=args.buckets)

    if args.sink == "noop":
        out.write.format("noop").mode("overwrite").save()
        wall = time.monotonic() - t0
        n = docs.count()
        print(json.dumps({
            "docs_valid": 0, "docs_quarantined": 0, "docs_total": n,
            "output_spans": 0, "wall_sec": round(wall, 3),
            "docs_per_sec": round(n / wall, 3) if wall > 0 else None,
        }))
        spark.stop()
        return 0

    # ONE pass over the data: the valid/quarantine split (P8) becomes a
    # partition column, so the expensive extraction UDF runs exactly once
    # and readers get partition pruning on is_valid for free.
    out.write.mode("overwrite").partitionBy("is_valid").parquet(
        f"{args.out}/extracted"
    )
    wall = time.monotonic() - t0  # the data pass: gen/read -> extract -> write

    # Post-write verification (reference's read-back check,
    # chroma_utility.py:28-32) — deliberately outside the timed window:
    # the metric is documents/sec extracting, not counting.
    ext = spark.read.parquet(f"{args.out}/extracted")
    # partition columns read back as strings; normalize
    ext = ext.withColumn("is_valid", F.col("is_valid").cast("boolean"))
    counts = (
        ext.groupBy("is_valid")
        .agg(F.count("*").alias("n"), F.sum("n_spans").alias("spans"))
        .collect()
    )
    n_valid = sum(r["n"] for r in counts if r["is_valid"])
    n_quar = sum(r["n"] for r in counts if not r["is_valid"])
    n_spans = sum(r["spans"] or 0 for r in counts if r["is_valid"])
    summary = {
        "docs_valid": n_valid,
        "docs_quarantined": n_quar,
        "docs_total": n_valid + n_quar,
        "output_spans": int(n_spans),
        "wall_sec": round(wall, 3),
        "docs_per_sec": round((n_valid + n_quar) / wall, 3) if wall > 0 else None,
    }
    print(json.dumps(summary))
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
