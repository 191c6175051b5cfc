"""spark-submit entry point for the extraction pipeline.

Usage (the north rule's launch shape):

    spark-submit --py-files atps.zip -m ai_textbook_processor_spark.job ...
    # or locally:
    python -m ai_textbook_processor_spark.job --n-docs 1000 --out /tmp/out

Reads either a generated deterministic corpus (--n-docs) or an existing
interleaved-documents table (--input parquet path), runs the extraction
plan (or, with --resumable and/or --clean-corpus, the durable or
training-data mode), writes its tables and prints a one-line JSON summary
to stdout. A flag outside the mode that reads it exits 2 with an argparse
error before a Spark session starts (``FLAG_RULES``).
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

NEEDS, EXCLUDES = "needs", "cannot be combined with"
_PLAIN_ONLY = ("--salted", "--span-threshold", "--sink noop")
_CLEAN_ONLY = (
    "--min-quality", "--benchmark", "--mix-rates", "--domain-cap",
    "--dsir-target", "--dsir-top-k", "--split", "--export-shards",
)

#: (flag, NEEDS or EXCLUDES, other flag[, unless flag]): every flag that
#: some mode does not read, and the flag that selects (or rules out) the
#: mode that does. The plain-extraction rules come first, so a plain-only
#: flag given with a mode names that mode.
FLAG_RULES = (
    *((f, EXCLUDES, m) for f in _PLAIN_ONLY for m in ("--resumable", "--clean-corpus")),
    ("--span-threshold", NEEDS, "--salted"),
    *((f, NEEDS, "--n-docs") for f in ("--seed", "--mega-every", "--doc-offset")),
    ("--buckets-per-commit", NEEDS, "--resumable"),
    *((f, NEEDS, "--clean-corpus") for f in _CLEAN_ONLY),
    ("--mix-default", NEEDS, "--mix-rates"),
    # _stages_from_extracted runs the DSIR stage only when both are set
    ("--dsir-target", NEEDS, "--dsir-top-k"),
    ("--dsir-top-k", NEEDS, "--dsir-target"),
    # in-session clean_corpus extracts with the default bucket count
    ("--buckets", EXCLUDES, "--clean-corpus", "--resumable"),
)


def _named_fractions(spec: str) -> tuple[tuple[str, float], ...]:
    """'train=0.9,val=0.1' -> (('train', 0.9), ('val', 0.1))."""
    try:
        return tuple(
            (k, float(v)) for k, v in (kv.split("=") for kv in spec.split(","))
        )
    except ValueError:
        raise argparse.ArgumentTypeError(
            f"expected comma-separated name=number pairs, got {spec!r}"
        ) from None


def _parser() -> argparse.ArgumentParser:
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
        type=lambda spec: dict(_named_fractions(spec)),
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
        type=lambda spec: tuple(spec.split(",")),
        default=None,
        help="clean-corpus: comma-separated content_type values forming "
        "the DSIR target sample; target docs pass through, the rest of "
        "the pool keeps only --dsir-top-k by importance ratio",
    )
    ap.add_argument("--dsir-top-k", type=int, default=None)
    ap.add_argument(
        "--split",
        type=_named_fractions,
        default=None,
        help="clean-corpus: deterministic train/val/test fractions as "
        "'train=0.9,val=0.05,test=0.05' (hash of doc_id; leakage-safe "
        "because the dedup stages upstream already removed near-dups). "
        "Each split is exported as deterministic shards under "
        "OUT/shards/<name> (16, or --export-shards N), with or without "
        "--resumable",
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
    return ap


def _check_flags(ap: argparse.ArgumentParser, args: argparse.Namespace) -> None:
    """``ap.error`` (exit 2) on the first ``FLAG_RULES`` violation. A flag
    counts as given when its value differs from its default ('--sink noop'
    names the flag by its first word)."""

    def given(flag: str) -> bool:
        dest = flag.split()[0][2:].replace("-", "_")
        return getattr(args, dest) != ap.get_default(dest)

    for flag, verb, other, *unless in FLAG_RULES:
        if given(flag) and given(other) != (verb == NEEDS) and not any(map(given, unless)):
            ap.error(f"{flag} {verb} {other}" + "".join(f" without {u}" for u in unless))


def _per_sec(n: int, wall: float) -> float | None:
    return round(n / wall, 3) if wall > 0 else None


def _clean_corpus(spark, docs, cfg, args, t0: float) -> dict:
    """--clean-corpus: the durable staged pipeline under --resumable, else
    the in-session one; both take the same stage options."""
    from ai_textbook_processor_spark.plans.training_pipeline import (
        clean_corpus,
        export_splits,
        run_clean_corpus,
    )

    stage_kw = dict(
        min_quality=args.min_quality,
        benchmark=spark.read.parquet(args.benchmark) if args.benchmark else None,
        mix_rates=args.mix_rates,
        mix_default_rate=args.mix_default,
        domain_cap=args.domain_cap,
        dsir_target_types=args.dsir_target or (),
        dsir_top_k=args.dsir_top_k,
    )
    if args.resumable:
        summary = run_clean_corpus(
            spark, docs, args.out, args.resumable, cfg=cfg,
            n_buckets=args.buckets, buckets_per_commit=args.buckets_per_commit,
            split_fractions=args.split, export_shards_n=args.export_shards,
            **stage_kw,
        )
        summary["mode"] = "clean_corpus_resumable"
        summary["wall_sec"] = round(time.monotonic() - t0, 3)
        return summary

    cleaned, funnel = clean_corpus(docs, cfg, **stage_kw)
    splits = None
    if args.split or args.export_shards:
        splits = export_splits(cleaned, args.out, args.split, args.export_shards)
    else:
        cleaned.drop("text").write.mode("overwrite").parquet(f"{args.out}/cleaned")
    wall = time.monotonic() - t0
    stages = {r["stage"]: int(r["n"]) for r in funnel.collect()}
    summary = {
        "mode": "clean_corpus",
        "funnel": stages,
        "docs_total": stages["input"],
        # the funnel's last row is its last active stage
        "docs_kept": list(stages.values())[-1],
        "wall_sec": round(wall, 3),
        "docs_per_sec": _per_sec(stages["input"], wall),
    }
    if splits is not None:
        summary["splits"] = splits
    return summary


def _extract(spark, docs, cfg, args, t0: float) -> dict:
    """Plain extraction (optionally salted) to OUT/extracted, or to the
    noop sink."""
    if args.salted:
        from ai_textbook_processor_spark.operators.skew import (
            extract_documents_salted,
        )

        kw = {}
        if args.span_threshold is not None:
            kw["span_threshold"] = (
                "auto" if args.span_threshold == "auto" else int(args.span_threshold)
            )
        out = extract_documents_salted(docs, cfg, n_buckets=args.buckets, **kw)
    else:
        out = extract_documents(docs, cfg, n_buckets=args.buckets)

    if args.sink == "noop":
        out.write.format("noop").mode("overwrite").save()
        wall = time.monotonic() - t0
        n_valid = n_quar = n_spans = 0
        n_total = docs.count()
    else:
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
        n_total = n_valid + n_quar
    return {
        "docs_valid": n_valid,
        "docs_quarantined": n_quar,
        "docs_total": n_total,
        "output_spans": int(n_spans),
        "wall_sec": round(wall, 3),
        "docs_per_sec": _per_sec(n_total, wall),
    }


def main(argv: list[str] | None = None) -> int:
    ap = _parser()
    args = ap.parse_args(argv)
    _check_flags(ap, args)

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

    if args.clean_corpus:
        summary = _clean_corpus(spark, docs, cfg, args, t0)
    elif args.resumable:
        from ai_textbook_processor_spark.plans.lineage import run_extraction

        summary = run_extraction(
            spark, docs, args.out, args.resumable, n_buckets=args.buckets,
            buckets_per_commit=args.buckets_per_commit, cfg=cfg,
        )
        summary["wall_sec"] = round(time.monotonic() - t0, 3)
    else:
        summary = _extract(spark, docs, cfg, args, t0)
    print(json.dumps(summary))
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
