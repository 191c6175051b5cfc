"""Regenerate PLANS.md: physical-plan evidence for the scale-critical
queries (operator counts + key FileScan/TakeOrdered lines).

Usage: python tools/gen_plans.py > PLANS.md
"""

from __future__ import annotations

import sys

sys.path.insert(0, ".")

from ai_textbook_processor_spark import harness  # noqa: E402
from ai_textbook_processor_spark.corpus import corpus_df  # noqa: E402
from ai_textbook_processor_spark.plans.pipeline import extract_documents  # noqa: E402
from ai_textbook_processor_spark.session import get_spark  # noqa: E402

SF = "/root/testdata/sf0.01"

OPS = (
    "Exchange", "ArrowEvalPython", "MapInArrow", "MapInPandas",
    "BroadcastHashJoin", "SortMergeJoin", "CartesianProduct",
    "TakeOrderedAndProject", "Window",
)


def audit(title: str, df, note: str = "") -> None:
    p = df._jdf.queryExecution().executedPlan().toString()
    counts = " ".join(f"{op}={p.count(op)}" for op in OPS if p.count(op))
    print(f"### {title}")
    print(f"- {counts or 'no heavyweight operators'}")
    for line in p.splitlines():
        ls = line.strip()
        if "FileScan parquet" in ls or "TakeOrderedAndProject" in ls:
            print(f"- `{ls[:190]}`")
    if note:
        print(f"- {note}")
    print()


def main() -> int:
    spark = get_spark(app_name="gen_plans", master="local[4]", shuffle_partitions=4)
    print("# PLANS — physical-plan evidence (sf0.01, local mode)")
    print()
    print("Generated by `python tools/gen_plans.py`; counts from")
    print("`df._jdf.queryExecution().executedPlan()` (pre-execution AQE plans:")
    print("`WholeStageCodegen` spans appear only in post-action formatted plans).")
    print()

    audit(
        "extract_documents (flagship hot path)",
        extract_documents(corpus_df(spark, 8, seed=1)),
        note="**Exchange=0, one fused Arrow stage** between scan and sink.",
    )
    from ai_textbook_processor_spark.operators.skew import (
        DEFAULT_SPAN_THRESHOLD,
        extract_documents_salted,
    )
    audit(
        "extract_documents_salted (default cut)",
        extract_documents_salted(corpus_df(spark, 8, seed=1)),
        note="no doc of this corpus is larger than the median input partition, "
        "so the default cut plans plain `extract_documents` (its pre-pass is a "
        "job of its own).",
    )
    audit(
        "extract_documents_salted (span_threshold=512, mega-doc path)",
        extract_documents_salted(
            corpus_df(spark, 8, seed=1, mega_every=4),
            span_threshold=DEFAULT_SPAN_THRESHOLD,
        ),
        note="exchanges belong only to the salted branch (chunk spread + regroup); "
        "the small-doc branch keeps the zero-shuffle plan.",
    )
    for name, note in (
        ("s9_point_lookup", "pushdown: doc_id filter reaches the parquet scan"),
        ("p2_predicates", "filter pushdown + 2-of-5-column pruned scan"),
        ("q1_pricing_summary", "partial+final agg; 6-column pruned scan"),
        ("q6_forecast_revenue", "all four predicates pushed to the scan; "
         "4-column pruned read; one partial+final agg, zero joins"),
        ("j4_metadata_enrichment", "broadcast dims, no SortMergeJoin"),
        ("j2_semi_join_lookup", "broadcast left-semi"),
        ("dd_minhash_lsh", "band-bucket join; no cartesian"),
        ("dd_minhash_lsh16", "banded 4x4 production config; no cartesian"),
        ("dd_simhash", "single groupBy exchange (r2: no bit_range crossJoin)"),
        ("sim_cosine_topk", "broadcast query vector; TakeOrderedAndProject top-k"),
        ("sim_ivf_topk", "broadcast centroids; max_by partial agg; TakeOrdered rerank"),
        ("q3_shipping_priority", "3-way join -> agg -> TakeOrderedAndProject"),
        ("dd_ngram_jaccard", "shingle self-join; TakeOrderedAndProject top-k; "
         "the only Window left is lead() partitioned by doc_id"),
        ("dc_benchmark_overlap", "benchmark shingles broadcast — the training "
         "side never shuffles; no SortMergeJoin/cartesian"),
        ("samp_stratified", "scan-side hash filter; the only Exchange is the "
         "final per-lang aggregate"),
        ("sim_kmeans_step", "broadcast centroids + max_by partial agg; the "
         "mean recompute exchange carries K*dim partial sums, not vectors"),
        ("samp_domain_cap", "grouped top-k: map-side partial keeps each "
         "task's best k per group — no WindowExec, a mega-domain never "
         "becomes one sorted partition"),
        ("sim_pq_topk", "PQ ADC search: codebook + per-query LUT ride "
         "broadcasts; exchange carries one partial row per vector; "
         "TakeOrderedAndProject top-k"),
        ("txt_bm25", "tf exists only for query terms (filter before first "
         "shuffle); df/stats broadcast; TakeOrderedAndProject"),
        ("txt_hot_ngrams", "one map-side-combined gram aggregate + "
         "TakeOrderedAndProject — no window over the gram table"),
        ("txt_corpus_logprob", "vocab join carries (id, word, count) "
         "triples only; raw text never shuffles"),
    ):
        audit(name, harness.QUERIES[name](spark, SF), note=note)

    # HOF-lambda lint over EVERY registered query (r3 VERDICT #9): any
    # outer attribute inside a transform/filter/zip_with lambda body fails
    # the run loudly — the quadratic-on-mega-docs bug class is invisible
    # at oracle scale, so the plan shape is the only cheap tripwire.
    from ai_textbook_processor_spark.plans.lint import (  # noqa: E402
        assert_no_lambda_offenses,
    )

    skip_stream = {"ev_stream_windowed", "ev_stream_late"}
    linted = 0
    for name, fn in harness.QUERIES.items():
        if name in skip_stream:
            continue
        assert_no_lambda_offenses(fn(spark, SF), name)
        linted += 1
    print(f"\n_HOF-lambda lint: {linted} query plans clean "
          f"(lambdas reference only lambda variables)_")

    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
