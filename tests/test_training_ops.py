"""Planted-fixture tests for the r3 training-data ops: decontamination,
deterministic stratified sampling, repetition metrics. The harness oracles
(dc_benchmark_overlap, samp_stratified, txt_repetition) pin value-level
cross-engine equality; these pin the behavioral contracts."""

from pyspark.sql import functions as F


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_decontaminate_removes_planted_contamination(spark):
    from ai_textbook_processor_spark.operators.decontam import (
        benchmark_overlap,
        decontaminate,
    )

    bench = _docs(
        spark, [(1000, "the quick brown fox jumps over the lazy dog today")]
    )
    train = _docs(
        spark,
        [
            # verbatim leak of the benchmark text inside a longer doc
            (1, "prefix words here the quick brown fox jumps over the lazy dog today and more"),
            # shares exactly one 3-gram ('the quick brown') -> below min_shared
            (2, "something about the quick brown color of paint on walls"),
            # no overlap at all
            (3, "completely unrelated sentence with distinct vocabulary choices"),
        ],
    )
    flagged = benchmark_overlap(train, bench).collect()
    assert {(r["train_id"], r["bench_id"]) for r in flagged} == {(1, 1000)}
    assert flagged[0]["n_shared"] >= 7

    kept = sorted(
        r["doc_id"] for r in decontaminate(train, bench).select("doc_id").collect()
    )
    assert kept == [2, 3]


def test_stratified_sample_deterministic_across_partitionings(spark):
    from ai_textbook_processor_spark.operators.sampling import stratified_sample

    rows = [(i, "en" if i % 3 else "de") for i in range(400)]
    df = spark.createDataFrame(rows, "doc_id long, lang string")
    rates = {"en": 0.3, "de": 0.7}

    def ids(frame):
        return sorted(
            r["doc_id"]
            for r in stratified_sample(frame, "lang", rates).select("doc_id").collect()
        )

    one = ids(df.coalesce(1))
    many = ids(df.repartition(13, "doc_id"))
    again = ids(df.repartition(13, "doc_id"))
    assert one == many == again
    assert 0 < len(one) < 400

    # rates actually bite per stratum (hash is uniform enough at n=400)
    sel = {
        r["lang"]: r["count"]
        for r in stratified_sample(df, "lang", rates)
        .groupBy("lang")
        .agg(F.count("*").alias("count"))
        .collect()
    }
    totals = {"en": sum(1 for _, l in rows if l == "en"), "de": sum(1 for _, l in rows if l == "de")}
    assert 0.15 < sel["en"] / totals["en"] < 0.45
    assert 0.55 < sel["de"] / totals["de"] < 0.85


def test_repetition_metrics_flags_planted_boilerplate(spark):
    from ai_textbook_processor_spark.functions.text import repetition_metrics

    df = _docs(
        spark,
        [
            (1, "buy now " * 30),  # one 2-gram dominating
            (2, "a reasonably varied sentence where words mostly differ throughout"),
        ],
    )
    m = {r["doc_id"]: r for r in repetition_metrics(df).collect()}
    assert m[1]["dup_gram_frac"] > 0.9 and m[1]["top_gram_frac"] > 0.4
    assert m[2]["dup_gram_frac"] == 0.0


def test_kmeans_fit_recovers_planted_clusters(spark):
    """Lloyd iteration (operators.similarity.kmeans_fit) over three planted
    tight clusters: fitted centroids align with the cluster anchors."""
    import random

    from ai_textbook_processor_spark.operators.similarity import kmeans_fit

    rng = random.Random(5)
    anchors = [
        [10.0, 0, 0, 0, 0, 0, 0, 0],
        [0, 10.0, 0, 0, 0, 0, 0, 0],
        [0, 0, 10.0, 0, 0, 0, 0, 0],
    ]
    rows, vid = [], 0
    for a in anchors:
        for _ in range(30):
            rows.append((vid, [x + rng.uniform(-0.5, 0.5) for x in a]))
            vid += 1
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    seeds = df.where(F.col("vec_id").isin(0, 30, 60)).select(
        (F.col("vec_id") / 30).cast("long").alias("cid"),
        F.col("embedding").alias("cemb"),
    )
    fitted = {r["cid"]: r["cemb"] for r in kmeans_fit(df, seeds, iters=3).collect()}
    assert len(fitted) == 3

    def cos(a, b):
        d = sum(x * y for x, y in zip(a, b))
        na = sum(x * x for x in a) ** 0.5
        nb = sum(x * x for x in b) ** 0.5
        return d / (na * nb)

    for cid, anchor in enumerate(anchors):
        assert cos(fitted[cid], anchor) > 0.995, cid


def test_kmeans_fit_carries_forward_empty_cells(spark):
    """Dying-cluster handling (r3 ADVICE): a centroid that wins zero
    assignments must be carried forward unchanged, not silently dropped —
    K is stable across rounds."""
    from ai_textbook_processor_spark.operators.similarity import kmeans_fit

    # all vectors hug the +x axis; centroid 1 points the opposite way and
    # (under max-cosine assignment) never wins a single vector
    rows = [(i, [5.0 + 0.01 * i, 0.1 * (i % 3), 0.0]) for i in range(20)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    seeds = spark.createDataFrame(
        [(0, [1.0, 0.0, 0.0]), (1, [-7.0, -7.0, -7.0])],
        "cid long, cemb array<double>",
    )
    fitted = {r["cid"]: r["cemb"] for r in kmeans_fit(df, seeds, iters=3).collect()}
    assert sorted(fitted) == [0, 1], "K must not shrink mid-fit"
    assert fitted[1] == [-7.0, -7.0, -7.0], "empty cell carried forward verbatim"
    assert abs(fitted[0][0] - 5.0955) < 0.2  # live cell converged to the mean


def test_pii_scrub_leaves_no_residual_pii(spark):
    """Completeness property: after pii_scrub, NO substring matching the
    email or phone pattern survives — on adversarial fixtures (adjacent
    PII, punctuation-wrapped, phone-inside-email local parts, unicode
    neighbors) and also cross-checked against Python re as the conceptual
    twin of the JVM regex."""
    import re

    from ai_textbook_processor_spark.functions.text import (
        EMAIL_RE,
        PHONE_RE,
        pii_scrub,
    )

    nasty = [
        "plain text no pii at all",
        "a@b.co x@y.io back-to-back a@b.co",
        "(mail: first.last+tag@sub.domain-x.org), call 555-0100!",
        "555-0199@example.com is an email not a phone",
        "wrapped <user_1@ex.com> and [555-1234] and 999-0000.",
        "unicode 日本語 user@例え.com stays (non-ascii domain unmatched) 123-4567",
        "edge 12-3456 not a phone; 1234-5678 no match either",
        "a@b.c single-letter tld unmatched; a@b.cd matched",
    ]
    df = spark.createDataFrame([(i, t) for i, t in enumerate(nasty)], "i long, t string")
    out = {r["i"]: r["s"] for r in df.select("i", pii_scrub("t").alias("s")).collect()}
    email, phone = re.compile(EMAIL_RE), re.compile(PHONE_RE)
    for i, t in enumerate(nasty):
        s = out[i]
        assert not email.search(s), (t, s)
        assert not phone.search(s), (t, s)
        # python-re twin produces the identical scrub
        twin = phone.sub("<PHONE>", email.sub("<EMAIL>", t))
        assert s == twin, (t, s, twin)


def test_pack_bins_overflow_bound_and_contiguity(spark):
    """Cumulative packing contract: within every bucket, bin indices are
    contiguous from 0, and a bin's token total exceeds the budget only by
    (part of) its final document — sum_tokens - last_doc_tokens < budget;
    any bin except the bucket's last is at least budget-full when its
    successor exists."""
    from ai_textbook_processor_spark.operators.packing import bin_stats, pack_bins

    rows = [(i, 37 + (i * 13) % 211) for i in range(600)]
    df = spark.createDataFrame(rows, "doc_id long, n_tokens long")
    budget = 300
    packed = pack_bins(df, budget=budget, n_buckets=4)
    data = packed.orderBy("bucket", "doc_id").collect()

    by_bin = {}
    for r in data:
        by_bin.setdefault((r["bucket"], r["bin_idx"]), []).append(r["n_tokens"])
    for (b, k), toks in by_bin.items():
        assert sum(toks) - toks[-1] < budget, (b, k)
    for b in {r["bucket"] for r in data}:
        bins = sorted(k for (bb, k) in by_bin if bb == b)
        assert bins == list(range(len(bins))), b

    stats = bin_stats(packed).collect()
    assert sum(r["n_docs"] for r in stats) == 600


def test_pq_recovers_planted_clusters(spark):
    """PQ on structured data: vectors drawn from 8 tight per-subspace
    clusters must encode losslessly enough that ADC top-10 ~= exact L2
    top-10 (recall >= 0.8); codes stay in [0, k_sub)."""
    import random

    from pyspark.sql import functions as F

    from ai_textbook_processor_spark.operators.similarity import (
        dist2, pq_encode, pq_search, pq_train,
    )

    rng = random.Random(11)
    m, d, k_sub = 4, 4, 8
    anchors = [
        [rng.uniform(-5, 5) for _ in range(d)] for _ in range(k_sub * m)
    ]
    # 20 distinct cluster PATTERNS x 10 members: vectors sharing a pattern
    # get identical PQ codes, so ADC ties resolve by id while exact L2
    # resolves by noise — with 10-member patterns the query's 9 twins
    # dominate both rankings and recall is structural, not tie-luck
    rows = []
    for i in range(200):
        pat = i % 20
        vec = []
        for j in range(m):
            # base-8 digits of pat -> injective pattern->code mapping
            a = anchors[j * k_sub + (pat // (k_sub**j)) % k_sub]
            vec += [x + rng.uniform(-0.05, 0.05) for x in a]
        rows.append((i, vec))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")

    book = pq_train(df, m=m, k_sub=k_sub, iters=4)
    codes = pq_encode(df, book, m=m)
    got = {r["vec_id"]: r["codes"] for r in codes.collect()}
    assert len(got) == 200
    assert all(0 <= c < k_sub for cs in got.values() for c in cs)

    q = df.where(F.col("vec_id") == 3).select(F.col("embedding").alias("qv"))
    pq_ids = {
        r["vec_id"]
        for r in pq_search(
            codes.where(F.col("vec_id") != 3), book, q, k=10, m=m
        ).collect()
    }
    d2 = dist2(F.col("embedding"), F.col("qv"))
    brute = {
        r["vec_id"]
        for r in df.where(F.col("vec_id") != 3)
        .crossJoin(F.broadcast(q))
        .select("vec_id", d2.alias("_d"))
        .orderBy(F.asc("_d"), F.asc("vec_id"))
        .limit(10)
        .collect()
    }
    assert len(pq_ids & brute) >= 8, (sorted(pq_ids), sorted(brute))


def test_pq_deterministic_across_partitionings(spark):
    from ai_textbook_processor_spark.operators.similarity import (
        pq_encode, pq_train,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    outs = []
    for parts in (1, 5, 16):
        df = emb.repartition(parts)
        book = pq_train(df, m=4, k_sub=8, iters=2)
        codes = pq_encode(df, book, m=4)
        outs.append(
            sorted((r["vec_id"], tuple(r["codes"])) for r in codes.collect())
        )
    assert outs[0] == outs[1] == outs[2]


def test_ivfpq_residual_beats_raw_pq(spark):
    """The reason IVF-PQ exists: quantizing RESIDUALS (vector minus its
    coarse centroid) at the same code budget reconstructs distances more
    accurately than PQ on raw vectors — the query's own row must come
    back with a strictly smaller self-ADC, and the probed search must
    still place it first."""
    from pyspark.sql import functions as F

    from ai_textbook_processor_spark.operators.similarity import (
        ivfpq_build, ivfpq_search, kmeans_fit, pq_encode, pq_search, pq_train,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    q = emb.where(F.col("vec_id") == 7).select(F.col("embedding").alias("qv"))

    book_raw = pq_train(emb, m=4, k_sub=8, iters=2)
    codes_raw = pq_encode(emb, book_raw, m=4)
    raw_top = pq_search(codes_raw, book_raw, q, k=1, m=4).first()

    seeds = emb.where(F.col("vec_id").isin(1, 2, 3, 4)).select(
        (F.col("vec_id") - 1).alias("cid"),
        F.col("embedding").cast("array<double>").alias("cemb"),
    )
    coarse = kmeans_fit(emb, seeds, iters=2, metric="l2")
    book, index = ivfpq_build(emb, coarse, m=4, k_sub=8, iters=2)
    pq_top = ivfpq_search(index, book, coarse, q, k=1, m=4, n_probe=4).first()

    assert raw_top["vec_id"] == 7 and pq_top["vec_id"] == 7
    assert pq_top["adc"] < raw_top["adc"], (pq_top["adc"], raw_top["adc"])


def test_ivfpq_sweep_recall_monotone(spark):
    """r4 VERDICT #5: the n_probe operating-point curve. Recall@10 must be
    non-decreasing in n_probe (more probed cells only widen the ADC
    candidate pool on these fixtures) and the Spark-side curve must equal
    the pure-Python twin point for point."""
    from ai_textbook_processor_spark import harness
    from ai_textbook_processor_spark.golden_oracle import _ivfpq_pure

    sf = "/root/testdata/sf0.001"
    rows = sorted(
        tuple(r) for r in harness.QUERIES["sim_ivfpq_sweep"](spark, sf).collect()
    )
    assert [r[0] for r in rows] == [1, 2, 4]
    recalls = [r[2] for r in rows]
    assert recalls == sorted(recalls), recalls

    import pyarrow.parquet as pq_

    t = pq_.read_table(f"{sf}/embeddings.parquet",
                       columns=["vec_id", "embedding"]).to_pydict()
    vecs = {int(i): [float(x) for x in e]
            for i, e in zip(t["vec_id"], t["embedding"])}
    qv = vecs[7]

    def d2(a, b):
        acc = 0.0
        for x, y in zip(a, b):
            acc += (x - y) * (x - y)
        return acc

    brute = set(sorted(vecs, key=lambda i: (d2(qv, vecs[i]), i))[:10])
    for n_probe, n_hit, recall in rows:
        pure = {i for i, _ in _ivfpq_pure(sf, n_probe=n_probe)}
        assert n_hit == len(pure & brute)
        assert recall == round(n_hit / 10.0, 2)


def test_pq_train_rejects_bad_dim_before_any_job_and_empty_input(spark):
    import pytest

    from ai_textbook_processor_spark.operators.similarity import pq_train

    class NoJobs:
        """A frame stand-in that fails if pq_train starts the seed job."""

        sparkSession = spark

        def orderBy(self, *cols):
            raise AssertionError("the seed job ran before the dim check")

    with pytest.raises(ValueError, match="not divisible by m=3"):
        pq_train(NoJobs(), m=3, dim=8)
    empty = spark.createDataFrame([], "vec_id long, embedding array<float>")
    with pytest.raises(ValueError, match="empty"):
        pq_train(empty, m=4, k_sub=2)
