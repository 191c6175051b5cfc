"""Similarity-search operators over embedding DataFrames.

ANN family (task brief): brute-force cosine top-k as the exact baseline,
sign-LSH bucketing and IVF coarse quantization as the scale paths (probe
1/K of the data, then exact rerank). All JVM-side folds over
zip_with-multiplied double arrays — no Python in the scoring loop; the
query vector / centroid table are broadcast. Oracle-verified value-for-
value by the sim_* harness queries.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def dot(a: Column, b: Column) -> Column:
    """Sequential fold — accumulation order matches DuckDB's list_sum over
    an index comprehension, so rounded values agree cross-engine."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x
    )


def norm(a: Column) -> Column:
    return F.sqrt(dot(a, a))


def cosine_topk(
    df: DataFrame, query: DataFrame, k: int = 10,
    id_col: str = "vec_id", vec_col: str = "embedding", extra_cols=("label",),
) -> DataFrame:
    """Exact brute-force top-k by cosine; ``query`` is a 1-row DataFrame
    with column ``qv`` (broadcast). Deterministic tiebreak on id."""
    emb = F.col(vec_col).cast("array<double>")
    q = F.col("qv").cast("array<double>")
    cos = dot(emb, q) / (norm(emb) * norm(q))
    scored = df.crossJoin(F.broadcast(query)).select(
        id_col, *extra_cols, cos.alias("cos_raw")
    )
    # TakeOrderedAndProject (per-partition heap + driver merge), not a
    # global row_number() window that funnels every row to one partition.
    return (
        scored.orderBy(F.col("cos_raw").desc(), id_col)
        .limit(k)
        .select(id_col, *extra_cols, F.round("cos_raw", 5).alias("cosine"))
    )


def lsh_bucket(vec_col: Column, planes: list[list[float]]) -> Column:
    """Sign-LSH bucket id from fixed hyperplanes (broadcast-free: the
    planes are plan literals)."""
    emb = vec_col.cast("array<double>")
    return sum(
        F.when(
            dot(emb, F.array(*[F.lit(float(x)) for x in plane])) > 0, 1 << p
        ).otherwise(0)
        for p, plane in enumerate(planes)
    )


def dist2(a: Column, b: Column) -> Column:
    """Squared L2 distance, same sequential-fold discipline as :func:`dot`
    (left-to-right double adds — bit-identical to a plain Python loop,
    which is what the pure-Python oracle twins rely on)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def ivf_assign(
    df: DataFrame, centroids: DataFrame,
    id_col: str = "vec_id", vec_col: str = "embedding",
    metric: str = "cosine",
) -> DataFrame:
    """Coarse quantization: each vector joins its best centroid
    (max-cosine, or min-L2 with ``metric="l2"`` — the PQ convention);
    centroids is a small DataFrame (cid, cemb) — broadcast. The returned
    ``cid`` is the IVF cell / partition key at scale.

    argmin is groupBy + max_by (NOT a per-id window): the broadcast
    crossJoin keeps all K centroid rows of a vector inside its input
    partition, so map-side partial aggregation collapses them before the
    shuffle — the exchange carries 1 row per vector instead of K.
    Tiebreak matches ORDER BY sim DESC, cid ASC via max_by(struct(sim, -cid)).
    """
    emb = F.col(vec_col).cast("array<double>")
    cemb = F.col("cemb").cast("array<double>")
    if metric == "cosine":
        sim = dot(emb, cemb) / (norm(emb) * norm(cemb))
    elif metric == "l2":
        sim = -dist2(emb, cemb)  # max(-d2) == min distance
    else:
        raise ValueError(f"unknown metric {metric!r}")
    others = [c for c in df.columns if c != id_col]
    key = F.struct(F.col("simc").alias("s"), (-F.col("cid")).alias("c"))
    return (
        df.crossJoin(F.broadcast(centroids))
        .withColumn("simc", sim)
        .groupBy(id_col)
        .agg(F.max_by(F.struct(*others, "cid"), key).alias("_b"))
        .select(id_col, *[F.col(f"_b.{c}").alias(c) for c in others + ["cid"]])
    )


def kmeans_step(
    df: DataFrame, centroids: DataFrame,
    id_col: str = "vec_id", vec_col: str = "embedding",
    metric: str = "cosine",
) -> DataFrame:
    """One Lloyd iteration for IVF centroid training: assign every vector
    to its max-cosine centroid (``ivf_assign`` — broadcast centroids,
    partial max_by), then recompute per-cell element-wise means. Returns
    LONG form ``(cid, pos, n, c_mean)``: after the map-side combine each
    task contributes at most K*dim partial (sum, count) rows to the
    exchange — the raw vectors never ride a shuffle, so one iteration
    costs one broadcast pass + one tiny aggregate regardless of corpus
    size. A single step is SQL-expressible and oracle-matched
    (sim_kmeans_step); iteration is :func:`kmeans_fit`.
    """
    assigned = ivf_assign(df, centroids, id_col, vec_col, metric)
    elems = assigned.select(
        "cid",
        F.posexplode(F.col(vec_col).cast("array<double>")).alias("pos0", "v"),
    )
    return (
        elems.groupBy("cid", (F.col("pos0") + 1).cast("long").alias("pos"))
        .agg(
            F.count("*").cast("long").alias("n"),
            F.round(F.avg("v"), 5).alias("c_mean"),
        )
        .select("cid", "pos", "n", "c_mean")
    )


def kmeans_fit(
    df: DataFrame, centroids: DataFrame, iters: int = 5,
    id_col: str = "vec_id", vec_col: str = "embedding",
    metric: str = "cosine",
) -> DataFrame:
    """Iterated Lloyd: run ``kmeans_step`` ``iters`` times, rebuilding the
    centroid table from the step output each round. The per-round
    ``collect()`` is K*dim scalars (the centroids themselves — the natural
    driver-side artifact of k-means, bounded by the model size, never by
    the data), re-broadcast as plan literals for the next assignment pass.
    Returns the final centroid DataFrame (cid, cemb).

    Empty cells: a centroid that receives zero assignments is absent from
    the step's grouped output; it is CARRIED FORWARD unchanged (standard
    Lloyd dying-cluster handling) rather than silently dropped, so K is
    stable across rounds and a cell can win vectors again later (r3
    ADVICE)."""
    spark = df.sparkSession
    cents = centroids
    prev = {
        int(r["cid"]): [float(v) for v in r["cemb"]] for r in centroids.collect()
    }
    for _ in range(iters):
        rows = kmeans_step(df, cents, id_col, vec_col, metric).collect()
        by_cid: dict = {}
        for r in rows:
            by_cid.setdefault(int(r["cid"]), {})[r["pos"]] = r["c_mean"]
        nxt = {
            cid: [float(means[p]) for p in sorted(means)]
            for cid, means in by_cid.items()
        }
        # carry forward the previous centroid for any cell with no assignments
        for cid, cemb in prev.items():
            nxt.setdefault(cid, cemb)
        prev = nxt
        lit = sorted(nxt.items())
        cents = spark.createDataFrame(lit, "cid long, cemb array<double>")
    return cents


# ---------------------------------------------------------------------------
# Product Quantization (PQ): the standard embedding-compression path at
# 100 TB scale — a 64-dim float32 vector (256 B) becomes m sub-codes
# (m bytes at k<=256), and approximate distances are computed from a tiny
# per-query lookup table without touching raw vectors. Jegou et al., "Product
# Quantization for Nearest Neighbor Search" (TPAMI 2011).
# ---------------------------------------------------------------------------


def pq_train(
    df: DataFrame, m: int = 4, k_sub: int = 8, iters: int = 3,
    id_col: str = "vec_id", vec_col: str = "embedding", dim: int | None = None,
) -> DataFrame:
    """Train per-subspace codebooks: split the vector into ``m`` equal
    slices and Lloyd-fit ``k_sub`` centroids per subspace (L2, the PQ
    convention), seeded deterministically from the ``k_sub`` smallest ids'
    subvectors. Returns (sub, cid, cemb).

    Each subspace fit is the existing :func:`kmeans_fit` loop — raw
    vectors never shuffle (K*subdim partial sums only), the per-round
    collect is model-sized. m*iters tiny jobs total; at 100 TB you train
    on a sampled slice (stratified_sample upstream) and broadcast the
    resulting m*k_sub-row codebook everywhere, so training cost is
    independent of corpus size."""
    spark = df.sparkSession

    def check_dim(dim: int) -> None:
        if dim % m:
            raise ValueError(f"dim {dim} not divisible by m={m}")

    if dim is not None:
        check_dim(dim)  # before the seed job, not after it
    # seeds: the k_sub smallest ids' subvectors for every subspace from
    # ONE model-sized collect of the full vectors, sliced driver-side
    # (float32 -> float64 widening is exact either side of the boundary).
    # Collected FIRST so dim can be read off the seed rows (r6 third
    # pass): the dim=None path previously paid a whole extra first() job
    # over the full frame just to learn the vector width.
    seed_rows = (
        df.orderBy(id_col).limit(k_sub)
        .select(F.col(vec_col).cast("array<double>").alias("v"))
        .collect()
    )
    if not seed_rows:
        raise ValueError("pq_train needs at least one vector; the input frame is empty")
    if dim is None:
        dim = len(seed_rows[0]["v"])
        check_dim(dim)
    d = dim // m

    # r6: ONE Lloyd loop over the combined (sub, id, subvec) frame instead
    # of m independent kmeans_fit loops — every driver-synchronized step
    # (seed collect, per-iteration step collect) now serves all m
    # subspaces at once, cutting ~22 tiny jobs to ~5 (14.9 -> ~4 s at
    # sf0.1). Per-(sub, cid, pos) groups see the same values in the same
    # id-ascending order as the per-subspace loops, the assignment uses
    # the same -dist2/max_by tiebreak, and the means round identically,
    # so the codebook is value-identical (literal oracles unchanged).
    # lazy checkpoint (r6 third pass): the first iteration's assignment
    # job materializes + caches sv — same compute, one fewer driver-
    # synchronized job than the old eager materialization.
    sv = _pq_subvectors(df, m, d, id_col, vec_col).localCheckpoint(eager=False)
    prev: dict = {
        (j, i): [float(x) for x in r["v"][j * d : (j + 1) * d]]
        for j in range(m)
        for i, r in enumerate(seed_rows)
    }
    # per-iteration Column trees hoisted out of the loop (r6 third pass:
    # expression construction is driver-side work — build once)
    dist = dist2(F.col("v"), F.col("cemb"))
    key = F.struct(F.col("simc").alias("s"), (-F.col("cid")).alias("c"))
    mean_agg = F.round(F.avg("x"), 5).alias("c_mean")
    for _ in range(iters):
        cents = spark.createDataFrame(
            [(s, c, v) for (s, c), v in sorted(prev.items())],
            "sub int, cid long, cemb array<double>",
        )
        assigned = (
            sv.join(F.broadcast(cents), "sub")
            .withColumn("simc", -dist)
            .groupBy(id_col, "sub")
            .agg(F.max_by(F.struct("v", "cid"), key).alias("_b"))
            .select("sub", F.col("_b.cid").alias("cid"), F.col("_b.v").alias("v"))
        )
        rows = (
            assigned.select(
                "sub", "cid", F.posexplode(F.col("v")).alias("pos0", "x")
            )
            .groupBy("sub", "cid", (F.col("pos0") + 1).alias("pos"))
            .agg(mean_agg)
            .collect()
        )
        by_cell: dict = {}
        for r in rows:
            by_cell.setdefault((int(r["sub"]), int(r["cid"])), {})[
                r["pos"]
            ] = r["c_mean"]
        nxt = {
            cell: [float(means[p]) for p in sorted(means)]
            for cell, means in by_cell.items()
        }
        # carry forward unassigned cells unchanged (kmeans_fit parity)
        for cell, cemb in prev.items():
            nxt.setdefault(cell, cemb)
        prev = nxt
    return spark.createDataFrame(
        [(s, c, v) for (s, c), v in sorted(prev.items())],
        "sub int, cid long, cemb array<double>",
    )


def _pq_subvectors(df: DataFrame, m: int, d: int, id_col: str, vec_col: str):
    """(id, sub, subvec) — one exploded row per subspace, built with a
    lambda-safe arrays_zip-free slice stack (m is tiny and static)."""
    subs = F.array(*[
        F.struct(
            F.lit(j).alias("sub"),
            F.slice(F.col(vec_col).cast("array<double>"), j * d + 1, d).alias("v"),
        )
        for j in range(m)
    ])
    return df.select(id_col, F.explode(subs).alias("s")).select(
        id_col, F.col("s.sub").alias("sub"), F.col("s.v").alias("v")
    )


def pq_encode(
    df: DataFrame, codebook: DataFrame, m: int = 4,
    id_col: str = "vec_id", vec_col: str = "embedding", dim: int | None = None,
) -> DataFrame:
    """Encode every vector as its per-subspace nearest (L2) centroid ids:
    (id, codes array<long>) with codes[j] the cid for subspace j.

    One broadcast crossJoin against the m*k_sub-row codebook, one
    map-side-combined min_by per (id, sub) — the exchange carries m rows
    per vector — then one groupBy(id) packing codes in subspace order.
    Deterministic tiebreak (distance, then cid)."""
    if dim is None:
        # subspace width off the m*k_sub-row codebook (r6 third pass): a
        # LocalTableScan/tiny-frame first() instead of a whole scan job
        # over the full vector frame just to learn the vector width.
        d = len(codebook.select("cemb").first()[0])
    else:
        d = dim // m
    # NOT spread (r6 third pass, measured): forcing a repartition here
    # was a wash at sf0.1 (the fold subtree overlaps other AQE stages)
    # and a mandatory full-frame exchange inside a scale-generic
    # operator taxes every caller at 100 TB; callers that need map
    # parallelism spread their input at the query level instead.
    sv = _pq_subvectors(df, m, d, id_col, vec_col)
    dist = dist2(F.col("v"), F.col("cemb"))
    key = F.struct((-F.col("_d")).alias("nd"), (-F.col("cid")).alias("nc"))
    assigned = (
        sv.join(F.broadcast(codebook), "sub")
        .withColumn("_d", dist)
        .groupBy(id_col, "sub")
        .agg(F.max_by("cid", key).alias("code"))
    )
    packed = assigned.groupBy(id_col).agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("sub", "code"))),
            lambda x: x["code"],
        ).alias("codes")
    )
    return packed


def pq_search(
    codes: DataFrame, codebook: DataFrame, query: DataFrame, k: int = 10,
    m: int = 4, id_col: str = "vec_id",
) -> DataFrame:
    """Asymmetric distance computation (ADC) top-k: the query stays exact,
    each database vector is its m codes. The per-query lookup table
    (sub, cid) -> dist2(q_sub, centroid) is m*k_sub rows built by one
    broadcast pass; approximate distance = sum over subspaces of
    lut[sub][codes[sub]], folded per row with ONE broadcast join on the
    exploded (id, sub, code) triples and a map-side-combined sum — the
    exchange carries 1 partial row per vector. Global top-k is
    TakeOrderedAndProject (adc asc, id asc)."""
    q = query.select(F.col("qv").cast("array<double>").alias("qv"))
    d_sub = F.size(F.col("cemb"))
    lut = (
        codebook.crossJoin(F.broadcast(q))
        .select(
            "sub", "cid",
            dist2(
                F.slice(F.col("qv"), F.col("sub") * d_sub + 1, d_sub),
                F.col("cemb"),
            ).alias("ld"),
        )
    )
    triples = codes.select(
        id_col, F.posexplode("codes").alias("sub", "code")
    )
    scored = (
        triples.join(
            F.broadcast(lut),
            (triples["sub"] == lut["sub"]) & (triples["code"] == lut["cid"]),
        )
        .groupBy(id_col)
        .agg(F.sum("ld").alias("adc_raw"))
    )
    return (
        scored.orderBy(F.asc("adc_raw"), F.asc(id_col))
        .limit(k)
        .select(id_col, F.round("adc_raw", 5).alias("adc"))
    )


def ivfpq_build(
    df: DataFrame, coarse: DataFrame, m: int = 4, k_sub: int = 8,
    iters: int = 3, id_col: str = "vec_id", vec_col: str = "embedding",
) -> tuple[DataFrame, DataFrame]:
    """IVF-PQ index build (the FAISS production composite): assign every
    vector to its nearest coarse centroid (L2), subtract it, and
    product-quantize the RESIDUAL — residuals are small and centered so
    the same per-subspace codebook budget buys far less quantization
    error than PQ on raw vectors. Returns (codebook, index) where index
    is (id, cell, codes).

    Scale shape: the residual is a zip_with column expression fused into
    the assignment pass (no second scan); codebook training and encoding
    are the existing pq_train/pq_encode plans over the residual frame —
    raw vectors still never shuffle."""
    assigned = ivf_assign(df, coarse, id_col, vec_col, metric="l2")
    resid = (
        assigned.join(
            F.broadcast(coarse.withColumnRenamed("cid", "cell")),
            assigned["cid"] == F.col("cell"),
        )
        .select(
            id_col,
            F.col("cid").alias("cell"),
            F.zip_with(
                F.col(vec_col).cast("array<double>"),
                F.col("cemb"),
                lambda x, c: x - c,
            ).alias("resid"),
        )
        # r6: the residual frame is consumed 4x (pq_train's seed collect,
        # the subvector checkpoint, pq_encode, the index join) and Spark
        # has no cross-plan reuse (r3 learning) — without the barrier the
        # coarse-assignment crossJoin + zip_with lineage recomputes each
        # time. Lazy so a single-consumer caller pays no extra job.
        .localCheckpoint(eager=False)
    )
    book = pq_train(resid, m=m, k_sub=k_sub, iters=iters,
                    id_col=id_col, vec_col="resid")
    codes = pq_encode(resid, book, m=m, id_col=id_col, vec_col="resid")
    index = codes.join(resid.select(id_col, "cell"), id_col)
    return book, index


def ivfpq_search(
    index: DataFrame, book: DataFrame, coarse: DataFrame, query: DataFrame,
    k: int = 10, m: int = 4, n_probe: int = 1, id_col: str = "vec_id",
) -> DataFrame:
    """IVF-PQ ADC search: probe the ``n_probe`` nearest coarse cells and
    rank their members by cell_dist-corrected ADC over RESIDUAL codes —
    dist2(q, x) ~ dist2(q - c_cell, resid_codes). Only probed cells'
    code rows are touched (cell-pruned scan: the filter is a join
    against the probed-cell list, pushable to a cell-partitioned index
    table at scale); per-(cell, sub, cid) LUT rows are
    n_probe * m * k_sub — broadcast."""
    q = query.select(F.col("qv").cast("array<double>").alias("qv"))
    cd = dist2(F.col("qv"), F.col("cemb"))
    probed = (
        coarse.crossJoin(F.broadcast(q))
        .select(F.col("cid").alias("cell"), cd.alias("_cd"), "cemb", "qv")
        .orderBy(F.asc("_cd"), F.asc("cell"))
        .limit(n_probe)
    )
    # residual query per probed cell: q - c_cell
    qres = probed.select(
        "cell",
        F.zip_with("qv", "cemb", lambda x, c: x - c).alias("qres"),
    )
    d_sub = F.size(F.col("cemb"))
    lut = (
        book.crossJoin(F.broadcast(qres))
        .select(
            "cell", "sub", "cid",
            dist2(
                F.slice(F.col("qres"), F.col("sub") * d_sub + 1, d_sub),
                F.col("cemb"),
            ).alias("ld"),
        )
    )
    triples = index.join(
        F.broadcast(qres.select("cell")), "cell"
    ).select(id_col, "cell", F.posexplode("codes").alias("sub", "code"))
    scored = (
        triples.join(
            F.broadcast(lut),
            (triples["cell"] == lut["cell"])
            & (triples["sub"] == lut["sub"])
            & (triples["code"] == lut["cid"]),
        )
        .groupBy(id_col)
        .agg(F.sum("ld").alias("adc_raw"))
    )
    return (
        scored.orderBy(F.asc("adc_raw"), F.asc(id_col))
        .limit(k)
        .select(id_col, F.round("adc_raw", 5).alias("adc"))
    )
