"""Driver-harness query registry: Spark queries + DuckDB oracle SQL.

Every SQL-expressible operator from SURVEY.md §2 gets a (Spark callable,
ANSI-SQL oracle) pair over the read-only /root/testdata tables, plus the
training-data-pipeline operators (dedup, similarity search, text analysis).
Column names and float rounding are kept identical on both sides because the
driver compares by (row count, schema, order-insensitive value hash).

Cross-engine determinism notes:
* hashes: md5 hex -> bigint is identical in Spark (``conv(substr(md5,..)``)
  and DuckDB (``CAST('0x'||substr(md5,..) AS BIGINT)``).
* floats: every emitted double is ``round(x, k)`` on both sides.
* timestamps: only integer date parts are emitted (no tz/dtype hazards).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F

# word / sentence / syllable regexes: the scorer's own, used verbatim in both
# engines (Java regex and RE2 agree on these constructs).
from .functions.readability import SENT_RE, SILENT_E_RE, WORD_RE
from .functions.readability import VOWEL_GROUP_RE as VOWEL_RE

# ---------------------------------------------------------------------------
# registry plumbing
# ---------------------------------------------------------------------------

QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {}
ORACLES: dict[str, str] = {}


def query(name: str, sql: str | None = None):
    def deco(fn):
        QUERIES[name] = fn
        if sql is not None:
            ORACLES[name] = sql
        return fn

    return deco


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def _scratch_dir(prefix: str) -> str:
    """Per-invocation scratch directory for queries that plant source files.

    A fresh mkdtemp per call (not a fixed /tmp path) so two concurrent
    harness runs can't clobber each other's planted fixtures (r3 ADVICE).
    Registered for interpreter-exit cleanup; the handful of KBs written per
    harness run are bounded either way."""
    import atexit
    import shutil
    import tempfile

    path = tempfile.mkdtemp(prefix=prefix + "_")
    atexit.register(shutil.rmtree, path, ignore_errors=True)
    return path


def _utc(spark: SparkSession) -> None:
    spark.conf.set("spark.sql.session.timeZone", "UTC")


import contextlib
import os as _os


@contextlib.contextmanager
def _stream_state_partitions(spark: SparkSession, n: int = 8):
    """Bound streaming state-store overhead (r6): a stateful streaming
    query creates one state-store instance PER shuffle partition PER
    micro-batch (open, commit, snapshot bookkeeping), so running these
    replay fixtures at the session's compute width (32) paid 32 state
    stores x N triggers for a keyspace of a few hundred (window, key)
    rows. State partitions should be dimensioned to STATE SIZE, not core
    count — these fixtures' keyspace is O(hundreds) at every SF, so 8
    bounds the bookkeeping while leaving headroom (measured 17.0 -> 7.2 s
    on ev_stream_late, 15.5 -> 8.4 s on tp3_stream_ingest at sf0.1; at
    real scale raise SPARK_GRAFT_STREAM_PARTITIONS with the keyspace).
    The partition count is captured by the query AT START and restored
    for everything batch afterwards."""
    n = int(_os.environ.get("SPARK_GRAFT_STREAM_PARTITIONS", str(n)))
    old = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", str(n))
    try:
        yield
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old)


def _spread(df: DataFrame, *cols: str) -> DataFrame:
    """Recover map-side parallelism for per-row-expensive work over small
    parquet inputs (r6): the testdata tables are single-row-group files,
    and a parquet row group is the split unit, so every scan stage is ONE
    task and the per-row regex/vector work ahead of the first exchange
    runs single-threaded no matter how many cores the session has. A
    projection to just the needed columns (guide §2.3) followed by a
    round-robin repartition to the session's shuffle parallelism costs a
    tiny exchange (the projected table is a few MB) and buys back N-way
    parallelism for the expensive expressions. Scale-adaptive by
    construction: the width follows spark.sql.shuffle.partitions, and at
    real scale (many row groups) the same shuffle is a no-op-sized
    rebalance, not a constant tuned to this box."""
    n = int(df.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    if cols:
        df = df.select(*cols)
    return df.repartition(n)


# ---------------------------------------------------------------------------
# S/A — sources, ordered concatenation (SURVEY §2.1, §2.4: A1/A2/S3)
# ---------------------------------------------------------------------------


@query(
    "a1_ordered_concat",
    """
    SELECT source,
           string_agg(text, ' ' ORDER BY doc_id) AS transcript,
           count(*) AS n_docs
    FROM documents GROUP BY source
    """,
)
def a1_ordered_concat(spark, sf_dir):
    """Ordered group-concat — the reference's page-markdown join
    (utils/text_extract_MistralAI.py:32-37) as groupBy + array_join over a
    sorted collect_list."""
    d = _t(spark, sf_dir, "documents")
    return d.groupBy("source").agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("doc_id", "text"))),
                lambda x: x["text"],
            ),
            " ",
        ).alias("transcript"),
        F.count("*").alias("n_docs"),
    )


@query(
    "s9_point_lookup",
    "SELECT doc_id, lang, source, n_chars FROM documents WHERE doc_id = 42",
)
def s9_point_lookup(spark, sf_dir):
    """ChromaDB point get (utils/chroma_utility.py:36-44) — predicate-pushdown
    point lookup."""
    return _t(spark, sf_dir, "documents").where(F.col("doc_id") == 42).select(
        "doc_id", "lang", "source", "n_chars"
    )


@query(
    "a3_first_per_group",
    """
    SELECT source, min_by(doc_id, n_chars * 10000000 + doc_id) AS smallest_doc,
           arg_max(doc_id, n_chars * 10000000 + doc_id) AS largest_doc
    FROM documents GROUP BY source
    """,
)
def a3_first_per_group(spark, sf_dir):
    """The reference's first-image-only quirk (text_extract_MistralAI.py:47-52)
    as min_by/max_by."""
    return (
        _t(spark, sf_dir, "documents")
        .groupBy("source")
        .agg(
            F.min_by("doc_id", F.col("n_chars") * 10000000 + F.col("doc_id")).alias("smallest_doc"),
            F.max_by("doc_id", F.col("n_chars") * 10000000 + F.col("doc_id")).alias("largest_doc"),
        )
    )


# ---------------------------------------------------------------------------
# P — projections / filters / predicates (SURVEY §2.2)
# ---------------------------------------------------------------------------


@query(
    "p2_predicates",
    """
    SELECT source, count(*) AS n
    FROM documents
    WHERE ends_with(lower(source), '1') AND n_chars > 100
    GROUP BY source
    """,
)
def p2_predicates(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    return (
        d.where(F.lower("source").endswith("1") & (F.col("n_chars") > 100))
        .groupBy("source")
        .count()
        .withColumnRenamed("count", "n")
    )


@query(
    "p3_substring_truncation",
    """
    SELECT doc_id, substr(text, 1, 100) AS prefix,
           length(substr(text, 1, 100)) AS prefix_len
    FROM documents WHERE doc_id < 25
    """,
)
def p3_substring_truncation(spark, sf_dir):
    """Validation-prefix truncation (agents/nodes.py:136)."""
    d = _t(spark, sf_dir, "documents").where(F.col("doc_id") < 25)
    p = F.substring("text", 1, 100)
    return d.select(
        "doc_id", p.alias("prefix"), F.length(p).cast("long").alias("prefix_len")
    )


@query(
    "p5_error_prefix_gate",
    """
    SELECT CASE WHEN starts_with(text, 'key') THEN 'quarantine' ELSE 'ok' END AS channel,
           count(*) AS n, CAST(sum(n_chars) AS BIGINT) AS total_chars
    FROM documents GROUP BY 1
    """,
)
def p5_error_prefix_gate(spark, sf_dir):
    """ERROR-prefix routing (routes/route.py:136-138) as a channel split."""
    d = _t(spark, sf_dir, "documents")
    return (
        d.withColumn(
            "channel",
            F.when(F.col("text").startswith("key"), "quarantine").otherwise("ok"),
        )
        .groupBy("channel")
        .agg(F.count("*").alias("n"), F.sum("n_chars").alias("total_chars"))
    )


@query(
    "p6_criteria_conjunction",
    """
    SELECT count(*) AS n_valid
    FROM documents
    WHERE lang = 'en' AND n_chars BETWEEN 150 AND 450
      AND len(regexp_extract_all(text, '[A-Za-z0-9'']+')) >= 20
    """,
)
def p6_criteria_conjunction(spark, sf_dir):
    """Three-check validation conjunction (agents/nodes.py:260-270)."""
    d = _t(spark, sf_dir, "documents")
    return d.where(
        (F.col("lang") == "en")
        & F.col("n_chars").between(150, 450)
        & (F.regexp_count("text", F.lit(WORD_RE)) >= 20)
    ).agg(F.count("*").alias("n_valid"))


@query(
    "p8_split_counts",
    """
    SELECT CASE WHEN n_chars >= 250 THEN 'valid' ELSE 'quarantine' END AS route,
           count(*) AS n
    FROM documents GROUP BY 1
    """,
)
def p8_split_counts(spark, sf_dir):
    """Valid/quarantine conditional edge (agents/graph.py:31-42) — counts of
    the two branches must sum to the input count."""
    d = _t(spark, sf_dir, "documents")
    return (
        d.withColumn(
            "route", F.when(F.col("n_chars") >= 250, "valid").otherwise("quarantine")
        )
        .groupBy("route")
        .count()
        .withColumnRenamed("count", "n")
    )


# ---------------------------------------------------------------------------
# J — joins (SURVEY §2.3)
# ---------------------------------------------------------------------------


@query(
    "j2_semi_join_lookup",
    """
    SELECT lang, count(*) AS n, CAST(sum(n_chars) AS BIGINT) AS total_chars
    FROM documents
    WHERE doc_id IN (SELECT DISTINCT user_id FROM events WHERE event_type = 'purchase')
    GROUP BY lang
    """,
)
def j2_semi_join_lookup(spark, sf_dir):
    """Batched id->document retrieval (routes/route.py:201) as a broadcast
    left-semi join."""
    d = _t(spark, sf_dir, "documents")
    ids = (
        _t(spark, sf_dir, "events")
        .where(F.col("event_type") == "purchase")
        .select(F.col("user_id").alias("doc_id"))
        .distinct()
    )
    return (
        d.join(F.broadcast(ids), "doc_id", "left_semi")
        .groupBy("lang")
        .agg(F.count("*").alias("n"), F.sum("n_chars").alias("total_chars"))
    )


@query(
    "j3_anti_join_resume",
    """
    SELECT count(*) AS n_todo, CAST(sum(n_chars) AS BIGINT) AS todo_chars
    FROM documents
    WHERE doc_id NOT IN (SELECT doc_id FROM documents WHERE doc_id % 7 = 0)
    """,
)
def j3_anti_join_resume(spark, sf_dir):
    """Checkpoint-resume skip: anti-join against the committed set
    (SURVEY §4.3); committed = doc_id % 7 = 0."""
    d = _t(spark, sf_dir, "documents")
    committed = d.where(F.col("doc_id") % 7 == 0).select("doc_id")
    return (
        d.join(F.broadcast(committed), "doc_id", "left_anti")
        .agg(F.count("*").alias("n_todo"), F.sum("n_chars").alias("todo_chars"))
    )


@query(
    "j4_metadata_enrichment",
    """
    SELECT r_name, count(*) AS n_customers, round(avg(c_acctbal), 2) AS avg_bal
    FROM customer
    JOIN nation ON c_nationkey = n_nationkey
    JOIN region ON n_regionkey = r_regionkey
    GROUP BY r_name
    """,
)
def j4_metadata_enrichment(spark, sf_dir):
    """Metadata enrichment (agents/helper.py:135-140) as broadcast equi-joins
    of small dims."""
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region")
    return (
        c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("r_name")
        .agg(
            F.count("*").alias("n_customers"),
            F.round(F.avg("c_acctbal"), 2).alias("avg_bal"),
        )
    )


# ---------------------------------------------------------------------------
# W — windows / ordering (SURVEY §2.5)
# ---------------------------------------------------------------------------


@query(
    "w1_reading_order_topk",
    """
    SELECT lang, doc_id, rn FROM (
      SELECT lang, doc_id,
             row_number() OVER (PARTITION BY lang ORDER BY n_chars DESC, doc_id) AS rn
      FROM documents
    ) WHERE rn <= 3
    """,
)
def w1_reading_order_topk(spark, sf_dir):
    """Reading-order ranking (routes/route.py:122-126 page order) as
    row_number window + top-k filter (W1/W4)."""
    d = _t(spark, sf_dir, "documents")
    w = W.partitionBy("lang").orderBy(F.col("n_chars").desc(), F.col("doc_id"))
    return (
        d.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= 3)
        .select("lang", "doc_id", F.col("rn").cast("long").alias("rn"))
    )


@query(
    "w2_running_offset",
    """
    SELECT doc_id, source,
           CAST(coalesce(sum(n_chars) OVER (
             PARTITION BY source ORDER BY doc_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS offset
    FROM documents WHERE source IN ('src0', 'src1')
    """,
)
def w2_running_offset(spark, sf_dir):
    """Cumulative output-offset recomputation (W2): running sum with a
    rowsBetween(unboundedPreceding, -1) frame."""
    d = _t(spark, sf_dir, "documents").where(F.col("source").isin("src0", "src1"))
    w = (
        W.partitionBy("source")
        .orderBy("doc_id")
        .rowsBetween(W.unboundedPreceding, -1)
    )
    return d.select(
        "doc_id",
        "source",
        F.coalesce(F.sum("n_chars").over(w), F.lit(0)).alias("offset"),
    )


@query(
    "w3_modal_rank",
    """
    SELECT lang, bucket, n, rnk FROM (
      SELECT lang, bucket, n,
             rank() OVER (PARTITION BY lang ORDER BY n DESC, bucket) AS rnk
      FROM (
        SELECT lang, n_chars // 100 AS bucket, count(*) AS n
        FROM documents GROUP BY 1, 2
      )
    ) WHERE rnk <= 2
    """,
)
def w3_modal_rank(spark, sf_dir):
    """Font-size-histogram mode finding (W3): count per bucket + rank to find
    the modal class."""
    d = _t(spark, sf_dir, "documents")
    counts = (
        d.withColumn("bucket", (F.col("n_chars") / 100).cast("long"))
        .groupBy("lang", "bucket")
        .agg(F.count("*").alias("n"))
    )
    w = W.partitionBy("lang").orderBy(F.col("n").desc(), F.col("bucket"))
    return (
        counts.withColumn("rnk", F.rank().over(w))
        .where(F.col("rnk") <= 2)
        .select("lang", "bucket", "n", F.col("rnk").cast("long").alias("rnk"))
    )


# ---------------------------------------------------------------------------
# V — deterministic readability validation in pure SQL (SURVEY §2.6 V1/E4)
# ---------------------------------------------------------------------------


@query(
    "v1_readability_sql",
    f"""
    SELECT doc_id, n_words, n_sents,
           round(0.39 * (n_words / n_sents)
                 + 11.8 * (n_syll / greatest(n_words, 1)) - 15.59, 4) AS fk_grade
    FROM (
      SELECT doc_id,
             len(regexp_extract_all(text, '{WORD_RE.replace("'", "''")}')) AS n_words,
             greatest(len(regexp_extract_all(text, '{SENT_RE}')), 1) AS n_sents,
             greatest(len(regexp_extract_all(text, '{WORD_RE.replace("'", "''")}')),
                      len(regexp_extract_all(text, '{VOWEL_RE}'))
                      - len(regexp_extract_all(text, '{SILENT_E_RE}'))) AS n_syll
      FROM documents WHERE doc_id < 50
    )
    """,
)
def v1_readability_sql(spark, sf_dir):
    """Flesch-Kincaid grade computed with the engine's own regex recipe —
    proves the scorer's feature extraction is SQL-checkable (replaces the
    LLM validator, agents/nodes.py:229-258)."""
    d = _t(spark, sf_dir, "documents").where(F.col("doc_id") < 50)
    n_words = F.regexp_count("text", F.lit(WORD_RE))
    n_sents = F.greatest(F.regexp_count("text", F.lit(SENT_RE)), F.lit(1))
    n_syll = F.greatest(
        n_words,
        F.regexp_count("text", F.lit(VOWEL_RE))
        - F.regexp_count("text", F.lit(SILENT_E_RE)),
    )
    fk = F.round(
        0.39 * (n_words / n_sents) + 11.8 * (n_syll / F.greatest(n_words, F.lit(1))) - 15.59,
        4,
    )
    return d.select(
        "doc_id",
        n_words.cast("long").alias("n_words"),
        n_sents.cast("long").alias("n_sents"),
        fk.alias("fk_grade"),
    )


# ---------------------------------------------------------------------------
# Aggregation rollups (A4 lineage analog) + TPC-H Q1 shape
# ---------------------------------------------------------------------------


@query(
    "a4_lineage_rollup",
    """
    SELECT event_type, count(*) AS n_events,
           round(sum(value), 2) AS total_value,
           count(DISTINCT user_id) AS n_users
    FROM events GROUP BY event_type
    """,
)
def a4_lineage_rollup(spark, sf_dir):
    """Per-partition metrics rollup (SSE progress accounting,
    routes/route.py:205-268 -> lineage GROUP BY)."""
    e = _t(spark, sf_dir, "events")
    return e.groupBy("event_type").agg(
        F.count("*").alias("n_events"),
        F.round(F.sum("value"), 2).alias("total_value"),
        F.countDistinct("user_id").alias("n_users"),
    )


@query(
    "q1_pricing_summary",
    """
    SELECT l_returnflag, l_linestatus,
           round(sum(l_quantity), 2) AS sum_qty,
           round(sum(l_extendedprice), 2) AS sum_base_price,
           round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
           round(avg(l_quantity), 4) AS avg_qty,
           count(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
    GROUP BY l_returnflag, l_linestatus
    """,
)
def q1_pricing_summary(spark, sf_dir):
    """TPC-H Q1 shape: the canonical scan->filter->hash-agg plan (bench
    headline)."""
    _utc(spark)
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.where(F.col("l_shipdate") <= "1998-09-02")
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias(
                "sum_disc_price"
            ),
            F.round(F.avg("l_quantity"), 4).alias("avg_qty"),
            F.count("*").alias("count_order"),
        )
    )


# ---------------------------------------------------------------------------
# Events: time rollup + sessionization (streaming semantics, batch-checked)
# ---------------------------------------------------------------------------


@query(
    "ev_hourly_rollup",
    """
    SELECT date_part('day', ts) AS d, date_part('hour', ts) AS h, event_type,
           count(*) AS n, round(sum(value), 2) AS v
    FROM events WHERE ts < TIMESTAMP '2024-01-03 00:00:00'
    GROUP BY 1, 2, 3
    """,
)
def ev_hourly_rollup(spark, sf_dir):
    """Tumbling-window aggregation (batch form of the streaming windowed agg;
    integer date parts keep the comparison tz-proof)."""
    _utc(spark)
    e = _t(spark, sf_dir, "events").where(F.col("ts") < "2024-01-03")
    return e.groupBy(
        F.dayofmonth("ts").cast("long").alias("d"),
        F.hour("ts").cast("long").alias("h"),
        "event_type",
    ).agg(F.count("*").alias("n"), F.round(F.sum("value"), 2).alias("v"))


@query(
    "ev_sessionize",
    """
    SELECT user_id, count(*) AS n_sessions, CAST(sum(n_ev) AS BIGINT) AS n_events FROM (
      SELECT user_id, session_id, count(*) AS n_ev FROM (
        SELECT user_id,
               sum(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS session_id
        FROM (
          SELECT user_id, ts, event_id,
                 CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
                        OR date_diff('second', lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id), ts) > 1800
                      THEN 1 ELSE 0 END AS is_new
          FROM events WHERE user_id < 20
        )
      ) GROUP BY user_id, session_id
    ) GROUP BY user_id
    """,
)
def ev_sessionize(spark, sf_dir):
    """Sessionization: lag + gap>30min cumulative session ids (the batch
    equivalent of session_window in streaming)."""
    _utc(spark)
    e = _t(spark, sf_dir, "events").where(F.col("user_id") < 20)
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    gap = F.unix_timestamp("ts") - F.unix_timestamp(F.lag("ts").over(w))
    is_new = F.when(gap.isNull() | (gap > 1800), 1).otherwise(0)
    sess = e.withColumn("is_new", is_new).withColumn(
        "session_id", F.sum("is_new").over(w)
    )
    per_session = sess.groupBy("user_id", "session_id").agg(
        F.count("*").alias("n_ev")
    )
    return per_session.groupBy("user_id").agg(
        F.count("*").alias("n_sessions"), F.sum("n_ev").alias("n_events")
    )


@query(
    "src_merge_upsert",
    """
    WITH merged AS (
      SELECT doc_id, lang, CAST(n_chars + 1000 AS BIGINT) AS n_chars
      FROM documents WHERE doc_id < 50 AND doc_id % 3 = 0
      UNION ALL
      SELECT doc_id, lang, CAST(n_chars AS BIGINT) AS n_chars
      FROM documents WHERE doc_id < 50 AND doc_id % 3 != 0
      UNION ALL
      SELECT doc_id + 1000 AS doc_id, lang, CAST(n_chars * 2 AS BIGINT) AS n_chars
      FROM documents WHERE doc_id < 5
    )
    SELECT lang, count(*) AS n, CAST(sum(n_chars) AS BIGINT) AS chars,
           CAST(sum(doc_id) AS BIGINT) AS id_sum
    FROM merged GROUP BY lang
    """,
)
def src_merge_upsert(spark, sf_dir):
    """MERGE INTO / upsert semantics (sources.io_catalog.LocalTable.merge
    — the Iceberg copy-on-write shape): seed a catalog table with 50
    docs, merge a re-crawl batch that UPDATES every doc_id % 3 == 0 row
    (n_chars + 1000) and INSERTS 5 brand-new ids, read the snapshot back
    and aggregate. The oracle reconstructs the exact merged state from
    the base table, so the value match proves updated rows replaced
    their originals (no duplicates), untouched rows survived, and
    inserts landed — id_sum pins the row set. Readers only ever see
    whole snapshots: the merge commit is one manifest rename."""
    import tempfile

    from .sources.io_catalog import Catalog

    d = _t(spark, sf_dir, "documents").select(
        "doc_id", "lang", F.col("n_chars").cast("long").alias("n_chars")
    )
    base = d.where(F.col("doc_id") < 50)
    updates = base.where(F.col("doc_id") % 3 == 0).withColumn(
        "n_chars", F.col("n_chars") + 1000
    )
    inserts = d.where(F.col("doc_id") < 5).select(
        (F.col("doc_id") + 1000).alias("doc_id"),
        "lang",
        (F.col("n_chars") * 2).alias("n_chars"),
    )

    root = tempfile.mkdtemp(prefix="atps_merge_")
    tbl = Catalog(root).table("docs")
    tbl.append(base, commit_id="seed")
    tbl.merge(updates.unionByName(inserts), key="doc_id", commit_id="recrawl")
    return (
        tbl.read(spark)
        .groupBy("lang")
        .agg(
            F.count("*").alias("n"),
            F.sum("n_chars").cast("long").alias("chars"),
            F.sum("doc_id").cast("long").alias("id_sum"),
        )
    )


@query(
    "ev_session_window",
    """
    SELECT user_id,
           strftime(min(ts), '%Y-%m-%d %H:%M:%S') AS s_start,
           count(*) AS n
    FROM (
      SELECT user_id, ts,
             sum(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id)
               AS session_id
      FROM (
        SELECT user_id, ts, event_id,
               CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
                      OR date_diff('second',
                                   lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id),
                                   ts) >= 1800
                    THEN 1 ELSE 0 END AS is_new
        FROM events WHERE user_id < 15
      )
    ) GROUP BY user_id, session_id
    """,
)
def ev_session_window(spark, sf_dir):
    """Spark's NATIVE session_window aggregation (the engine-managed
    merging-window operator the stateful streaming sessionizer mirrors),
    exercised in batch and value-matched against the gaps-and-islands
    SQL: per (user, session) the window start must equal the island's
    min(ts) and the counts must agree. Boundary semantics pinned by the
    oracle: session_window closes STRICTLY BEFORE gap = exactly 30 min
    (an event at start + 1800 s opens a NEW session -> the islands SQL
    uses >= 1800). One shuffle on user_id; the windows merge inside the
    aggregation, no per-user Python."""
    _utc(spark)
    e = _t(spark, sf_dir, "events").where(F.col("user_id") < 15)
    return (
        e.groupBy("user_id", F.session_window("ts", "30 minutes").alias("w"))
        .agg(F.count("*").alias("n"))
        .select(
            "user_id",
            F.date_format("w.start", "yyyy-MM-dd HH:mm:ss").alias("s_start"),
            "n",
        )
    )


# ---------------------------------------------------------------------------
# Deduplication (training-data pipeline ops; scale path = minhash-LSH,
# exact jaccard is the verifier on LSH candidates)
# ---------------------------------------------------------------------------

# md5-hex -> bigint works identically in both engines (48-bit slice, no
# overflow); the Spark twin lives in functions.text.word_hash and
# operators.dedup (MH_PRIME / MH_COEFS).
_SQL_WORD_HASH = (
    "CAST(CONCAT('0x', substr(md5({c}), 1, 12)) AS BIGINT) % 2147483647"
)


@query(
    "dd_exact_fingerprint",
    """
    SELECT source, count(*) AS n_docs,
           count(DISTINCT md5(lower(substr(text, 1, 60)))) AS n_unique,
           count(*) - count(DISTINCT md5(lower(substr(text, 1, 60)))) AS n_dups
    FROM documents GROUP BY source
    """,
)
def dd_exact_fingerprint(spark, sf_dir):
    """Exact dedup via content hash — operators.dedup.exact_stats (one
    shuffle on the fingerprint, map-side partial agg at scale)."""
    from .operators.dedup import exact_stats

    return exact_stats(_t(spark, sf_dir, "documents"), "source")


@query(
    "dd_ngram_jaccard",
    """
    WITH toks AS (
      SELECT doc_id, regexp_extract_all(lower(text), '[a-z]+') AS ws
      FROM documents WHERE doc_id < 120
    ), words AS (
      SELECT doc_id,
             unnest([{'i': x, 'w': ws[x]} for x in generate_series(1, len(ws))],
                    recursive := true)
      FROM toks
    ), sh AS (
      SELECT DISTINCT doc_id, shingle FROM (
        SELECT doc_id,
               w || ' ' || lead(w, 1) OVER (PARTITION BY doc_id ORDER BY i)
                 || ' ' || lead(w, 2) OVER (PARTITION BY doc_id ORDER BY i) AS shingle
        FROM words
      ) WHERE shingle IS NOT NULL
    ), sizes AS (
      SELECT doc_id, count(*) AS sz FROM sh GROUP BY doc_id
    ), inter AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_inter
      FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    )
    SELECT doc_a, doc_b, jaccard FROM (
      SELECT doc_a, doc_b,
             round(n_inter * 1.0 / (sa.sz + sb.sz - n_inter), 4) AS jaccard,
             row_number() OVER (
               ORDER BY n_inter * 1.0 / (sa.sz + sb.sz - n_inter) DESC, doc_a, doc_b
             ) AS rn
      FROM inter
      JOIN sizes sa ON inter.doc_a = sa.doc_id
      JOIN sizes sb ON inter.doc_b = sb.doc_id
    ) WHERE rn <= 20
    """,
)
def dd_ngram_jaccard(spark, sf_dir):
    """3-gram-shingle Jaccard near-dup detection via
    operators.dedup.ngram_jaccard_pairs: top-20 most similar pairs (exact
    all-pairs on shared shingles; at 100 TB this runs only on LSH candidate
    pairs, never all-pairs)."""
    from .operators.dedup import ngram_jaccard_pairs

    d = _t(spark, sf_dir, "documents").where(F.col("doc_id") < 120)
    # max_df=None EXPLICITLY: the oracle declares the exhaustive-join
    # semantics; the operator's default is now a stop-shingle cap (r6)
    return ngram_jaccard_pairs(d, "doc_id", "text", n=3, top_k=20,
                               max_df=None)


@query(
    "dd_minhash_lsh",
    f"""
    WITH words AS (
      SELECT DISTINCT doc_id, w FROM (
        SELECT doc_id, unnest(regexp_extract_all(lower(text), '[a-z]+')) AS w
        FROM documents WHERE doc_id < 60
      )
    ), hashes AS (
      SELECT doc_id, {_SQL_WORD_HASH.format(c='w')} AS h FROM words
    ), sigs AS (
      SELECT doc_id,
             min((1299721 * h + 104729) % 2147483647) AS s0,
             min((15485863 * h + 32452843) % 2147483647) AS s1,
             min((49979687 * h + 899809363) % 2147483647) AS s2,
             min((104395301 * h + 512927357) % 2147483647) AS s3
      FROM hashes GROUP BY doc_id
    ), bands AS (
      SELECT doc_id, 0 AS band, s0 AS sig FROM sigs
      UNION ALL SELECT doc_id, 1, s1 FROM sigs
      UNION ALL SELECT doc_id, 2, s2 FROM sigs
      UNION ALL SELECT doc_id, 3, s3 FROM sigs
    ), cand AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM bands a JOIN bands b
        ON a.band = b.band AND a.sig = b.sig AND a.doc_id < b.doc_id
    )
    SELECT doc_a, doc_b,
           round(((CASE WHEN sa.s0 = sb.s0 THEN 1 ELSE 0 END)
                + (CASE WHEN sa.s1 = sb.s1 THEN 1 ELSE 0 END)
                + (CASE WHEN sa.s2 = sb.s2 THEN 1 ELSE 0 END)
                + (CASE WHEN sa.s3 = sb.s3 THEN 1 ELSE 0 END)) / 4.0, 2) AS est_jaccard
    FROM cand
    JOIN sigs sa ON cand.doc_a = sa.doc_id
    JOIN sigs sb ON cand.doc_b = sb.doc_id
    WHERE ((CASE WHEN sa.s0 = sb.s0 THEN 1 ELSE 0 END)
         + (CASE WHEN sa.s1 = sb.s1 THEN 1 ELSE 0 END)
         + (CASE WHEN sa.s2 = sb.s2 THEN 1 ELSE 0 END)
         + (CASE WHEN sa.s3 = sb.s3 THEN 1 ELSE 0 END)) >= 3
    """,
)
def dd_minhash_lsh(spark, sf_dir):
    """MinHash+LSH near-dup via operators.dedup.minhash_lsh_pairs: shingle
    -> 4 affine minhashes -> band-bucket join -> candidate pairs with >=3/4
    matching signature components. At scale this is THE dedup plan: the
    band join shuffles only (band, sig) keys, never all-pairs."""
    from .operators.dedup import minhash_lsh_pairs

    d = _t(spark, sf_dir, "documents").where(F.col("doc_id") < 60)
    return minhash_lsh_pairs(d, "doc_id", "text", min_matches=3)


def _minhash16_oracle() -> str:
    """DuckDB oracle for the production 16-perm 4x4-banded MinHash config,
    generated from the same MH_COEFS_16 constant the Spark operator uses."""
    from .operators.dedup import MH_COEFS_16

    k, r = len(MH_COEFS_16), 4
    mins = ",\n             ".join(
        f"min(({a} * h + {b}) % 2147483647) AS s{i}"
        for i, (a, b) in enumerate(MH_COEFS_16)
    )
    bands = "\n      UNION ALL ".join(
        "SELECT doc_id, {j} AS band, concat_ws('-', {cols}) AS sig FROM sigs".format(
            j=j, cols=", ".join(f"s{j * r + t}" for t in range(r))
        )
        for j in range(k // r)
    )
    matches = "\n         + ".join(
        f"(CASE WHEN sa.s{i} = sb.s{i} THEN 1 ELSE 0 END)" for i in range(k)
    )
    return f"""
    WITH words AS (
      SELECT DISTINCT doc_id, w FROM (
        SELECT doc_id, unnest(regexp_extract_all(lower(text), '[a-z]+')) AS w
        FROM documents WHERE doc_id < 60
      )
    ), hashes AS (
      SELECT doc_id, {_SQL_WORD_HASH.format(c='w')} AS h FROM words
    ), sigs AS (
      SELECT doc_id, {mins}
      FROM hashes GROUP BY doc_id
    ), bands AS (
      {bands}
    ), cand AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM bands a JOIN bands b
        ON a.band = b.band AND a.sig = b.sig AND a.doc_id < b.doc_id
    )
    SELECT doc_a, doc_b, round(({matches}) / 16.0, 2) AS est_jaccard
    FROM cand
    JOIN sigs sa ON cand.doc_a = sa.doc_id
    JOIN sigs sb ON cand.doc_b = sb.doc_id
    WHERE ({matches}) >= 8
    """


@query("dd_minhash_lsh16", _minhash16_oracle())
def dd_minhash_lsh16(spark, sf_dir):
    """Production-config MinHash+LSH (VERDICT r1 #4): 16 permutations in 4
    bands of 4 rows — band key = the concatenated signature slice, so a
    candidate needs a whole band to agree (P = 1-(1-j^4)^4: ~0.99 at j=0.9,
    ~0.005 at j=0.2), then >= 8/16 matching components (est_jaccard >= 0.5).
    Same discovery shape as dd_minhash_lsh: shuffle on (band, sig), never
    all-pairs."""
    from .operators.dedup import MH_COEFS_16, minhash_lsh_pairs

    d = _t(spark, sf_dir, "documents").where(F.col("doc_id") < 60)
    # standalone one-shot query: the signature frame is consumed within this
    # single plan and the driver bench pays the checkpoint's cold block-write
    # cost without ever amortizing it (r3 VERDICT #5; measured +1.4 s on the
    # first invocation, parity warm) — skip materialization here; the
    # pipeline path (training_pipeline.py) keeps the heuristic where the
    # sigs are re-referenced across stages
    return minhash_lsh_pairs(
        d, "doc_id", "text", min_matches=8, coefs=tuple(MH_COEFS_16),
        band_rows=4, materialize_sigs=False,
    )


def _dup_clusters_oracle() -> str:
    """Recursive-CTE connected components over the dd_minhash_lsh pair set
    (reuses that oracle's SQL verbatim as the edge source)."""
    return f"""
    WITH RECURSIVE pairs AS ({ORACLES['dd_minhash_lsh']}),
    edges AS (
      SELECT doc_a AS u, doc_b AS v FROM pairs
      UNION SELECT doc_b, doc_a FROM pairs
    ), nodes AS (
      SELECT DISTINCT u FROM edges
    ), reach(u, label) AS (
      SELECT u, u FROM nodes
      UNION
      SELECT e.u, r.label FROM edges e JOIN reach r ON e.v = r.u
    )
    SELECT u AS doc_id, min(label) AS cluster_id FROM reach GROUP BY u
    """


@query("dd_dup_clusters", _dup_clusters_oracle())
def dd_dup_clusters(spark, sf_dir):
    """Duplicate clustering: connected components over the MinHash-LSH
    near-dup pairs via iterative min-label propagation
    (operators.dedup.duplicate_clusters) — the cluster-canonical dedup a
    crawl-scale corpus needs (drop-the-higher-id over-deletes on chains).
    Oracle: recursive CTE reachability in DuckDB over the same pair set."""
    from .operators.dedup import duplicate_clusters, minhash_lsh_pairs

    d = _t(spark, sf_dir, "documents").where(F.col("doc_id") < 60)
    pairs = minhash_lsh_pairs(d, "doc_id", "text", min_matches=3)
    return duplicate_clusters(pairs)


@query(
    "dd_simhash",
    f"""
    WITH words AS (
      SELECT doc_id, unnest(regexp_extract_all(lower(text), '[a-z]+')) AS w
      FROM documents WHERE doc_id < 100
    ), hashes AS (
      SELECT doc_id, {_SQL_WORD_HASH.format(c='w')} AS h FROM words
    ), bits AS (
      SELECT doc_id, b,
             sum(CASE WHEN (h >> b) & 1 = 1 THEN 1 ELSE -1 END) AS weight
      FROM hashes, (SELECT unnest(generate_series(0, 15)) AS b)
      GROUP BY doc_id, b
    )
    SELECT doc_id,
           CAST(sum(CASE WHEN weight > 0 THEN 1 << b ELSE 0 END) AS BIGINT) AS simhash
    FROM bits GROUP BY doc_id
    """,
)
def dd_simhash(spark, sf_dir):
    """SimHash document fingerprints via operators.dedup.simhash_signatures
    (near-dups share low hamming distance; dedup by banding the signature
    at scale)."""
    from .operators.dedup import simhash_signatures

    d = _t(spark, sf_dir, "documents").where(F.col("doc_id") < 100)
    return simhash_signatures(d, "doc_id", "text", bits=16)


@query(
    "dd_paragraph_dedup",
    """
    WITH toks AS (
      SELECT doc_id, string_split(text, ' ') AS w FROM documents
    ), paras AS (
      SELECT doc_id, i AS pidx,
             array_to_string(w[(i*4+1):(i*4+4)], ' ') AS para
      FROM toks, UNNEST(range(CAST(ceil(len(w)/4.0) AS BIGINT))) AS t(i)
    ), hot AS (
      SELECT para FROM paras GROUP BY para
      HAVING count(DISTINCT doc_id) >= 3
    ), flagged AS (
      SELECT p.doc_id, p.pidx, p.para, h.para IS NOT NULL AS is_hot
      FROM paras p LEFT JOIN hot h USING (para)
    )
    SELECT doc_id,
           CAST(count(*) AS BIGINT) AS n_paras,
           CAST(count(*) FILTER (WHERE NOT is_hot) AS BIGINT) AS kept_paras,
           CAST(length(coalesce(
             array_to_string(list(para ORDER BY pidx) FILTER (WHERE NOT is_hot), ' '),
             '')) AS BIGINT) AS cleaned_len,
           md5(coalesce(
             array_to_string(list(para ORDER BY pidx) FILTER (WHERE NOT is_hot), ' '),
             '')) AS cleaned_md5
    FROM flagged GROUP BY doc_id
    """,
)
def dd_paragraph_dedup(spark, sf_dir):
    """Paragraph-level boilerplate scrub (CCNet/RefinedWeb line dedup):
    strip every exact 4-word paragraph that appears in >= 3 distinct
    documents, rebuild each document in original paragraph order, and pin
    every byte of the reassembly with an md5. The hot set is a broadcast
    heavy-hitter table; the corpus-wide paragraph frame is scanned twice
    rather than materialized (operators.dedup.paragraph_dedup)."""
    from .operators.dedup import paragraph_dedup

    # no _spread here (r6): paragraph_dedup scans its input twice, so the
    # round-robin exchange is paid twice — measured net-negative
    d = _t(spark, sf_dir, "documents")
    return paragraph_dedup(d, "doc_id", "text", para_words=4, min_docs=3)


@query(
    "dd_incremental_minhash",
    f"""
    WITH toks AS (
      SELECT doc_id, regexp_extract_all(lower(text), '[a-z]+') AS ws
      FROM documents
    ), words AS (
      SELECT DISTINCT doc_id, w FROM (
        SELECT doc_id, array_to_string(ws[i:i+2], ' ') AS w
        FROM toks, UNNEST(generate_series(1, len(ws) - 2)) AS t(i)
      )
    ), hashes AS (
      SELECT doc_id, {{h}} AS h FROM words
    ), sigs AS (
      SELECT doc_id,
             min((1299721 * h + 104729) % 2147483647) AS s0,
             min((15485863 * h + 32452843) % 2147483647) AS s1,
             min((49979687 * h + 899809363) % 2147483647) AS s2,
             min((104395301 * h + 512927357) % 2147483647) AS s3
      FROM hashes GROUP BY doc_id
    ), bands AS (
      SELECT doc_id, 0 AS band, s0 AS sig FROM sigs
      UNION ALL SELECT doc_id, 1, s1 FROM sigs
      UNION ALL SELECT doc_id, 2, s2 FROM sigs
      UNION ALL SELECT doc_id, 3, s3 FROM sigs
    ), cand AS (
      SELECT DISTINCT a.doc_id AS doc_new, b.doc_id AS doc_other
      FROM bands a JOIN bands b
        ON a.band = b.band AND a.sig = b.sig AND b.doc_id < a.doc_id
      WHERE a.doc_id >= 250
    ), ver AS (
      SELECT doc_new, doc_other,
             ((CASE WHEN sa.s0 = sb.s0 THEN 1 ELSE 0 END)
            + (CASE WHEN sa.s1 = sb.s1 THEN 1 ELSE 0 END)
            + (CASE WHEN sa.s2 = sb.s2 THEN 1 ELSE 0 END)
            + (CASE WHEN sa.s3 = sb.s3 THEN 1 ELSE 0 END)) AS m
      FROM cand
      JOIN sigs sa ON cand.doc_new = sa.doc_id
      JOIN sigs sb ON cand.doc_other = sb.doc_id
    ), best AS (
      SELECT doc_new, min(doc_other) AS dup_of,
             round(arg_min(m, doc_other) / 4.0, 2) AS est_jaccard
      FROM ver WHERE m >= 3 GROUP BY doc_new
    )
    SELECT d.doc_id, b.dup_of IS NOT NULL AS is_dup,
           CAST(b.dup_of AS BIGINT) AS dup_of, b.est_jaccard
    FROM (SELECT doc_id FROM documents WHERE doc_id >= 250) d
    LEFT JOIN best b ON b.doc_new = d.doc_id
    """.format(h=_SQL_WORD_HASH.format(c="w")),
)
def dd_incremental_minhash(spark, sf_dir):
    """Incremental near-dedup of a new crawl batch (doc_id >= 250) against
    a COMMITTED minhash signature index built from the prior corpus
    (doc_id < 250) — the index is read as (id, s0..s3) rows and never
    re-tokenized, so daily ingest cost scales with the batch, not the
    corpus (operators.dedup.incremental_minhash_dedup). Candidates come
    from the band-bucket join of new bands vs (index ∪ new) bands with
    other_id < new_id; >= 3/4 matching components verifies; dup_of is the
    minimum matching id (keep-first)."""
    from .operators.dedup import (
        incremental_minhash_dedup,
        minhash_signatures,
    )

    # _spread (r6): both halves re-tokenize/shingle from the single-row-
    # group scan; signatures are per-doc integer-hash mins and all joins/
    # verdicts integer-domain — partition-independent values
    d = _spread(_t(spark, sf_dir, "documents"), "doc_id", "text")
    # in production this frame is a table the previous run committed
    index_sigs = minhash_signatures(
        d.where(F.col("doc_id") < 250), "doc_id", "text", shingle_n=3
    )
    return incremental_minhash_dedup(
        d.where(F.col("doc_id") >= 250), index_sigs,
        min_matches=3, shingle_n=3,
    )


@query(
    "dd_substring_dupfrac",
    """
    WITH toks AS (
      SELECT doc_id, regexp_extract_all(lower(text), '[a-z]+') AS ws
      FROM documents
    ), grams AS (
      SELECT doc_id, i - 1 AS pos, array_to_string(ws[i:i+7], ' ') AS gram
      FROM toks, UNNEST(generate_series(1, len(ws) - 7)) AS t(i)
    ), hot AS (
      SELECT gram FROM grams GROUP BY gram
      HAVING count(DISTINCT doc_id) >= 2
    ), covered AS (
      SELECT g.doc_id, CAST(count(DISTINCT g.pos + o) AS BIGINT) AS dup_tokens
      FROM grams g JOIN hot h USING (gram),
           UNNEST(generate_series(0, 7)) AS u(o)
      GROUP BY g.doc_id
    )
    SELECT t.doc_id,
           CAST(len(t.ws) AS BIGINT) AS n_tokens,
           coalesce(c.dup_tokens, 0) AS dup_tokens,
           CASE WHEN len(t.ws) > 0
                THEN round(coalesce(c.dup_tokens, 0) * 1.0 / len(t.ws), 5)
                ELSE 0.0 END AS dup_frac
    FROM toks t LEFT JOIN covered c USING (doc_id)
    """,
)
def dd_substring_dupfrac(spark, sf_dir):
    """Exact-substring duplication coverage (Lee et al. 2107.06499,
    k-gram formulation): fraction of each document's tokens covered by an
    exact 8-token gram shared with another document. Hot grams come from
    one countDistinct aggregation; coverage is a hash join + per-doc
    distinct position count — no suffix array, no global sort
    (operators.dedup.substring_dup_coverage)."""
    from .operators.dedup import substring_dup_coverage

    # _spread (r6): tokenize + k-gram shingling ran in the single scan
    # task; everything downstream is integer counts (countDistinct, longs)
    # with a row-local final division, so values are partition-independent
    d = _spread(_t(spark, sf_dir, "documents"), "doc_id", "text")
    return substring_dup_coverage(d, "doc_id", "text", k=8, min_docs=2)


# ---------------------------------------------------------------------------
# Similarity search over embeddings (ANN: brute-force top-k baseline +
# LSH-bucketed scale path)
# ---------------------------------------------------------------------------

_EMB_DIM = 64
# Deterministic hyperplanes for sign-LSH, identical literal arrays in both
# engines: w(p,d) = ((1 + (p*DIM + d) * 2654435761) % 2000) / 1000 - 1.0
_PLANES = [
    [((1 + (p * _EMB_DIM + d) * 2654435761) % 2000) / 1000.0 - 1.0 for d in range(_EMB_DIM)]
    for p in range(4)
]


def _sql_dot(vec_expr: str, lit: list[float]) -> str:
    arr = "[" + ", ".join(repr(x) for x in lit) + "]"
    return (
        f"list_sum([CAST({vec_expr}[x] AS DOUBLE) * ({arr})[x] "
        f"for x in generate_series(1, {_EMB_DIM})])"
    )


def _spark_dot_lit(vec_col, lit: list[float]):
    arr = F.array(*[F.lit(float(x)) for x in lit])
    return F.aggregate(
        F.zip_with(vec_col.cast("array<double>"), arr, lambda x, w: x * w),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


@query(
    "sim_cosine_topk",
    f"""
    WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
    scored AS (
      SELECT vec_id, label,
             list_sum([CAST(embedding[x] AS DOUBLE) * CAST(qv[x] AS DOUBLE)
                       for x in generate_series(1, {_EMB_DIM})])
             / (sqrt(list_sum([CAST(embedding[x] AS DOUBLE) * CAST(embedding[x] AS DOUBLE)
                               for x in generate_series(1, {_EMB_DIM})]))
              * sqrt(list_sum([CAST(qv[x] AS DOUBLE) * CAST(qv[x] AS DOUBLE)
                               for x in generate_series(1, {_EMB_DIM})]))) AS cos_raw
      FROM embeddings, q
      WHERE vec_id != 0
    )
    SELECT vec_id, label, cosine FROM (
      SELECT vec_id, label, round(cos_raw, 5) AS cosine,
             row_number() OVER (ORDER BY cos_raw DESC, vec_id) AS rn
      FROM scored
    ) WHERE rn <= 10
    """,
)
def sim_cosine_topk(spark, sf_dir):
    """Brute-force cosine top-k ANN baseline via
    operators.similarity.cosine_topk (JVM-side fold, broadcast query
    vector). The scale path is sim_lsh_buckets / sim_ivf_topk (prune to
    one cell, then exact rerank)."""
    from .operators.similarity import cosine_topk

    e = _t(spark, sf_dir, "embeddings")
    qv = e.where(F.col("vec_id") == 0).select(F.col("embedding").alias("qv"))
    big = _spread(
        e.where(F.col("vec_id") != 0), "vec_id", "label", "embedding"
    )
    return cosine_topk(big, qv, k=10)


@query(
    "sim_lsh_buckets",
    f"""
    SELECT bucket, count(*) AS n_vecs, count(DISTINCT label) AS n_labels
    FROM (
      SELECT vec_id, label,
             (CASE WHEN {_sql_dot('embedding', _PLANES[0])} > 0 THEN 1 ELSE 0 END)
           + (CASE WHEN {_sql_dot('embedding', _PLANES[1])} > 0 THEN 2 ELSE 0 END)
           + (CASE WHEN {_sql_dot('embedding', _PLANES[2])} > 0 THEN 4 ELSE 0 END)
           + (CASE WHEN {_sql_dot('embedding', _PLANES[3])} > 0 THEN 8 ELSE 0 END) AS bucket
      FROM embeddings
    ) GROUP BY bucket
    """,
)
def sim_lsh_buckets(spark, sf_dir):
    """Sign-LSH bucketing via operators.similarity.lsh_bucket over 4 fixed
    hyperplanes — the ANN scale path: queries probe one bucket (1/16 of
    the data) before exact rerank."""
    from .operators.similarity import lsh_bucket

    e = _spread(
        _t(spark, sf_dir, "embeddings"), "vec_id", "label", "embedding"
    )
    return (
        e.select("vec_id", "label", lsh_bucket(F.col("embedding"), _PLANES).alias("bucket"))
        .groupBy("bucket")
        .agg(
            F.count("*").alias("n_vecs"),
            F.countDistinct("label").alias("n_labels"),
        )
    )


@query(
    "sim_label_centroid_sim",
    f"""
    WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0)
    SELECT label,
           count(*) AS n,
           round(avg(list_sum([CAST(embedding[x] AS DOUBLE) * CAST(qv[x] AS DOUBLE)
                               for x in generate_series(1, {_EMB_DIM})])), 4) AS avg_dot
    FROM embeddings, q
    GROUP BY label
    """,
)
def sim_label_centroid_sim(spark, sf_dir):
    """Per-label mean dot product with a query vector (cluster-level
    similarity profile)."""
    e = _t(spark, sf_dir, "embeddings")
    qv = e.where(F.col("vec_id") == 0).select(F.col("embedding").alias("qv"))
    j = e.crossJoin(F.broadcast(qv))
    dot = F.aggregate(
        F.zip_with(
            F.col("embedding").cast("array<double>"),
            F.col("qv").cast("array<double>"),
            lambda x, y: x * y,
        ),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    return (
        j.select("label", dot.alias("dot"))
        .groupBy("label")
        .agg(F.count("*").alias("n"), F.round(F.avg("dot"), 4).alias("avg_dot"))
    )


# ---------------------------------------------------------------------------
# Text analysis (language-ID heuristic, quality scoring, token counts,
# fingerprinting) — SURVEY training-data ops
# ---------------------------------------------------------------------------


@query(
    "txt_quality",
    """
    SELECT lang, count(*) AS n_docs,
           round(avg(len(regexp_extract_all(text, '[A-Za-z0-9'']+'))), 4) AS avg_tokens,
           round(avg(len(regexp_extract_all(text, '[.,;:!?]')) * 1.0
                     / greatest(length(text), 1)), 6) AS avg_punct_ratio,
           round(avg(len(regexp_extract_all(lower(text), '\\b(the|a|and|of|to|in|is)\\b')) * 1.0
                     / greatest(len(regexp_extract_all(text, '[A-Za-z0-9'']+')), 1)), 6)
             AS avg_stopword_ratio
    FROM documents GROUP BY lang
    """,
)
def txt_quality(spark, sf_dir):
    """Quality-scoring features: token count, punctuation ratio, stopword
    ratio — all JVM-side, no UDF. r6: the WORD_RE count is projected once
    per row and shared between avg_tokens and the stopword denominator
    (the naive builder composition scanned text with WORD_RE twice), and
    the aggregate reads pre-projected per-row counts so nothing is
    re-evaluated per aggregate expression. Counts stay on exactly the
    oracle's operands (words/punct on text, stopwords on lower(text))."""
    from .functions.text import PUNCT_RE, STOPWORD_RE
    from .functions.text import WORD_RE as TX_WORD_RE

    d = _spread(_t(spark, sf_dir, "documents"), "lang", "text")
    per_row = d.select(
        "lang",
        F.length("text").alias("_len"),
        F.regexp_count("text", F.lit(TX_WORD_RE)).cast("long").alias("_tc"),
        F.regexp_count("text", F.lit(PUNCT_RE)).alias("_np"),
        F.regexp_count(F.lower(F.col("text")), F.lit(STOPWORD_RE)).alias("_ns"),
    )
    return per_row.groupBy("lang").agg(
        F.count("*").alias("n_docs"),
        F.round(F.avg("_tc"), 4).alias("avg_tokens"),
        F.round(
            F.avg(F.col("_np") / F.greatest(F.col("_len"), F.lit(1))), 6
        ).alias("avg_punct_ratio"),
        F.round(
            F.avg(F.col("_ns") / F.greatest(F.col("_tc"), F.lit(1))), 6
        ).alias("avg_stopword_ratio"),
    )


@query(
    "txt_langid_confusion",
    """
    SELECT lang, guess, count(*) AS n FROM (
      SELECT lang,
             CASE WHEN regexp_matches(text, '[\\x{4e00}-\\x{9fff}]') THEN 'zh'
                  WHEN len(regexp_extract_all(lower(text), '\\bthe\\b')) >= 3 THEN 'en'
                  ELSE 'other' END AS guess
      FROM documents
    ) GROUP BY lang, guess
    """,
)
def txt_langid_confusion(spark, sf_dir):
    """Language-ID heuristic (functions.text.lang_guess) vs the labeled
    lang column (confusion counts)."""
    from .functions import text as TX

    d = _t(spark, sf_dir, "documents")
    return (
        d.withColumn("guess", TX.lang_guess("text"))
        .groupBy("lang", "guess")
        .agg(F.count("*").alias("n"))
    )


@query(
    "txt_fingerprint",
    """
    SELECT source,
           count(*) AS n_docs,
           count(DISTINCT md5(lower(regexp_replace(substr(text, 1, 200), '\\s+', ' ', 'g')))) AS n_fp
    FROM documents GROUP BY source
    """,
)
def txt_fingerprint(spark, sf_dir):
    """Document fingerprinting: hash of the whitespace-normalized prefix
    (the cheap pre-filter before shingle-level dedup)."""
    from .functions import text as TX

    d = _t(spark, sf_dir, "documents")
    fp = TX.fingerprint("text", 200)
    return d.groupBy("source").agg(
        F.count("*").alias("n_docs"), F.countDistinct(fp).alias("n_fp")
    )


# ---------------------------------------------------------------------------
# Extraction-engine rows-only queries (kernels are not SQL-expressible;
# driver records the weaker rows-only check — correctness is covered by the
# golden-fixture pytest suite instead)
# ---------------------------------------------------------------------------


def _interleaved_from_documents(spark, sf_dir):
    """Derive a deterministic interleaved corpus from the harness documents
    table: each text becomes an html article span (with boilerplate) plus an
    anchored figure span — ties the harness tables to the real engine."""
    d = _t(spark, sf_dir, "documents")
    html = F.concat(
        F.lit("<html><body><nav><a href='/x'>home</a><a href='/y'>about</a></nav>"
              "<article><h1>Document "),
        F.col("doc_id").cast("string"),
        F.lit("</h1><p>"),
        F.col("text"),
        F.lit("</p></article><footer><p>footer text</p></footer></body></html>"),
    )
    spans = F.array(
        F.struct(
            F.lit("html").alias("kind"),
            html.alias("text"),
            F.lit("").alias("media_ref"),
            F.lit(0).cast("int").alias("offset"),
        ),
        F.struct(
            F.lit("figure").alias("kind"),
            F.lit("a figure caption").alias("text"),
            F.concat(F.lit("img-"), F.col("doc_id").cast("string")).alias("media_ref"),
            F.lit(1).cast("int").alias("offset"),
        ),
    )
    # _spread (r6): every consumer runs per-doc-expensive work (pandas-UDF
    # extraction, quality/lang regexes, MinHash shingles) directly on this
    # frame, and the single-row-group documents scan would run it all in
    # ONE task. Row derivations are row-local and every downstream funnel/
    # stat is an integer count or order-insensitive, so the round-robin
    # exchange (a few MB) is value-invisible.
    n = int(spark.conf.get("spark.sql.shuffle.partitions"))
    return d.select(
        F.col("doc_id").cast("string").alias("doc_id"),
        spans.alias("spans"),
        F.lit("5").alias("standard"),
        F.lit("science").alias("subject"),
        F.lit("1").alias("chapter"),
        F.lit("html").alias("content_type"),
    ).repartition(n)


@query("x1_extract_pipeline")  # rows-only: pandas-UDF kernels, no SQL oracle
def x1_extract_pipeline(spark, sf_dir):
    """The flagship plan end-to-end over harness-derived interleaved docs:
    extract (E1+E3) -> validate (E4) -> routed summary."""
    from .functions.readability import CriteriaConfig
    from .plans.pipeline import extract_documents

    docs = _interleaved_from_documents(spark, sf_dir)
    out = extract_documents(docs, CriteriaConfig(grade_lo=-100.0, grade_hi=100.0))
    return out.select(
        "doc_id",
        "n_spans",
        "n_chars",
        F.col("is_valid").cast("string").alias("route"),
        F.round(F.col("validation.fk_grade"), 4).alias("fk_grade"),
    )


@query("x2_extract_span_stats")  # rows-only
def x2_extract_span_stats(spark, sf_dir):
    """Aggregate span-kind histogram of the extraction output (media
    conservation observable: one figure per input doc)."""
    from .plans.pipeline import extract_documents

    out = extract_documents(_interleaved_from_documents(spark, sf_dir))
    return (
        out.select(F.explode("spans").alias("s"))
        .groupBy(F.col("s.kind").alias("kind"))
        .agg(F.count("*").alias("n"))
    )


def entry_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver smoke entry: flagship extraction over sf0.001."""
    return x1_extract_pipeline(spark, sf_dir)


# ---------------------------------------------------------------------------
# Set ops / multi-dim aggregates / pivot / extra join shapes (§2.9, §2.4)
# ---------------------------------------------------------------------------


@query(
    "set_ops",
    """
    SELECT 'except' AS op, count(*) AS n FROM (
      SELECT doc_id FROM documents WHERE n_chars >= 200
      EXCEPT SELECT doc_id FROM documents WHERE lang = 'en'
    )
    UNION ALL
    SELECT 'intersect', count(*) FROM (
      SELECT doc_id FROM documents WHERE n_chars >= 200
      INTERSECT SELECT doc_id FROM documents WHERE lang = 'en'
    )
    UNION ALL
    SELECT 'union_distinct', count(*) FROM (
      SELECT doc_id FROM documents WHERE n_chars >= 200
      UNION SELECT doc_id FROM documents WHERE lang = 'en'
    )
    """,
)
def set_ops(spark, sf_dir):
    """EXCEPT/INTERSECT/UNION — the resume-skip and split-reunion set
    semantics (SURVEY §2.9)."""
    d = _t(spark, sf_dir, "documents")
    a = d.where(F.col("n_chars") >= 200).select("doc_id")
    b = d.where(F.col("lang") == "en").select("doc_id")
    rows = [
        ("except", a.exceptAll(b).distinct()),
        ("intersect", a.intersect(b)),
        ("union_distinct", a.union(b).distinct()),
    ]
    out = None
    for op, df in rows:
        piece = df.agg(F.count("*").alias("n")).select(F.lit(op).alias("op"), "n")
        out = piece if out is None else out.unionAll(piece)
    return out


@query(
    "rollup_agg",
    """
    SELECT coalesce(lang, 'ALL') AS lang, coalesce(source, 'ALL') AS source,
           count(*) AS n, CAST(sum(n_chars) AS BIGINT) AS chars
    FROM documents WHERE source IN ('src0','src1','src2')
    GROUP BY ROLLUP (lang, source)
    """,
)
def rollup_agg(spark, sf_dir):
    """ROLLUP for metrics hierarchies (lineage by run -> partition)."""
    d = _t(spark, sf_dir, "documents").where(
        F.col("source").isin("src0", "src1", "src2")
    )
    return (
        d.rollup("lang", "source")
        .agg(F.count("*").alias("n"), F.sum("n_chars").alias("chars"))
        .select(
            F.coalesce("lang", F.lit("ALL")).alias("lang"),
            F.coalesce("source", F.lit("ALL")).alias("source"),
            "n",
            "chars",
        )
    )


_SUB_QUERIES_SQL = """
    SELECT c.c_custkey,
           (SELECT count(*) FROM orders o
            WHERE o.o_custkey = c.c_custkey) AS n_orders,
           (SELECT CAST(coalesce(round(max(o.o_totalprice), 2), 0.0) AS DOUBLE)
            FROM orders o WHERE o.o_custkey = c.c_custkey) AS max_total
    FROM customer c
    WHERE EXISTS (SELECT 1 FROM orders o
                  WHERE o.o_custkey = c.c_custkey AND o.o_orderstatus = 'O')
      AND c.c_custkey NOT IN (SELECT o_custkey FROM orders
                              WHERE o_orderpriority = '1-URGENT')
      AND c.c_custkey < 300
"""


@query("sub_queries", _SUB_QUERIES_SQL)
def sub_queries(spark, sf_dir):
    """Subquery battery (§2.9): correlated EXISTS, NOT IN, and two
    correlated scalar subqueries in the projection — Catalyst rewrites
    these to semi/anti/left-outer aggregated joins; the DuckDB oracle runs
    the identical SQL text, so the rewrite is value-checked shape for
    shape."""
    for t in ("customer", "orders"):
        _t(spark, sf_dir, t).createOrReplaceTempView(t)
    return spark.sql(_SUB_QUERIES_SQL)


@query(
    "q6_forecast_revenue",
    """
    SELECT round(sum(l_extendedprice * l_discount), 2) AS revenue,
           count(*) AS n
    FROM lineitem
    WHERE l_shipdate >= DATE '1994-01-01' AND l_shipdate < DATE '1995-01-01'
      AND l_discount BETWEEN 0.05 AND 0.07 AND l_quantity < 24
    """,
)
def q6_forecast_revenue(spark, sf_dir):
    """TPC-H Q6 shape: tight multi-predicate scan + single global
    aggregate — the pushdown showcase (every predicate reaches the parquet
    scan; zero joins, one partial+final agg)."""
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.where(
            (F.col("l_shipdate") >= F.lit("1994-01-01").cast("date"))
            & (F.col("l_shipdate") < F.lit("1995-01-01").cast("date"))
            & (F.col("l_discount") >= 0.05)
            & (F.col("l_discount") <= 0.07)
            & (F.col("l_quantity") < 24)
        )
        .agg(
            F.round(F.sum(F.col("l_extendedprice") * F.col("l_discount")), 2).alias(
                "revenue"
            ),
            F.count("*").alias("n"),
        )
    )


@query(
    "grouping_sets_agg",
    """
    SELECT coalesce(lang, 'ALL') AS lang, coalesce(source, 'ALL') AS source,
           count(*) AS n, CAST(sum(n_chars) AS BIGINT) AS chars
    FROM documents WHERE source IN ('src0','src1')
    GROUP BY GROUPING SETS ((lang), (source), ())
    """,
)
def grouping_sets_agg(spark, sf_dir):
    """Explicit GROUPING SETS (the irregular-hierarchy shape ROLLUP/CUBE
    can't express: per-lang totals + per-source totals + grand total, no
    (lang, source) cells) — one Expand + single aggregate exchange."""
    d = _t(spark, sf_dir, "documents").where(F.col("source").isin("src0", "src1"))
    d.createOrReplaceTempView("_gs_docs")
    return spark.sql(
        """
        SELECT coalesce(lang, 'ALL') AS lang, coalesce(source, 'ALL') AS source,
               count(*) AS n, CAST(sum(n_chars) AS BIGINT) AS chars
        FROM _gs_docs
        GROUP BY GROUPING SETS ((lang), (source), ())
        """
    )


@query(
    "scalar_arrays",
    """
    SELECT doc_id,
           array_to_string(list_sort(regexp_extract_all(lower(text), '[a-z]+'))[1:5], ',') AS first5,
           CAST(len(list_distinct(regexp_extract_all(lower(text), '[a-z]+'))) AS BIGINT) AS n_distinct,
           CAST(len(list_filter(regexp_extract_all(lower(text), '[a-z]+'),
                                w -> length(w) > 6)) AS BIGINT) AS n_long,
           array_to_string(list_transform(
               list_sort(regexp_extract_all(lower(text), '[a-z]+'))[1:3],
               w -> upper(w)), '-') AS tag
    FROM documents WHERE doc_id < 20
    """,
)
def scalar_arrays(spark, sf_dir):
    """Array-function battery (§2.9): sort / slice / distinct-count /
    lambda filter / lambda transform / join — the collection kernel the
    span pipelines are built from, pinned value-for-value against DuckDB's
    list functions."""
    d = _t(spark, sf_dir, "documents").where(F.col("doc_id") < 20)
    words = F.regexp_extract_all(F.lower("text"), F.lit("[a-z]+"), 0)
    sorted_words = F.array_sort(words)
    return d.select(
        "doc_id",
        F.array_join(F.slice(sorted_words, 1, 5), ",").alias("first5"),
        F.size(F.array_distinct(words)).cast("long").alias("n_distinct"),
        F.size(F.filter(words, lambda w: F.length(w) > 6)).cast("long").alias(
            "n_long"
        ),
        F.array_join(
            F.transform(F.slice(sorted_words, 1, 3), lambda w: F.upper(w)), "-"
        ).alias("tag"),
    )


@query(
    "cube_agg",
    """
    SELECT coalesce(l_returnflag,'ALL') AS rf, coalesce(l_linestatus,'ALL') AS ls,
           count(*) AS n
    FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)
    """,
)
def cube_agg(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.cube("l_returnflag", "l_linestatus")
        .agg(F.count("*").alias("n"))
        .select(
            F.coalesce("l_returnflag", F.lit("ALL")).alias("rf"),
            F.coalesce("l_linestatus", F.lit("ALL")).alias("ls"),
            "n",
        )
    )


@query(
    "pivot_langs",
    """
    SELECT source,
           CAST(sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT) AS en,
           CAST(sum(CASE WHEN lang = 'de' THEN 1 ELSE 0 END) AS BIGINT) AS de,
           CAST(sum(CASE WHEN lang = 'zh' THEN 1 ELSE 0 END) AS BIGINT) AS zh
    FROM documents GROUP BY source
    """,
)
def pivot_langs(spark, sf_dir):
    """Pivot (lang columns per source) — expressed with .pivot() in Spark,
    CASE aggregation in the oracle (same result grid)."""
    d = _t(spark, sf_dir, "documents")
    p = (
        d.groupBy("source")
        .pivot("lang", ["en", "de", "zh"])
        .agg(F.count(F.lit(1)))
        .na.fill(0, ["en", "de", "zh"])
    )
    return p.select(
        "source",
        F.col("en").cast("long").alias("en"),
        F.col("de").cast("long").alias("de"),
        F.col("zh").cast("long").alias("zh"),
    )


@query(
    "q3_shipping_priority",
    """
    SELECT o_orderkey, revenue, prio FROM (
      SELECT l_orderkey AS o_orderkey,
             round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
             min(o_orderpriority) AS prio,
             row_number() OVER (
               ORDER BY sum(l_extendedprice * (1 - l_discount)) DESC, l_orderkey
             ) AS rn
      FROM customer JOIN orders ON c_custkey = o_custkey
      JOIN lineitem ON l_orderkey = o_orderkey
      WHERE c_mktsegment = 'BUILDING'
      GROUP BY l_orderkey
    ) WHERE rn <= 10
    """,
)
def q3_shipping_priority(spark, sf_dir):
    """TPC-H Q3 shape: 3-way join -> agg -> top-k (deterministic tiebreak)."""
    c = _t(spark, sf_dir, "customer").where(F.col("c_mktsegment") == "BUILDING")
    o = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    rev = F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount")))
    g = (
        c.join(o, c.c_custkey == o.o_custkey)
        .join(li, F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy("l_orderkey")
        .agg(rev.alias("rev_raw"), F.min("o_orderpriority").alias("prio"))
    )
    # global top-10 via orderBy().limit() -> TakeOrderedAndProject (per-
    # partition heaps), not a single-partition row_number() window.
    return (
        g.orderBy(F.col("rev_raw").desc(), "l_orderkey")
        .limit(10)
        .select(
            F.col("l_orderkey").alias("o_orderkey"),
            F.round("rev_raw", 2).alias("revenue"),
            "prio",
        )
    )


@query(
    "pctile_stats",
    """
    SELECT lang,
           round(quantile_cont(n_chars, 0.5), 2) AS p50,
           round(quantile_cont(n_chars, 0.9), 2) AS p90,
           max(n_chars) AS mx
    FROM documents GROUP BY lang
    """,
)
def pctile_stats(spark, sf_dir):
    """Exact percentiles (Arrow-batch sizing / skew-threshold estimation
    use these; approx_percentile is the at-scale variant)."""
    d = _t(spark, sf_dir, "documents")
    return d.groupBy("lang").agg(
        F.round(F.expr("percentile(n_chars, 0.5)"), 2).alias("p50"),
        F.round(F.expr("percentile(n_chars, 0.9)"), 2).alias("p90"),
        F.max("n_chars").alias("mx"),
    )


@query(
    "scalar_functions",
    """
    SELECT doc_id,
           upper(substr(lang, 1, 1)) || lower(substr(lang, 2)) AS lang_title,
           length(trim(text)) AS trimmed_len,
           starts_with(text, 'key') AS starts_key,
           replace(lang, 'e', 'E') AS lang_repl,
           split_part(source, 'rc', 2) AS src_num,
           n_chars % 7 AS mod7,
           CAST(floor(sqrt(n_chars)) AS BIGINT) AS sq,
           md5(lang) AS lang_md5
    FROM documents WHERE doc_id < 30
    """,
)
def scalar_functions(spark, sf_dir):
    """Scalar string/math battery (SURVEY §2.9 function inventory)."""
    d = _t(spark, sf_dir, "documents").where(F.col("doc_id") < 30)
    return d.select(
        "doc_id",
        F.concat(
            F.upper(F.substring("lang", 1, 1)),
            F.lower(F.expr("substring(lang, 2)")),
        ).alias("lang_title"),
        F.length(F.trim("text")).cast("long").alias("trimmed_len"),
        F.col("text").startswith("key").alias("starts_key"),
        F.regexp_replace("lang", "e", "E").alias("lang_repl"),
        F.split_part("source", F.lit("rc"), F.lit(2)).alias("src_num"),
        (F.col("n_chars") % 7).alias("mod7"),
        F.floor(F.sqrt("n_chars")).cast("bigint").alias("sq"),
        F.md5("lang").alias("lang_md5"),
    )


# ---------------------------------------------------------------------------
# As-of / range joins (J1 — the media-stitch semantic as a relational op)
# and embedding near-dup
# ---------------------------------------------------------------------------


@query(
    "j1_asof_join",
    """
    SELECT user_id, n_purchases, n_with_prior_view FROM (
      SELECT user_id,
             count(*) FILTER (WHERE event_type = 'purchase') AS n_purchases,
             count(*) FILTER (
               WHERE event_type = 'purchase' AND last_view_ts IS NOT NULL
             ) AS n_with_prior_view
      FROM (
        SELECT user_id, event_type,
               max(CASE WHEN event_type = 'view' THEN ts END) OVER (
                 PARTITION BY user_id ORDER BY ts, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
               ) AS last_view_ts
        FROM events WHERE user_id < 40
      ) GROUP BY user_id
    ) WHERE n_purchases > 0
    """,
)
def j1_asof_join(spark, sf_dir):
    """As-of join (nearest prior event), the relational form of media-span
    stitching (E3: anchor to the last text span with offset <= media
    offset). Implemented shuffle-light as a running max window instead of
    a join — the same trick the stitch kernel uses in-UDF."""
    _utc(spark)
    e = _t(spark, sf_dir, "events").where(F.col("user_id") < 40)
    w = (
        W.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(W.unboundedPreceding, -1)
    )
    last_view = F.max(
        F.when(F.col("event_type") == "view", F.col("ts"))
    ).over(w)
    g = (
        e.withColumn("last_view_ts", last_view)
        .groupBy("user_id")
        .agg(
            F.count(F.when(F.col("event_type") == "purchase", 1)).alias(
                "n_purchases"
            ),
            F.count(
                F.when(
                    (F.col("event_type") == "purchase")
                    & F.col("last_view_ts").isNotNull(),
                    1,
                )
            ).alias("n_with_prior_view"),
        )
    )
    return g.where(F.col("n_purchases") > 0).select(
        "user_id", "n_purchases", "n_with_prior_view"
    )


@query(
    "j5_range_join_bucketed",
    """
    SELECT p.user_id, count(*) AS n_pairs
    FROM (SELECT user_id, ts, date_part('epoch', ts) AS sec FROM events
          WHERE event_type = 'purchase' AND user_id < 25) p
    JOIN (SELECT user_id, ts, date_part('epoch', ts) AS sec FROM events
          WHERE event_type = 'view' AND user_id < 25) v
      ON p.user_id = v.user_id
     AND CAST(floor(p.sec / 3600) AS BIGINT) - CAST(floor(v.sec / 3600) AS BIGINT) IN (0, 1)
     AND v.sec <= p.sec AND p.sec - v.sec <= 3600
    GROUP BY p.user_id
    """,
)
def j5_range_join_bucketed(spark, sf_dir):
    """Range join (view within 1h before purchase) via the bucketize+
    equi-join+filter pattern — Spark has no native range join; bucketing
    the range key turns O(n^2) into an equi-join the planner can hash."""
    _utc(spark)
    e = _t(spark, sf_dir, "events").where(F.col("user_id") < 25)
    sec = F.unix_timestamp("ts")
    p = (
        e.where(F.col("event_type") == "purchase")
        .select("user_id", sec.alias("psec"))
        .withColumn("pb", F.floor(F.col("psec") / 3600))
    )
    v = (
        e.where(F.col("event_type") == "view")
        .select(F.col("user_id").alias("vuser"), sec.alias("vsec"))
        .withColumn("vb", F.floor(F.col("vsec") / 3600))
    )
    joined = p.join(
        v,
        (F.col("user_id") == F.col("vuser"))
        & ((F.col("pb") - F.col("vb")).isin(0, 1))
        & (F.col("vsec") <= F.col("psec"))
        & (F.col("psec") - F.col("vsec") <= 3600),
    )
    return joined.groupBy("user_id").agg(F.count("*").alias("n_pairs"))


@query(
    "p7_relaxed_gate",
    """
    SELECT CASE WHEN lang IN ('en', 'es') THEN 'accept' ELSE 'reject' END AS gate,
           count(*) AS n
    FROM documents GROUP BY 1
    """,
)
def p7_relaxed_gate(spark, sf_dir):
    """Relaxed relevance gate (routes/route.py:239): isin-list acceptance."""
    d = _t(spark, sf_dir, "documents")
    return (
        d.withColumn(
            "gate",
            F.when(F.col("lang").isin("en", "es"), "accept").otherwise("reject"),
        )
        .groupBy("gate")
        .agg(F.count("*").alias("n"))
    )


@query(
    "dd_embed_neardup",
    f"""
    WITH v AS (
      SELECT vec_id, embedding,
             sqrt(list_sum([CAST(embedding[x] AS DOUBLE) * CAST(embedding[x] AS DOUBLE)
                            for x in generate_series(1, {_EMB_DIM})])) AS nrm,
             (CASE WHEN {_sql_dot('embedding', _PLANES[0])} > 0 THEN 1 ELSE 0 END)
           + (CASE WHEN {_sql_dot('embedding', _PLANES[1])} > 0 THEN 2 ELSE 0 END)
           + (CASE WHEN {_sql_dot('embedding', _PLANES[2])} > 0 THEN 4 ELSE 0 END)
           + (CASE WHEN {_sql_dot('embedding', _PLANES[3])} > 0 THEN 8 ELSE 0 END) AS bucket
      FROM embeddings WHERE vec_id < 250
    )
    SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
           round(list_sum([CAST(a.embedding[x] AS DOUBLE) * CAST(b.embedding[x] AS DOUBLE)
                           for x in generate_series(1, {_EMB_DIM})])
                 / (a.nrm * b.nrm), 5) AS cosine
    FROM v a JOIN v b ON a.bucket = b.bucket AND a.vec_id < b.vec_id
    WHERE list_sum([CAST(a.embedding[x] AS DOUBLE) * CAST(b.embedding[x] AS DOUBLE)
                    for x in generate_series(1, {_EMB_DIM})])
          / (a.nrm * b.nrm) >= 0.35
    """,
)
def dd_embed_neardup(spark, sf_dir):
    """Embedding-cosine near-duplicate pairs, LSH-bucket pruned: candidate
    pairs only within a sign-LSH bucket (1/16 of all pairs at scale), then
    exact cosine verification — the embedding analog of minhash-LSH."""
    e = _t(spark, sf_dir, "embeddings").where(F.col("vec_id") < 250)
    emb = F.col("embedding").cast("array<double>")

    def dot(a, b):
        return F.aggregate(
            F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x
        )

    bucket = sum(
        F.when(_spark_dot_lit(F.col("embedding"), _PLANES[p]) > 0, 1 << p).otherwise(0)
        for p in range(4)
    )
    v = e.select(
        "vec_id",
        emb.alias("emb"),
        F.sqrt(dot(emb, emb)).alias("nrm"),
        bucket.alias("bucket"),
    )
    a, b = v.alias("a"), v.alias("b")
    cos = dot(F.col("a.emb"), F.col("b.emb")) / (F.col("a.nrm") * F.col("b.nrm"))
    return (
        a.join(
            b,
            (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.vec_id") < F.col("b.vec_id")),
        )
        .where(cos >= 0.35)
        .select(
            F.col("a.vec_id").alias("vec_a"),
            F.col("b.vec_id").alias("vec_b"),
            F.round(cos, 5).alias("cosine"),
        )
    )


_SEMDEDUP_SEEDS = (3, 47, 101, 163, 227, 283, 349, 419)


@query(
    "dd_semdedup",
    f"""
    WITH cents AS (
      SELECT vec_id AS cid, embedding AS cemb,
             sqrt(list_sum([CAST(embedding[x] AS DOUBLE) * CAST(embedding[x] AS DOUBLE)
                            for x in generate_series(1, {_EMB_DIM})])) AS cnrm
      FROM embeddings WHERE vec_id IN {_SEMDEDUP_SEEDS}
    ), vecs AS (
      SELECT vec_id, embedding,
             sqrt(list_sum([CAST(embedding[x] AS DOUBLE) * CAST(embedding[x] AS DOUBLE)
                            for x in generate_series(1, {_EMB_DIM})])) AS nrm
      FROM embeddings
    ), assigned AS (
      SELECT vec_id, embedding, nrm, cid FROM (
        SELECT v.vec_id, v.embedding, v.nrm, c.cid,
               row_number() OVER (
                 PARTITION BY v.vec_id
                 ORDER BY list_sum([CAST(v.embedding[x] AS DOUBLE) * CAST(c.cemb[x] AS DOUBLE)
                                    for x in generate_series(1, {_EMB_DIM})])
                          / (v.nrm * c.cnrm) DESC, c.cid
               ) AS rnk
        FROM vecs v CROSS JOIN cents c
      ) WHERE rnk = 1
    ), dups AS (
      SELECT DISTINCT b.vec_id
      FROM assigned a JOIN assigned b
        ON a.cid = b.cid AND a.vec_id < b.vec_id
       AND list_sum([CAST(a.embedding[x] AS DOUBLE) * CAST(b.embedding[x] AS DOUBLE)
                     for x in generate_series(1, {_EMB_DIM})])
           / (a.nrm * b.nrm) >= 0.35
    )
    SELECT s.vec_id AS id, s.cid, (d.vec_id IS NOT NULL) AS is_dup
    FROM assigned s LEFT JOIN dups d ON s.vec_id = d.vec_id
    """,
)
def dd_semdedup(spark, sf_dir):
    """SemDeDup (Abbas et al. 2023): cluster embeddings to the max-cosine
    seed centroid, then prune within-cluster semantic near-dups — a vector
    is dropped iff a lower-id cluster-mate has cosine >= tau.  The
    pairwise step is cid-co-located (sum n_c^2, never N^2), the keep rule
    is a LEFT SEMI join, and no window materializes on the Spark side
    (operators/dedup.py semantic_dedup).  tau=0.35 here because the
    synthetic embeddings carry no true near-dup pairs (max within-cluster
    cosine ~0.47 at sf0.01); production tau is ~0.95."""
    from .operators.dedup import semantic_dedup

    e = _t(spark, sf_dir, "embeddings")
    cents = e.where(F.col("vec_id").isin(*_SEMDEDUP_SEEDS)).select(
        F.col("vec_id").alias("cid"), F.col("embedding").alias("cemb")
    )
    return semantic_dedup(
        e.select("vec_id", "embedding"), cents, tau=0.35
    ).select(F.col("id"), F.col("cid"), F.col("is_dup"))


@query(
    "sim_ivf_topk",
    f"""
    WITH cents AS (
      SELECT vec_id AS cid, embedding AS cemb,
             sqrt(list_sum([CAST(embedding[x] AS DOUBLE) * CAST(embedding[x] AS DOUBLE)
                            for x in generate_series(1, {_EMB_DIM})])) AS cnrm
      FROM embeddings WHERE vec_id IN (1, 2, 3, 4)
    ), vecs AS (
      SELECT vec_id, label, embedding,
             sqrt(list_sum([CAST(embedding[x] AS DOUBLE) * CAST(embedding[x] AS DOUBLE)
                            for x in generate_series(1, {_EMB_DIM})])) AS nrm
      FROM embeddings
    ), assigned AS (
      SELECT vec_id, label, embedding, nrm, cid FROM (
        SELECT v.vec_id, v.label, v.embedding, v.nrm, c.cid,
               row_number() OVER (
                 PARTITION BY v.vec_id
                 ORDER BY list_sum([CAST(v.embedding[x] AS DOUBLE) * CAST(c.cemb[x] AS DOUBLE)
                                    for x in generate_series(1, {_EMB_DIM})])
                          / (v.nrm * c.cnrm) DESC, c.cid
               ) AS rnk
        FROM vecs v CROSS JOIN cents c
      ) WHERE rnk = 1
    ), q AS (
      SELECT embedding AS qv, nrm AS qnrm, cid AS qcid FROM assigned WHERE vec_id = 0
    )
    SELECT vec_id, label, cosine FROM (
      SELECT a.vec_id, a.label,
             round(list_sum([CAST(a.embedding[x] AS DOUBLE) * CAST(qv[x] AS DOUBLE)
                             for x in generate_series(1, {_EMB_DIM})]) / (a.nrm * qnrm), 5) AS cosine,
             row_number() OVER (
               ORDER BY list_sum([CAST(a.embedding[x] AS DOUBLE) * CAST(qv[x] AS DOUBLE)
                                  for x in generate_series(1, {_EMB_DIM})]) / (a.nrm * qnrm) DESC,
                        a.vec_id
             ) AS rn
      FROM assigned a, q
      WHERE a.cid = q.qcid AND a.vec_id != 0
    ) WHERE rn <= 5
    """,
)
def sim_ivf_topk(spark, sf_dir):
    """IVF-style ANN: coarse quantization to 4 fixed centroids (broadcast),
    probe only the query's cell, exact rerank inside it. At 10^12 scale the
    cell assignment is the partition key — a query touches 1/K of the data
    and the centroid table stays broadcast-small."""
    e = _t(spark, sf_dir, "embeddings")
    emb = F.col("embedding").cast("array<double>")

    def dot(a, b):
        return F.aggregate(
            F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x
        )

    cents = e.where(F.col("vec_id").isin(1, 2, 3, 4)).select(
        F.col("vec_id").alias("cid"),
        emb.alias("cemb"),
        F.sqrt(dot(emb, emb)).alias("cnrm"),
    )
    vecs = e.select(
        "vec_id", "label", emb.alias("emb"), F.sqrt(dot(emb, emb)).alias("nrm")
    )
    crossed = vecs.crossJoin(F.broadcast(cents))
    sim_c = dot(F.col("emb"), F.col("cemb")) / (F.col("nrm") * F.col("cnrm"))
    # per-vector argmax centroid via groupBy + max_by (map-side combine:
    # the shuffle carries 1 row per vector, not K) — same (sim DESC, cid
    # ASC) tiebreak as the oracle's window.
    key = F.struct(F.col("simc").alias("s"), (-F.col("cid")).alias("c"))
    assigned = (
        crossed.withColumn("simc", sim_c)
        .groupBy("vec_id")
        .agg(F.max_by(F.struct("label", "emb", "nrm", "cid"), key).alias("_b"))
        .select(
            "vec_id",
            F.col("_b.label").alias("label"),
            F.col("_b.emb").alias("emb"),
            F.col("_b.nrm").alias("nrm"),
            F.col("_b.cid").alias("cid"),
        )
    )
    q = assigned.where(F.col("vec_id") == 0).select(
        F.col("emb").alias("qv"), F.col("nrm").alias("qnrm"), F.col("cid").alias("qcid")
    )
    cand = assigned.where(F.col("vec_id") != 0).join(
        F.broadcast(q), F.col("cid") == F.col("qcid")
    )
    cos = dot(F.col("emb"), F.col("qv")) / (F.col("nrm") * F.col("qnrm"))
    # rerank inside the probed cell: orderBy().limit() compiles to
    # TakeOrderedAndProject — no single-partition window.
    return (
        cand.withColumn("cos_raw", cos)
        .orderBy(F.col("cos_raw").desc(), "vec_id")
        .limit(5)
        .select("vec_id", "label", F.round("cos_raw", 5).alias("cosine"))
    )


@query(
    "sim_ivf_multiprobe",
    f"""
    WITH cents AS (
      SELECT vec_id AS cid, embedding AS cemb,
             sqrt(list_sum([CAST(embedding[x] AS DOUBLE) * CAST(embedding[x] AS DOUBLE)
                            for x in generate_series(1, {_EMB_DIM})])) AS cnrm
      FROM embeddings WHERE vec_id IN (1, 2, 3, 4)
    ), vecs AS (
      SELECT vec_id, label, embedding,
             sqrt(list_sum([CAST(embedding[x] AS DOUBLE) * CAST(embedding[x] AS DOUBLE)
                            for x in generate_series(1, {_EMB_DIM})])) AS nrm
      FROM embeddings
    ), assigned AS (
      SELECT vec_id, label, embedding, nrm, cid FROM (
        SELECT v.vec_id, v.label, v.embedding, v.nrm, c.cid,
               row_number() OVER (
                 PARTITION BY v.vec_id
                 ORDER BY list_sum([CAST(v.embedding[x] AS DOUBLE) * CAST(c.cemb[x] AS DOUBLE)
                                    for x in generate_series(1, {_EMB_DIM})])
                          / (v.nrm * c.cnrm) DESC, c.cid
               ) AS rnk
        FROM vecs v CROSS JOIN cents c
      ) WHERE rnk = 1
    ), qcells AS (
      SELECT cid FROM (
        SELECT c.cid,
               row_number() OVER (
                 ORDER BY list_sum([CAST(v.embedding[x] AS DOUBLE) * CAST(c.cemb[x] AS DOUBLE)
                                    for x in generate_series(1, {_EMB_DIM})])
                          / (v.nrm * c.cnrm) DESC, c.cid
               ) AS rnk
        FROM vecs v CROSS JOIN cents c WHERE v.vec_id = 0
      ) WHERE rnk <= 2
    ), q AS (
      SELECT embedding AS qv, nrm AS qnrm FROM vecs WHERE vec_id = 0
    )
    SELECT vec_id, label, cosine FROM (
      SELECT a.vec_id, a.label,
             round(list_sum([CAST(a.embedding[x] AS DOUBLE) * CAST(qv[x] AS DOUBLE)
                             for x in generate_series(1, {_EMB_DIM})]) / (a.nrm * qnrm), 5) AS cosine,
             row_number() OVER (
               ORDER BY list_sum([CAST(a.embedding[x] AS DOUBLE) * CAST(qv[x] AS DOUBLE)
                                  for x in generate_series(1, {_EMB_DIM})]) / (a.nrm * qnrm) DESC,
                        a.vec_id
             ) AS rn
      FROM assigned a, q
      WHERE a.cid IN (SELECT cid FROM qcells) AND a.vec_id != 0
    ) WHERE rn <= 5
    """,
)
def sim_ivf_multiprobe(spark, sf_dir):
    """IVF ANN with multiprobe (probe the query's top-2 cells, exact rerank
    inside them) — the recall/latency knob a 10^12-vector deployment tunes:
    probing p of K cells scans p/K of the data and recovers neighbors that
    straddle the query's cell boundary. Same broadcast/partial-agg shapes
    as sim_ivf_topk."""
    e = _t(spark, sf_dir, "embeddings")
    emb = F.col("embedding").cast("array<double>")

    def dot(a, b):
        return F.aggregate(
            F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x
        )

    cents = e.where(F.col("vec_id").isin(1, 2, 3, 4)).select(
        F.col("vec_id").alias("cid"),
        emb.alias("cemb"),
        F.sqrt(dot(emb, emb)).alias("cnrm"),
    )
    vecs = e.select(
        "vec_id", "label", emb.alias("emb"), F.sqrt(dot(emb, emb)).alias("nrm")
    )
    crossed = vecs.crossJoin(F.broadcast(cents))
    sim_c = dot(F.col("emb"), F.col("cemb")) / (F.col("nrm") * F.col("cnrm"))
    key = F.struct(F.col("simc").alias("s"), (-F.col("cid")).alias("c"))
    assigned = (
        crossed.withColumn("simc", sim_c)
        .groupBy("vec_id")
        .agg(F.max_by(F.struct("label", "emb", "nrm", "cid"), key).alias("_b"))
        .select(
            "vec_id",
            F.col("_b.label").alias("label"),
            F.col("_b.emb").alias("emb"),
            F.col("_b.nrm").alias("nrm"),
            F.col("_b.cid").alias("cid"),
        )
    )
    qcells = (
        crossed.where(F.col("vec_id") == 0)
        .withColumn("simc", sim_c)
        .orderBy(F.col("simc").desc(), "cid")
        .limit(2)
        .select("cid")
    )
    q = vecs.where(F.col("vec_id") == 0).select(
        F.col("emb").alias("qv"), F.col("nrm").alias("qnrm")
    )
    cand = (
        assigned.where(F.col("vec_id") != 0)
        .join(F.broadcast(qcells), "cid", "left_semi")
        .crossJoin(F.broadcast(q))
    )
    cos = dot(F.col("emb"), F.col("qv")) / (F.col("nrm") * F.col("qnrm"))
    return (
        cand.withColumn("cos_raw", cos)
        .orderBy(F.col("cos_raw").desc(), "vec_id")
        .limit(5)
        .select("vec_id", "label", F.round("cos_raw", 5).alias("cosine"))
    )




@query("sim_pq_topk")  # literal oracle via golden_oracle.py
def sim_pq_topk(spark, sf_dir):
    """Product Quantization ANN (operators.similarity.pq_train/encode/
    search): 64-dim vectors split into 4 subspaces, 8 L2 centroids per
    subspace Lloyd-fit from deterministic seeds, every vector encoded as
    4 one-byte codes, then ADC top-10 for query vec 7 from the m*k_sub
    lookup table — raw vectors never touched at search time. At 100 TB
    the codes table is 64x smaller than the embeddings and the LUT join
    is a broadcast; the literal oracle recomputes train+encode+search in
    pure Python."""
    from .operators.similarity import pq_encode, pq_search, pq_train

    emb = _t(spark, sf_dir, "embeddings")
    book = pq_train(emb, m=4, k_sub=8, iters=3)
    codes = pq_encode(emb, book, m=4)
    q = emb.where(F.col("vec_id") == 7).select(F.col("embedding").alias("qv"))
    return pq_search(codes, book, q, k=10, m=4)


@query("sim_pq_recall")  # literal oracle via golden_oracle.py
def sim_pq_recall(spark, sf_dir):
    """PQ quality harness: recall@10 of the ADC ranking against exact
    brute-force L2 — the metric that decides m/k_sub in production. Both
    rankings exclude the query vector itself; the literal oracle
    recomputes both sides."""
    from .operators.similarity import dist2, pq_encode, pq_search, pq_train

    emb = _t(spark, sf_dir, "embeddings")
    book = pq_train(emb, m=4, k_sub=8, iters=3)
    codes = pq_encode(emb, book, m=4)
    q = emb.where(F.col("vec_id") == 7).select(F.col("embedding").alias("qv"))
    pq_ids = pq_search(
        codes.where(F.col("vec_id") != 7), book, q, k=10, m=4
    ).select("vec_id")
    d2 = dist2(F.col("embedding").cast("array<double>"), F.col("qv"))
    brute_ids = (
        emb.where(F.col("vec_id") != 7)
        .crossJoin(F.broadcast(q))
        .select("vec_id", d2.alias("_d"))
        .orderBy(F.asc("_d"), F.asc("vec_id"))
        .limit(10)
        .select("vec_id")
    )
    hits = pq_ids.join(brute_ids, "vec_id", "left_semi").count()
    return spark.createDataFrame(
        [(10, hits, round(hits / 10.0, 2))], "k long, hits long, recall double"
    )


@query("sim_ivfpq_topk")  # literal oracle via golden_oracle.py
def sim_ivfpq_topk(spark, sf_dir):
    """IVF-PQ composite ANN (operators.similarity.ivfpq_build/search) —
    the FAISS production shape: 4 L2 coarse cells (Lloyd from seeds
    vec_id 1-4), per-vector RESIDUAL product-quantized (4 subspaces x 8
    centroids), search probes the 2 nearest cells and ranks by
    residual-ADC. Only probed cells' code rows are touched; every lookup
    table rides a broadcast. Residual quantization is measurably finer
    than raw-vector PQ at the same code budget (self-match ADC 0.415 vs
    0.458 on this corpus) — the reason this is the production composite.
    The literal oracle recomputes coarse fit + residual train/encode +
    probe + ADC in pure Python."""
    from .operators.similarity import ivfpq_build, ivfpq_search, kmeans_fit

    emb = _t(spark, sf_dir, "embeddings")
    seeds = emb.where(F.col("vec_id").isin(1, 2, 3, 4)).select(
        (F.col("vec_id") - 1).alias("cid"),
        F.col("embedding").cast("array<double>").alias("cemb"),
    )
    coarse = kmeans_fit(emb, seeds, iters=2, metric="l2")
    book, index = ivfpq_build(emb, coarse, m=4, k_sub=8, iters=2)
    q = emb.where(F.col("vec_id") == 7).select(F.col("embedding").alias("qv"))
    return ivfpq_search(index, book, coarse, q, k=10, m=4, n_probe=2)


@query("sim_ivfpq_sweep")  # literal oracle via golden_oracle.py
def sim_ivfpq_sweep(spark, sf_dir):
    """The n_probe operating-point curve a real ANN deployment tunes (r4
    VERDICT #5): recall@10 of IVF-PQ residual-ADC search at n_probe in
    {1, 2, 4} against the EXACT L2 top-10 (dist2 fold, id tiebreak).
    The index is built ONCE and localCheckpointed — coarse/book/index are
    each consumed by all three searches, and Spark has no cross-plan
    common-subexpression reuse (r3 learning), so without the barrier the
    kmeans/PQ lineage would recompute 3x. More probed cells can only
    grow the ADC candidate set; the literal oracle recomputes every
    point (coarse fit, residual codes, probe, ADC, exact brute) in pure
    Python. At scale each sweep point touches only its probed cells'
    code rows; all lookup tables ride broadcasts."""
    from .operators.similarity import (
        dist2, ivfpq_build, ivfpq_search, kmeans_fit,
    )

    emb = _t(spark, sf_dir, "embeddings")
    seeds = emb.where(F.col("vec_id").isin(1, 2, 3, 4)).select(
        (F.col("vec_id") - 1).alias("cid"),
        F.col("embedding").cast("array<double>").alias("cemb"),
    )
    coarse = kmeans_fit(emb, seeds, iters=2, metric="l2").localCheckpoint()
    book, index = ivfpq_build(emb, coarse, m=4, k_sub=8, iters=2)
    book = book.localCheckpoint()
    index = index.localCheckpoint()
    q = emb.where(F.col("vec_id") == 7).select(F.col("embedding").alias("qv"))
    brute = (
        emb.crossJoin(F.broadcast(q))
        .select(
            "vec_id",
            dist2(
                F.col("embedding").cast("array<double>"), F.col("qv")
            ).alias("d2"),
        )
        .orderBy(F.asc("d2"), F.asc("vec_id"))
        .limit(10)
        .select("vec_id")
        .localCheckpoint()
    )
    # ONE driver job for all three sweep points (r6 third pass): the
    # per-point top-10 lists are tagged with their n_probe and counted
    # against the exact set in a single union+join+groupBy — identical
    # per-point intersection counts, 3 driver-synchronized jobs -> 1.
    probes = [
        ivfpq_search(index, book, coarse, q, k=10, m=4, n_probe=p)
        .select("vec_id")
        .withColumn("n_probe", F.lit(p))
        for p in (1, 2, 4)
    ]
    tagged = probes[0].unionAll(probes[1]).unionAll(probes[2])
    hit_rows = (
        tagged.join(brute, "vec_id")
        .groupBy("n_probe")
        .agg(F.count("*").alias("h"))
        .collect()
    )
    hits_by_p = {int(r["n_probe"]): int(r["h"]) for r in hit_rows}
    rows = [
        (p, hits_by_p.get(p, 0), round(hits_by_p.get(p, 0) / 10.0, 2))
        for p in (1, 2, 4)
    ]
    return spark.createDataFrame(
        rows, "n_probe int, n_hit long, recall_at_10 double"
    )


@query(
    "sim_ivf_recall",
    f"""
    WITH cents AS (
      SELECT vec_id AS cid, embedding AS cemb,
             sqrt(list_sum([CAST(embedding[x] AS DOUBLE) * CAST(embedding[x] AS DOUBLE)
                            for x in generate_series(1, {_EMB_DIM})])) AS cnrm
      FROM embeddings WHERE vec_id IN (1, 2, 3, 4)
    ), vecs AS (
      SELECT vec_id, embedding,
             sqrt(list_sum([CAST(embedding[x] AS DOUBLE) * CAST(embedding[x] AS DOUBLE)
                            for x in generate_series(1, {_EMB_DIM})])) AS nrm
      FROM embeddings
    ), assigned AS (
      SELECT vec_id, embedding, nrm, cid FROM (
        SELECT v.vec_id, v.embedding, v.nrm, c.cid,
               row_number() OVER (
                 PARTITION BY v.vec_id
                 ORDER BY list_sum([CAST(v.embedding[x] AS DOUBLE) * CAST(c.cemb[x] AS DOUBLE)
                                    for x in generate_series(1, {_EMB_DIM})])
                          / (v.nrm * c.cnrm) DESC, c.cid
               ) AS rnk
        FROM vecs v CROSS JOIN cents c
      ) WHERE rnk = 1
    ), q AS (
      SELECT embedding AS qv, nrm AS qnrm, cid AS qcid FROM assigned WHERE vec_id = 0
    ), ivf AS (
      SELECT vec_id FROM (
        SELECT a.vec_id,
               row_number() OVER (
                 ORDER BY list_sum([CAST(a.embedding[x] AS DOUBLE) * CAST(qv[x] AS DOUBLE)
                                    for x in generate_series(1, {_EMB_DIM})]) / (a.nrm * qnrm) DESC,
                          a.vec_id
               ) AS rn
        FROM assigned a, q
        WHERE a.cid = q.qcid AND a.vec_id != 0
      ) WHERE rn <= 5
    ), brute AS (
      SELECT vec_id FROM (
        SELECT a.vec_id,
               row_number() OVER (
                 ORDER BY list_sum([CAST(a.embedding[x] AS DOUBLE) * CAST(qv[x] AS DOUBLE)
                                    for x in generate_series(1, {_EMB_DIM})]) / (a.nrm * qnrm) DESC,
                          a.vec_id
               ) AS rn
        FROM assigned a, q
        WHERE a.vec_id != 0
      ) WHERE rn <= 5
    )
    SELECT CAST((SELECT count(*) FROM ivf JOIN brute USING (vec_id)) AS BIGINT) AS n_hit,
           round((SELECT count(*) FROM ivf JOIN brute USING (vec_id)) / 5.0, 2) AS recall_at_5
    """,
)
def sim_ivf_recall(spark, sf_dir):
    """ANN quality evaluation: recall@5 of single-probe IVF against the
    exact brute-force top-5 — the metric an ANN deployment tunes probe
    count / nlist against. Composes the registered sim_ivf_topk query with
    an exact cosine_topk rerank of the full corpus and counts the
    overlap; the DuckDB oracle recomputes both rankings independently."""
    from .operators.similarity import cosine_topk

    e = _t(spark, sf_dir, "embeddings")
    ivf = QUERIES["sim_ivf_topk"](spark, sf_dir).select("vec_id")
    qv = e.where(F.col("vec_id") == 0).select(F.col("embedding").alias("qv"))
    brute = cosine_topk(e.where(F.col("vec_id") != 0), qv, k=5).select("vec_id")
    n_hit = ivf.join(brute, "vec_id").count()
    return spark.createDataFrame(
        [(n_hit, round(n_hit / 5.0, 2))], "n_hit long, recall_at_5 double"
    )


@query(
    "sim_ivf_recall_mp",
    f"""
    WITH cents AS (
      SELECT vec_id AS cid, embedding AS cemb,
             sqrt(list_sum([CAST(embedding[x] AS DOUBLE) * CAST(embedding[x] AS DOUBLE)
                            for x in generate_series(1, {_EMB_DIM})])) AS cnrm
      FROM embeddings WHERE vec_id IN (1, 2, 3, 4)
    ), vecs AS (
      SELECT vec_id, embedding,
             sqrt(list_sum([CAST(embedding[x] AS DOUBLE) * CAST(embedding[x] AS DOUBLE)
                            for x in generate_series(1, {_EMB_DIM})])) AS nrm
      FROM embeddings
    ), assigned AS (
      SELECT vec_id, embedding, nrm, cid FROM (
        SELECT v.vec_id, v.embedding, v.nrm, c.cid,
               row_number() OVER (
                 PARTITION BY v.vec_id
                 ORDER BY list_sum([CAST(v.embedding[x] AS DOUBLE) * CAST(c.cemb[x] AS DOUBLE)
                                    for x in generate_series(1, {_EMB_DIM})])
                          / (v.nrm * c.cnrm) DESC, c.cid
               ) AS rnk
        FROM vecs v CROSS JOIN cents c
      ) WHERE rnk = 1
    ), qcells AS (
      SELECT cid, rnk FROM (
        SELECT c.cid,
               row_number() OVER (
                 ORDER BY list_sum([CAST(v.embedding[x] AS DOUBLE) * CAST(c.cemb[x] AS DOUBLE)
                                    for x in generate_series(1, {_EMB_DIM})])
                          / (v.nrm * c.cnrm) DESC, c.cid
               ) AS rnk
        FROM vecs v CROSS JOIN cents c WHERE v.vec_id = 0
      ) WHERE rnk <= 2
    ), q AS (
      SELECT embedding AS qv, nrm AS qnrm FROM vecs WHERE vec_id = 0
    ), ranked AS (
      SELECT a.vec_id, a.cid,
             row_number() OVER (
               ORDER BY list_sum([CAST(a.embedding[x] AS DOUBLE) * CAST(qv[x] AS DOUBLE)
                                  for x in generate_series(1, {_EMB_DIM})]) / (a.nrm * qnrm) DESC,
                        a.vec_id
             ) AS rn
      FROM assigned a, q WHERE a.vec_id != 0
    ), brute AS (
      SELECT vec_id FROM ranked WHERE rn <= 5
    )
    SELECT probes, CAST(n_hit AS BIGINT) AS n_hit,
           round(n_hit / 5.0, 2) AS recall_at_5
    FROM (
      SELECT 1 AS probes,
             (SELECT count(*) FROM brute b
              JOIN (SELECT vec_id FROM (
                      SELECT a.vec_id,
                             row_number() OVER (
                               ORDER BY list_sum([CAST(a.embedding[x] AS DOUBLE) * CAST(qv[x] AS DOUBLE)
                                                  for x in generate_series(1, {_EMB_DIM})]) / (a.nrm * qnrm) DESC,
                                        a.vec_id
                             ) AS rn
                      FROM assigned a, q
                      WHERE a.cid IN (SELECT cid FROM qcells WHERE rnk <= 1)
                        AND a.vec_id != 0
                    ) WHERE rn <= 5) iv ON iv.vec_id = b.vec_id) AS n_hit
      UNION ALL
      SELECT 2 AS probes,
             (SELECT count(*) FROM brute b
              JOIN (SELECT vec_id FROM (
                      SELECT a.vec_id,
                             row_number() OVER (
                               ORDER BY list_sum([CAST(a.embedding[x] AS DOUBLE) * CAST(qv[x] AS DOUBLE)
                                                  for x in generate_series(1, {_EMB_DIM})]) / (a.nrm * qnrm) DESC,
                                        a.vec_id
                             ) AS rn
                      FROM assigned a, q
                      WHERE a.cid IN (SELECT cid FROM qcells)
                        AND a.vec_id != 0
                    ) WHERE rn <= 5) iv ON iv.vec_id = b.vec_id) AS n_hit
    )
    """,
)
def sim_ivf_recall_mp(spark, sf_dir):
    """The probe-count tuning curve: recall@5 at probes=1 vs probes=2
    against the exact brute-force top-5 — multiprobe must recover
    neighbors straddling the query's cell boundary. Composes the
    registered single-probe and multiprobe queries with one exact
    rerank."""
    from .operators.similarity import cosine_topk

    e = _t(spark, sf_dir, "embeddings")
    qv = e.where(F.col("vec_id") == 0).select(F.col("embedding").alias("qv"))
    brute = cosine_topk(e.where(F.col("vec_id") != 0), qv, k=5).select("vec_id")
    rows = []
    for probes, qname in ((1, "sim_ivf_topk"), (2, "sim_ivf_multiprobe")):
        hits = (
            QUERIES[qname](spark, sf_dir).select("vec_id").join(brute, "vec_id").count()
        )
        rows.append((probes, hits, round(hits / 5.0, 2)))
    return spark.createDataFrame(
        rows, "probes int, n_hit long, recall_at_5 double"
    )



@query(
    "sim_kmeans_step",
    f"""
    WITH cents AS (
      SELECT vec_id AS cid, embedding AS cemb,
             sqrt(list_sum([CAST(embedding[x] AS DOUBLE) * CAST(embedding[x] AS DOUBLE)
                            for x in generate_series(1, {_EMB_DIM})])) AS cnrm
      FROM embeddings WHERE vec_id IN (1, 2, 3, 4)
    ), vecs AS (
      SELECT vec_id, embedding,
             sqrt(list_sum([CAST(embedding[x] AS DOUBLE) * CAST(embedding[x] AS DOUBLE)
                            for x in generate_series(1, {_EMB_DIM})])) AS nrm
      FROM embeddings
    ), assigned AS (
      SELECT vec_id, embedding, cid FROM (
        SELECT v.vec_id, v.embedding, c.cid,
               row_number() OVER (
                 PARTITION BY v.vec_id
                 ORDER BY list_sum([CAST(v.embedding[x] AS DOUBLE) * CAST(c.cemb[x] AS DOUBLE)
                                    for x in generate_series(1, {_EMB_DIM})])
                          / (v.nrm * c.cnrm) DESC, c.cid
               ) AS rnk
        FROM vecs v CROSS JOIN cents c
      ) WHERE rnk = 1
    )
    SELECT cid, CAST(x AS BIGINT) AS pos, CAST(count(*) AS BIGINT) AS n,
           round(avg(CAST(embedding[x] AS DOUBLE)), 5) AS c_mean
    FROM assigned, LATERAL (SELECT unnest(generate_series(1, {_EMB_DIM})) AS x) t
    GROUP BY cid, x
    """,
)
def sim_kmeans_step(spark, sf_dir):
    """One Lloyd iteration of IVF centroid training (operators.similarity
    .kmeans_step): assign to max-cosine centroid (broadcast + partial
    max_by), recompute per-cell element-wise means in long form — the
    exchange carries K*dim partial sums per task, never the vectors.
    Iteration (kmeans_fit) re-broadcasts the K*dim result each round."""
    from .operators.similarity import kmeans_step

    e = _t(spark, sf_dir, "embeddings")
    cents = e.where(F.col("vec_id").isin(1, 2, 3, 4)).select(
        F.col("vec_id").alias("cid"), F.col("embedding").alias("cemb")
    )
    return kmeans_step(e.select("vec_id", "embedding"), cents)


@query(
    "txt_quality_score",
    """
    SELECT source, round(avg(q), 6) AS avg_quality FROM (
      SELECT source,
             round((least(length(text) / 500.0, 1.0)
                  + least((len(regexp_extract_all(text, '[.,;:!?]')) * 1.0
                           / greatest(length(text), 1)) * 20.0, 1.0)
                  + least((len(regexp_extract_all(lower(text), '\\b(the|a|and|of|to|in|is)\\b')) * 1.0
                           / greatest(len(regexp_extract_all(text, '[A-Za-z0-9'']+')), 1)) * 4.0, 1.0)
                   ) / 3.0, 6) AS q
      FROM documents
    ) GROUP BY source
    """,
)
def txt_quality_score(spark, sf_dir):
    """Composite quality score (functions.text.quality_score) averaged per
    source — the filter signal a training-data pipeline thresholds on."""
    from .functions import text as TX

    d = _t(spark, sf_dir, "documents")
    return d.groupBy("source").agg(
        F.round(F.avg(TX.quality_score("text")), 6).alias("avg_quality")
    )


@query(
    "v2_json_schema_gate",
    """
    SELECT event_type,
           count(*) AS n,
           CAST(sum(CASE WHEN k IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_parsed,
           CAST(sum(coalesce(k, 0)) AS BIGINT) AS k_total,
           CAST(max(k) AS BIGINT) AS k_max
    FROM (
      SELECT event_type, CAST(json_extract(props, '$.k') AS BIGINT) AS k
      FROM events WHERE user_id < 50
    ) GROUP BY event_type
    """,
)
def v2_json_schema_gate(spark, sf_dir):
    """Schema-validated JSON parsing with null-gating — the deterministic
    replacement for the reference's trustcall repair loop
    (agents/nodes.py:170-198): from_json in PERMISSIVE mode, unparseable
    or missing fields become NULL and are gated, never retried."""
    e = _t(spark, sf_dir, "events").where(F.col("user_id") < 50)
    parsed = e.withColumn(
        "p",
        F.from_json(
            "props", "k BIGINT", {"mode": "PERMISSIVE"}
        ),
    ).withColumn("k", F.col("p.k"))
    return parsed.groupBy("event_type").agg(
        F.count("*").alias("n"),
        F.sum(F.when(F.col("k").isNotNull(), 1).otherwise(0))
        .cast("long")
        .alias("n_parsed"),
        F.sum(F.coalesce("k", F.lit(0))).cast("long").alias("k_total"),
        F.max("k").cast("long").alias("k_max"),
    )


@query("g1_generate_content")  # rows-only: nested Map/Struct generation
def g1_generate_content(spark, sf_dir):
    """The reference's generation stage (agents/nodes.py:292-327) as a
    deterministic template generator over validated extracted docs —
    summary counts of the nested GenerationResult-shaped struct."""
    from .functions.readability import CriteriaConfig
    from .operators.extract import extracted_text
    from .operators.generate import with_generation
    from .plans.pipeline import extract_documents

    docs = _interleaved_from_documents(spark, sf_dir)
    out = extract_documents(docs, CriteriaConfig(grade_lo=-100.0, grade_hi=100.0))
    valid = out.where(F.col("is_valid"))
    gen = with_generation(valid, extracted_text("spans"))
    return gen.select(
        "doc_id",
        F.size(F.map_keys("generated.flashcards")).cast("long").alias("n_flashcards"),
        F.size("generated.mcq").cast("long").alias("n_mcq"),
        F.size("generated.fillInTheBlanks").cast("long").alias("n_blanks"),
        F.size("generated.questionAnswer").cast("long").alias("n_qa"),
        F.length("generated.importantNotes").cast("long").alias("notes_len"),
    )


@query(
    "scalar_datetime",
    """
    SELECT event_id,
           CAST(date_part('year', ts) AS BIGINT) AS y,
           CAST(date_part('month', ts) AS BIGINT) AS mo,
           CAST(date_part('dow', ts) AS BIGINT) AS dow0,
           CAST(floor(date_part('epoch', ts)) AS BIGINT) AS epoch_s,
           strftime(ts, '%Y-%m-%d') AS d_iso,
           CAST(date_trunc('hour', ts) = ts AS VARCHAR) AS on_the_hour,
           strftime(ts + INTERVAL 7 DAY, '%Y-%m-%d') AS d_plus7
    FROM events WHERE event_id < 25
    """,
)
def scalar_datetime(spark, sf_dir):
    """Datetime scalar battery: extract/format/truncate/interval arithmetic
    — the remaining scalar-function family (§2.9). DuckDB dow is 0=Sunday;
    Spark dayofweek is 1=Sunday, aligned by -1."""
    _utc(spark)
    e = _t(spark, sf_dir, "events").where(F.col("event_id") < 25)
    return e.select(
        "event_id",
        F.year("ts").cast("long").alias("y"),
        F.month("ts").cast("long").alias("mo"),
        (F.dayofweek("ts") - 1).cast("long").alias("dow0"),
        F.unix_timestamp("ts").alias("epoch_s"),
        F.date_format("ts", "yyyy-MM-dd").alias("d_iso"),
        (F.date_trunc("hour", F.col("ts")) == F.col("ts"))
        .cast("string")
        .alias("on_the_hour"),
        F.date_format(F.col("ts") + F.expr("INTERVAL 7 DAYS"), "yyyy-MM-dd").alias(
            "d_plus7"
        ),
    )


_SRC_ROUNDTRIP_ORACLE = """
    SELECT lang, count(*) AS n,
           CAST(sum(n_chars) AS BIGINT) AS chars,
           CAST(sum(length(text)) AS BIGINT) AS text_chars
    FROM documents GROUP BY lang
    """


@query("src_json_roundtrip", _SRC_ROUNDTRIP_ORACLE)
def src_json_roundtrip(spark, sf_dir):
    """JSON source format: write the documents table as JSON lines, read it
    back with an explicit schema, aggregate — value equality with the
    parquet-side oracle proves lossless ingest (incl. unicode docs). At
    scale this is the crawl-dump ingestion path (WARC-derived JSONL)."""
    d = _t(spark, sf_dir, "documents")
    path = _scratch_dir("atps_src_json")
    d.write.mode("overwrite").json(path)
    j = spark.read.schema(d.schema).json(path)
    return j.groupBy("lang").agg(
        F.count("*").alias("n"),
        F.sum("n_chars").cast("long").alias("chars"),
        F.sum(F.length("text")).cast("long").alias("text_chars"),
    )


@query("src_csv_roundtrip", _SRC_ROUNDTRIP_ORACLE)
def src_csv_roundtrip(spark, sf_dir):
    """CSV source format: quoted/escaped/multiline-safe round-trip of the
    flat document columns, same fidelity check as the JSON path."""
    d = _t(spark, sf_dir, "documents")
    path = _scratch_dir("atps_src_csv")
    (
        d.write.mode("overwrite")
        .option("header", True)
        .option("quote", '"')
        .option("escape", '"')
        .csv(path)
    )
    c = (
        spark.read.schema(d.schema)
        .option("header", True)
        .option("multiLine", True)
        .option("quote", '"')
        .option("escape", '"')
        .csv(path)
    )
    return c.groupBy("lang").agg(
        F.count("*").alias("n"),
        F.sum("n_chars").cast("long").alias("chars"),
        F.sum(F.length("text")).cast("long").alias("text_chars"),
    )


@query(
    "src_json_malformed",
    """
    SELECT lang, count(*) AS n, CAST(sum(n_chars) AS BIGINT) AS chars
    FROM documents WHERE doc_id % 10 != 3 GROUP BY lang
    UNION ALL
    SELECT '_quarantined' AS lang, count(*) AS n,
           CAST(sum(length('{"doc_id": ' || CAST(doc_id AS VARCHAR)
                           || ', "text": ')) AS BIGINT) AS chars
    FROM documents WHERE doc_id % 10 = 3
    """,
)
def src_json_malformed(spark, sf_dir):
    """Malformed-row quarantine for the JSON source (VERDICT r2 #6): plant
    deterministically corrupt lines (every doc_id % 10 == 3 becomes an
    unterminated object), read PERMISSIVE with `_corrupt_record`, and
    quarantine instead of dropping — the Spark-source analog of the
    reference's error channel (/root/reference/routes/route.py:136-138,
    which catches per-document failures and returns them as `Error: ...`
    rows rather than aborting the batch). The quarantine row aggregates
    length(_corrupt_record), so the oracle match proves the raw bytes of
    every bad line were retained verbatim, not just counted. At 100 TB the
    crawl-ingest path lives or dies on this: one torn JSONL line per
    shard must not kill a 1000-executor job or silently vanish."""
    d = _t(spark, sf_dir, "documents")
    path = _scratch_dir("atps_src_json_malformed")
    good = F.to_json(F.struct(*[F.col(c) for c in d.columns]))
    corrupt = F.concat(
        F.lit('{"doc_id": '), F.col("doc_id").cast("string"), F.lit(', "text": ')
    )
    d.select(
        F.when(F.col("doc_id") % 10 == 3, corrupt).otherwise(good).alias("value")
    ).write.mode("overwrite").text(path)

    schema = d.schema.add("_corrupt_record", "string")
    j = (
        spark.read.schema(schema)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt_record")
        .json(path)
        # localCheckpoint (NOT cache): detaches from the file-source lineage,
        # which both lifts Spark's corrupt-record-only-query restriction and
        # avoids pinning a cache-manager entry per harness invocation
        # (blocks are GC-freed with the frame; r3 ADVICE)
        .localCheckpoint(eager=True)
    )
    clean = j.where(F.col("_corrupt_record").isNull()).groupBy("lang").agg(
        F.count("*").alias("n"), F.sum("n_chars").cast("long").alias("chars")
    )
    quarantined = j.where(F.col("_corrupt_record").isNotNull()).agg(
        F.lit("_quarantined").alias("lang"),
        F.count("*").alias("n"),
        F.sum(F.length("_corrupt_record")).cast("long").alias("chars"),
    ).select("lang", "n", "chars")
    return clean.unionByName(quarantined)


@query(
    "src_csv_malformed",
    """
    SELECT lang, count(*) AS n, CAST(sum(n_chars) AS BIGINT) AS chars
    FROM documents WHERE doc_id % 7 != 2 GROUP BY lang
    UNION ALL
    SELECT '_quarantined' AS lang, count(*) AS n,
           CAST(sum(length(CAST(doc_id AS VARCHAR) || ',' || lang || ','
                           || source || ',n/a')) AS BIGINT) AS chars
    FROM documents WHERE doc_id % 7 = 2
    """,
)
def src_csv_malformed(spark, sf_dir):
    """CSV twin of the malformed-row quarantine: every doc_id % 7 == 2 row
    carries an unparseable BIGINT cell ('n/a' in n_chars), PERMISSIVE mode
    nulls the field and preserves the raw line in `_corrupt_record`; both
    channels are aggregated and oracle-matched (quarantine chars =
    byte-length of the planted lines, proving verbatim retention)."""
    d = _t(spark, sf_dir, "documents").select("doc_id", "lang", "source", "n_chars")
    path = _scratch_dir("atps_src_csv_malformed")
    line = F.concat_ws(
        ",",
        F.col("doc_id").cast("string"),
        "lang",
        "source",
        F.when(F.col("doc_id") % 7 == 2, F.lit("n/a")).otherwise(
            F.col("n_chars").cast("string")
        ),
    )
    d.select(line.alias("value")).write.mode("overwrite").text(path)

    schema = d.schema.add("_corrupt_record", "string")
    c = (
        spark.read.schema(schema)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt_record")
        .csv(path)
        .localCheckpoint(eager=True)
    )
    clean = c.where(F.col("_corrupt_record").isNull()).groupBy("lang").agg(
        F.count("*").alias("n"), F.sum("n_chars").cast("long").alias("chars")
    )
    quarantined = c.where(F.col("_corrupt_record").isNotNull()).agg(
        F.lit("_quarantined").alias("lang"),
        F.count("*").alias("n"),
        F.sum(F.length("_corrupt_record")).cast("long").alias("chars"),
    ).select("lang", "n", "chars")
    return clean.unionByName(quarantined)


@query(
    "ev_stream_windowed",
    """
    SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS h,
           event_type, count(*) AS n
    FROM events GROUP BY 1, 2
    """,
)
def ev_stream_windowed(spark, sf_dir):
    """Structured Streaming, oracle-checked: the events table is replayed
    through readStream (file source) into a watermarked event-time
    tumbling-window aggregate, drained to completion, and the FINAL
    windowed counts — produced by the streaming engine's incremental
    state, not a batch plan — must value-match the DuckDB batch oracle.
    Complete-mode drain over a deterministic replay makes the comparison
    exact; at scale the same topology runs unbounded with the watermark
    bounding state (streaming/stream_extract.py carries the exactly-once
    foreachBatch sink side)."""
    import shutil
    import tempfile

    _utc(spark)
    src = tempfile.mkdtemp(prefix="atps_stream_ev_")
    shutil.copy(f"{sf_dir}/events.parquet", src + "/part-0.parquet")
    schema = spark.read.parquet(src).schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
        .withColumn("ts", F.col("ts").cast("timestamp"))
        .withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count("*").alias("n"))
    )
    with _stream_state_partitions(spark):
        q = (
            stream.writeStream.outputMode("complete")
            .format("memory")
            .queryName("atps_ev_stream_windowed")
            .start()
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()
    return spark.table("atps_ev_stream_windowed").select(
        F.date_format("w.start", "yyyy-MM-dd HH:mm:ss").alias("h"),
        "event_type",
        "n",
    )


@query(
    "ev_stream_late",
    """
    WITH mx AS (SELECT max(ts) AS m FROM events),
    allr AS (
      SELECT ts, event_type FROM events
      UNION ALL
      SELECT (SELECT m FROM mx) AS ts, event_type
      FROM events WHERE event_id % 10 = 1
    )
    SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS h,
           event_type, count(*) AS n
    FROM allr GROUP BY 1, 2
    """,
)
def ev_stream_late(spark, sf_dir):
    """Watermark LATE-DATA DROP semantics, oracle-checked (r3 VERDICT #6).

    Three-trigger replay (maxFilesPerTrigger=1, mtime-ordered files):
      1. every on-time event — after this trigger the watermark is
         max(ts) - 10 min;
      2. planted late arrivals: for event_id % 10 == 0 a copy shifted to
         min(ts) - 2 days (far below the watermark -> DROPPED by the
         stateful aggregation), and for event_id % 10 == 1 a copy at
         exactly max(ts) (>= watermark -> accepted late);
      3. a sentinel 2 days ahead that pushes the watermark past every real
         window so APPEND mode — the mode in which Spark actually drops
         late rows; complete mode keeps all state — emits them all.

    The DuckDB oracle counts the on-time rows plus ONLY the acceptable
    late copies: a value-hash match proves the engine dropped exactly the
    planted too-late rows and nothing else. At scale this is the contract
    that bounds streaming state: watermark delay = how much disorder the
    ingest path tolerates before data loss is deliberate."""
    import datetime as _dt
    import os
    import shutil
    import tempfile

    _utc(spark)
    # Driver-safe fixture planting (r4 VERDICT #3): everything is selected
    # and WRITTEN by Spark; the driver touches only the 1-row min/max
    # aggregate, so memory stays independent of SF (the old version
    # toPandas()'d the whole events table).
    ev = _t(spark, sf_dir, "events").select(
        "event_id", F.col("ts").cast("timestamp").alias("ts"), "event_type"
    )
    agg = ev.agg(F.min("ts").alias("mn"), F.max("ts").alias("mx")).first()
    mn, mx = agg["mn"], agg["mx"]

    ontime = ev.select("ts", "event_type")
    dropped = ev.where(F.col("event_id") % 10 == 0).select(
        F.lit(mn - _dt.timedelta(days=2)).alias("ts"), "event_type"
    )
    oklate = ev.where(F.col("event_id") % 10 == 1).select(
        F.lit(mx).alias("ts"), "event_type"
    )
    sentinel = spark.createDataFrame(
        [(mx + _dt.timedelta(days=2), "__sentinel__")],
        "ts timestamp, event_type string",
    )
    src = tempfile.mkdtemp(prefix="atps_stream_late_")

    def _arrive(i: int, part) -> None:
        # Spark-side write into a staging dir, then one atomic rename into
        # the watched dir. coalesce(1) keeps each arrival a SINGLE file so
        # the continuously-polling source cannot split one logical arrival
        # across two micro-batches (which would advance the watermark
        # mid-arrival and drop rows the fixture means to be on-time).
        stage = f"{src}_stage{i}"
        part.coalesce(1).write.mode("overwrite").parquet(stage)
        pf = [f for f in os.listdir(stage) if f.endswith(".parquet")][0]
        os.rename(f"{stage}/{pf}", f"{src}/f{i}.parquet")
        shutil.rmtree(stage, ignore_errors=True)

    stream = (
        spark.readStream.schema("ts timestamp, event_type string")
        .parquet(src)
        .withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count("*").alias("n"))
    )
    with _stream_state_partitions(spark):
        q = (
            stream.writeStream.outputMode("append")
            .format("memory")
            .queryName("atps_ev_stream_late")
            .start()
        )
        try:
            # strict trigger ordering by ARRIVAL: each batch is fully
            # processed (watermark advanced) before the next file exists —
            # the actual late-arrival topology, independent of file-source
            # listing order
            for i, part in enumerate(
                (ontime, dropped.unionAll(oklate), sentinel), start=1
            ):
                _arrive(i, part)
                q.processAllAvailable()
        finally:
            q.stop()
    return (
        spark.table("atps_ev_stream_late")
        .where(F.col("event_type") != "__sentinel__")
        .select(
            F.date_format("w.start", "yyyy-MM-dd HH:mm:ss").alias("h"),
            "event_type",
            "n",
        )
    )


@query(
    "ev_stream_dedup",
    """
    SELECT event_type, CAST(count(*) AS BIGINT) AS n,
           CAST(sum(event_id) AS BIGINT) AS id_sum
    FROM events GROUP BY event_type
    """,
)
def ev_stream_dedup(spark, sf_dir):
    """Streaming stateful DEDUPLICATION, oracle-checked: the events table
    is replayed, then a second trigger re-delivers every 5th event (the
    at-least-once-delivery double), through ``dropDuplicatesWithinWatermark``
    on event_id. The final per-type counts and id-sums must equal the
    batch DISTINCT oracle — i.e. the planted re-deliveries were absorbed,
    not double-counted. Re-deliveries with event times inside the 1 h
    watermark horizon are absorbed by the DEDUP STATE; older ones by the
    watermark LATE FILTER — the two halves of the same exactly-once
    contract, both exercised here (the corpus spans a month, so the
    every-5th re-delivery set straddles the horizon). id_sum pins WHICH
    rows survived, not just how many. At scale the watermark bounds dedup
    state to the re-delivery horizon, which is what makes at-least-once
    upstream + exactly-once counts possible on an unbounded stream."""
    import os
    import shutil
    import tempfile

    _utc(spark)
    ev = _t(spark, sf_dir, "events")
    src = tempfile.mkdtemp(prefix="atps_stream_dd_")
    shutil.copy(f"{sf_dir}/events.parquet", src + "/.f1.tmp")
    os.rename(src + "/.f1.tmp", src + "/f1.parquet")

    schema = spark.read.parquet(src).schema
    stream = (
        spark.readStream.schema(schema)
        .parquet(src)
        .withColumn("ts", F.col("ts").cast("timestamp"))
        .withWatermark("ts", "1 hour")
        .dropDuplicatesWithinWatermark(["event_id"])
        .groupBy("event_type")
        .agg(
            F.count("*").alias("n"),
            F.sum("event_id").alias("id_sum"),
        )
    )
    with _stream_state_partitions(spark):
        q = (
            stream.writeStream.outputMode("complete")
            .format("memory")
            .queryName("atps_ev_stream_dedup")
            .start()
        )
        try:
            q.processAllAvailable()
            # second trigger: re-deliver every 5th event (same rows/ids)
            dupes = ev.where(F.col("event_id") % 5 == 0)
            dupes.coalesce(1).write.mode("overwrite").parquet(
                src + "_redeliver"
            )
            part = [
                f for f in os.listdir(src + "_redeliver")
                if f.endswith(".parquet")
            ][0]
            shutil.copy(f"{src}_redeliver/{part}", src + "/.f2.tmp")
            os.rename(src + "/.f2.tmp", src + "/f2.parquet")
            q.processAllAvailable()
        finally:
            q.stop()
    return spark.table("atps_ev_stream_dedup").select(
        "event_type", F.col("n").cast("long").alias("n"),
        F.col("id_sum").cast("long").alias("id_sum"),
    )


# the deterministic-packing CTE, shared by pk_sequence_packing and
# tp5_pack_export so the two oracles cannot drift
_PK_PACKED_SQL = """
    WITH toks AS (
      SELECT doc_id,
             CAST(CONCAT('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 12))
                  AS BIGINT) % 10000 % 8 AS bucket,
             CAST(len(regexp_extract_all(text, '[A-Za-z0-9'']+')) AS BIGINT) AS n_tokens
      FROM documents
    ), packed AS (
      SELECT bucket, n_tokens,
             CAST(floor(coalesce(sum(n_tokens) OVER (
               PARTITION BY bucket ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
             ), 0) / 512.0) AS BIGINT) AS bin_idx
      FROM toks
    )
"""


@query(
    "pk_sequence_packing",
    _PK_PACKED_SQL
    + """
    SELECT bucket, bin_idx, count(*) AS n_docs,
           CAST(sum(n_tokens) AS BIGINT) AS sum_tokens
    FROM packed GROUP BY bucket, bin_idx
    """,
)
def pk_sequence_packing(spark, sf_dir):
    """Sequence packing (operators.packing): documents assigned to
    ~512-token training bins by deterministic cumulative packing WITHIN
    hash buckets — the window is partitioned by bucket, so no global
    WindowExec funnel; one shuffle + partitioned window at any corpus
    size. Output is the per-bin occupancy view a pipeline monitors."""
    from .functions.text import token_count
    from .operators.packing import bin_stats, pack_bins

    d = _t(spark, sf_dir, "documents").select(
        "doc_id", token_count("text").alias("n_tokens")
    )
    return bin_stats(pack_bins(d, budget=512, n_buckets=8))


@query(
    "tp5_pack_export",
    _PK_PACKED_SQL
    + """
    , sharded AS (
      SELECT bucket, bin_idx, n_tokens,
             CAST('0x' || substr(md5(CAST(bucket AS VARCHAR) || ':'
                                     || CAST(bin_idx AS VARCHAR)), 1, 12)
                  AS BIGINT) % 10000 % 8 AS shard
      FROM packed
    )
    SELECT shard,
           CAST(count(DISTINCT CAST(bucket AS VARCHAR) || ':'
                             || CAST(bin_idx AS VARCHAR)) AS BIGINT) AS n_bins,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_tokens) AS BIGINT) AS sum_tokens
    FROM sharded GROUP BY shard
    """,
)
def tp5_pack_export(spark, sf_dir):
    """The corpus -> training-shards capstone: deterministic sequence
    packing (operators/packing.pack_bins) composed with deterministic
    shard assignment (operators/export shard idiom) — shards are keyed on
    the BIN, not the document, so a packed training sequence is never
    split across shard files (the invariant a loader requires).  Every
    stage is a pure row/window function of ids: re-runs, retries, and
    both engines produce identical shards.  The write path is
    export_shards partitioned on this shard column; the oracle pins the
    manifest (bins/docs/tokens per shard) that write must reproduce.
    Shares the packing CTE with pk_sequence_packing so the two oracles
    cannot drift."""
    from .functions.text import token_count
    from .operators.packing import pack_bins
    from .operators.sampling import sample_hash

    d = _t(spark, sf_dir, "documents").select(
        "doc_id", token_count("text").alias("n_tokens")
    )
    packed = pack_bins(d, budget=512, n_buckets=8)
    bin_key = F.concat_ws(
        ":", F.col("bucket").cast("string"), F.col("bin_idx").cast("string")
    )
    return (
        packed.withColumn("shard", sample_hash(bin_key) % 8)
        .groupBy("shard")
        .agg(
            F.countDistinct(bin_key).cast("long").alias("n_bins"),
            F.count("*").cast("long").alias("n_docs"),
            F.sum("n_tokens").cast("long").alias("sum_tokens"),
        )
    )


@query(
    "txt_pii_scrub",
    """
    WITH aug AS (
      SELECT doc_id,
             text || ' Contact user' || CAST(doc_id AS VARCHAR)
                  || '@example.com or call 555-0199.' AS t
      FROM documents WHERE doc_id < 40
    )
    SELECT doc_id,
           CAST(len(regexp_extract_all(t, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}')) AS BIGINT) AS n_emails,
           CAST(len(regexp_extract_all(t, '\\b[0-9]{3}-[0-9]{4}\\b')) AS BIGINT) AS n_phones,
           md5(regexp_replace(
                 regexp_replace(t, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
                 '\\b[0-9]{3}-[0-9]{4}\\b', '<PHONE>', 'g')) AS scrubbed_md5
    FROM aug
    """,
)
def txt_pii_scrub(spark, sf_dir):
    """PII redaction (functions.text.pii_scrub): emails + phone-shaped
    numbers replaced with typed placeholders, plus per-doc redaction
    counts. Deterministic PII is planted (every doc gets a synthetic
    contact line), and the oracle compares md5 of the SCRUBBED text —
    byte-identical redaction output, not just matching counts. Pure JVM
    regexp chain on the scan; no shuffle until the (absent) aggregate."""
    from .functions.text import pii_counts, pii_scrub

    d = _t(spark, sf_dir, "documents").where(F.col("doc_id") < 40)
    aug = F.concat(
        F.col("text"),
        F.lit(" Contact user"),
        F.col("doc_id").cast("string"),
        F.lit("@example.com or call 555-0199."),
    )
    t = d.select("doc_id", aug.alias("t"))
    n_emails, n_phones = pii_counts("t")
    return t.select(
        "doc_id",
        n_emails.alias("n_emails"),
        n_phones.alias("n_phones"),
        F.md5(pii_scrub("t")).alias("scrubbed_md5"),
    )


@query(
    "src_schema_evolution",
    """
    SELECT CASE WHEN doc_id < 250 THEN '_missing' ELSE lang END AS lang,
           count(*) AS n, CAST(sum(length(text)) AS BIGINT) AS chars
    FROM documents GROUP BY 1
    """,
)
def src_schema_evolution(spark, sf_dir):
    """Schema evolution on ingest (§2.1): an early batch written WITHOUT
    the lang column and a later batch WITH it, read back together via
    mergeSchema — old rows surface the added column as null (quarantined
    under '_missing'), nothing is dropped or errors. The crawl-ingest
    reality: upstream producers add fields mid-corpus."""
    d = _t(spark, sf_dir, "documents")
    path = _scratch_dir("atps_src_schema_evo")
    d.where(F.col("doc_id") < 250).select("doc_id", "text").write.mode(
        "overwrite"
    ).parquet(f"{path}/b1")
    d.where(F.col("doc_id") >= 250).select("doc_id", "text", "lang").write.mode(
        "overwrite"
    ).parquet(f"{path}/b2")
    merged = spark.read.option("mergeSchema", True).parquet(
        f"{path}/b1", f"{path}/b2"
    )
    return merged.groupBy(
        F.coalesce("lang", F.lit("_missing")).alias("lang")
    ).agg(
        F.count("*").alias("n"),
        F.sum(F.length("text")).cast("long").alias("chars"),
    )


@query(
    "txt_repetition",
    """
    WITH words AS (
      SELECT doc_id, regexp_extract_all(lower(text), '[a-z]+') AS ws
      FROM documents WHERE doc_id < 60
    ), grams AS (
      SELECT doc_id, ws[i] || ' ' || ws[i+1] AS g
      FROM words, LATERAL (SELECT unnest(generate_series(1, len(ws)-1)) AS i) t
      WHERE len(ws) >= 2
    ), counts AS (
      SELECT doc_id, g, count(*) AS c FROM grams GROUP BY 1, 2
    )
    SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_grams,
           round((sum(c) - count(*)) / sum(c), 5) AS dup_gram_frac,
           round(max(c) / sum(c), 5) AS top_gram_frac
    FROM counts GROUP BY doc_id
    """,
)
def txt_repetition(spark, sf_dir):
    """Gopher-style repetition quality signals (functions.text
    .repetition_metrics): duplicate word-2-gram fraction + most-frequent-
    2-gram mass per doc — the standard boilerplate/keyword-stuffing filter
    for training corpora. Two map-side-combined shuffles, shingling stays
    a JVM array expression on the scan."""
    from .functions.text import repetition_metrics

    d = _t(spark, sf_dir, "documents").where(F.col("doc_id") < 60)
    return repetition_metrics(d)


@query(
    "dc_benchmark_overlap",
    """
    WITH words AS (
      SELECT doc_id, regexp_extract_all(lower(text), '[a-z]+') AS ws
      FROM documents
    ), grams AS (
      SELECT DISTINCT doc_id, ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] AS g
      FROM words, LATERAL (SELECT unnest(generate_series(1, len(ws)-2)) AS i) t
      WHERE len(ws) >= 3
    ), shared AS (
      SELECT t.doc_id AS train_id, b.doc_id AS bench_id,
             CAST(count(*) AS BIGINT) AS n_shared
      FROM grams t JOIN grams b USING (g)
      WHERE t.doc_id % 50 != 7 AND b.doc_id % 50 = 7
      GROUP BY 1, 2
    )
    SELECT train_id, bench_id, n_shared FROM shared WHERE n_shared >= 2
    """,
)
def dc_benchmark_overlap(spark, sf_dir):
    """Benchmark decontamination (operators.decontam.benchmark_overlap):
    training docs sharing >= 2 distinct word-3-gram shingles with the
    planted eval split (doc_id % 50 == 7). The benchmark shingle set is
    broadcast — the 100 TB training side never shuffles raw text; only
    matching (train, bench) shingle hits leave the scan stage."""
    from .operators.decontam import benchmark_overlap

    d = _t(spark, sf_dir, "documents")
    return benchmark_overlap(
        d.where(F.col("doc_id") % 50 != 7),
        d.where(F.col("doc_id") % 50 == 7),
    )


@query(
    "samp_domain_cap",
    """
    SELECT source, doc_id, CAST(n_chars AS BIGINT) AS n_chars, rk
    FROM (
      SELECT source, doc_id, n_chars,
             CAST(row_number() OVER (
               PARTITION BY source ORDER BY n_chars DESC, doc_id
             ) AS BIGINT) AS rk
      FROM documents
    ) WHERE rk <= 3
    """,
)
def samp_domain_cap(spark, sf_dir):
    """Per-domain document cap (operators.topk.grouped_topk): the 3
    longest docs per source, largest-first with doc_id tiebreak. The
    crawl-pipeline shape behind "keep at most k pages per domain": the
    oracle is the window formulation, the engine is the two-stage bounded
    top-k — a map-side partial keeps each task's best k per group, so the
    exchange carries tasks*k rows per group instead of the whole group
    and NO WindowExec sorts a mega-domain (plan-guarded in
    test_topk.py)."""
    from .operators.topk import grouped_topk

    d = (
        _t(spark, sf_dir, "documents")
        .select("source", "doc_id", "n_chars")
        .withColumn("neg_chars", -F.col("n_chars"))
    )
    t = grouped_topk(d, "source", ["neg_chars", "doc_id"], 3)
    return t.select(
        "source",
        "doc_id",
        (-F.col("neg_chars")).cast("long").alias("n_chars"),
        "rk",
    )


@query(
    "samp_stratified",
    """
    SELECT lang, count(*) AS n, CAST(sum(n_chars) AS BIGINT) AS chars,
           CAST(sum(doc_id) AS BIGINT) AS id_sum
    FROM documents
    WHERE CAST(CONCAT('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 12))
               AS BIGINT) % 10000
          < CASE lang WHEN 'en' THEN 2500 WHEN 'de' THEN 5000
                      WHEN 'zh' THEN 10000 ELSE 1000 END
    GROUP BY lang
    """,
)
def samp_stratified(spark, sf_dir):
    """Deterministic stratified corpus mixing (operators.sampling
    .stratified_sample): keep en at 25%, de at 50%, zh at 100%, rest at
    10%, decided by each row's own id hash — reproducible across runs,
    task retries, and engines (id_sum pins the exact row selection, not
    just the counts). Pure scan-side predicate: no shuffle, no seed
    state."""
    from .operators.sampling import stratified_sample

    d = _t(spark, sf_dir, "documents")
    s = stratified_sample(
        d, "lang", {"en": 0.25, "de": 0.5, "zh": 1.0}, default_rate=0.1
    )
    return s.groupBy("lang").agg(
        F.count("*").alias("n"),
        F.sum("n_chars").cast("long").alias("chars"),
        F.sum("doc_id").cast("long").alias("id_sum"),
    )


@query(
    "txt_unigram_entropy",
    """
    WITH words AS (
      SELECT doc_id, unnest(regexp_extract_all(lower(text), '[a-z]+')) AS w
      FROM documents WHERE doc_id < 40
    ), counts AS (
      SELECT doc_id, w, count(*) AS c FROM words GROUP BY 1, 2
    )
    SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_words,
           round(log2(sum(c)) - sum(c * log2(c)) / sum(c), 5) AS entropy
    FROM counts GROUP BY doc_id
    """,
)
def txt_unigram_entropy(spark, sf_dir):
    """Unigram word entropy per document (functions.text.unigram_entropy):
    the repetition signal for quality filtering — closed-form H = log2(N)
    - sum(c*log2 c)/N, two map-side-combined shuffles, no second pass."""
    from .functions.text import unigram_entropy

    d = _t(spark, sf_dir, "documents").where(F.col("doc_id") < 40)
    return unigram_entropy(d, "doc_id", "text")


@query(
    "txt_bm25",
    """
    WITH docs AS (
      SELECT doc_id, regexp_extract_all(lower(text), '[a-z]+') AS ws
      FROM documents WHERE doc_id < 200
    ), lens AS (
      SELECT doc_id, len(ws) AS dl FROM docs
    ), stats AS (
      SELECT count(*) AS n_docs, avg(dl) AS avgdl FROM lens
    ), words AS (
      SELECT doc_id, unnest(ws) AS w FROM docs
    ), tf AS (
      SELECT doc_id, w, count(*) AS f FROM words
      WHERE w IN ('scan', 'join', 'vector', 'window') GROUP BY 1, 2
    ), df AS (
      SELECT w, count(DISTINCT doc_id) AS dfc FROM tf GROUP BY w
    )
    SELECT doc_id, score FROM (
      SELECT tf.doc_id,
             round(sum(
               ln(((SELECT n_docs FROM stats) - dfc + 0.5) / (dfc + 0.5) + 1.0)
               * f * 2.2
               / (f + 1.2 * (0.25 + 0.75 * dl / (SELECT avgdl FROM stats)))
             ), 4) AS score,
             row_number() OVER (ORDER BY sum(
               ln(((SELECT n_docs FROM stats) - dfc + 0.5) / (dfc + 0.5) + 1.0)
               * f * 2.2
               / (f + 1.2 * (0.25 + 0.75 * dl / (SELECT avgdl FROM stats)))
             ) DESC, tf.doc_id) AS rn
      FROM tf JOIN df USING (w) JOIN lens ON tf.doc_id = lens.doc_id
      GROUP BY tf.doc_id, dl
    ) WHERE rn <= 10
    """,
)
def txt_bm25(spark, sf_dir):
    """BM25 ranking (k1=1.2, b=0.75) of the corpus against a fixed term
    set — the retrieval scorer a RAG/data-curation stack runs next to ANN.

    Scale shape (r4 rewrite, Exchange 10 -> 1): tokenization happens ONCE
    per row into a projected array column, and per-term frequencies are
    array-filter counts over it — no explode, no per-term join, no
    (doc, word) shuffle at all. Corpus stats (N, avgdl, per-term document
    frequencies) are ONE aggregate over the slim per-doc rows, broadcast
    back as a scalar row; the score is then a pure column expression and
    the global top-10 is TakeOrderedAndProject. The tokenizer runs twice
    (stats lineage + scoring lineage) — at scale the slim per-doc
    frequency table is the natural persisted artifact between the two
    passes. Catalyst keeps the token array un-inlined because
    regexp_extract_all is non-cheap and multiply-referenced (guarded in
    test_text_functions)."""
    QTERMS = ["scan", "join", "vector", "window"]
    K1, B = 1.2, 0.75

    d = _t(spark, sf_dir, "documents").where(F.col("doc_id") < 200)
    toks = F.regexp_extract_all(F.lower("text"), F.lit("[a-z]+"), 0)
    # ONE fold over the token array packs dl + every per-term count into a
    # struct, so the token array is referenced exactly once — Catalyst's
    # CollapseProject re-inlines multiply-referenced aliases (measured 6
    # tokenizer copies in the optimized plan for the naive multi-column
    # form), and the localCheckpoint barrier keeps the downstream field
    # extraction from re-inlining the fold. Net: the tokenizer runs once
    # per row, total, across both the stats and scoring lineages.
    init = F.struct(
        F.lit(0).alias("dl"), *[F.lit(0).alias(f"f_{t}") for t in QTERMS]
    )

    def merge(acc, x):
        return F.struct(
            (acc["dl"] + 1).alias("dl"),
            *[
                (acc[f"f_{t}"] + F.when(x == t, 1).otherwise(0)).alias(f"f_{t}")
                for t in QTERMS
            ],
        )

    packed = d.select(
        "doc_id", F.aggregate(toks, init, merge).alias("c")
    ).localCheckpoint(eager=False)
    per_doc = packed.select(
        "doc_id",
        F.col("c.dl").cast("long").alias("dl"),
        *[F.col(f"c.f_{t}").cast("long").alias(f"f_{t}") for t in QTERMS],
    )
    stats = per_doc.agg(
        F.count("*").alias("n_docs"),
        F.avg("dl").alias("avgdl"),
        *[
            F.sum((F.col(f"f_{t}") > 0).cast("long")).alias(f"dfc_{t}")
            for t in QTERMS
        ],
    )

    def contrib(t):
        idf = F.log(
            (
                (F.col("n_docs") - F.col(f"dfc_{t}") + 0.5)
                / (F.col(f"dfc_{t}") + 0.5)
            )
            + 1.0
        )
        f = F.col(f"f_{t}")
        return F.when(
            f > 0,
            idf * f * (K1 + 1.0)
            / (f + K1 * (1.0 - B + B * F.col("dl") / F.col("avgdl"))),
        ).otherwise(0.0)

    scored = (
        per_doc.crossJoin(F.broadcast(stats))
        .where(sum(F.col(f"f_{t}") for t in QTERMS) > 0)
        .select(
            "doc_id",
            sum(contrib(t) for t in QTERMS).alias("raw"),
        )
    )
    return (
        scored.orderBy(F.desc("raw"), F.asc("doc_id"))
        .limit(10)
        .select("doc_id", F.round("raw", 4).alias("score"))
    )


@query(
    "txt_hot_ngrams",
    """
    WITH toks AS (
      SELECT doc_id, regexp_extract_all(lower(text), '[a-z]+') AS ws
      FROM documents WHERE doc_id < 120
    ), words AS (
      SELECT doc_id,
             unnest([{'i': x, 'w': ws[x]} for x in generate_series(1, len(ws))],
                    recursive := true)
      FROM toks
    ), grams AS (
      SELECT doc_id,
             w || ' ' || lead(w, 1) OVER (PARTITION BY doc_id ORDER BY i)
               || ' ' || lead(w, 2) OVER (PARTITION BY doc_id ORDER BY i)
               || ' ' || lead(w, 3) OVER (PARTITION BY doc_id ORDER BY i)
               || ' ' || lead(w, 4) OVER (PARTITION BY doc_id ORDER BY i) AS g
      FROM words
    ), counts AS (
      SELECT g, count(*) AS n_total,
             CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs
      FROM grams WHERE g IS NOT NULL GROUP BY g
    )
    SELECT g, n_docs, n_total FROM (
      SELECT g, n_docs, n_total,
             row_number() OVER (ORDER BY n_docs DESC, n_total DESC, g) AS rn
      FROM counts
    ) WHERE rn <= 20
    """,
)
def txt_hot_ngrams(spark, sf_dir):
    """Corpus-wide hot 5-gram detection — the boilerplate-phrase signal
    (nav chrome, license blurbs, template sentences show up as n-grams
    with huge document frequency; Gopher/C4-style pipelines strip or
    down-weight docs dominated by them). Shingling is the lambda-safe
    arrays_zip expression (operators.dedup._shingle_expr); one
    map-side-combined groupBy(gram) then TakeOrderedAndProject for the
    global top-20 — no window over the gram table. count(DISTINCT doc_id)
    carries (gram, doc_id) pairs through the agg; at 100 TB swap in
    approx_count_distinct or a two-stage distinct-then-count (semantics
    then approximate, so the exact form stays the oracle-checked one)."""
    from .operators.dedup import _shingle_expr

    d = _t(spark, sf_dir, "documents").where(F.col("doc_id") < 120)
    toks = F.regexp_extract_all(F.lower("text"), F.lit("[a-z]+"), 0)
    grams = d.select(
        "doc_id", F.explode(_shingle_expr(toks, 5)).alias("g")
    )
    counts = grams.groupBy("g").agg(
        F.count("*").alias("n_total"),
        F.count_distinct("doc_id").cast("long").alias("n_docs"),
    )
    return (
        counts.orderBy(
            F.desc("n_docs"), F.desc("n_total"), F.asc("g")
        )
        .limit(20)
        .select("g", "n_docs", "n_total")
    )


@query(
    "txt_corpus_logprob",
    """
    WITH words AS (
      SELECT doc_id, unnest(regexp_extract_all(lower(text), '[a-z]+')) AS w
      FROM documents WHERE doc_id < 40
    ), dcounts AS (
      SELECT doc_id, w, count(*) AS dc FROM words GROUP BY 1, 2
    ), vocab AS (
      SELECT w, CAST(sum(dc) AS BIGINT) AS c FROM dcounts GROUP BY w
    ), tot AS (SELECT sum(c) AS corpus_total FROM vocab)
    SELECT doc_id, CAST(sum(dc) AS BIGINT) AS n_words,
           round(log2((SELECT corpus_total FROM tot))
                 - sum(dc * log2(c)) / sum(dc), 5) AS neg_logprob
    FROM dcounts JOIN vocab USING (w)
    GROUP BY doc_id
    """,
)
def txt_corpus_logprob(spark, sf_dir):
    """Corpus-unigram-LM scoring (functions.text.corpus_logprob): each
    document's mean -log2 p(word) under the corpus's own unigram model —
    the perplexity-proxy quality signal. Only (id, word, count) triples
    ride the vocab join; raw text never shuffles."""
    from .functions.text import corpus_logprob

    d = _t(spark, sf_dir, "documents").where(F.col("doc_id") < 40)
    return corpus_logprob(d, "doc_id", "text")


def _synth_url_spark(d):
    """Deterministic raw-URL fixture over documents (both engines derive
    it identically from doc_id/source): four cosmetic variants of
    https://{source}.example.org/articles/{doc_id%50} — www + trailing
    slash, unique utm junk + unsorted kept params, default port + unique
    fragment, bare — plus a schemeless malformed row every 97 ids."""
    host = F.concat(F.col("source"), F.lit(".example.org"))
    path = F.concat(F.lit("/articles/"), (F.col("doc_id") % 50).cast("string"))
    v = F.col("doc_id") % 4
    url = (
        F.when(F.col("doc_id") % 97 == 0,
               F.concat(F.lit("article "), F.col("doc_id").cast("string")))
        .when(v == 0, F.concat(F.lit("https://WWW."), host, path, F.lit("/")))
        .when(v == 1, F.concat(F.lit("https://"), host, path,
                               F.lit("?utm_campaign=c"),
                               F.col("doc_id").cast("string"),
                               F.lit("&b=2&a=1")))
        .when(v == 2, F.concat(F.lit("http://"), host, F.lit(":80"), path,
                               F.lit("#frag-"), F.col("doc_id").cast("string")))
        .otherwise(F.concat(F.lit("https://"), host, path))
    )
    return d.select("doc_id", url.alias("url"))


_SYNTH_URL_SQL = """
    SELECT doc_id,
           CASE
             WHEN doc_id % 97 = 0 THEN 'article ' || CAST(doc_id AS VARCHAR)
             WHEN doc_id % 4 = 0 THEN
               'https://WWW.' || source || '.example.org/articles/'
               || CAST(doc_id % 50 AS VARCHAR) || '/'
             WHEN doc_id % 4 = 1 THEN
               'https://' || source || '.example.org/articles/'
               || CAST(doc_id % 50 AS VARCHAR)
               || '?utm_campaign=c' || CAST(doc_id AS VARCHAR) || '&b=2&a=1'
             WHEN doc_id % 4 = 2 THEN
               'http://' || source || '.example.org:80/articles/'
               || CAST(doc_id % 50 AS VARCHAR)
               || '#frag-' || CAST(doc_id AS VARCHAR)
             ELSE
               'https://' || source || '.example.org/articles/'
               || CAST(doc_id % 50 AS VARCHAR)
           END AS url
    FROM documents
"""


def _url_canon_oracle_sql() -> str:
    from .functions.url import canonical_url_sql

    return f"""
    WITH raw AS ({_SYNTH_URL_SQL}),
    canon AS (
      SELECT doc_id, url, {canonical_url_sql('url')} AS canon_url FROM raw
    )
    SELECT canon_url, CAST(count(*) AS BIGINT) AS n_docs,
           CAST(min(doc_id) AS BIGINT) AS keep_doc_id,
           CAST(count(DISTINCT url) AS BIGINT) AS n_raw
    FROM canon GROUP BY canon_url
    """


@query("url_canon_dedup", _url_canon_oracle_sql())
def url_canon_dedup(spark, sf_dir):
    """URL canonicalization + exact-URL dedup (functions/url.py): fold the
    cosmetic variants every crawl produces (case, www, default port,
    trailing slash, tracking params, param order, fragments) into one
    canonical form, then hash-groupBy it — raw URLs that differ only by
    utm junk or a fragment collapse to one kept doc (lowest id).
    Canonicalization is a row-local codegen'd expression (regexp + array
    built-ins, no UDF); the dedup is one shuffle on the canonical string.
    Malformed rows (no scheme) pass through as themselves — quarantine
    identity, never an error.  The DuckDB oracle re-derives every
    canonical form via an independently-written SQL twin
    (canonical_url_sql)."""
    from .functions.url import canonical_url

    d = _t(spark, sf_dir, "documents")
    raw = _synth_url_spark(d)
    return (
        raw.withColumn("canon_url", canonical_url("url"))
        .groupBy("canon_url")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.min("doc_id").cast("long").alias("keep_doc_id"),
            F.countDistinct("url").cast("long").alias("n_raw"),
        )
    )


@query(
    "txt_ppl_buckets",
    """
    WITH words AS (
      SELECT doc_id, unnest(regexp_extract_all(lower(text), '[a-z]+')) AS w
      FROM documents
    ), dcounts AS (
      SELECT doc_id, w, count(*) AS dc FROM words GROUP BY 1, 2
    ), vocab AS (
      SELECT w, CAST(sum(dc) AS BIGINT) AS c FROM dcounts GROUP BY w
    ), tot AS (SELECT sum(c) AS corpus_total FROM vocab),
    scored AS (
      SELECT doc_id,
             round(log2((SELECT corpus_total FROM tot))
                   - sum(dc * log2(c)) / sum(dc), 5) AS neg_logprob
      FROM dcounts JOIN vocab USING (w)
      GROUP BY doc_id
    )
    SELECT s.doc_id, d.lang, s.neg_logprob,
           CAST(ntile(3) OVER (
             PARTITION BY d.lang ORDER BY s.neg_logprob, s.doc_id
           ) AS BIGINT) AS ppl_bucket
    FROM scored s JOIN documents d USING (doc_id)
    """,
)
def txt_ppl_buckets(spark, sf_dir):
    """CCNet-style perplexity bucketing (Wenzek et al. 2020): score every
    doc with the corpus-unigram LM (functions.text.corpus_logprob), then
    split each LANGUAGE into head/middle/tail terciles of the score —
    bucket 1 is the fluent head a pretraining mix keeps, bucket 3 the
    garbage tail it drops.  The tercile is ntile over the ROUNDED score
    with a doc_id tiebreak, so the sort key is bit-identical across
    engines.  Scale: the window partitions by lang, so one giant language
    still sorts in one partition — a production run swaps ntile for
    approx_percentile cutoffs broadcast back (same downstream shape,
    different quantile estimator), which is why the exact-ntile form is
    the oracle-checked one here.  The reference has no corpus-relative
    quality signal at all (its gate is per-doc heuristic only)."""
    from .functions.text import corpus_logprob

    d = _t(spark, sf_dir, "documents")
    scored = corpus_logprob(d).join(d.select("doc_id", "lang"), "doc_id")
    w = W.partitionBy("lang").orderBy("neg_logprob", "doc_id")
    return scored.select(
        "doc_id",
        "lang",
        "neg_logprob",
        F.ntile(3).over(w).cast("long").alias("ppl_bucket"),
    )


@query(
    "txt_bigram_ppl",
    """
    WITH toks AS (
      SELECT doc_id, regexp_extract_all(lower(text), '[a-z]+') AS t
      FROM documents
    ), pairs AS (
      SELECT doc_id, t[i] AS v, t[i+1] AS w
      FROM toks, UNNEST(range(1, len(t))) AS u(i)
    ), dcounts AS (
      SELECT doc_id, v, w, count(*) AS dc FROM pairs GROUP BY 1, 2, 3
    ), big AS (SELECT v, w, sum(dc) AS cvw FROM dcounts GROUP BY 1, 2),
    prefix AS (SELECT v, sum(cvw) AS cv FROM big GROUP BY v),
    uni AS (SELECT w, sum(dc) AS cw FROM dcounts GROUP BY w),
    tot AS (SELECT sum(cw) AS corpus_total FROM uni)
    SELECT d.doc_id, CAST(sum(d.dc) AS BIGINT) AS n_bigrams,
           round(-sum(d.dc * log2(0.7 * (b.cvw / p.cv)
                                  + 0.3 * (u.cw / t.corpus_total)))
                 / sum(d.dc), 5) AS neg_logprob2
    FROM dcounts d JOIN big b USING (v, w) JOIN prefix p USING (v)
         JOIN uni u USING (w), tot t
    GROUP BY d.doc_id
    """,
)
def txt_bigram_ppl(spark, sf_dir):
    """Interpolated bigram-LM perplexity proxy (functions.text.
    bigram_logprob) — the KenLM-shaped upgrade of txt_corpus_logprob:
    score each doc by -mean log2(0.7*p(w|v) + 0.3*p(w)) under the
    corpus's own bigram model.  Incoherent word salad keeps unigram mass
    but loses all context mass, so it scores high; formulaic boilerplate
    scores low — both tails are filter targets.  Models are bigram-type-
    sized (never corpus-sized); scoring joins carry count tuples only.
    The oracle recomputes the full model and every score from scratch."""
    from .functions.text import bigram_logprob

    d = _t(spark, sf_dir, "documents")
    return bigram_logprob(d)


# domain blocklist for the gate query: two of the synthetic hosts
URL_BLOCKLIST = ("src2.example.org", "src5.example.org")


def _url_blocklist_oracle_sql() -> str:
    from .functions.url import canonical_url_sql, url_domain_sql

    return f"""
    WITH raw AS ({_SYNTH_URL_SQL}),
    canon AS (
      SELECT doc_id, {canonical_url_sql('url')} AS canon_url FROM raw
    ), dom AS (
      SELECT doc_id, {url_domain_sql('canon_url')} AS domain FROM canon
    )
    SELECT domain, domain IN {URL_BLOCKLIST} AS blocked,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(doc_id) AS BIGINT) AS id_sum
    FROM dom GROUP BY 1, 2
    """


@query("url_blocklist_gate", _url_blocklist_oracle_sql())
def url_blocklist_gate(spark, sf_dir):
    """Domain blocklist gate — the first filter every crawl pipeline runs
    (RefinedWeb §3.1 'URL filtering'): canonicalize, extract the
    registrable host (functions/url.url_domain), and flag rows whose
    domain is on the blocklist via a broadcast join (the blocklist is a
    dimension table of at most millions of rows against 10^12 documents
    — never a shuffle of the corpus side).  Malformed rows group under
    domain '' and are never blocked — the quarantine channel, not a
    crash.  The oracle re-derives canonical form, domain, and verdict
    from scratch and pins kept/blocked MEMBERSHIP per domain (count +
    id_sum)."""
    from .functions.url import canonical_url, url_domain

    d = _t(spark, sf_dir, "documents")
    block = spark.createDataFrame(
        [(b,) for b in URL_BLOCKLIST], "domain string"
    ).withColumn("blocked", F.lit(True))
    dom = _synth_url_spark(d).select(
        "doc_id", url_domain(canonical_url("url")).alias("domain")
    )
    return (
        dom.join(F.broadcast(block), "domain", "left")
        .withColumn("blocked", F.coalesce("blocked", F.lit(False)))
        .groupBy("domain", "blocked")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.sum("doc_id").cast("long").alias("id_sum"),
        )
    )


# DSIR target domain for the harness query: two named sources stand in
# for the curated target sample (Wikipedia/books in the paper)
DSIR_TARGET_SOURCES = ("src0", "src1")
DSIR_K = 100


@query(
    "samp_dsir_select",
    f"""
    WITH toks AS (
      SELECT doc_id, source IN {DSIR_TARGET_SOURCES} AS t,
             regexp_extract_all(lower(text), '[a-z]+') AS w
      FROM documents
    ), grams AS (
      SELECT doc_id, t, unnest(w) AS g FROM toks
      UNION ALL
      SELECT doc_id, t,
             unnest(list_transform(range(1, len(w)),
                                   i -> w[i] || ' ' || w[i+1])) AS g
      FROM toks
    ), counts AS (
      SELECT doc_id, t,
             CAST('0x' || substr(md5(g), 1, 12) AS BIGINT) % 256 AS b,
             count(*) AS dc
      FROM grams GROUP BY 1, 2, 3
    ), model AS (
      SELECT b,
             sum(CASE WHEN t THEN dc ELSE 0 END) AS ct,
             sum(CASE WHEN NOT t THEN dc ELSE 0 END) AS cr
      FROM counts GROUP BY b
    ), tot AS (SELECT sum(ct) AS tt, sum(cr) AS tr FROM model),
    lr AS (
      SELECT b, ln((ct + 1.0) / (tt + 256)) - ln((cr + 1.0) / (tr + 256)) AS lr
      FROM model, tot
    ), scored AS (
      SELECT c.doc_id, CAST(sum(c.dc) AS BIGINT) AS n_grams,
             round(sum(c.dc * lr.lr) / sum(c.dc), 5) AS logw
      FROM counts c JOIN lr USING (b) WHERE NOT c.t
      GROUP BY c.doc_id
    )
    SELECT doc_id, n_grams, logw FROM scored
    ORDER BY logw DESC, doc_id LIMIT {DSIR_K}
    """,
)
def samp_dsir_select(spark, sf_dir):
    """DSIR importance resampling (operators/dsir.py; Xie et al. 2023):
    rank the raw pool by the hashed-ngram log importance ratio against the
    target sources and take the top-k — the standard "make 100 TB of crawl
    look like the curated set" selection step.  The bucket hash is the
    cross-engine md5-slice idiom, smoothing is integer Laplace, and the
    score is rounded before it becomes the sort key, so DuckDB re-derives
    the identical ranking from scratch.  Plan: one exploded-gram exchange
    (map-side combined), two <=256-row broadcast models, top-k via
    TakeOrderedAndProject.  The reference processes its inputs unselected
    (/root/reference/routes/route.py)."""
    from .operators.dsir import dsir_select

    d = _t(spark, sf_dir, "documents")
    return dsir_select(
        d, F.col("source").isin(*DSIR_TARGET_SOURCES), k=DSIR_K
    )


@query(
    "samp_temperature_mix",
    """
    WITH n AS (SELECT source, count(*) AS n_docs FROM documents GROUP BY source),
    z AS (SELECT sum(pow(n_docs, 0.3)) AS z FROM n),
    q AS (
      SELECT source, n_docs, pow(n_docs, 0.3) / z AS w,
             CAST(floor(200.0 * pow(n_docs, 0.3) / z + 0.000001) AS BIGINT) AS quota
      FROM n, z
    ), kept AS (
      SELECT d.source, d.doc_id
      FROM documents d JOIN q USING (source)
      WHERE CAST('0x' || substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 12)
                 AS BIGINT) % 10000
            < 10000.0 * q.quota / q.n_docs
    ), ka AS (
      SELECT source, CAST(count(*) AS BIGINT) AS n_kept,
             CAST(sum(doc_id) AS BIGINT) AS kept_id_sum
      FROM kept GROUP BY source
    )
    SELECT q.source, CAST(q.n_docs AS BIGINT) AS n_docs, round(q.w, 5) AS weight,
           q.quota, COALESCE(ka.n_kept, 0) AS n_kept,
           COALESCE(ka.kept_id_sum, 0) AS kept_id_sum
    FROM q LEFT JOIN ka USING (source)
    """,
)
def samp_temperature_mix(spark, sf_dir):
    """Temperature-flattened source mixing (operators/sampling.py
    temperature_mix; the n_s^alpha multinomial rule of mBERT/XLM-R/mT5):
    per-source quotas from alpha=0.3 weights, membership by the
    deterministic id-hash threshold — a scan-side predicate with no
    window, no shuffle of the corpus, quota approximation traded for
    100 TB-safe planning.  The oracle pins the kept MEMBERSHIP (count +
    id_sum per source), not just sizes.  The reference has no mixing
    control at all."""
    from .operators.sampling import temperature_mix

    d = _t(spark, sf_dir, "documents")
    return temperature_mix(d, alpha=0.3, n_keep=200)


@query(
    "samp_split_assign",
    """
    WITH a AS (
      SELECT doc_id,
             CASE WHEN h < 9000 THEN 'train'
                  WHEN h < 9500 THEN 'val'
                  ELSE 'test' END AS split
      FROM (SELECT doc_id,
                   CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 12)
                        AS BIGINT) % 10000 AS h
            FROM documents)
    )
    SELECT split, CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(doc_id) AS BIGINT) AS id_sum
    FROM a GROUP BY split
    """,
)
def samp_split_assign(spark, sf_dir):
    """Deterministic 90/5/5 train/val/test split (sampling.hash_split):
    assignment is a scan-side CASE over the id hash — stable across runs,
    task retries, partition layouts, and engines, which randomSplit
    cannot promise (it reshuffles with the lineage and can drop/dup rows
    between actions).  Oracle pins per-split membership (count +
    id_sum)."""
    from .operators.sampling import hash_split

    d = _t(spark, sf_dir, "documents")
    return (
        d.select("doc_id", hash_split("doc_id"))
        .groupBy("split")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.sum("doc_id").cast("long").alias("id_sum"),
        )
    )


def _leakage_split_oracle() -> str:
    """Reuses the dd_dup_clusters recursive-CTE oracle verbatim as the
    cluster source, then re-derives rep + split independently."""
    return f"""
    WITH clusters AS ({ORACLES['dd_dup_clusters']}),
    docs AS (SELECT doc_id FROM documents WHERE doc_id < 60),
    rep AS (
      SELECT d.doc_id, COALESCE(c.cluster_id, d.doc_id) AS rep
      FROM docs d LEFT JOIN clusters c USING (doc_id)
    )
    SELECT doc_id, rep,
           CASE WHEN h < 9000 THEN 'train'
                WHEN h < 9500 THEN 'val'
                ELSE 'test' END AS split
    FROM (SELECT doc_id, rep,
                 CAST('0x' || substr(md5(CAST(rep AS VARCHAR)), 1, 12)
                      AS BIGINT) % 10000 AS h
          FROM rep)
    """


@query("samp_leakage_split", _leakage_split_oracle())
def samp_leakage_split(spark, sf_dir):
    """Leakage-safe split (sampling.leakage_safe_split): hash the
    duplicate-CLUSTER representative instead of the doc id, so a test
    document's near-copy can never sit in train — the contamination mode
    a plain per-doc split invites and the dedup literature warns about
    (Lee et al. 2022 §6).  Clusters come from the same MinHash-LSH +
    min-label-propagation pipeline as dd_dup_clusters; singletons
    represent themselves.  The oracle recomputes clusters via recursive
    CTE, then rep + split independently — equality proves both engines
    put every cluster member in one split."""
    from .operators.dedup import duplicate_clusters, minhash_lsh_pairs
    from .operators.sampling import leakage_safe_split

    d = _t(spark, sf_dir, "documents").where(F.col("doc_id") < 60)
    pairs = minhash_lsh_pairs(d, "doc_id", "text", min_matches=3)
    return leakage_safe_split(d, duplicate_clusters(pairs))


@query(
    "tp4_shard_manifest",
    """
    WITH s AS (
      SELECT CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 12)
                  AS BIGINT) % 10000 AS h,
             CAST(doc_id AS VARCHAR) AS sid
      FROM documents
    )
    SELECT h % 16 AS shard, CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(h) AS BIGINT) AS id_hash_sum,
           min(sid) AS min_id,
           max(sid) AS max_id
    FROM s GROUP BY h % 16
    """,
)
def tp4_shard_manifest(spark, sf_dir):
    """Deterministic shard-export manifest (operators/export.py): shard
    membership is a pure function of the row id (md5-slice mod n_shards),
    never of partition layout or seed — so retries, re-runs, and both
    engines agree on every shard's exact contents.  This query is the
    manifest aggregate the writer must reproduce; test_export drives the
    actual write (one file per shard via repartition(n, shard) +
    partitionBy) and the write-then-verify read-back.  The reference
    exports documents one-at-a-time over HTTP
    (/root/reference/routes/route.py) — no bulk artifact."""
    from .operators.export import shard_manifest

    d = _t(spark, sf_dir, "documents")
    return shard_manifest(d, "doc_id", n_shards=16)


# deterministic BPE hyperparameters, shared with golden_oracle's twins
BPE_MERGES = 48
BPE_MIN_COUNT = 2


@query("txt_bpe_train")  # literal oracle via golden_oracle.py
def txt_bpe_train(spark, sf_dir):
    """Learn a BPE tokenizer FROM the corpus (operators/bpe.py; Sennrich
    et al. 2016 — the reference only consumes a fixed external tokenizer,
    utils/utility.py token counting, but a pipeline that owns its corpus
    trains one). One distributed explode+groupBy builds the word-frequency
    table (the only corpus pass); the greedy merge loop runs on that
    model-sized dict driver-side like the k-means fit. Output is the merge
    table itself — rank order and pair counts pin the exact learning
    trajectory, ties broken (count DESC, pair ASC) identically in the
    pure-Python oracle twin."""
    from .operators.bpe import bpe_train

    d = _t(spark, sf_dir, "documents")
    merges, dropped = bpe_train(
        d, "text", num_merges=BPE_MERGES, min_count=BPE_MIN_COUNT
    )
    assert dropped == 0, "word cap must not bite at harness SFs"
    rows = [(int(r), a, b, m, int(c)) for r, a, b, m, c in merges]
    return spark.createDataFrame(
        rows,
        "merge_rank long, lhs string, rhs string, merged string, "
        "pair_count long",
    )


@query("txt_bpe_encode")  # literal oracle via golden_oracle.py
def txt_bpe_encode(spark, sf_dir):
    """Apply the learned merges to encode every document (lowest-rank-
    first inference): per-doc token count + md5 of the exact token stream.
    The ranks table is model-sized and rides into the Arrow-batched
    encoder closure (broadcast-small side); texts stream through
    mapInPandas with a per-batch word memo — the deployment shape of any
    real tokenizer pass at 100 TB."""
    from .operators.bpe import bpe_encode, bpe_train

    d = _t(spark, sf_dir, "documents")
    merges, _ = bpe_train(
        d, "text", num_merges=BPE_MERGES, min_count=BPE_MIN_COUNT
    )
    return bpe_encode(
        d.where(F.col("doc_id") < 60), merges, "doc_id", "text"
    ).select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.col("n_tokens").cast("long").alias("n_tokens"),
        "tok_hash",
    )


@query("s4_audio_transcribe")  # literal oracle via golden_oracle.py
def s4_audio_transcribe(spark, sf_dir):
    """S4 audio modality end-to-end: deterministic ATPA audio assets derived
    from the documents table -> Whisper-shaped segmentation + transcript
    (operators.multimodal.transcribe_assets; reference agents/helper.py:44-54
    pytube+whisper, with the speech model behind the documented codec seam)."""
    import pandas as pd

    from .operators.multimodal import pack_audio, transcribe_assets

    d = _t(spark, sf_dir, "documents").where(F.col("doc_id") < 50).select(
        F.col("doc_id").cast("string").alias("asset_id"), "n_chars"
    )

    def mk(batches):
        for pdf in batches:
            yield pd.DataFrame(
                {
                    "asset_id": pdf["asset_id"],
                    "content": [
                        pack_audio(a, 16000, int(16000 * (int(n) % 5 + 1)))
                        for a, n in zip(pdf["asset_id"], pdf["n_chars"])
                    ],
                }
            )

    assets = d.mapInPandas(mk, "asset_id string, content binary")
    t = transcribe_assets(assets)
    return t.select(
        "asset_id",
        "duration_ms",
        F.size("segments").cast("long").alias("n_segments"),
        "transcript",
    )


@query("s6_image_features")  # literal oracle via golden_oracle.py
def s6_image_features(spark, sf_dir):
    """S6 image modality end-to-end: deterministic ATPS image assets
    derived from the documents table -> header decode, aspect-preserving
    resize arithmetic (the reference's exact max-side formula,
    utils/utility.py:37-47), frame-sampled byte features, base64 sample
    (operators.multimodal.extract_asset_features; pixel codecs behind the
    documented seam). feat_sum folds the float32 feature vector
    sequentially so the literal oracle matches bit-for-bit."""
    import pandas as pd

    from .operators.multimodal import extract_asset_features, pack_asset

    d = _t(spark, sf_dir, "documents").where(F.col("doc_id") < 50).select(
        F.col("doc_id").cast("string").alias("asset_id"), "n_chars"
    )

    def mk(batches):
        for pdf in batches:
            yield pd.DataFrame(
                {
                    "asset_id": pdf["asset_id"],
                    "content": [
                        pack_asset(
                            a, 200 + int(n) % 900, 150 + (int(n) * 7) % 900
                        )
                        for a, n in zip(pdf["asset_id"], pdf["n_chars"])
                    ],
                    "media_type": ["image/atps"] * len(pdf),
                    "width": [None] * len(pdf),
                    "height": [None] * len(pdf),
                }
            )

    from .operators.multimodal import ASSET_SCHEMA

    assets = d.mapInPandas(mk, ASSET_SCHEMA)
    feats = extract_asset_features(assets)
    return feats.select(
        "asset_id",
        "width",
        "height",
        "out_width",
        "out_height",
        "byte_len",
        "sample_b64",
        F.round(
            F.aggregate(
                "feature", F.lit(0.0), lambda acc, x: acc + x.cast("double")
            ),
            4,
        ).alias("feat_sum"),
    )


@query("s4_wav_transcribe")  # literal oracle via golden_oracle.py
def s4_wav_transcribe(spark, sf_dir):
    """REAL RIFF/WAV audio end-to-end (r4): deterministic sum-of-sines
    16-bit PCM assets (mono/stereo rotating; stereo downmixed) -> actual
    sample decode -> 1 s energy segmentation -> Whisper-shaped segment
    rows + transcript, through the same mapInPandas stage as ATPA. The
    literal oracle recomputes transcripts from the same pure kernels;
    compressed audio (mp3/aac) stays behind the quarantine seam."""
    import pandas as pd

    from .operators.multimodal import pack_wav_asset, transcribe_assets

    d = _t(spark, sf_dir, "documents").where(F.col("doc_id") < 30).select(
        F.col("doc_id").cast("string").alias("asset_id"), "n_chars"
    )
    d = _spread(d)  # one asset per task (see s6_jpeg_features)

    def mk(batches):
        for pdf in batches:
            yield pd.DataFrame(
                {
                    "asset_id": pdf["asset_id"],
                    "content": [
                        pack_wav_asset(a, int(n))
                        for a, n in zip(pdf["asset_id"], pdf["n_chars"])
                    ],
                }
            )

    assets = d.mapInPandas(mk, "asset_id string, content binary")
    t = transcribe_assets(assets)
    return t.select(
        "asset_id",
        F.col("sample_rate").cast("long").alias("sample_rate"),
        F.col("duration_ms").cast("long").alias("duration_ms"),
        F.size("segments").cast("long").alias("n_segments"),
        "transcript",
    )


@query("mm_video_mjpeg")  # literal oracle via golden_oracle.py
def mm_video_mjpeg(spark, sf_dir):
    """REAL video end-to-end (r4): Motion-JPEG AVI assets — a real RIFF
    container whose frames are real baseline JPEGs — parsed with the
    stdlib container walker, k evenly spaced frames decoded with
    functions/jpeg.py, per-frame mean luminance over ACTUAL pixels.
    Same exploded per-frame view as the synthetic ATPV query; inter-frame
    codecs (h264) stay behind the quarantine seam."""
    import pandas as pd

    from .operators.multimodal import pack_mjpeg_asset, sample_video_assets

    d = _t(spark, sf_dir, "documents").where(F.col("doc_id") < 25).select(
        F.col("doc_id").cast("string").alias("asset_id"), "n_chars"
    )
    d = _spread(d)  # one asset per task (see s6_jpeg_features)

    def mk(batches):
        for pdf in batches:
            yield pd.DataFrame(
                {
                    "asset_id": pdf["asset_id"],
                    "content": [
                        pack_mjpeg_asset(a, int(n))
                        for a, n in zip(pdf["asset_id"], pdf["n_chars"])
                    ],
                }
            )

    assets = d.mapInPandas(mk, "asset_id string, content binary")
    v = sample_video_assets(assets)
    return v.select(
        "asset_id",
        F.col("width").cast("long").alias("width"),
        F.col("fps").cast("long").alias("fps"),
        F.col("n_frames").cast("long").alias("n_frames"),
        F.col("duration_ms").cast("long").alias("duration_ms"),
        F.explode("frames").alias("f"),
    ).select(
        "asset_id", "width", "fps", "n_frames", "duration_ms",
        F.col("f.frame_idx").cast("long").alias("frame_idx"),
        F.col("f.t_ms").cast("long").alias("t_ms"),
        F.round(F.col("f.feat_mean"), 5).alias("feat_mean"),
    )


@query("s6_png_features")  # literal oracle via golden_oracle.py
def s6_png_features(spark, sf_dir):
    """REAL PNG pixels end-to-end (r3 VERDICT #3): deterministic actual-PNG
    assets (gradient pixels, RGB/RGBA/gray layouts, every 7th oversized)
    derived from the documents table -> stdlib-zlib decode, alpha-flatten
    on white, aspect-fit area-average downscale, 4x4 luminance-grid
    features — the reference's PIL path (utils/utility.py:35-64)
    re-expressed without a codec library. Same mapInPandas stage and
    FEATURE_SCHEMA as the ATPS path; the literal oracle recomputes every
    value in pure Python."""
    import pandas as pd

    from .operators.multimodal import (
        ASSET_SCHEMA,
        extract_asset_features,
        pack_png_asset,
    )

    d = _t(spark, sf_dir, "documents").where(F.col("doc_id") < 30).select(
        F.col("doc_id").cast("string").alias("asset_id"), "n_chars"
    )
    d = _spread(d)  # one asset per task (see s6_jpeg_features)

    def mk(batches):
        for pdf in batches:
            yield pd.DataFrame(
                {
                    "asset_id": pdf["asset_id"],
                    "content": [
                        pack_png_asset(a, int(n))
                        for a, n in zip(pdf["asset_id"], pdf["n_chars"])
                    ],
                    "media_type": ["image/png"] * len(pdf),
                    "width": [None] * len(pdf),
                    "height": [None] * len(pdf),
                }
            )

    assets = d.mapInPandas(mk, ASSET_SCHEMA)
    feats = extract_asset_features(assets)
    return feats.select(
        "asset_id",
        "width",
        "height",
        "out_width",
        "out_height",
        "byte_len",
        "sample_b64",
        F.round(
            F.aggregate(
                "feature", F.lit(0.0), lambda acc, x: acc + x.cast("double")
            ),
            4,
        ).alias("feat_sum"),
    )


@query("s6_jpeg_features")  # literal oracle via golden_oracle.py
def s6_jpeg_features(spark, sf_dir):
    """REAL baseline-JPEG pixels end-to-end (r4: functions/jpeg.py — pure
    T.81 decoder, conformance-pinned by hand-assembled bitstream goldens
    in test_jpeg.py): deterministic actual-JPEG assets (smooth gradients;
    gray / 4:4:4 / 4:2:0 rotating; every 7th oversized) -> Huffman decode,
    dequant, exact-matrix IDCT, chroma upsample, YCbCr->RGB, then the same
    aspect-fit + luminance-grid feature pipeline as PNG. The literal
    oracle recomputes every value in pure Python."""
    import pandas as pd

    from .operators.multimodal import (
        ASSET_SCHEMA,
        extract_asset_features,
        pack_jpeg_asset,
    )

    d = _t(spark, sf_dir, "documents").where(F.col("doc_id") < 30).select(
        F.col("doc_id").cast("string").alias("asset_id"), "n_chars"
    )
    # per-asset codec work is seconds-scale; spread the single-row-group
    # scan so each asset decodes in its own task (r6)
    d = _spread(d)

    def mk(batches):
        for pdf in batches:
            yield pd.DataFrame(
                {
                    "asset_id": pdf["asset_id"],
                    "content": [
                        pack_jpeg_asset(a, int(n))
                        for a, n in zip(pdf["asset_id"], pdf["n_chars"])
                    ],
                    "media_type": ["image/jpeg"] * len(pdf),
                    "width": [None] * len(pdf),
                    "height": [None] * len(pdf),
                }
            )

    assets = d.mapInPandas(mk, ASSET_SCHEMA)
    feats = extract_asset_features(assets)
    return feats.select(
        "asset_id",
        "width",
        "height",
        "out_width",
        "out_height",
        "byte_len",
        "sample_b64",
        F.round(
            F.aggregate(
                "feature", F.lit(0.0), lambda acc, x: acc + x.cast("double")
            ),
            4,
        ).alias("feat_sum"),
    )


@query("s6_progressive_jpeg")  # literal oracle via golden_oracle.py
def s6_progressive_jpeg(spark, sf_dir):
    """REAL progressive (SOF2) JPEG pixels end-to-end (r5:
    functions/jpeg.py — DC successive approximation, spectral-selection
    AC bands, EOB runs, G.1.2.3 refinement correction bits; pinned by
    hand-assembled bitstream goldens in test_jpeg_progressive.py).
    Deterministic progressive assets run the same decode -> aspect-fit ->
    luminance-grid pipeline as baseline JPEG, and each row additionally
    proves the T.81 invariant IN-PLAN: decoding the progressive stream
    yields pixels byte-identical to decoding the baseline encoding of the
    same input (both encoders share one forward DCT/quantize path), so
    ``feat_match`` must be true for every asset. The literal oracle
    recomputes every value, including the equality check, in pure
    Python."""
    import pandas as pd

    from .operators.multimodal import (
        baseline_twin_of_progressive,
        image_features_payload,
        pack_progressive_jpeg_asset,
    )

    d = _t(spark, sf_dir, "documents").where(F.col("doc_id") < 30).select(
        F.col("doc_id").cast("string").alias("asset_id"), "n_chars"
    )
    d = _spread(d)  # one asset per task (see s6_jpeg_features)

    def run(batches):
        for pdf in batches:
            rows = []
            for rec in pdf.itertuples(index=False):
                aid, n = rec.asset_id, int(rec.n_chars)
                prog = pack_progressive_jpeg_asset(aid, n)
                base = baseline_twin_of_progressive(aid, n)
                dp = image_features_payload(prog)
                db = image_features_payload(base)
                rows.append(
                    {
                        "asset_id": aid,
                        "width": dp["width"],
                        "height": dp["height"],
                        "out_width": dp["out_width"],
                        "out_height": dp["out_height"],
                        "prog_bytes": len(prog),
                        "feature": dp["feature"],
                        "feat_match": dp["feature"] == db["feature"]
                        and dp["sample_b64"] == db["sample_b64"],
                    }
                )
            yield pd.DataFrame(rows)

    schema = (
        "asset_id string, width int, height int, out_width int, "
        "out_height int, prog_bytes int, feature array<float>, "
        "feat_match boolean"
    )
    return d.mapInPandas(run, schema).select(
        "asset_id",
        F.col("width").cast("long").alias("width"),
        F.col("height").cast("long").alias("height"),
        F.col("out_width").cast("long").alias("out_width"),
        F.col("out_height").cast("long").alias("out_height"),
        F.col("prog_bytes").cast("long").alias("prog_bytes"),
        F.round(
            F.aggregate(
                "feature", F.lit(0.0), lambda acc, x: acc + x.cast("double")
            ),
            4,
        ).alias("feat_sum"),
        "feat_match",
    )


@query("s6_reencode_chain")  # literal oracle via golden_oracle.py
def s6_reencode_chain(spark, sf_dir):
    """The reference's full image preprocessing chain end to end
    (utils/utility.py:35-64): decode real PNG/JPEG assets -> flatten ->
    aspect-fit -> downscale -> RE-ENCODE as baseline JPEG -> base64.
    jpeg_md5 fingerprints the exact re-encoded bytes, so the oracle match
    proves every pixel and every entropy-coded bit is reproduced
    deterministically across engines — mixing PNG inputs (even ids) and
    JPEG inputs (odd ids) through one mapInPandas stage."""
    import pandas as pd

    from .operators.multimodal import (
        image_reencode_payload,
        pack_jpeg_asset,
        pack_png_asset,
    )

    d = _t(spark, sf_dir, "documents").where(F.col("doc_id") < 20).select(
        F.col("doc_id").cast("string").alias("asset_id"),
        "doc_id",
        "n_chars",
    )
    d = _spread(d)  # one asset per task (see s6_jpeg_features)

    def run(batches):
        for pdf in batches:
            rows = []
            for rec in pdf.itertuples(index=False):
                content = (
                    pack_png_asset(rec.asset_id, int(rec.n_chars))
                    if int(rec.doc_id) % 2 == 0
                    else pack_jpeg_asset(rec.asset_id, int(rec.n_chars))
                )
                out = {"asset_id": rec.asset_id}
                out.update(image_reencode_payload(content))
                rows.append(out)
            yield pd.DataFrame(rows)

    schema = (
        "asset_id string, out_width int, out_height int, "
        "jpeg_bytes int, jpeg_md5 string, b64_len int"
    )
    return d.mapInPandas(run, schema).select(
        "asset_id",
        F.col("out_width").cast("long").alias("out_width"),
        F.col("out_height").cast("long").alias("out_height"),
        F.col("jpeg_bytes").cast("long").alias("jpeg_bytes"),
        "jpeg_md5",
        F.col("b64_len").cast("long").alias("b64_len"),
    )


@query("mm_video_frames")  # literal oracle via golden_oracle.py
def mm_video_frames(spark, sf_dir):
    """Video modality end-to-end (task brief: image/audio/video as opaque
    binary): deterministic ATPV video assets derived from the documents
    table -> header decode (w/h/fps/frame count), duration math, k evenly
    spaced frame samples with per-frame byte-window features
    (operators.multimodal.sample_video_assets; real codecs behind the
    documented seam). Output is the exploded per-frame view a vision
    encoder would consume."""
    import pandas as pd

    from .operators.multimodal import pack_video, sample_video_assets

    d = _t(spark, sf_dir, "documents").where(F.col("doc_id") < 40).select(
        F.col("doc_id").cast("string").alias("asset_id"), "n_chars"
    )
    # no _spread (r6 third pass, measured): the synthetic per-frame
    # byte-window features are too cheap for the exchange (0.38 -> 0.64 s,
    # 0/4 interleaved pairs) — unlike the real-decode s4/mjpeg siblings

    def mk(batches):
        for pdf in batches:
            yield pd.DataFrame(
                {
                    "asset_id": pdf["asset_id"],
                    "content": [
                        pack_video(
                            a,
                            640 + int(n) % 1280,
                            360 + int(n) % 720,
                            24 + (int(n) % 2) * 6,
                            120 + (int(n) * 3) % 480,
                        )
                        for a, n in zip(pdf["asset_id"], pdf["n_chars"])
                    ],
                }
            )

    assets = d.mapInPandas(mk, "asset_id string, content binary")
    v = sample_video_assets(assets)
    return v.select(
        "asset_id", "width", "fps", "n_frames", "duration_ms",
        F.explode("frames").alias("f"),
    ).select(
        "asset_id", "width", "fps", "n_frames", "duration_ms",
        F.col("f.frame_idx").alias("frame_idx"),
        F.col("f.t_ms").alias("t_ms"),
        F.round("f.feat_mean", 5).alias("feat_mean"),
    )


@query("tp1_clean_corpus_funnel")  # literal oracle via golden_oracle.py
def tp1_clean_corpus_funnel(spark, sf_dir):
    """The full training-data pipeline (extract -> quality/lang gate ->
    exact dedup -> MinHash-LSH near-dedup) over harness-derived docs;
    returns the per-stage funnel counts."""
    from .functions.readability import CriteriaConfig
    from .plans.training_pipeline import clean_corpus

    docs = _interleaved_from_documents(spark, sf_dir)
    _cleaned, funnel = clean_corpus(
        docs, CriteriaConfig(grade_lo=-100.0, grade_hi=100.0), min_quality=0.1
    )
    return funnel


@query("tp2_full_pipeline")  # literal oracle via golden_oracle.py
def tp2_full_pipeline(spark, sf_dir):
    """tp1 plus the r3 stages: benchmark decontamination (eval set = raw
    texts of doc_id % 29 == 11, word-3-gram shingles, broadcast) and
    deterministic stratified mixing by guessed language (en 50%, zh 100%,
    other 25%) — the complete nightly training-data job, funnel-observed,
    value-pinned by the pure-Python golden twin."""
    from .functions.readability import CriteriaConfig
    from .plans.training_pipeline import clean_corpus

    docs = _interleaved_from_documents(spark, sf_dir)
    bench = _t(spark, sf_dir, "documents").where(F.col("doc_id") % 29 == 11).select(
        F.col("doc_id").cast("string").alias("doc_id"), "text"
    )
    _cleaned, funnel = clean_corpus(
        docs,
        CriteriaConfig(grade_lo=-100.0, grade_hi=100.0),
        min_quality=0.1,
        benchmark=bench,
        mix_rates={"en": 0.5, "zh": 1.0},
        mix_default_rate=0.25,
    )
    return funnel


@query("tp3_stream_ingest")  # literal oracle via golden_oracle.py
def tp3_stream_ingest(spark, sf_dir):
    """Streaming clean-corpus ingest (r4 VERDICT #6): the interleaved
    corpus arrives as files, a second arrival RE-DELIVERS every doc with
    doc_id % 7 == 3 (the at-least-once upstream double), and
    streaming/clean_ingest.py absorbs the duplicates with a content-
    fingerprint dropDuplicatesWithinWatermark before running the fused
    extraction plan per micro-batch (exactly-once catalog commits keyed by
    epoch). The batch gate/dedup stages then run UNCHANGED on the drained
    extracted table — the funnel must equal the pure-Python tp1 twin's,
    prefixed by a stream_arrivals row that pins how many rows actually
    arrived (uniques + re-deliveries): equality proves the planted doubles
    were absorbed by dedup state, not double-extracted and not dropped.
    Arrival files are planted Spark-side (driver memory independent of
    SF, r4 VERDICT #3 discipline)."""
    import os
    import shutil
    import tempfile

    from .functions.readability import CriteriaConfig
    from .functions.text import lang_guess, quality_score
    from .operators.extract import extracted_text
    from .plans.training_pipeline import _stages_from_extracted
    from .sources.io_catalog import Catalog
    from .streaming.clean_ingest import start_clean_ingest

    _utc(spark)
    docs = _interleaved_from_documents(spark, sf_dir)
    redeliver = docs.where(F.col("doc_id").cast("long") % 7 == 3)
    n_docs, n_re = docs.count(), redeliver.count()

    base = tempfile.mkdtemp(prefix="atps_tp3_")
    src = os.path.join(base, "arrivals")
    os.makedirs(src)

    def _arrive(i: int, part) -> None:
        # single-file Spark-side write + atomic rename (one logical
        # arrival can never straddle two micro-batches)
        stage = os.path.join(base, f"stage{i}")
        part.coalesce(1).write.mode("overwrite").parquet(stage)
        pf = [f for f in os.listdir(stage) if f.endswith(".parquet")][0]
        os.rename(os.path.join(stage, pf), os.path.join(src, f"f{i}.parquet"))
        shutil.rmtree(stage, ignore_errors=True)

    with _stream_state_partitions(spark):
        q = start_clean_ingest(
            spark, src, os.path.join(base, "catalog"),
            os.path.join(base, "ckpt"),
            cfg=CriteriaConfig(grade_lo=-100.0, grade_hi=100.0),
        )
        try:
            for i, part in enumerate((docs, redeliver), start=1):
                _arrive(i, part)
                q.processAllAvailable()
        finally:
            q.stop()

    tbl = Catalog(os.path.join(base, "catalog")).table("extracted").read(spark)
    extracted = (
        tbl.withColumn("text", extracted_text("spans"))
        .withColumn("quality", quality_score("text"))
        .withColumn("lang_guess", lang_guess("text"))
        .localCheckpoint(eager=False)
    )
    ingested = extracted.count()
    _cleaned, funnel = _stages_from_extracted(extracted, ingested,
                                              min_quality=0.1)
    head = spark.createDataFrame(
        [("stream_arrivals", n_docs + n_re)], "stage string, n long"
    )
    out = head.unionAll(funnel)
    shutil.rmtree(base, ignore_errors=True)
    return out


@query(
    "scalar_functions2",
    """
    SELECT doc_id,
           sha256(lang) AS lang_sha,
           to_base64(encode(substr(text, 1, 12))) AS prefix_b64,
           printf('%s-%03d', lang, CAST(n_chars % 100 AS INT)) AS tag,
           CAST(greatest(n_chars, 100) AS BIGINT) AS g,
           CAST(least(n_chars, 100) AS BIGINT) AS l
    FROM documents WHERE doc_id < 20
    """,
)
def scalar_functions2(spark, sf_dir):
    """Second scalar battery: crypto hash (deterministic ids, the uuid4
    replacement per SURVEY §2.9), base64 (image-payload encoding analog,
    utils/utility.py:64), printf-style templating (prompt formatting
    analog, agents/nodes.py:141-146)."""
    d = _t(spark, sf_dir, "documents").where(F.col("doc_id") < 20)
    return d.select(
        "doc_id",
        F.sha2("lang", 256).alias("lang_sha"),
        F.base64(F.encode(F.substring("text", 1, 12), "utf-8")).alias("prefix_b64"),
        F.format_string("%s-%03d", F.col("lang"), (F.col("n_chars") % 100).cast("int")).alias("tag"),
        F.greatest("n_chars", F.lit(100)).cast("long").alias("g"),
        F.least("n_chars", F.lit(100)).cast("long").alias("l"),
    )


# ---------------------------------------------------------------------------
# QC — trained quality classifier (hashed-BoW logistic regression, the
# GPT-3/LLaMA-style corpus filter; training-data op family)
# ---------------------------------------------------------------------------


def _qc_model(spark, sf_dir):
    """Featurize documents (label = lang=='en') and fit the classifier.

    Fit is recomputed per query (no cross-query driver state); each of the
    4 GD iterations is one scan + one model-sized aggregate over the
    localCheckpointed feature table, so the whole fit is seconds even at
    sf0.1 and scan-bound at 100 TB."""
    from .operators.classifier import featurize_docs, logreg_fit

    # _spread (r6): the single-row-group scan ran the tokenize/explode map
    # side as ONE task; counts are exact integers and the gradients are
    # fixed-point, so the fitted weights are partition-independent
    docs = _spread(_t(spark, sf_dir, "documents"), "doc_id", "lang", "text")
    feats = featurize_docs(docs, label=F.col("lang") == "en")
    w, b, hist = logreg_fit(feats)
    return feats, w, b, hist


@query("qc_logreg_fit")  # literal oracle via golden_oracle.py
def qc_logreg_fit(spark, sf_dir):
    """Trained corpus-quality classifier, model as (feature, weight) rows
    (feature -1 = bias).  Bit-exact across engines AND cluster sizes: the
    fixed-point int64 gradient aggregation makes the fitted weights
    independent of partitioning/task order (operators/classifier.py), so
    the pure-Python twin reproduces all 65 weights to the last bit after
    4 full-batch iterations.  The reference's quality gate is a fixed
    heuristic (utils/validation.py); a trained filter is the 100 TB
    upgrade path."""
    _feats, w, b, _hist = _qc_model(spark, sf_dir)
    from .operators.classifier import round_half_up

    rows = [(j, round_half_up(wj, 8)) for j, wj in enumerate(w)]
    rows.append((-1, round_half_up(b, 8)))
    return spark.createDataFrame(rows, "feature long, weight double")


@query("qc_logreg_score")  # literal oracle via golden_oracle.py
def qc_logreg_score(spark, sf_dir):
    """Score every doc with the trained model and return the top-15 by
    predicted English-quality probability (TakeOrderedAndProject — no
    global sort materializes).  Ties broken by doc_id; scores rounded
    HALF_UP 6 in both engines."""
    from .operators.classifier import score_expr

    feats, w, b, _hist = _qc_model(spark, sf_dir)
    p = score_expr(w, b)
    return (
        feats.select(
            F.col("id").alias("doc_id"),
            F.col("y").cast("long").alias("y_true"),
            p.alias("_p"),
        )
        .orderBy(F.desc("_p"), F.asc("doc_id"))
        .limit(15)
        .select("doc_id", "y_true", F.round("_p", 6).alias("score"))
    )


@query("qc_logreg_eval")  # literal oracle via golden_oracle.py
def qc_logreg_eval(spark, sf_dir):
    """Operating-point evidence for the trained filter: confusion matrix
    at threshold 0.5 plus the per-iteration correct-count training curve —
    all exact integers, so the entire optimization trajectory is pinned,
    not just the final weights."""
    feats, w, b, hist = _qc_model(spark, sf_dir)
    from .operators.classifier import score_expr

    # project the dot-product fold once per row (r6): referencing the
    # scored probability in all four confusion cells re-evaluates the
    # interpreted 64-element fold per cell (no cross-expression CSE). Only
    # ``sdot`` is projected (a Project child of an Aggregate survives the
    # optimizer); the sigmoid arithmetic over that column is a handful of
    # codegen'd scalar ops per cell, and the values are identical.
    from .operators.classifier import _sdot_expr, _sigmoid

    rowed = feats.select("y", "n", _sdot_expr(w).alias("sdot"))
    p_col = _sigmoid(F.lit(float(b)) + F.col("sdot") / F.col("n"))
    pos, truth = p_col >= 0.5, F.col("y") >= 0.5
    out = rowed.agg(
        F.sum((truth & pos).cast("long")).alias("tp"),
        F.sum((~truth & pos).cast("long")).alias("fp"),
        F.sum((truth & ~pos).cast("long")).alias("fn"),
        F.sum((~truth & ~pos).cast("long")).alias("tn"),
        F.count(F.lit(1)).alias("n_docs"),
    )
    for i, ok in enumerate(hist, start=1):
        out = out.withColumn(f"ok_it{i}", F.lit(int(ok)).cast("long"))
    return out


# ---------------------------------------------------------------------------
# driver-window ordering (r4 VERDICT #1)
# ---------------------------------------------------------------------------
# The driver certifies exactly the first 50 entries of ``queries()`` in
# insertion order (verified: CORRECTNESS_r0{1..4} keys == registry[0:50] at
# each round), so every query appended in r2-r4 sat past the window and
# never received a driver CORRECTNESS row.  Rotate the registry: queries
# with no driver row in any of CORRECTNESS_r01-r04 come first (in their
# original relative order, so new registrations this round also land in the
# window automatically), and the long-certified battery moves to the back.
# Pure dict-ordering change: keys, callables, and oracles are untouched.
# r6 plan: rotate again so the back of this list enters the window and all
# queries carry an external row within two rounds.
_CERTIFIED_R1_R4 = [
    "a1_ordered_concat", "s9_point_lookup", "a3_first_per_group",
    "p2_predicates", "p3_substring_truncation", "p5_error_prefix_gate",
    "p6_criteria_conjunction", "p8_split_counts", "j2_semi_join_lookup",
    "j3_anti_join_resume", "j4_metadata_enrichment", "w1_reading_order_topk",
    "w2_running_offset", "w3_modal_rank", "v1_readability_sql",
    "a4_lineage_rollup", "q1_pricing_summary", "ev_hourly_rollup",
    "ev_sessionize", "src_merge_upsert", "ev_session_window",
    "dd_exact_fingerprint", "dd_ngram_jaccard", "dd_minhash_lsh",
    "dd_minhash_lsh16", "dd_dup_clusters", "dd_simhash", "sim_cosine_topk",
    "sim_lsh_buckets", "sim_label_centroid_sim", "txt_quality",
    "txt_langid_confusion", "txt_fingerprint", "x1_extract_pipeline",
    "x2_extract_span_stats", "set_ops", "rollup_agg", "sub_queries",
    "q6_forecast_revenue", "grouping_sets_agg", "scalar_arrays", "cube_agg",
    "pivot_langs", "q3_shipping_priority", "pctile_stats",
    "scalar_functions", "j1_asof_join", "j5_range_join_bucketed",
    "p7_relaxed_gate", "dd_embed_neardup", "sim_ivf_topk",
    "sim_ivf_multiprobe", "txt_quality_score", "v2_json_schema_gate",
    "g1_generate_content", "scalar_datetime", "tp1_clean_corpus_funnel",
    "scalar_functions2",
]


def _reorder_for_driver_window() -> None:
    back_set = set(_CERTIFIED_R1_R4)
    front = {k: v for k, v in QUERIES.items() if k not in back_set}
    back = {k: QUERIES[k] for k in _CERTIFIED_R1_R4 if k in QUERIES}
    QUERIES.clear()
    QUERIES.update(front)
    QUERIES.update(back)


_reorder_for_driver_window()
