"""The benchmark's workloads and the side runs of its traced run.

Each job object owns its inputs (made from the seed), the job it times, the
check of that job's outputs and, for the traced run, a kernel slice: the
same public functions the job runs in Spark, driven out of Spark on a
deterministic slice of the workload's own doc ids so that their time can
be split by layer.
"""

from __future__ import annotations

import dataclasses
import math
import os
import random
import statistics
import time

import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import functions as F

from ai_textbook_processor_spark import corpus, harness
from ai_textbook_processor_spark.functions import kernels
from ai_textbook_processor_spark.functions.readability import CriteriaConfig, score_texts
from ai_textbook_processor_spark.operators import extract, skew
from ai_textbook_processor_spark.plans import lineage, pipeline
from ai_textbook_processor_spark.schemas import DOCUMENTS_SCHEMA, VALIDATION_TYPE
from ai_textbook_processor_spark.sources import io_catalog

from sqldata import TABLES, write_tables

CFG = CriteriaConfig()
VALIDATION_FIELDS = [f.name for f in VALIDATION_TYPE.fields]
ARROW_BATCH = 2048  # session.py's Arrow batch size at <= 16 lanes
SAMPLE_NORMAL_DOCS = 16

# Kernel layers: (owner, attribute the caller resolves, span name). The
# fused batch resolves gen_doc through the corpus module and the kernels
# through operators.extract; extract_document resolves E1-E3 through the
# kernels module; the salted path resolves its kernels through
# operators.skew.
KERNEL_WRAPS = (
    (corpus, "gen_doc", "corpus.gen"),
    (extract, "extract_document", "kernels.dispatch"),
    (extract, "score_texts", "readability.e4"),
    (kernels, "extract_html_fragment", "kernels.e1"),
    (kernels, "extract_pdf_blocks", "kernels.e2"),
    (kernels, "stitch_media", "kernels.e3"),
    (skew, "chunk_document", "skew.chunk"),
    (skew, "extract_text_spans", "kernels.dispatch"),
    (skew, "stitch_media", "kernels.e3"),
    (skew, "score_texts", "readability.e4"),
)

# bench.py's headline battery, fixed here so the benchmark does not move
# when that list does.
HEADLINE = (
    "q1_pricing_summary", "a1_ordered_concat", "j4_metadata_enrichment",
    "w2_running_offset", "ev_sessionize", "dd_minhash_lsh", "dd_simhash",
    "sim_cosine_topk", "sim_lsh_buckets", "txt_quality",
)


@dataclasses.dataclass(frozen=True)
class Ctx:
    work: str  # scratch directory of this run, inside the checkout
    seed: int
    lanes: int
    tiny: bool


# ---------------------------------------------------------------------------
# out-of-Spark expectations
# ---------------------------------------------------------------------------


def _family(idx: int, mega_every: int) -> str | None:
    return "mega_doc" if mega_every and idx % mega_every == mega_every - 1 else None


def sample_ids(n: int, mega_every: int, seed: int) -> list[int]:
    """Every mega doc in [0, n) plus a seeded handful of ordinary ones."""
    megas = [i for i in range(n) if _family(i, mega_every)]
    rng = random.Random(seed)
    return sorted(set(megas) | set(rng.sample(range(n), min(SAMPLE_NORMAL_DOCS, n))))


def expected_rows(ids: list[int], seed: int, mega_every: int) -> dict[str, tuple]:
    """doc_id -> (span tuples, validation dict), computed with the same
    public functions the job runs, outside Spark."""
    docs = [corpus.gen_doc(i, seed, family=_family(i, mega_every)) for i in ids]
    spans = [kernels.extract_document(d["spans"]) for d in docs]
    texts = pd.Series([
        " ".join(sp["text"] for sp in s if sp["kind"] in extract.TEXT_KINDS)
        for s in spans
    ])
    scored = score_texts(texts, CFG)[VALIDATION_FIELDS].to_dict("records")
    return {
        d["doc_id"]: (
            [(sp["kind"], sp["text"], sp["media_ref"], sp["offset"]) for sp in s],
            v,
        )
        for d, s, v in zip(docs, spans, scored)
    }


def _same(a, b) -> bool:
    if isinstance(a, float) and isinstance(b, float):
        return a == b or (math.isnan(a) and math.isnan(b))
    return a == b


def compare(expected: dict, n_expected: int, rows, n_got: int) -> list[str]:
    """Mismatches between Spark output rows (doc_id, spans, validation) and
    the expectation; an empty list means the output is correct."""
    bad = []
    if n_got != n_expected:
        bad.append(f"row count {n_got} != {n_expected}")
    got = {r["doc_id"]: r for r in rows}
    for doc_id, (spans, validation) in expected.items():
        r = got.get(doc_id)
        if r is None:
            bad.append(f"{doc_id} missing")
            continue
        g_spans = [(s["kind"], s["text"], s["media_ref"], s["offset"]) for s in r["spans"]]
        g_val = r["validation"].asDict()
        if g_spans != spans:
            bad.append(f"{doc_id} spans differ")
        if not all(_same(g_val[k], validation[k]) for k in VALIDATION_FIELDS):
            bad.append(f"{doc_id} validation differs")
    return bad


def count_and_sample(df, ids: list[str]):
    """One pass over ``df``: its row count and the rows of the sampled doc
    ids."""
    return df.agg(
        F.count("*").alias("n"),
        F.collect_list(
            F.when(F.col("doc_id").isin(ids), F.struct("doc_id", "spans", "validation"))
        ).alias("sample"),
    ).first()


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def warm_up(spark, lanes: int) -> None:
    """Start one Python worker per lane and import the program in it."""
    _noop(pipeline.extract_documents(
        corpus.corpus_df(spark, 4 * lanes, seed=1, num_partitions=lanes)
    ))


# ---------------------------------------------------------------------------
# kernel slices
# ---------------------------------------------------------------------------


def _fused_out_fields():
    from pyspark.sql.pandas.types import to_arrow_type

    result = {f.name: f.dataType for f in extract.EXTRACT_RESULT_TYPE.fields}
    fields = [(f.name, f.dataType) for f in DOCUMENTS_SCHEMA.fields] + [
        (n, result[n]) for n in ("n_spans", "n_chars", "validation")
    ]
    return [(n, to_arrow_type(t)) for n, t in fields]


def _read_slice(path: str, ids: range, mega_every: int) -> pd.Series:
    doc_ids = [f"doc-{i:010d}-{_family(i, mega_every) or corpus.family_of(i)}" for i in ids]
    table = pq.read_table(path, columns=["spans"], filters=[("doc_id", "in", doc_ids)])
    return table.column("spans").to_pandas()


def _pandas_batches(tracer, spans: pd.Series) -> None:
    """The pandas-UDF body of the unsalted table path, one Arrow batch at a
    time."""
    udf = extract.make_extract_and_score_udf(CFG).func
    for i in range(0, len(spans), ARROW_BATCH):
        batch = spans.iloc[i : i + ARROW_BATCH].reset_index(drop=True)
        with tracer.span("extract.batch"):
            udf(batch)


def _salted_big_doc(tracer, spans) -> int:
    """The salted path for one mega doc: chunk, extract each chunk, stitch,
    score. Returns the chunk count."""
    with tracer.span("extract.batch"):
        chunks, media = skew.chunk_document(spans, skew.DEFAULT_UNITS_PER_CHUNK)
        offsets = [m[3] for m in media]
        text_spans = [p for c in chunks for p in skew.extract_text_spans(c, offsets)]
        doc = skew.stitch_media(text_spans, media)
        skew.score_texts(pd.Series([
            " ".join(sp["text"] for sp in doc if sp["kind"] in extract.TEXT_KINDS)
        ]), CFG)
    return len(chunks)


# ---------------------------------------------------------------------------
# jobs
# ---------------------------------------------------------------------------


class Job:
    name = ""
    n = 0  # documents per job
    # Jobs whose layers have no workload of their own: a traced run drives
    # each once after its workload's jobs.
    side_runs: tuple = ()

    def __init__(self, ctx: Ctx):
        self.ctx = ctx

    def materialize(self, spark) -> None:
        """Write the job's inputs (part of set-up)."""

    def run(self, spark, i: int):
        """One timed job; returns what ``check`` needs."""
        raise NotImplementedError

    def check(self, spark, out) -> list[str]:
        """Mismatches in one job's output (not timed)."""
        raise NotImplementedError

    def driver_wraps(self, tracer) -> None:
        """Wrap driver-side layers for a traced job."""

    # Workloads also define kernel_slice(tracer) -> {"docs": n, ...}, which
    # drives their kernels out of Spark; side runs define
    # layer_metrics(out, tracer) -> {metric: value} for one traced job.


class _SpansTable(Job):
    """A job over a spans parquet table written at set-up."""

    mega_every = 0

    def __init__(self, ctx):
        super().__init__(ctx)
        self.table = os.path.join(ctx.work, f"{self.name}_spans")
        ids = sample_ids(self.n, self.mega_every, ctx.seed)
        self.expected = expected_rows(ids, ctx.seed, self.mega_every)

    def materialize(self, spark):
        corpus.corpus_df(
            spark, self.n, seed=self.ctx.seed, mega_every=self.mega_every,
            num_partitions=2 * self.ctx.lanes,
        ).write.mode("overwrite").parquet(self.table)


class ResumeLineage(_SpansTable):
    """run_extraction stopped by an injected failure after two of its four
    commits, then resumed under the same run id (job.py --input
    --resumable)."""

    name = "resume_lineage"
    BUCKETS = 32
    PER_COMMIT = 8
    FAIL_AFTER = 2

    def __init__(self, ctx):
        self.n = 600 if ctx.tiny else 2000
        super().__init__(ctx)

    def run(self, spark, i):
        root = os.path.join(self.ctx.work, f"resume_{i}")
        run_id = f"run{i}"
        docs = spark.read.parquet(self.table)
        kw = dict(n_buckets=self.BUCKETS, buckets_per_commit=self.PER_COMMIT, cfg=CFG)
        try:
            lineage.run_extraction(spark, docs, root, run_id, fail_after_commits=self.FAIL_AFTER, **kw)
        except lineage.SimulatedFailure:
            pass
        else:
            raise RuntimeError("run_extraction did not stop at the injected failure")
        t0 = time.perf_counter()
        summary = lineage.run_extraction(spark, docs, root, run_id, **kw)
        return {"root": root, "run_id": run_id, "summary": summary,
                "resume_s": time.perf_counter() - t0}

    def check(self, spark, out):
        cat = io_catalog.Catalog(out["root"])
        extracted = cat.table("extracted").read(spark)
        got = count_and_sample(extracted, list(self.expected))
        bad = compare(self.expected, self.n, got["sample"], got["n"])
        distinct = extracted.select("doc_id").distinct().count()
        if distinct != got["n"]:
            bad.append(f"{got['n'] - distinct} duplicate doc_id rows")
        lin = pq.read_table(cat.table("lineage").data_dir).to_pylist()
        committed = {
            r["partition_id"] for r in lin
            if r["run_id"] == out["run_id"] and r["status"] == "committed"
        }
        if len(committed) != self.BUCKETS:
            bad.append(f"{len(committed)} committed buckets != {self.BUCKETS}")
        skipped = out["summary"]["buckets_resumed"]
        if skipped != self.FAIL_AFTER * self.PER_COMMIT:
            bad.append(f"resume skipped {skipped} buckets")
        return bad

    def driver_wraps(self, tracer):
        tracer.wrap(io_catalog.LocalTable, "append", "io_catalog.append")
        tracer.wrap(lineage, "committed_buckets", "lineage.committed_buckets")

    def layer_metrics(self, out, tracer):
        t = tracer.totals()
        append = t.get("io_catalog.append", {"count": 0, "total_s": 0.0})
        files = written = 0
        for name in ("extracted", "lineage", "runs"):
            table = io_catalog.LocalTable(out["root"], name)
            names = [f for m in table.manifests() for f in m["files"]]
            files += len(names)
            written += sum(os.path.getsize(os.path.join(table.data_dir, f)) for f in names)
        lin = pq.read_table(io_catalog.LocalTable(out["root"], "lineage").data_dir)
        return {
            "io_catalog.append_s": append["total_s"],
            "io_catalog.appends": append["count"],
            "io_catalog.files_written": files,
            "io_catalog.bytes_written": written,
            "lineage.committed_buckets_s": t.get("lineage.committed_buckets", {"total_s": 0.0})["total_s"],
            "lineage.buckets_skipped": out["summary"]["buckets_resumed"],
            "lineage.group_wall_ms_p50": statistics.median(lin.column("wall_ms").to_pylist()),
            "lineage.resume_s": out["resume_s"],
        }


class SqlBattery(Job):
    """The ten headline harness queries over seeded tables."""

    name = "sql_battery"

    def __init__(self, ctx):
        super().__init__(ctx)
        self.scale = 0.02 if ctx.tiny else 0.05
        self.dir = os.path.join(ctx.work, "sql")
        self.oracle_rows = None

    def materialize(self, spark):
        write_tables(self.dir, self.ctx.seed, self.scale)

    def _oracle_rows(self) -> dict[str, int]:
        """Row count of every headline query that has a DuckDB oracle."""
        import duckdb

        con = duckdb.connect()
        try:
            for t in TABLES:
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{self.dir}/{t}.parquet'")
            return {
                q: len(con.execute(harness.ORACLES[q]).fetchall())
                for q in HEADLINE if q in harness.ORACLES
            }
        finally:
            con.close()

    def run(self, spark, i):
        times, rows = {}, {}
        for q in HEADLINE:
            t0 = time.perf_counter()
            rows[q] = len(harness.QUERIES[q](spark, self.dir).collect())
            times[q] = time.perf_counter() - t0
        return {"times": times, "rows": rows}

    def check(self, spark, out):
        if self.oracle_rows is None:
            self.oracle_rows = self._oracle_rows()
        return [
            f"{q}: {n} rows, oracle {self.oracle_rows.get(q)}"
            for q, n in out["rows"].items()
            if n != self.oracle_rows.get(q, n) or n == 0
        ]

    def layer_metrics(self, out, tracer):
        return {f"harness.{q}_s": out["times"][q] for q in HEADLINE}


class GenFused(Job):
    """corpus_df -> extract_documents (fused mapInArrow) -> count + sample."""

    name = "gen_fused"
    # rides the shorter traced run; shares no code path with either workload
    side_runs = (SqlBattery,)

    def __init__(self, ctx):
        super().__init__(ctx)
        self.n = 800 if ctx.tiny else 12_000
        self.mega_every = 200 if ctx.tiny else 4000
        ids = sample_ids(self.n, self.mega_every, ctx.seed)
        self.expected = expected_rows(ids, ctx.seed, self.mega_every)

    def run(self, spark, i):
        docs = corpus.corpus_df(
            spark, self.n, seed=self.ctx.seed, mega_every=self.mega_every,
            num_partitions=2 * self.ctx.lanes,
        )
        return count_and_sample(pipeline.extract_documents(docs, CFG), list(self.expected))

    def check(self, spark, out):
        return compare(self.expected, self.n, out["sample"], out["n"])

    def kernel_slice(self, tracer):
        ids = list(range(self.mega_every))  # one mega doc, as in the job
        fn = extract.make_generate_extract_score_batch_fn(
            CFG, self.ctx.seed, self.mega_every, _fused_out_fields(), procs=1
        )
        it = fn(iter([
            pa.RecordBatch.from_arrays([pa.array(ids[k : k + ARROW_BATCH], pa.int64())], ["id"])
            for k in range(0, len(ids), ARROW_BATCH)
        ]))
        while True:
            with tracer.span("extract.batch"):
                batch = next(it, None)
            if batch is None:
                break
        return {"docs": len(ids)}


class TableSalted(_SpansTable):
    """read parquet -> extract_documents_salted -> partitionBy(is_valid)
    parquet write (job.py --input --salted)."""

    name = "table_salted"
    side_runs = (ResumeLineage,)

    def __init__(self, ctx):
        self.n = 600 if ctx.tiny else 2000
        self.mega_every = 100
        super().__init__(ctx)
        self.out_dir = os.path.join(ctx.work, "salted_out")

    def run(self, spark, i):
        docs = spark.read.parquet(self.table)
        out = skew.extract_documents_salted(docs, CFG, n_buckets=pipeline.DEFAULT_BUCKETS)
        out.write.mode("overwrite").partitionBy("is_valid").parquet(self.out_dir)

    def check(self, spark, out):
        got = count_and_sample(spark.read.parquet(self.out_dir), list(self.expected))
        return compare(self.expected, self.n, got["sample"], got["n"])

    def kernel_slice(self, tracer):
        spans = _read_slice(self.table, range(self.mega_every), self.mega_every)
        big = spans.map(len) > skew.DEFAULT_SPAN_THRESHOLD
        _pandas_batches(tracer, spans[~big])
        chunks = sum(_salted_big_doc(tracer, s) for s in spans[big])
        return {"docs": len(spans), "skew.big_docs": float(big.sum()), "skew.chunks": float(chunks)}


WORKLOADS = {w.name: w for w in (GenFused, TableSalted)}

# Every per-layer metric a traced run reports: (name, unit, better). A layer
# a workload does not reach reports 0.
LAYER_METRICS = (
    ("corpus.gen_us_per_doc", "us", "lower"),
    ("kernels.e1_html_us_per_doc", "us", "lower"),
    ("kernels.e2_pdf_us_per_doc", "us", "lower"),
    ("kernels.e2_share", "ratio", "lower"),
    ("kernels.e3_stitch_us_per_doc", "us", "lower"),
    ("kernels.dispatch_us_per_doc", "us", "lower"),
    ("readability.e4_score_us_per_doc", "us", "lower"),
    ("extract.batch_us_per_doc", "us", "lower"),
    ("extract.arrow_build_us_per_doc", "us", "lower"),
    ("extract.kernel_floor_s", "s", "lower"),
    ("spark.gap_s", "s", "lower"),
    ("spark.python_bytes_sent", "B", "lower"),
    ("spark.python_bytes_received", "B", "lower"),
    ("spark.jobs", "count", "lower"),
    ("spark.stages", "count", "lower"),
    ("spark.tasks", "count", "lower"),
    ("spark.failed_tasks", "count", "lower"),
    ("spark.executor_run_s", "s", "lower"),
    ("spark.executor_cpu_s", "s", "lower"),
    ("spark.jvm_gc_s", "s", "lower"),
    ("spark.task_p50_s", "s", "lower"),
    ("spark.task_max_s", "s", "lower"),
    ("spark.wave_tail_s", "s", "lower"),
    ("spark.input_bytes", "B", "lower"),
    ("spark.shuffle_write_bytes", "B", "lower"),
    ("spark.shuffle_read_bytes", "B", "lower"),
    ("spark.output_bytes", "B", "lower"),
    ("spark.lane_efficiency", "ratio", "higher"),
    ("skew.big_docs", "count", "lower"),
    ("skew.chunks", "count", "lower"),
    ("skew.chunk_us_per_big_doc", "us", "lower"),
    ("io_catalog.append_s", "s", "lower"),
    ("io_catalog.appends", "count", "lower"),
    ("io_catalog.files_written", "count", "lower"),
    ("io_catalog.bytes_written", "B", "lower"),
    ("lineage.committed_buckets_s", "s", "lower"),
    ("lineage.buckets_skipped", "count", "higher"),
    ("lineage.group_wall_ms_p50", "ms", "lower"),
    ("lineage.resume_s", "s", "lower"),
) + tuple((f"harness.{q}_s", "s", "lower") for q in HEADLINE) + (
    ("trace.overhead_frac", "ratio", "lower"),
    ("trace.self_time_coverage", "ratio", "higher"),
    ("trace.slice_docs", "count", "higher"),
)
