"""Spark-side extraction operator (SURVEY.md §2.12 ``extract_spans``).

One vectorized pandas UDF is the whole hot path: Series[span array] ->
Series[span array] over Arrow batches. Each document's spans arrive as a
single cell, so the per-document kernels (functions/kernels.py) run inside
the batch with no per-row Python UDF and no shuffle — extraction is
embarrassingly parallel across partitions (the reference processes one
document per HTTP request, serially: ``routes/route.py:79-102``).
"""

from __future__ import annotations

import os

import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F

from pyspark.sql import types as T

from ..functions.kernels import extract_document
from ..functions.readability import CriteriaConfig, score_texts
from ..schemas import SPANS_TYPE, VALIDATION_TYPE
from ..session import udf_per_context

TEXT_KINDS = ("heading", "body", "caption")


@udf_per_context
def extract_spans_udf():
    @F.pandas_udf(SPANS_TYPE)
    def extract_spans(spans: pd.Series) -> pd.Series:
        return pd.Series(
            [extract_document(s) if s is not None else [] for s in spans],
            index=spans.index,
        )

    return extract_spans


# Fused extract+score output: ONE Python stage for the whole hot path.
# Chaining two pandas UDFs costs a second Arrow round-trip and a second
# per-worker warm-up (~2 s/worker); fusing halves both. Scoring stays
# vectorized: it runs on the batch's extracted-text Series, not per row.
EXTRACT_RESULT_TYPE = T.StructType(
    [
        T.StructField("spans", SPANS_TYPE),
        T.StructField("n_spans", T.IntegerType()),
        T.StructField("n_chars", T.IntegerType()),
        T.StructField("validation", VALIDATION_TYPE),
    ]
)

_VALIDATION_FIELDS = [f.name for f in VALIDATION_TYPE.fields]


@udf_per_context
def make_extract_and_score_udf(cfg: CriteriaConfig):
    @F.pandas_udf(EXTRACT_RESULT_TYPE)
    def extract_and_score(spans: pd.Series) -> pd.DataFrame:
        extracted = [extract_document(s) if s is not None else [] for s in spans]
        texts = pd.Series(
            [
                " ".join(
                    sp["text"] for sp in doc if sp["kind"] in TEXT_KINDS
                )
                for doc in extracted
            ]
        )
        scored = score_texts(texts, cfg)
        return pd.DataFrame(
            {
                "spans": extracted,
                "n_spans": [len(d) for d in extracted],
                "n_chars": texts.str.len().astype("int32"),
                "validation": scored[_VALIDATION_FIELDS].to_dict("records"),
            }
        )

    return extract_and_score


# ---------------------------------------------------------------------------
# Fully fused generate+extract+score stage (r6 optimization): when the input
# is a corpus_df-generated frame (see corpus.GenSpec), the raw spans payload
# would cross the Python<->JVM Arrow boundary twice (generator out, extract
# UDF in) only to be REPLACED by the extraction output — it never appears in
# the final frame. Running generation, extraction and scoring in ONE
# mapInArrow stage over the id range eliminates both crossings of the
# heaviest column (guide §4.1/§2.3: shuffle/ship fewer bytes — here, zero
# bytes of raw spans). Row values are identical by construction (same
# gen_doc / extract_document / score_texts calls); pinned row-for-row by
# tests/test_fused_impl.py.
# ---------------------------------------------------------------------------


# One persistent fork-helper per (reused) Python worker, keyed by pid. With
# spark.task.cpus=2 (session.py's >16-lane policy) every fused task OWNS two
# cores but interpreted Python can drive only one; the helper spends the
# second on the other half of each batch (ids cross the pipe going in —
# a few KB; finished rows cross coming back, ~1-2 MB/batch at ~GB/s pickle
# speed, <1% of batch compute). Heavy init happens once per worker process
# (guide §4.5); PR_SET_PDEATHSIG pins the helper's lifetime to its worker
# so killed/reused workers never orphan it. A helper that dies mid-batch
# breaks the executor: the task fails with BrokenProcessPool (and Spark
# retries it) instead of waiting forever on a result that never comes.
_FUSED_POOL: dict = {}
_MIN_SPLIT = 128  # below this many ids a batch is not worth forking over
_HELPER_POLL_S = 1.0  # how often a wait for a helper's slice checks it lives


def _helper_pdeathsig():  # pragma: no cover - runs in the forked child
    import ctypes
    import signal

    PR_SET_PDEATHSIG = 1
    ctypes.CDLL("libc.so.6", use_errno=True).prctl(
        PR_SET_PDEATHSIG, signal.SIGKILL
    )


def _get_fused_pool(n_helpers: int):
    import multiprocessing as mp
    from concurrent.futures import ProcessPoolExecutor

    key = (os.getpid(), n_helpers)
    pool = _FUSED_POOL.get(key)
    if pool is None:
        pool = ProcessPoolExecutor(
            n_helpers,
            mp_context=mp.get_context("fork"),
            initializer=_helper_pdeathsig,
        )
        _FUSED_POOL.clear()  # a forked worker must not reuse the parent's
        _FUSED_POOL[key] = pool
    return pool


def _helper_result(pool, fut):
    """``fut.result()``, but a dead helper raises BrokenProcessPool within
    _HELPER_POLL_S. The executor notices a dead helper by itself unless the
    helper died half-way through writing its result: its manager thread
    then blocks on the half-written message and the future never completes
    (CPython 3.11)."""
    from concurrent.futures import TimeoutError as FutureTimeout
    from concurrent.futures.process import BrokenProcessPool

    while True:
        try:
            return fut.result(timeout=_HELPER_POLL_S)
        except FutureTimeout:
            helpers = list((pool._processes or {}).values())
            if any(p.exitcode is not None for p in helpers):
                raise BrokenProcessPool(
                    "a fused fork helper died before returning its slice"
                ) from None


def _drop_fused_pool():
    """Forget this process's helpers after one died, leaving nothing that
    waits on them: the survivors are killed, and this process's end of the
    result pipe is closed, so a manager thread stuck on a half-written
    result reads EOF and exits (it would otherwise block interpreter exit).
    A module-level function, so a pickled batch function clears this
    module's cache, not a copy of it."""
    for pool in _FUSED_POOL.values():
        for p in list((pool._processes or {}).values()):
            p.kill()
        if pool._result_queue is not None:
            pool._result_queue._writer.close()
        pool.shutdown(wait=False, cancel_futures=True)
    _FUSED_POOL.clear()


def _fused_compute_batch(ids, seed: int, mega_every: int, cfg: CriteriaConfig,
                         out_fields):
    """Arrow twin of _fused_compute: returns a pyarrow.RecordBatch built
    directly from the kernel outputs. Each fork-helper slice becomes its
    own output batch, so the object->Arrow conversion (the single most
    expensive non-kernel step in the worker) runs in PARALLEL across the
    helpers instead of serially in the worker thread after reassembly."""
    import pyarrow as pa

    from ..corpus import gen_doc

    rows = []
    for idx in ids:
        fam = (
            "mega_doc"
            if (mega_every and idx % mega_every == mega_every - 1)
            else None
        )
        rows.append(gen_doc(int(idx), seed, family=fam))
    extracted = [extract_document(r["spans"]) for r in rows]
    texts = pd.Series(
        [
            " ".join(sp["text"] for sp in doc if sp["kind"] in TEXT_KINDS)
            for doc in extracted
        ]
    )
    scored = score_texts(texts, cfg)
    types = dict(out_fields)
    validation_type = types["validation"]
    validation = pa.StructArray.from_arrays(
        [
            pa.array(scored[f.name], type=f.type, from_pandas=True)
            for f in validation_type
        ],
        fields=list(validation_type),
    )
    # Build the list<struct> spans column from flattened parallel lists +
    # an offsets array instead of letting pa.array infer from per-span
    # dicts — 15x faster (5 ms vs 76 ms per 2.7k-doc slice), identical
    # array (pinned by tests/test_fused_impl.py).
    spans_type = types["spans"]
    span_struct = spans_type.value_type
    offsets = [0]
    kinds: list = []
    txts: list = []
    refs: list = []
    offs: list = []
    n_flat = 0
    for doc in extracted:
        n_flat += len(doc)
        offsets.append(n_flat)
        for sp in doc:
            kinds.append(sp["kind"])
            txts.append(sp["text"])
            refs.append(sp["media_ref"])
            offs.append(sp["offset"])
    spans_arr = pa.ListArray.from_arrays(
        pa.array(offsets, type=pa.int32()),
        pa.StructArray.from_arrays(
            [
                pa.array(kinds, type=pa.string()),
                pa.array(txts, type=pa.string()),
                pa.array(refs, type=pa.string()),
                pa.array(offs, type=pa.int32()),
            ],
            fields=[
                span_struct.field(i) for i in range(span_struct.num_fields)
            ],
        ),
    )
    cols = {
        "doc_id": pa.array([r["doc_id"] for r in rows], type=pa.string()),
        "spans": spans_arr,
        "standard": pa.array([r["standard"] for r in rows], type=pa.string()),
        "subject": pa.array([r["subject"] for r in rows], type=pa.string()),
        "chapter": pa.array([r["chapter"] for r in rows], type=pa.string()),
        "content_type": pa.array(
            [r["content_type"] for r in rows], type=pa.string()
        ),
        "n_spans": pa.array([len(d) for d in extracted], type=pa.int32()),
        "n_chars": pa.array(
            texts.str.len().astype("int32"), type=pa.int32()
        ),
        "validation": validation,
    }
    schema = pa.schema([pa.field(n, t) for n, t in out_fields])
    return pa.RecordBatch.from_arrays(
        [cols[n] for n, _t in out_fields], schema=schema
    )


def make_generate_extract_score_batch_fn(cfg: CriteriaConfig, seed: int,
                                         mega_every: int, out_fields,
                                         procs: int = 1):
    """mapInArrow form of the fused stage: Iterator[RecordBatch(id)] ->
    Iterator[RecordBatch(doc columns + n_spans + n_chars + validation)].
    Yields one output batch per fork-helper slice — no pandas reassembly,
    no single-threaded object->Arrow conversion in the worker."""

    lookahead = os.environ.get("SPARK_GRAFT_FUSED_LOOKAHEAD", "1") != "0"

    def generate_extract_score_batches(batches):
        from concurrent.futures.process import BrokenProcessPool

        pool = _get_fused_pool(procs - 1) if procs > 1 else None

        def submit(batch):
            """Split a batch's ids; helper slices start computing NOW,
            the worker's own slice is returned for synchronous compute."""
            ids = batch.column(0).to_pylist()
            if pool is not None and len(ids) >= procs * _MIN_SPLIT:
                step = (len(ids) + procs - 1) // procs
                slices = [ids[i : i + step] for i in range(0, len(ids), step)]
                pending = [
                    pool.submit(
                        _fused_compute_batch, s, seed, mega_every, cfg, out_fields
                    )
                    for s in slices[1:]
                ]
                return slices[0], pending
            return ids, []

        # 1-batch lookahead: batch k+1's helper slices are submitted BEFORE
        # batch k's results are yielded, so the helpers compute k+1 while
        # the worker thread is busy with Arrow IPC to the JVM (the yield).
        # Safe to pull ahead: the JVM feeds the input stream from a
        # dedicated writer thread, independent of output reads. Output
        # order is unchanged (batches in input order; within a batch the
        # worker slice then helper slices in slice order) — pinned by
        # tests/test_fused_impl.py.
        it = iter(batches)
        cur = next(it, None)
        if cur is None:
            return
        try:
            own, pending = submit(cur)
            while True:
                own_result = _fused_compute_batch(
                    own, seed, mega_every, cfg, out_fields
                )
                nxt = None
                if lookahead:
                    nxt = next(it, None)
                    if nxt is not None:
                        nxt_state = submit(nxt)
                yield own_result
                for p in pending:
                    yield _helper_result(pool, p)
                if not lookahead:
                    nxt = next(it, None)
                    if nxt is not None:
                        nxt_state = submit(nxt)
                if nxt is None:
                    return
                own, pending = nxt_state
        except BrokenProcessPool:
            _drop_fused_pool()  # the task's retry starts new helpers
            raise

    return generate_extract_score_batches


# ---------------------------------------------------------------------------
# mapInArrow twin of the fused stage (r2 VERDICT #2), r3 verdict: PARITY
# within noise, kept as an equality-pinned option (pandas UDF remains
# default). Why no win: Spark 4's pandas serializer is already Arrow-
# backed — the list<struct> input conversion (to_pandas) is identical in
# both paths and to_pylist is 6x SLOWER; the only real saving is building
# outputs directly as Arrow arrays (~4-5% of worker time), and mapInArrow
# must ship every passthrough column through the worker socket both ways
# (ArrowEvalPython ships only the spans column), which offsets it.
# Numbers in BENCH/BASELINE.md §r3. The pandas UDF is the GOLDEN TWIN
# (tests/test_arrow_impl.py pins row-for-row equality the way
# test_fast_html.py pins the tokenizer; the sf literal oracles x1/x2/g1
# pin the default path against pure-Python tables).
# ---------------------------------------------------------------------------


def make_extract_and_score_arrow_fn(cfg: CriteriaConfig, out_fields):
    """Build the mapInArrow function emitting ``input columns (spans
    replaced) + n_spans + n_chars + validation``. ``out_fields`` is the
    list of (name, pyarrow.DataType) for the OUTPUT schema, computed on
    the driver (pyspark.sql.pandas.types.to_arrow_type) and captured by
    the closure so workers never re-derive schema."""
    import pyarrow as pa

    out_schema = pa.schema([pa.field(n, t) for n, t in out_fields])
    types = {n: t for n, t in out_fields}
    spans_type = types["spans"]
    validation_type = types["validation"]

    def extract_and_score_arrow(batches):
        for batch in batches:
            # to_pandas, NOT to_pylist: pyarrow's pandas conversion of
            # list<struct> is ~6x faster (measured 0.08s vs 0.49s per 8k
            # batch); cells arrive as ndarrays of dicts, which the kernel
            # consumes identically
            spans = batch.column(
                batch.schema.get_field_index("spans")
            ).to_pandas()
            extracted = [
                extract_document(s) if s is not None else [] for s in spans
            ]
            texts = pd.Series(
                [
                    " ".join(
                        sp["text"] for sp in doc if sp["kind"] in TEXT_KINDS
                    )
                    for doc in extracted
                ]
            )
            scored = score_texts(texts, cfg)
            validation = pa.StructArray.from_arrays(
                [
                    pa.array(
                        scored[f.name], type=f.type, from_pandas=True
                    )
                    for f in validation_type
                ],
                fields=list(validation_type),
            )
            new_cols = {
                "spans": pa.array(extracted, type=spans_type),
                "n_spans": pa.array(
                    [len(d) for d in extracted], type=pa.int32()
                ),
                "n_chars": pa.array(
                    texts.str.len().astype("int32"), type=pa.int32()
                ),
                "validation": validation,
            }
            arrays = [
                new_cols[f.name]
                if f.name in new_cols
                else batch.column(batch.schema.get_field_index(f.name))
                for f in out_schema
            ]
            yield pa.RecordBatch.from_arrays(arrays, schema=out_schema)

    return extract_and_score_arrow


def extracted_text(spans_col: str | Column = "spans", sep: str = " ") -> Column:
    """Ordered concat of the textual spans — JVM-side (array_join over a
    filtered transform), the Spark analog of the reference's page-markdown
    concatenation (``utils/text_extract_MistralAI.py:32-37``)."""
    c = F.col(spans_col) if isinstance(spans_col, str) else spans_col
    texts = F.transform(
        F.filter(c, lambda x: x["kind"].isin(*TEXT_KINDS)), lambda x: x["text"]
    )
    return F.array_join(texts, sep)
