"""Spark-side extraction operator (SURVEY.md §2.12 ``extract_spans``).

One vectorized Arrow UDF is the whole hot path: an Arrow array of span
lists in, an Arrow struct array of results out. Each document's spans arrive
as a single cell, and the columnar core (functions/columnar.py) extracts the
whole batch at once with no per-row Python UDF and no shuffle — extraction
is embarrassingly parallel across partitions (the reference processes one
document per HTTP request, serially: ``routes/route.py:79-102``). The fused
generate+extract+score stage below runs the same core.
"""

from __future__ import annotations

import os

import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.pandas.types import to_arrow_type

from ..functions.columnar import (
    SPANS_ARROW_TYPE,
    TEXT_KINDS,
    extract_batch,
    joined_texts,
)
# extract_document is not called here (the columnar core extracts every
# batch) but stays a name of this module: the benchmark's traced runs wrap
# the per-document dispatch kernel through it
from ..functions.kernels import extract_document  # noqa: F401
from ..functions.readability import CriteriaConfig, score_texts
from ..schemas import SPANS_TYPE, VALIDATION_TYPE
from ..session import udf_per_context


# Fused extract+score output: ONE Python stage for the whole hot path.
# Chaining two Python UDFs costs a second Arrow round-trip and a second
# per-worker warm-up (~2 s/worker); fusing halves both.
EXTRACT_RESULT_TYPE = T.StructType(
    [
        T.StructField("spans", SPANS_TYPE),
        T.StructField("n_spans", T.IntegerType()),
        T.StructField("n_chars", T.IntegerType()),
        T.StructField("validation", VALIDATION_TYPE),
    ]
)

_RESULT_ARROW_TYPE = to_arrow_type(EXTRACT_RESULT_TYPE)
_RESULT_TYPES = {f.name: f.type for f in _RESULT_ARROW_TYPE}


def spans_array(docs, spans_type: pa.DataType) -> pa.ListArray:
    """The ``list<struct>`` spans column of ``docs`` (per-document lists of
    span dicts), built from flattened parallel lists plus an offsets array
    instead of letting ``pa.array`` infer from the dicts: 15x faster (5 ms
    vs 76 ms per 2.7k-doc slice), identical array (pinned by
    tests/test_fused_impl.py)."""
    span_struct = spans_type.value_type
    offsets = [0]
    kinds: list = []
    txts: list = []
    refs: list = []
    offs: list = []
    n_flat = 0
    for doc in docs:
        n_flat += len(doc)
        offsets.append(n_flat)
        for sp in doc:
            kinds.append(sp["kind"])
            txts.append(sp["text"])
            refs.append(sp["media_ref"])
            offs.append(sp["offset"])
    return pa.ListArray.from_arrays(
        pa.array(offsets, type=pa.int32()),
        pa.StructArray.from_arrays(
            [
                pa.array(kinds, type=pa.string()),
                pa.array(txts, type=pa.string()),
                pa.array(refs, type=pa.string()),
                pa.array(offs, type=pa.int32()),
            ],
            fields=list(span_struct),
        ),
    )


def extract_result_columns(extracted: pa.ListArray, texts: pa.Array,
                           cfg: CriteriaConfig, types) -> dict:
    """The extraction columns (spans, n_spans, n_chars, validation) of a
    batch as Arrow arrays, from its extracted spans and each document's
    joined text (``columnar.extract_batch``'s output): the one result
    builder of every extraction stage. ``types`` maps those column names to
    their Arrow types. Scoring stays vectorized: it runs on the batch's
    text column, not per row."""
    scored = score_texts(texts.to_pandas(), cfg)
    validation_type = types["validation"]
    return {
        "spans": extracted,
        "n_spans": pc.list_value_length(extracted).cast(pa.int32()),
        "n_chars": pc.utf8_length(texts).cast(pa.int32()),
        "validation": pa.StructArray.from_arrays(
            [
                pa.array(scored[f.name], type=f.type, from_pandas=True)
                for f in validation_type
            ],
            fields=list(validation_type),
        ),
    }


def _result_array(extracted: pa.ListArray, texts: pa.Array,
                  cfg: CriteriaConfig) -> pa.StructArray:
    cols = extract_result_columns(extracted, texts, cfg, _RESULT_TYPES)
    return pa.StructArray.from_arrays(
        [cols[f.name] for f in _RESULT_ARROW_TYPE], fields=list(_RESULT_ARROW_TYPE)
    )


def extract_result_array(spans, cfg: CriteriaConfig) -> pa.StructArray:
    """One EXTRACT_RESULT_TYPE struct array from a batch of span-list cells,
    extracted by the columnar core. ``spans`` is an Arrow list array or a
    pandas Series of cells (``to_pandas()`` cells: an int field with nulls
    arrives as float, which converts back exactly), so the UDF body also
    runs on local data."""
    if not isinstance(spans, (pa.Array, pa.ChunkedArray)):
        spans = pa.array(list(spans), type=SPANS_ARROW_TYPE, from_pandas=True)
    return _result_array(*extract_batch(spans), cfg)


def documents_result_array(docs, cfg: CriteriaConfig) -> pa.StructArray:
    """``extract_result_array`` for documents already extracted by the
    per-document kernels (lists of span dicts)."""
    extracted = spans_array(docs, SPANS_ARROW_TYPE)
    return _result_array(extracted, joined_texts(extracted), cfg)


def arrow_cells(col):
    """The Python cells of an Arrow column, by ``to_pandas()``. On a
    2048-doc ``list<struct>`` spans batch (pyspark 4.1.2, pyarrow 16.1)
    that takes 18-22 ms of CPU, where the pandas-UDF serializer's
    per-struct converters take 37-50 ms and ``to_pylist()`` 126-144 ms
    (BENCH/boundary_ab.json).
    Cells arrive as ndarrays of dicts; an int field with nulls anywhere in
    the batch arrives as float (3.0) or None. A pandas Series of such cells
    passes through, so the UDF bodies also run on local data."""
    return col.to_pandas() if isinstance(col, pa.Array) else col


@udf_per_context
def make_extract_and_score_udf(cfg: CriteriaConfig):
    @F.arrow_udf(EXTRACT_RESULT_TYPE)
    def extract_and_score(spans: pa.Array) -> pa.Array:
        return extract_result_array(spans, cfg)

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
# gen_doc / extract_batch / score_texts calls); pinned row-for-row by
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
    """One slice of the fused stage: generate, extract and score ``ids``
    into a pyarrow.RecordBatch built directly from the columnar core's
    output (one ``spans_array`` over the generated docs in).
    Each fork-helper slice becomes its own output batch, so the
    object->Arrow conversion (the single most expensive non-kernel step in
    the worker) runs in PARALLEL across the helpers instead of serially in
    the worker thread after reassembly."""
    from ..corpus import gen_doc

    rows = []
    for idx in ids:
        fam = (
            "mega_doc"
            if (mega_every and idx % mega_every == mega_every - 1)
            else None
        )
        rows.append(gen_doc(int(idx), seed, family=fam))
    extracted, texts = extract_batch(
        spans_array([r["spans"] for r in rows], SPANS_ARROW_TYPE)
    )
    cols = extract_result_columns(extracted, texts, cfg, dict(out_fields))
    cols.update(
        doc_id=pa.array([r["doc_id"] for r in rows], type=pa.string()),
        standard=pa.array([r["standard"] for r in rows], type=pa.string()),
        subject=pa.array([r["subject"] for r in rows], type=pa.string()),
        chapter=pa.array([r["chapter"] for r in rows], type=pa.string()),
        content_type=pa.array([r["content_type"] for r in rows], type=pa.string()),
    )
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
                nxt = next(it, None)
                if nxt is not None:
                    nxt_state = submit(nxt)
                yield own_result
                for p in pending:
                    yield _helper_result(pool, p)
                if nxt is None:
                    return
                own, pending = nxt_state
        except BrokenProcessPool:
            _drop_fused_pool()  # the task's retry starts new helpers
            raise

    return generate_extract_score_batches


def extracted_text(spans_col: str | Column = "spans", sep: str = " ") -> Column:
    """Ordered concat of the textual spans — JVM-side (array_join over a
    filtered transform), the Spark analog of the reference's page-markdown
    concatenation (``utils/text_extract_MistralAI.py:32-37``)."""
    c = F.col(spans_col) if isinstance(spans_col, str) else spans_col
    texts = F.transform(
        F.filter(c, lambda x: x["kind"].isin(*TEXT_KINDS)), lambda x: x["text"]
    )
    return F.array_join(texts, sep)
