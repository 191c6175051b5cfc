"""Equality gate for the fused generate+extract+score stage (r6).

The column-UDF plan over the same documents read back from parquet (the
production input of that plan) is the golden twin; the fused single-stage
plan must be row-for-row, field-for-field identical on every corpus
family, including mega docs, start offsets and non-default configs.
tests/test_columnar.py pins the columnar core both plans run against the
per-document kernels.
"""

from ai_textbook_processor_spark.corpus import corpus_df
from ai_textbook_processor_spark.functions.readability import CriteriaConfig
from ai_textbook_processor_spark.plans.pipeline import extract_documents


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _parquet_copy(spark, docs, path):
    """``docs`` written to parquet and read back: the same documents as a
    frame the column UDF extracts."""
    docs.write.parquet(str(path))
    return spark.read.parquet(str(path))


def test_fused_equals_pandas_on_every_family(spark, tmp_path):
    # 65 docs = 5 full passes over the 13 corpus families; mega_every=13
    # plants 5 mega docs; start offset + non-default cfg exercise the
    # GenSpec plumbing and the relaxed is_valid gate
    cfg = CriteriaConfig(grade_lo=0.0, grade_hi=9.0, relaxed_relevance=True)
    docs = corpus_df(spark, 65, seed=21, mega_every=13, start=7,
                     num_partitions=5)
    table = _parquet_copy(spark, docs, tmp_path / "docs")
    fused = extract_documents(docs, cfg)
    column = extract_documents(table, cfg)
    assert "MapInArrow" in _plan(fused) and "ArrowEvalPython" in _plan(column)
    f = fused.orderBy("doc_id").collect()
    p = column.orderBy("doc_id").collect()
    assert len(f) == len(p) == 65
    for rf, rp in zip(f, p):
        assert rf == rp, (rf["doc_id"],)


def test_fused_schema_matches_pandas(spark, tmp_path):
    docs = corpus_df(spark, 2, seed=1)
    sf = extract_documents(docs).schema
    sp = extract_documents(_parquet_copy(spark, docs, tmp_path / "docs")).schema
    assert [(f.name, f.dataType) for f in sf.fields] == [
        (f.name, f.dataType) for f in sp.fields
    ]


def test_fused_plan_is_single_python_stage(spark):
    plan = _plan(extract_documents(corpus_df(spark, 8, seed=3)))
    # one MapInArrow (the fused stage), no second Python boundary
    assert plan.count("MapInArrow") == 1
    assert "ArrowEvalPython" not in plan and "MapInPandas" not in plan
    assert "Exchange" not in plan


def test_fused_falls_back_without_gen_spec(spark):
    # a frame NOT produced by corpus_df (here: any derived frame — the tag
    # does not survive transformations) must take the column-UDF path
    docs = corpus_df(spark, 4, seed=3).where("doc_id is not null")
    plan = _plan(extract_documents(docs))
    assert "ArrowEvalPython" in plan and plan.count("MapInArrow") == 1


def test_fused_falls_back_on_bucket(spark):
    from ai_textbook_processor_spark.plans.pipeline import with_bucket

    pre_bucketed = with_bucket(corpus_df(spark, 4, seed=3), 8)
    plan = _plan(extract_documents(pre_bucketed))
    assert "ArrowEvalPython" in plan


def test_fused_multibatch_helpers_equal_serial(spark):
    """The 1-batch lookahead (helpers start batch k+1 before batch k is
    yielded) must be invisible in the output. Shrink the Arrow batch size
    so each partition carries several input batches, each large enough to
    split across the worker and a helper, and compare with the serial run
    (no helpers: every batch computed in the worker thread)."""
    import os

    from ai_textbook_processor_spark.operators.extract import _MIN_SPLIT

    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    old = spark.conf.get(key)
    docs = corpus_df(spark, 1040, seed=9, mega_every=260, num_partitions=2)
    # 520 ids/partition -> input batches of 256, 256 and 8; the first two
    # split between the worker and one helper
    spark.conf.set(key, str(2 * _MIN_SPLIT))
    try:
        os.environ["SPARK_GRAFT_FUSED_PROCS"] = "2"
        try:
            helpers = extract_documents(docs).collect()
        finally:
            del os.environ["SPARK_GRAFT_FUSED_PROCS"]
    finally:
        spark.conf.set(key, old)
    serial = extract_documents(docs).collect()
    assert len(helpers) == len(serial) == 1040
    assert helpers == serial


def test_fused_parallel_helper_equals_serial(spark):
    """procs=2 (fork helper) must yield identical rows in identical order;
    batch splitting and reassembly are invisible in the output."""
    import os

    from ai_textbook_processor_spark.corpus import corpus_df

    docs = corpus_df(spark, 520, seed=5, mega_every=130, num_partitions=2)
    os.environ["SPARK_GRAFT_FUSED_PROCS"] = "2"
    try:
        par = extract_documents(docs).collect()
    finally:
        del os.environ["SPARK_GRAFT_FUSED_PROCS"]
    ser = extract_documents(docs).collect()
    assert len(par) == len(ser) == 520
    assert par == ser


# Fork helpers are forked from the calling process, so the helper-death
# scenarios run in a child interpreter: nothing is forked from the test
# process (which holds the JVM gateway's threads), a helper left behind
# cannot leak into later tests, and the child exiting at all shows that no
# pool thread blocks interpreter exit.
_KILL_SCRIPT = r"""
import json
import multiprocessing as mp
import os
import signal
import sys
import time
from concurrent.futures.process import BrokenProcessPool

import pyarrow as pa
from pyspark.sql.pandas.types import to_arrow_type

from ai_textbook_processor_spark.functions.readability import CriteriaConfig
from ai_textbook_processor_spark.operators import extract
from ai_textbook_processor_spark.schemas import DOCUMENTS_SCHEMA

out = {}
if sys.argv[1] == "batch_fn":
    # a SIGKILLed helper fails the batch function; it does not wait forever
    # on the slice the helper was computing
    result = {f.name: f.dataType for f in extract.EXTRACT_RESULT_TYPE.fields}
    out_fields = [(f.name, to_arrow_type(f.dataType)) for f in DOCUMENTS_SCHEMA.fields] + [
        (n, to_arrow_type(result[n])) for n in ("n_spans", "n_chars", "validation")
    ]
    fn = extract.make_generate_extract_score_batch_fn(CriteriaConfig(), 3, 0, out_fields, procs=2)
    batches = [
        pa.RecordBatch.from_arrays([pa.array(range(k, k + 512), pa.int64())], ["id"])
        for k in range(0, 8 * 512, 512)
    ]
    it = fn(iter(batches))
    out["first"] = next(it).num_rows
    helpers = mp.active_children()
    out["helpers"] = len(helpers)
    for h in helpers:
        os.kill(h.pid, signal.SIGKILL)
    try:
        for _ in it:
            pass
    except BrokenProcessPool:
        out["error"] = "BrokenProcessPool"
else:
    # a helper killed half-way through writing its result: the executor's
    # manager thread blocks on the half-written message, so only the
    # liveness poll sees the death, and dropping the pool must release
    # that thread
    pool = extract._get_fused_pool(1)
    assert pool.submit(int, "1").result() == 1
    manager = pool._executor_manager_thread
    # a message header announcing 1000 bytes, followed by only 10 of them
    os.write(pool._result_queue._writer.fileno(), (1000).to_bytes(4, "big") + b"x" * 10)
    fut = pool.submit(int, "2")
    (helper,) = mp.active_children()
    os.kill(helper.pid, signal.SIGKILL)
    t0 = time.monotonic()
    try:
        extract._helper_result(pool, fut)
    except BrokenProcessPool:
        out["error"] = "BrokenProcessPool"
    out["raised_within_s"] = time.monotonic() - t0 < 10
    extract._drop_fused_pool()
    manager.join(timeout=30)
    out["manager_exited"] = not manager.is_alive()
out["cached_pools"] = len(extract._FUSED_POOL)
print(json.dumps(out))
"""


def _run_kill_scenario(name: str) -> dict:
    import json
    import os
    import subprocess
    import sys

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    env = dict(os.environ)
    env["PYTHONPATH"] = os.pathsep.join(p for p in (root, env.get("PYTHONPATH")) if p)
    proc = subprocess.run(
        [sys.executable, "-c", _KILL_SCRIPT, name],
        cwd=root,
        env=env,
        capture_output=True,
        text=True,
        timeout=120,
    )
    assert proc.returncode == 0, proc.stderr[-4000:]
    return json.loads(proc.stdout.strip().splitlines()[-1])


def test_killed_fork_helper_raises_instead_of_hanging():
    """A SIGKILLed fork helper fails the batch function with
    BrokenProcessPool (a Spark task retry) within a bounded time, and the
    dead pool is dropped so the retry starts new helpers."""
    assert _run_kill_scenario("batch_fn") == {
        "first": 256,
        "helpers": 1,
        "error": "BrokenProcessPool",
        "cached_pools": 0,
    }


def test_helper_killed_mid_result_raises_and_releases_the_pool():
    """A helper killed while writing its result leaves the executor's
    manager thread blocked on a half-written message; the wait still
    raises BrokenProcessPool, and dropping the pool ends that thread."""
    assert _run_kill_scenario("mid_result") == {
        "error": "BrokenProcessPool",
        "raised_within_s": True,
        "manager_exited": True,
        "cached_pools": 0,
    }


def test_batch_fn_pickles_without_the_helper_cache():
    """The batch function reaches the helper cache only through module-level
    functions, so pickling it for Spark never copies a cached pool (which
    holds locks and threads), and a worker's cleanup clears its real cache."""
    import threading

    from pyspark import cloudpickle

    from ai_textbook_processor_spark.operators import extract

    fn = extract.make_generate_extract_score_batch_fn(CriteriaConfig(), 3, 0, [], procs=2)
    key = ("unpicklable", 0)
    extract._FUSED_POOL[key] = threading.Lock()
    try:
        cloudpickle.dumps(fn)
    finally:
        del extract._FUSED_POOL[key]


# The Spark-level twin of the kill scenarios: a fused task whose fork helper
# is SIGKILLed fails with BrokenProcessPool, Spark retries it, and the job's
# rows are those of a serial run. Runs in a child interpreter at
# local[2, 2] (two task attempts) for the same reasons as _KILL_SCRIPT.
_SPARK_KILL_SCRIPT = r"""
import json
import os
import sys
import tempfile

from pyspark.sql import SparkSession

from ai_textbook_processor_spark.corpus import corpus_df
from ai_textbook_processor_spark.operators import extract
from ai_textbook_processor_spark.operators.extract import _MIN_SPLIT
from ai_textbook_processor_spark.plans.pipeline import extract_documents

spark = (
    SparkSession.builder.master("local[2, 2]").appName("helper_kill_test")
    .config("spark.sql.shuffle.partitions", "2")
    .config("spark.ui.enabled", "false")
    # 5 input batches per partition, each split between the worker and
    # its one helper
    .config("spark.sql.execution.arrow.maxRecordsPerBatch", str(2 * _MIN_SPLIT))
    .getOrCreate()
)
work = tempfile.mkdtemp(prefix="atps_helper_kill_")
marker = os.path.join(work, "killed")
attempts = os.path.join(work, "attempts")
real_batch_fn = extract.make_generate_extract_score_batch_fn


def killing_batch_fn(*args, **kwargs):
    real = real_batch_fn(*args, **kwargs)

    def batches_killing_a_helper_once(batches):
        import multiprocessing as mp
        import signal

        from pyspark import TaskContext

        ctx = TaskContext.get()
        with open(attempts, "a") as f:
            f.write(f"{ctx.partitionId()} {ctx.attemptNumber()}\n")
        for i, batch in enumerate(real(batches)):
            yield batch
            if i == 0:
                try:  # one kill per job, whichever task gets here first
                    os.close(os.open(marker, os.O_CREAT | os.O_EXCL | os.O_WRONLY))
                except FileExistsError:
                    continue
                for helper in mp.active_children():
                    os.kill(helper.pid, signal.SIGKILL)

    return batches_killing_a_helper_once


def rows(df):
    return [r.asDict(recursive=True) for r in df.collect()]


docs = corpus_df(spark, 2 * 5 * 2 * _MIN_SPLIT, seed=13, mega_every=640, num_partitions=2)
extract.make_generate_extract_score_batch_fn = killing_batch_fn
os.environ["SPARK_GRAFT_FUSED_PROCS"] = "2"
spark.sparkContext.setJobGroup("helper_kill", "fused stage with a killed helper")
killed = rows(extract_documents(docs))
sc = spark.sparkContext
tracker = sc.statusTracker()
failed_tasks = sum(
    tracker.getStageInfo(s).numFailedTasks
    for j in tracker.getJobIdsForGroup("helper_kill")
    for s in tracker.getJobInfo(j).stageIds
)
extract.make_generate_extract_score_batch_fn = real_batch_fn
del os.environ["SPARK_GRAFT_FUSED_PROCS"]
sc.setJobGroup("serial", "fused stage without helpers")
serial = rows(extract_documents(docs))
with open(attempts) as f:
    retried = sorted({line.split()[0] for line in f if line.split()[1] != "0"})
print(json.dumps({
    "killed": os.path.exists(marker),
    "failed_tasks": failed_tasks,
    "retried_partitions": len(retried),
    "rows": len(killed),
    "equal_to_serial": killed == serial,
}))
spark.stop()
"""


def test_killed_helper_task_is_retried_to_serial_rows():
    """SIGKILL one fork helper of the fused stage under Spark: the task
    fails (BrokenProcessPool), is retried, and the job's rows equal a run
    without helpers."""
    import json
    import os
    import subprocess
    import sys

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    env = dict(os.environ)
    env["PYTHONPATH"] = os.pathsep.join(p for p in (root, env.get("PYTHONPATH")) if p)
    env.pop("SPARK_GRAFT_FUSED_PROCS", None)
    proc = subprocess.run(
        [sys.executable, "-c", _SPARK_KILL_SCRIPT],
        cwd=root,
        env=env,
        capture_output=True,
        text=True,
        timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-4000:]
    assert json.loads(proc.stdout.strip().splitlines()[-1]) == {
        "killed": True,
        "failed_tasks": 1,
        "retried_partitions": 1,
        "rows": 2560,
        "equal_to_serial": True,
    }
