"""Spark-side layer numbers, scoped by job group.

Every job the benchmark runs is submitted under a job group it names
(``SparkContext.setJobGroup``). The numbers below are read from the
driver's status stores (``AppStatusStore`` for jobs, stages and tasks;
``SQLAppStatusStore`` for SQL plan metrics) and keep only the jobs of the
requested group, so work of an earlier or later run cannot leak in the way
a before/after snapshot diff would let it.
"""

from __future__ import annotations

import re
import statistics

_SIZE_UNITS = {"B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30, "TiB": 1 << 40}
_SIZE_RE = re.compile(r"([0-9.]+) (B|KiB|MiB|GiB|TiB)")
PY_SENT = "data sent to Python workers"
PY_RECEIVED = "data returned from Python workers"


def _seq(s) -> list:
    return [s.apply(i) for i in range(s.size())]


def _opt(o):
    return o.get() if o.isDefined() else None


def _group_jobs(store, group: str) -> list:
    return [j for j in _seq(store.jobsList(None)) if _opt(j.jobGroup()) == group]


def group_stage_ids(spark, group: str) -> list[int]:
    store = spark.sparkContext._jsc.sc().statusStore()
    return sorted({s for j in _group_jobs(store, group) for s in _seq(j.stageIds())})


def _parse_size(text: str | None) -> int:
    if not text:
        return 0
    m = _SIZE_RE.search(text.splitlines()[-1])
    return int(float(m.group(1)) * _SIZE_UNITS[m.group(2)]) if m else 0


def _python_bytes(spark, job_ids: set[int]) -> tuple[int, int]:
    sql = spark._jsparkSession.sharedState().statusStore()
    sent = received = 0
    for ex in _seq(sql.executionsList()):
        jobs = ex.jobs()
        if not any(jobs.contains(j) for j in job_ids):
            continue
        values = sql.executionMetrics(ex.executionId())
        for m in _seq(ex.metrics()):
            if m.name() in (PY_SENT, PY_RECEIVED):
                n = _parse_size(_opt(values.get(m.accumulatorId())))
                if m.name() == PY_SENT:
                    sent += n
                else:
                    received += n
    return sent, received


def _wave_tail_s(tasks: list[tuple[float, float]]) -> float:
    """Time at the end of a stage during which at least one lane had no
    task left to run: from the first task end after the last task launch
    (a task ending at that launch handed its lane to the last task), to the
    stage's last task end. ``tasks`` is (launch_s, end_s)."""
    last_launch = max(t[0] for t in tasks)
    ends = sorted(t[1] for t in tasks)
    first_idle = next((e for e in ends if e > last_launch), ends[-1])
    return ends[-1] - first_idle


def group_metrics(spark, group: str) -> dict[str, float]:
    """Stage, task and SQL metrics of every job in ``group``."""
    sc = spark.sparkContext
    store = sc._jsc.sc().statusStore()
    gw = sc._gateway
    no_quantiles = gw.new_array(gw.jvm.double, 0)
    jobs = _group_jobs(store, group)
    job_ids = {j.jobId() for j in jobs}
    stage_ids = sorted({s for j in jobs for s in _seq(j.stageIds())})
    out = dict.fromkeys(
        (
            "stages", "tasks", "failed_tasks", "executor_run_s",
            "executor_cpu_s", "jvm_gc_s", "input_bytes", "output_bytes",
            "shuffle_read_bytes", "shuffle_write_bytes", "wave_tail_s",
        ),
        0.0,
    )
    out["jobs"] = float(len(jobs))
    durations = []
    for sid in stage_ids:
        for st in _seq(store.stageData(sid, False, None, False, no_quantiles)):
            if st.status().toString() == "SKIPPED":
                continue
            out["stages"] += 1
            out["tasks"] += st.numTasks()
            out["failed_tasks"] += st.numFailedTasks()
            out["executor_run_s"] += st.executorRunTime() / 1e3
            out["executor_cpu_s"] += st.executorCpuTime() / 1e9
            out["jvm_gc_s"] += st.jvmGcTime() / 1e3
            out["input_bytes"] += st.inputBytes()
            out["output_bytes"] += st.outputBytes()
            out["shuffle_read_bytes"] += st.shuffleReadBytes()
            out["shuffle_write_bytes"] += st.shuffleWriteBytes()
            spans = []
            for t in _seq(store.taskList(sid, st.attemptId(), 1 << 20)):
                d = _opt(t.duration())
                if d is None:
                    continue
                launch = t.launchTime().getTime() / 1e3
                spans.append((launch, launch + d / 1e3))
                durations.append(d / 1e3)
            if spans:
                out["wave_tail_s"] += _wave_tail_s(spans)
    out["task_p50_s"] = statistics.median(durations) if durations else 0.0
    out["task_max_s"] = max(durations, default=0.0)
    sent, received = _python_bytes(spark, job_ids)
    out["python_bytes_sent"] = float(sent)
    out["python_bytes_received"] = float(received)
    return out
