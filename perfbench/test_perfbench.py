"""Self-tests of the benchmark. Run from the repository root:

    python3 -m pytest perfbench -q

The smoke tests run the benchmark command itself with ``--tiny`` on every
workload, in both modes, and hold its output to BENCHMARK.json.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
sys.path.insert(0, ROOT)

with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
    SPEC = json.load(f)


def _bench(cwd: str, workload: str, trace: int, timeout: int = 300):
    return subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "7",
         "--seconds", "1", "--trace", str(trace), "--tiny"],
        cwd=cwd, capture_output=True, text=True, timeout=timeout,
    )


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", [w["name"] for w in SPEC["workloads"]])
def test_smoke_run_is_correct_and_complete(workload, trace):
    proc = _bench(ROOT, workload, trace)
    assert proc.returncode == 0, proc.stderr[-3000:]
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] is True and result["failed"] == 0
    assert result["attempted"] >= 1
    declared = SPEC["per_layer"] if trace else SPEC["end_to_end"]
    assert {k: v["unit"] for k, v in result["metrics"].items()} == {
        m["name"]: m["unit"] for m in declared
    }
    if not trace:
        assert all(v["value"] > 0 for v in result["metrics"].values())
    else:
        m = {k: v["value"] for k, v in result["metrics"].items()}
        # the slice's layer self times add up to its batch total
        assert abs(m["trace.self_time_coverage"] - 1) < 0.1
        assert (m["io_catalog.appends"] > 0) == (workload == "table_salted")
        assert (m["lineage.buckets_skipped"] == 16) == (workload == "table_salted")


def test_declared_metrics_match_the_code():
    import run
    from workloads import LAYER_METRICS

    assert [(m["name"], m["unit"], m["better"]) for m in SPEC["end_to_end"]] == list(run.END_TO_END)
    assert [(m["name"], m["unit"], m["better"]) for m in SPEC["per_layer"]] == list(LAYER_METRICS)


def test_fails_without_the_program(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(HERE, tmp_path / "perfbench", ignore=shutil.ignore_patterns("__pycache__"))
    proc = _bench(str(tmp_path), SPEC["workloads"][0]["name"], 0, timeout=120)
    assert proc.returncode != 0
    assert '"correct"' not in proc.stdout


def test_job_groups_do_not_bleed(tmp_path):
    """Two back-to-back jobs under different job groups: each group's
    numbers hold its own stages and tasks only, with no settling delay."""
    import run
    from sparkstats import group_metrics, group_stage_ids

    spark = run.start_session(str(tmp_path), 2)
    try:
        sc = spark.sparkContext
        sc.setJobGroup("bleed-a", "a")
        spark.range(0, 1000, 1, 3).selectExpr("id % 5 AS k").groupBy("k").count().collect()
        sc.setJobGroup("bleed-b", "b")
        spark.range(0, 100, 1, 2).write.format("noop").mode("overwrite").save()
        a, b = group_stage_ids(spark, "bleed-a"), group_stage_ids(spark, "bleed-b")
        assert a and b and not set(a) & set(b)
        mb = group_metrics(spark, "bleed-b")
        assert (mb["jobs"], mb["stages"], mb["tasks"]) == (1, 1, 2)
        assert mb["shuffle_write_bytes"] == 0
        assert group_metrics(spark, "bleed-a")["shuffle_write_bytes"] > 0
    finally:
        spark.stop()


def test_wave_tail():
    from sparkstats import _wave_tail_s

    # two lanes: the last task launches at 2 and the first task ending at or
    # after that ends at 3; the stage ends at 5
    assert _wave_tail_s([(0, 2), (0, 3), (2, 5)]) == 2


def test_self_time_excludes_children():
    from tracing import Tracer

    class Box:
        @staticmethod
        def inner():
            return sum(range(10_000))

    tr = Tracer()
    tr.wrap(Box, "inner", "inner")
    with tr.span("outer"):
        Box.inner()
        Box.inner()
    tr.unwrap_all()
    t = tr.totals()
    assert t["inner"]["count"] == 2
    assert t["outer"]["self_s"] == pytest.approx(t["outer"]["total_s"] - t["inner"]["total_s"])
    assert Box.inner() == sum(range(10_000))  # unwrapped
