"""Two sequential SparkSessions in one process give the same output, and
the second one's tasks update its own accumulators.

A pandas UDF keeps the JVM function it builds on first use, with the
accumulator of the SparkContext active then; a UDF memoized across
sessions makes every task of the second session fail its accumulator
update, which the DAGScheduler logs. The sessions run in a child process,
so its JVM's log can be read back. Also: the session factory's default
driver heap fits the host."""

import json
import os
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

SCRIPT = r"""
import json

from pyspark.sql import functions as F

from ai_textbook_processor_spark.corpus import corpus_df
from ai_textbook_processor_spark.operators.generate import with_generation
from ai_textbook_processor_spark.operators.skew import extract_documents_salted
from ai_textbook_processor_spark.session import get_spark


def run():
    spark = get_spark(master="local[2]", shuffle_partitions=2)
    docs = corpus_df(spark, 24, seed=7, mega_every=12)
    # small docs: the extract+score Arrow UDF; mega docs: chunk, partial
    # and reassemble UDFs
    out = extract_documents_salted(docs, span_threshold=64, max_units_per_chunk=16)
    out = with_generation(out, F.col("validation.reason"), n_items=2)
    rows = sorted(
        json.dumps(r.asDict(recursive=True), sort_keys=True)
        for r in out.select("doc_id", "spans", "validation", "generated").collect()
    )
    spark.stop()
    return rows


first, second = run(), run()
print(json.dumps({"n": len(first), "equal": first == second}))
"""


def test_second_session_output_equal_and_no_accumulator_error():
    env = dict(os.environ, SPARK_GRAFT_DRIVER_MEM="1g")
    env["PYTHONPATH"] = os.pathsep.join(p for p in (ROOT, env.get("PYTHONPATH")) if p)
    proc = subprocess.run(
        [sys.executable, "-c", SCRIPT],
        cwd=ROOT,
        env=env,
        capture_output=True,
        text=True,
        timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-4000:]
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    assert result == {"n": 24, "equal": True}
    assert "Failed to update accumulator" not in proc.stderr


def test_driver_memory_default_is_a_quarter_of_ram(monkeypatch):
    from ai_textbook_processor_spark import session

    monkeypatch.delenv("SPARK_GRAFT_DRIVER_MEM", raising=False)
    sysconf = {"SC_PAGE_SIZE": 4096}
    monkeypatch.setattr(session.os, "sysconf", lambda name: sysconf[name])
    for ram_bytes, want in [
        (15 * 2**30 + 2**29, "3g"),  # 15.5 GiB
        (16 * 2**30, "4g"),
        (3 * 2**30, "1g"),  # never below 1g
        (256 * 2**30, "64g"),
    ]:
        sysconf["SC_PHYS_PAGES"] = ram_bytes // 4096
        assert session.driver_memory() == want
    monkeypatch.setenv("SPARK_GRAFT_DRIVER_MEM", "7g")
    assert session.driver_memory() == "7g"
    monkeypatch.undo()
    with open("/proc/meminfo") as f:  # the benchmark's reading of the same RAM
        kb = int(next(line for line in f if line.startswith("MemTotal")).split()[1])
    monkeypatch.delenv("SPARK_GRAFT_DRIVER_MEM", raising=False)
    assert session.driver_memory() == f"{max(1, int(kb / (1 << 20) // 4))}g"
