"""SparkSession factory tuned for the extraction workload.

Local-mode defaults mirror what we would set cluster-side: AQE on, shuffle
partitions sized to cores (not 200), Arrow enabled with a bounded batch size
(documents are fat rows — target ~tens of MB per Arrow batch, SURVEY.md §4.3).
"""

from __future__ import annotations

import functools
import os

from pyspark import SparkContext
from pyspark.sql import SparkSession

# Docs are fat rows (a mega-doc can be MBs); cap Arrow batches below the
# default 10k records so a batch stays comfortably inside executor memory.
# 2048 measured best at <=16 lanes (512 pays too many round-trips, 10k
# bloats per-task buffers and GC). Above 16 lanes, batch handoffs become
# the JVM's hottest lock path (allocation + PythonRunner signalling per
# batch x lanes): 8192 measured local[32] at 13-15.7k docs/s stable vs
# 5.9-13.4k wildly variable at 2048 (r2 sweep, BENCH/BASELINE.md).
ARROW_MAX_RECORDS_PER_BATCH = 2048
ARROW_MAX_RECORDS_PER_BATCH_MANY_LANES = 8192

# Above this many local threads, declare spark.task.cpus=2: every task in
# this engine is a JVM thread PLUS a paired Python worker (Arrow UDF), i.e.
# two execution lanes. Measured on this box: local[32] with task.cpus=1
# collapses to ~5k docs/s (scheduler/GC contention in the single local-mode
# JVM); task.cpus=2 recovers ~14k docs/s. On a real cluster the same
# setting is the standard sizing for Python-heavy stages.
TASK_CPUS_THRESHOLD = 16

# Every Python worker forks from this daemon, which imports the installed
# pyspark and the engine's worker modules once and freezes that heap, so a
# task does not pay the imports, zip re-reads and full GC walks (_daemon.py).
DAEMON_MODULE = "ai_textbook_processor_spark._daemon"
# The sys.path entry this package was imported from: the checkout, or the
# zip spark-submit --py-files put on the driver's path.
PACKAGE_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def udf_per_context(factory):
    """Memoize a pandas-UDF factory per active SparkContext.

    A UDF keeps the JVM function it builds on first use, and that function
    holds the accumulator of the SparkContext active then. Reused under a
    later context, every task's accumulator update fails (the DAGScheduler
    logs "Failed to update accumulator"), so the memo starts over whenever
    the active context changes."""
    memo: dict = {}
    owner = None

    @functools.wraps(factory)
    def build(*args):
        nonlocal owner
        sc = SparkContext._active_spark_context
        if owner is not sc:
            memo.clear()
            owner = sc
        if args not in memo:
            memo[args] = factory(*args)
        return memo[args]

    return build


def get_spark(
    app_name: str = "ai_textbook_processor_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    submit_args = os.environ.get("PYSPARK_SUBMIT_ARGS", "")
    submitted_master = None
    if master is None:
        # Respect spark-submit's --master — it reaches the script as the
        # MASTER env var (gateway mode) or via PYSPARK_SUBMIT_ARGS; setting
        # builder.master here would silently turn
        # `spark-submit --master local[8]` into local[*].
        if "--master" in submit_args:
            toks = submit_args.split()
            submitted_master = toks[toks.index("--master") + 1]
        elif os.environ.get("MASTER"):
            submitted_master = os.environ["MASTER"]
    if shuffle_partitions is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS")
        shuffle_partitions = int(cpus) if cpus else (os.cpu_count() or 8)
    import re as _re

    effective = master or submitted_master or "local[*]"
    m = _re.match(r"local\[(\d+|\*)\]", effective)
    n_threads = (
        (os.cpu_count() or 8) if (m and m.group(1) == "*") else int(m.group(1)) if m else 0
    )
    b = SparkSession.builder.appName(app_name)
    if master is not None or submitted_master is None:
        b = b.master(master or "local[*]")
    b = (
        b
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config(
            "spark.sql.execution.arrow.maxRecordsPerBatch",
            str(
                ARROW_MAX_RECORDS_PER_BATCH_MANY_LANES
                if n_threads > TASK_CPUS_THRESHOLD
                else ARROW_MAX_RECORDS_PER_BATCH
            ),
        )
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "48g"))
    )
    if effective.startswith("local"):
        # Local workers share the driver's files, so the daemon module is
        # importable from PACKAGE_ROOT before any --py-files are unpacked.
        # On a cluster it would have to be installed on every executor.
        b = b.config("spark.python.daemon.module", DAEMON_MODULE).config(
            "spark.executorEnv.PYTHONPATH", PACKAGE_ROOT
        )
    if n_threads > TASK_CPUS_THRESHOLD:
        b = b.config("spark.task.cpus", "2")
    # SPARK_GRAFT_EXTRA: semicolon-separated key=value conf overrides, so a
    # bench harness or the driver can inject conf without code changes,
    # e.g. SPARK_GRAFT_EXTRA='spark.sql.shuffle.partitions=64;spark.task.cpus=1'
    for kv in filter(None, os.environ.get("SPARK_GRAFT_EXTRA", "").split(";")):
        k, _, v = kv.partition("=")
        if k and v:
            b = b.config(k.strip(), v.strip())
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
