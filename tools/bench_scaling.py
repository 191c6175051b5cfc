"""Two-cluster-size scaling bench (the north rule's N vs 4N executors).

The sandbox has no real cluster, so two proxies are measured on the same
deterministic input, both clock-controlled (taskset pinning + spinner load
on idle CPUs so every level runs at the same all-core clock):

1. **Executor emulation (cluster-faithful)**: J concurrent spark-submit
   JVMs, each `local[8]` pinned to a disjoint 8-CPU slice, each working a
   disjoint slice of the same pre-generated corpus — exactly what N
   separate 8-core executors do. Levels J=1, 2, 4 (8 -> 16 -> 32 CPUs).
2. **Single-JVM thread scaling (driver's literal proxy)**: one JVM at
   local[2] / local[8] / local[32].

The timed window is extraction-only (read parquet -> fused extract+score
UDF -> parquet write): the north rule reads a pre-existing Iceberg table,
so corpus generation is prepared untimed (r1 generated it inside the timed
window through a second Python stage, doubling workers per task).

Each level is best-of-N (default 3): the host is a shared-hypervisor VM
with bursty steal; tools/kernel_mp_control.py is the Spark-free control
that bounds what the hardware itself allows at each width.

Usage: python tools/bench_scaling.py [n_docs] [reps]
Writes BENCH/scaling.json.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from bench_onelevel import run_level  # noqa: E402

CORPUS = "/tmp/bench_corpus_scaling"
CORPUS_SLICED = "/tmp/bench_corpus_scaling_sliced"


def prepare_corpus(n_docs: int, slices: int = 4) -> None:
    """Generate the deterministic corpus parquet once (untimed), plain and
    slice-partitioned (disjoint doc-index ranges for the multi-JVM levels)."""
    code = f"""
import sys; sys.path.insert(0, {REPO!r})
from ai_textbook_processor_spark.session import get_spark
from ai_textbook_processor_spark.corpus import corpus_df
from pyspark.sql import functions as F
spark = get_spark(app_name="gen_scaling_corpus", master="local[{os.cpu_count() or 32}]")
df = corpus_df(spark, {n_docs}, seed=42, mega_every=4000, num_partitions=64)
df.write.mode("overwrite").parquet({CORPUS!r})
idx = F.substring("doc_id", 5, 10).cast("long")
per = {n_docs} // {slices}
df.withColumn("slice", F.least((idx / per).cast("int"), F.lit({slices} - 1))) \\
  .repartition(64, "doc_id").write.mode("overwrite") \\
  .partitionBy("slice").parquet({CORPUS_SLICED!r})
spark.stop()
"""
    subprocess.run([sys.executable, "-c", code], check=True, cwd=REPO,
                   stdout=subprocess.DEVNULL, stderr=subprocess.DEVNULL)


def best_of(reps: int, **kw) -> dict:
    runs = [run_level(**kw) for _ in range(reps)]
    best = max(runs, key=lambda r: r["docs_per_sec"])
    best["all_docs_per_sec"] = [r["docs_per_sec"] for r in runs]
    best.pop("per_jvm", None)
    return best


def main() -> int:
    n_docs = int(sys.argv[1]) if len(sys.argv) > 1 else 96_000
    reps = int(sys.argv[2]) if len(sys.argv) > 2 else 3
    prepare_corpus(n_docs)

    # cluster-faithful executor emulation: 1 / 2 / 4 separate 8-core JVMs.
    # J>1 reads disjoint slices (n_docs/4 each x J); J=1 reads slice 0 so
    # every level's per-JVM work is identical.
    exec_levels = {}
    for j in (1, 2, 4):
        exec_levels[j] = best_of(
            reps, cores=8 * j, jvms=j,
            input_path=(CORPUS_SLICED + "/slice=0") if j == 1 else CORPUS_SLICED,
        )
        print(f"executors[{j}x local[8]]:", json.dumps(exec_levels[j]), flush=True)

    # driver's literal proxy: one JVM, thread counts 2 / 8 / 32
    thread_levels = {}
    for c in (2, 8, 32):
        thread_levels[c] = best_of(reps, cores=c, jvms=1, input_path=CORPUS)
        print(f"threads[local[{c}]]:", json.dumps(thread_levels[c]), flush=True)

    # same series under UNIFORM task sizing (task.cpus=2 at every width —
    # the standard sizing for Python-heavy stages; the default policy only
    # applies it above 16 lanes, which makes the levels heterogeneous:
    # local[8] runs 8 workers per 8 CPUs, local[32] runs 16 per 32)
    uniform_levels = {}
    for c in (2, 8, 32):
        uniform_levels[c] = best_of(
            reps, cores=c, jvms=1, input_path=CORPUS,
            env_overrides={"SPARK_GRAFT_EXTRA": "spark.task.cpus=2"},
        )
        print(f"uniform_tc2[local[{c}]]:", json.dumps(uniform_levels[c]), flush=True)

    # Spark-free control: the REAL kernel under plain multiprocessing at
    # 8 vs 32 procs — bounds what the host itself allows at each width
    ctl = subprocess.run(
        [sys.executable, os.path.join(REPO, "tools", "kernel_mp_control.py"), "2500"],
        capture_output=True, text=True, cwd=REPO,
    )
    ctl_lines = [json.loads(ln) for ln in ctl.stdout.splitlines() if ln.startswith("{")]
    control = ctl_lines[-1] if ctl_lines else {}
    print("control:", json.dumps(ctl_lines), flush=True)

    def eff(hi, lo, factor):
        return round((hi["docs_per_sec"] / lo["docs_per_sec"]) / factor, 3)

    result = {
        "n_docs": n_docs,
        "reps": reps,
        "protocol": "extraction-only (read parquet -> extract -> write), "
                    "taskset-pinned, spinner clock control, best-of-reps",
        "executor_emulation": {
            "docs_per_sec": {f"{j}x_local8": exec_levels[j]["docs_per_sec"] for j in exec_levels},
            "all_runs": {f"{j}x_local8": exec_levels[j]["all_docs_per_sec"] for j in exec_levels},
            "scaling_efficiency_1_to_2": eff(exec_levels[2], exec_levels[1], 2),
            "scaling_efficiency_1_to_4": eff(exec_levels[4], exec_levels[1], 4),
            "scaling_efficiency_2_to_4": eff(exec_levels[4], exec_levels[2], 2),
        },
        "single_jvm_threads": {
            "docs_per_sec": {f"local[{c}]": thread_levels[c]["docs_per_sec"] for c in thread_levels},
            "all_runs": {f"local[{c}]": thread_levels[c]["all_docs_per_sec"] for c in thread_levels},
            "scaling_efficiency_2_to_8": eff(thread_levels[8], thread_levels[2], 4),
            "scaling_efficiency_8_to_32": eff(thread_levels[32], thread_levels[8], 4),
        },
        "single_jvm_uniform_task_cpus_2": {
            "docs_per_sec": {f"local[{c}]": uniform_levels[c]["docs_per_sec"] for c in uniform_levels},
            "all_runs": {f"local[{c}]": uniform_levels[c]["all_docs_per_sec"] for c in uniform_levels},
            "scaling_efficiency_2_to_8": eff(uniform_levels[8], uniform_levels[2], 4),
            "scaling_efficiency_8_to_32": eff(uniform_levels[32], uniform_levels[8], 4),
        },
        "kernel_mp_control": control,
        "target": 0.8,
    }
    os.makedirs(os.path.join(REPO, "BENCH"), exist_ok=True)
    with open(os.path.join(REPO, "BENCH", "scaling.json"), "w") as f:
        json.dump(result, f, indent=2)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
