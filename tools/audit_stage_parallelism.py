"""Per-stage task-parallelism audit (r6 third pass).

Runs every registry query twice (cold warm-up, then a measured warm run)
and flags warm stages whose executorRunTime is large but which ran with
<=2 tasks — serialized per-row work behind an AQE-coalesced exchange or a
single-row-group scan (the txt_quality / qc / semdedup class of problem,
guide §2: parallelism that silently collapses to one task).

Each run is submitted under its own Spark job group, and a run's stages
are those of the jobs in its group (read from the driver's status store
once the listener bus has drained), so Spark work outside the run cannot
be attributed to it.

Usage: python tools/audit_stage_parallelism.py [SF_DIR] [MIN_MS] [ONLY,..]
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from ai_textbook_processor_spark import harness  # noqa: E402
from ai_textbook_processor_spark.session import get_spark  # noqa: E402


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    min_ms = int(sys.argv[2]) if len(sys.argv) > 2 else 400
    names = (
        sys.argv[3].split(",") if len(sys.argv) > 3 else list(harness.QUERIES)
    )
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    spark = get_spark(app_name="audit_stage_parallelism",
                      master=f"local[{cpus}]", shuffle_partitions=cpus)
    sc = spark.sparkContext
    jsc = sc._jsc.sc()
    no_quantiles = sc._gateway.new_array(sc._jvm.double, 0)

    def seq(s):
        return [s.apply(i) for i in range(s.size())]

    def group_stages(group):
        """(stage id, attempt) -> (completed tasks, executorRunTime ms) of
        every stage that ran for a job in ``group``."""
        jsc.listenerBus().waitUntilEmpty()
        store = jsc.statusStore()
        out = {}
        for job in seq(store.jobsList(None)):
            g = job.jobGroup()
            if not (g.isDefined() and g.get() == group):
                continue
            for sid in seq(job.stageIds()):
                for st in seq(store.stageData(sid, False, None, False, no_quantiles)):
                    if st.status().toString() != "SKIPPED":
                        out[(sid, st.attemptId())] = (
                            int(st.numCompleteTasks()), int(st.executorRunTime()),
                        )
        return out

    def noop(df):
        df.write.format("noop").mode("overwrite").save()

    flagged_total = 0
    for name in names:
        try:
            sc.setJobGroup(f"audit-{name}-cold", name)
            noop(harness.QUERIES[name](spark, sf_dir))  # cold warm-up
        except Exception as e:
            print(f"{name:28s} ERR {repr(e)[:70]}")
            continue
        group = f"audit-{name}-warm"
        sc.setJobGroup(group, name)
        t0 = time.monotonic()
        noop(harness.QUERIES[name](spark, sf_dir))
        dt = time.monotonic() - t0
        new = group_stages(group)
        flags = [
            (k[0], v) for k, v in new.items()
            if v[1] >= min_ms and v[0] <= 2
        ]
        line = f"{name:28s} {dt:6.2f}s warm, {len(new):3d} stages"
        if flags:
            flagged_total += len(flags)
            detail = "; ".join(
                f"stage {sid}: {nt} task(s) {rt/1000:.2f}s"
                for sid, (nt, rt) in sorted(flags, key=lambda x: -x[1][1])
            )
            line += f"  FLAG [{detail}]"
        print(line)
    print(f"flagged stages >= {min_ms} ms with <=2 tasks: {flagged_total}")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
