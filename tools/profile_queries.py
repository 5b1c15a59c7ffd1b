"""Per-query profiling harness (bench.py stays frozen; guide §1).

For each named query: one warm run, then a timed noop-sink run whose Spark
jobs are every job id above the last one seen before it (ids rise
monotonically per SparkContext, so this also catches a streaming query's
micro-batches, which run on the stream's thread under its own job group),
plus the `.explain("formatted")` dump. The stages come from Spark's status
store (live with the UI off); the slowest one and its task count find
stages AQE has coalesced into too few tasks for their compute. Prints
one JSON line per query:

  {"query": name, "sec": t, "n_jobs": j, "warm_sec": t0,
   "n_stages": s, "slowest_stage_s": d, "slowest_stage_tasks": n}

Usage:
  python tools/profile_queries.py [query ...]        # default: bench list
  CLD2S_PROFILE_PLANS=plans/r07 python tools/profile_queries.py semdedup
"""

from __future__ import annotations

import json
import os
import sys
import time
from pathlib import Path

REPO = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(REPO))

from bench import BENCH_QUERIES, CPUS, SF_DIR  # noqa: E402

PLAN_DIR = os.environ.get("CLD2S_PROFILE_PLANS", "")
SUFFIX = os.environ.get("CLD2S_PROFILE_SUFFIX", "before")


def job_ids(sc) -> list[int]:
    """The id of every job in Spark's status store."""
    jobs = sc._jsc.sc().statusStore().jobsList(None)   # a Scala Seq
    return [jobs.apply(i).jobId() for i in range(jobs.length())]


def stage_record(sc, jobs: list[int]) -> dict:
    """Stage count of `jobs` and their slowest stage (seconds, tasks),
    over the last attempt of every stage that ran (skipped stages have
    no submission time)."""
    store = sc._jsc.sc().statusStore()
    stages = {}
    for j in jobs:
        info = sc.statusTracker().getJobInfo(j)
        for sid in (info.stageIds if info else ()):
            st = store.lastStageAttempt(sid)
            start, end = st.submissionTime(), st.completionTime()
            if start.isDefined() and end.isDefined():
                stages[sid] = ((end.get().getTime()
                                - start.get().getTime()) / 1000.0,
                               st.numTasks())
    sec, tasks = max(stages.values(), default=(0.0, 0))
    return {"n_stages": len(stages), "slowest_stage_s": round(sec, 3),
            "slowest_stage_tasks": tasks}


def main() -> None:
    import __spark_entry__ as E
    from cld2_spark.operators.dedup import release_dedup_caches
    from cld2_spark.session import get_spark

    names = sys.argv[1:] or BENCH_QUERIES
    qs = E.queries()
    spark = get_spark("profile", cores=CPUS, shuffle_partitions=CPUS)
    sc = spark.sparkContext
    try:
        for name in names:
            fn = qs[name]
            sc.setJobDescription(f"warm:{name}")
            t0 = time.monotonic()
            fn(spark, SF_DIR).write.format("noop").mode("overwrite").save()
            warm = time.monotonic() - t0
            release_dedup_caches(session=spark)
            if PLAN_DIR:
                out = Path(REPO / PLAN_DIR)
                out.mkdir(parents=True, exist_ok=True)
                plan = fn(spark, SF_DIR)._jdf.queryExecution() \
                    .explainString(
                        spark._jvm.org.apache.spark.sql.execution
                        .ExplainMode.fromString("formatted"))
                (out / f"{name}_{SUFFIX}.txt").write_text(plan)
            sc.setJobDescription(f"q:{name}")
            last = max(job_ids(sc), default=-1)
            t0 = time.monotonic()
            fn(spark, SF_DIR).write.format("noop").mode("overwrite").save()
            sec = time.monotonic() - t0
            jobs = [j for j in job_ids(sc) if j > last]
            release_dedup_caches(session=spark)
            print(json.dumps({"query": name, "sec": round(sec, 3),
                              "n_jobs": len(jobs),
                              "warm_sec": round(warm, 3),
                              **stage_record(sc, jobs)}), flush=True)
    finally:
        spark.stop()


if __name__ == "__main__":
    main()
