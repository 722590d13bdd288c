"""Profile the sf1 perf-workstream queries: task counts, stage timings.

Usage: python tools/profile_sf1.py [query ...]
"""
from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bench import ensure_sf1, spark_noop, time_pair  # noqa: E402
from etl_verkada_spark.registry import build_registry  # noqa: E402
from etl_verkada_spark.session import get_spark  # noqa: E402

QUERIES = sys.argv[1:] or ["agg_groupby", "pivot", "llm_text_stats", "llm_bm25"]


def main() -> None:
    spark = get_spark("profile-sf1")
    sc = spark.sparkContext
    registry = build_registry()
    src = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf1 = ensure_sf1(spark, src)
    print("sf1 dir:", sf1)
    # warmup JIT
    registry["agg_count"].fn(spark, sf1).write.mode("overwrite").format("noop").save()
    for _ in range(4):
        spark.range(1).write.mode("overwrite").format("noop").save()

    tracker = sc.statusTracker()
    for name in QUERIES:
        fn = registry[name].fn
        t = time_pair(spark_noop(fn, spark, sf1), n_runs=5)["spark"]["min"]
        # one more run with job tracking
        before = set(tracker.getJobIdsForGroup(None) or [])
        sc.setJobGroup(name, name)
        t0 = time.perf_counter()
        fn(spark, sf1).write.mode("overwrite").format("noop").save()
        wall = time.perf_counter() - t0
        jobs = [j for j in (tracker.getJobIdsForGroup(name) or [])]
        n_stages = 0
        n_tasks = 0
        for j in jobs:
            ji = tracker.getJobInfo(j)
            if not ji:
                continue
            for sid in ji.stageIds:
                si = tracker.getStageInfo(sid)
                if si:
                    n_stages += 1
                    n_tasks += si.numTasks
        print(
            f"{name:20s} min5={t:7.3f}s last={wall:7.3f}s "
            f"jobs={len(jobs)} stages={n_stages} tasks={n_tasks}"
        )
        sc.setJobGroup("", "")


if __name__ == "__main__":
    main()
