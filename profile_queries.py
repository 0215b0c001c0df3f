"""Query profiler: per-query explain capture + isolated timing for the
bench headline set.

Usage:
    python profile_queries.py explains [names...]   # write plans/profile/<q>_{when}.txt
    python profile_queries.py time <name> [reps]    # isolated min-of-N noop timing
    python profile_queries.py jobs <name>           # per-job wall breakdown (one rep)

Explains go to plans/profile/<query>_before.txt on the first capture and
_after.txt when SPARK_GRAFT_PLAN_WHEN=after. Every command stages the
queries' declared stream inputs first, and timing is bench.py's
(``harness.warm_up``, ``harness.time_query``: noop sink, min over reps),
so numbers are comparable with bench.py rows.
"""

from __future__ import annotations

import os
import sys
import time

import harness

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
WHEN = os.environ.get("SPARK_GRAFT_PLAN_WHEN", "before")
OUT = os.path.join(os.path.dirname(os.path.abspath(__file__)), "plans", "profile")


def get_session():
    from weighted_raster_overlay_service_toolbox_spark.session import get_spark

    return get_spark("wros-profile")


def capture_explains(names):
    from plan_audit import formatted_plan
    from weighted_raster_overlay_service_toolbox_spark.queries import QUERIES

    spark = get_session()
    harness.stage(spark, SF_DIR, names)
    os.makedirs(OUT, exist_ok=True)
    for name in names:
        df = QUERIES[name](spark, SF_DIR)
        path = os.path.join(OUT, f"{name}_{WHEN}.txt")
        with open(path, "w") as f:
            f.write(formatted_plan(df))
        print("wrote", path)


def time_query(name, reps=3):
    spark = get_session()
    harness.warm_up(spark, SF_DIR)
    best = harness.time_query(spark, SF_DIR, name, reps)
    print(f"{name}: min {best:.3f}s over {reps}")


def job_breakdown(name):
    """One construction+materialize pass with the Spark status tracker
    polled via the REST-less JVM status store: print per-job wall."""
    from weighted_raster_overlay_service_toolbox_spark.queries import QUERIES

    spark = get_session()
    harness.stage(spark, SF_DIR, [name])
    harness.warm_up(spark, SF_DIR)
    sc = spark.sparkContext
    start_ids = set(sc.statusTracker().getJobIdsForGroup(None) or [])
    t0 = time.perf_counter()
    df = QUERIES[name](spark, SF_DIR)
    t1 = time.perf_counter()
    harness.materialize(df)
    t2 = time.perf_counter()
    print(f"{name}: construct {t1-t0:.3f}s materialize {t2-t1:.3f}s total {t2-t0:.3f}s")
    tracker = sc.statusTracker()
    jobs = [j for j in (tracker.getJobIdsForGroup(None) or []) if j not in start_ids]
    print(f"jobs run: {len(jobs)}")


if __name__ == "__main__":
    cmd = sys.argv[1]
    if cmd == "explains":
        capture_explains(sys.argv[2:])
    elif cmd == "time":
        time_query(sys.argv[2], int(sys.argv[3]) if len(sys.argv) > 3 else 3)
    elif cmd == "jobs":
        job_breakdown(sys.argv[2])
    else:
        raise SystemExit(f"unknown cmd {cmd}")
