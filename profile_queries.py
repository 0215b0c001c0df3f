"""Query profiler: per-query explain capture + isolated timing for the
bench headline set.

Usage:
    python profile_queries.py explains [names...]   # write plans/profile/<q>_{when}.txt
    python profile_queries.py time <name> [reps]    # isolated min-of-N noop timing
    python profile_queries.py jobs <name>           # per-job wall breakdown (one rep)

Explains go to plans/profile/<query>_before.txt on the first capture and
_after.txt when SPARK_GRAFT_PLAN_WHEN=after. Timing uses the bench's
methodology (noop sink, warm session, min over reps) so numbers are
comparable with bench.py rows.
"""

from __future__ import annotations

import os
import sys
import time

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
WHEN = os.environ.get("SPARK_GRAFT_PLAN_WHEN", "before")
OUT = os.path.join(os.path.dirname(os.path.abspath(__file__)), "plans", "profile")


def get_session():
    from weighted_raster_overlay_service_toolbox_spark.session import get_spark

    return get_spark("wros-profile")


def stage_streams(spark, names):
    from weighted_raster_overlay_service_toolbox_spark.streaming import engine

    staging_of = {
        "q_stream_tumbling": [(engine.stage_event_files, "tumbling", {})],
        "q_stream_stream_join": [
            (engine.stage_event_files, "ss_join", {}),
            (engine.stage_event_files, "ss_join_b", {}),
        ],
        "q_stream_near_dup": [(engine.stage_document_files, "near_dup", {})],
        "q_stream_phash_dedup": [(engine.stage_document_files, "phash_dedup", {})],
        "q_stream_semantic_decontaminate": [
            (engine.stage_embedding_files, "sem_decon", {})
        ],
        "q_stream_bpe_apply": [(engine.stage_document_files, "bpe_apply", {})],
    }
    for name in names:
        for fn, variant, kw in staging_of.get(name, []):
            fn(spark, SF_DIR, variant, **kw)


def materialize(df):
    df.write.format("noop").mode("overwrite").save()


def capture_explains(names):
    from plan_audit import formatted_plan
    from weighted_raster_overlay_service_toolbox_spark.queries import QUERIES

    spark = get_session()
    stage_streams(spark, names)
    os.makedirs(OUT, exist_ok=True)
    for name in names:
        df = QUERIES[name](spark, SF_DIR)
        path = os.path.join(OUT, f"{name}_{WHEN}.txt")
        with open(path, "w") as f:
            f.write(formatted_plan(df))
        print("wrote", path)


def time_query(name, reps=3):
    from weighted_raster_overlay_service_toolbox_spark.queries import QUERIES

    spark = get_session()
    stage_streams(spark, [name])
    spark.sparkContext.setJobDescription(f"warmup")
    materialize(QUERIES["q_agg_group"](spark, SF_DIR))
    materialize(QUERIES["q_cosine_topk"](spark, SF_DIR))
    best = float("inf")
    for i in range(reps):
        spark.sparkContext.setJobDescription(f"{name} rep{i}")
        t0 = time.perf_counter()
        materialize(QUERIES[name](spark, SF_DIR))
        dt = time.perf_counter() - t0
        print(f"  rep{i}: {dt:.3f}s")
        best = min(best, dt)
    print(f"{name}: min {best:.3f}s over {reps}")


def job_breakdown(name):
    """One construction+materialize pass with the Spark status tracker
    polled via the REST-less JVM status store: print per-job wall."""
    from weighted_raster_overlay_service_toolbox_spark.queries import QUERIES

    spark = get_session()
    stage_streams(spark, [name])
    materialize(QUERIES["q_agg_group"](spark, SF_DIR))  # warm
    sc = spark.sparkContext
    start_ids = set(sc.statusTracker().getJobIdsForGroup(None) or [])
    t0 = time.perf_counter()
    df = QUERIES[name](spark, SF_DIR)
    t1 = time.perf_counter()
    materialize(df)
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
