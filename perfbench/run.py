"""Run one benchmark workload and print its metrics as one JSON line.

    python3 perfbench/run.py --workload catalog_service --seed 1 --seconds 14 --trace 0

Run from the root of a checkout of the repository. One process, one client,
closed loop: each op starts when the previous one has returned. Spark runs
``local[N]`` through the package's ``get_spark`` with ``SPARK_GRAFT_CPUS``
set to the number of usable CPUs.

Phases:

1. set-up (``setup_s``): session start, input generation, the
   store/catalog build, then the workload's ``warmup_ops`` untimed ops,
   sized to outlast the JIT transient of a fresh JVM (see README.md);
2. the timed window: ops until ``--seconds`` of wall time have passed.
   Each op is checked against an independent model after its timer stops;
   an op that raises or fails its check counts in ``failed``. Before each
   op's timer starts, the Spark listener bus is drained, so the status
   store's bookkeeping for earlier jobs (the checks' jobs included) does
   not run inside the op.

``--trace 0`` prints the end-to-end metrics. ``--trace 1`` traces every op
in the window, prints the per-layer metrics and writes every span to
``perfbench/out/<workload>-seed<seed>.trace.json``.

A workload deals its ops from a fixed list of kinds (``wl.kinds``). No
traffic study gives the ratio between kinds, so the end-to-end figures
weigh every kind the same: ``op_p50_s`` is the mean of the per-kind median
latencies, and ``items_per_s`` is the rate at one op of each kind (items
per op times kinds, over the sum of the per-kind mean latencies). Neither
moves with how many ops of each kind the window happened to hold.

All files go under a per-run directory in ``perfbench/.tmp/``, which is
removed at exit; the Spark JVM is stopped and waited for.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time
import traceback
from dataclasses import dataclass

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = {
    "catalog_service": ("catalog_service", "CatalogService"),
    "corpus_curate": ("corpus_curate", "CorpusCurate"),
}
SPAN_NAMES = (
    "sources.catalog_store.load_catalog",
    "plans.overlay.run_overlay",
    "plans.overlay.execute",
    "toolbox.update_classification",
    "toolbox.update_layer_info",
    "sources.catalog_store.replace_catalog",
    "sources.catalog_store.merge_rows",
    "bench.lookup",
    "pipeline.curate_corpus",
    "pipeline.materialize",
)
SETUP_SPANS = (
    "session.get_spark",
    "bench.generate_inputs",
    "toolbox.filter_layers",
    "toolbox.create_wro_catalog",
    "sources.catalog_store.create_catalog",
    "sources.catalog_store.append_rows",
    "bench.warmup",
)
OP_KINDS = (
    "overlay_request",
    "classify_edit",
    "keyed_read",
    "layer_info_edit",
    "rejected_edit",
    "merge_edit",
    "curate_pass",
)
#: per-layer figures a workload reports from its own measurements
#: (``finish()["metrics"]``); 0 where the workload has no such layer
LAYER_EXTRAS = {
    "catalog_store.files_written": "count",
    "catalog_store.bytes_written": "bytes",
    "catalog_store.write_amplification": "ratio",
    "catalog_store.stored_bytes_per_live_byte": "ratio",
    **{
        f"pipeline.funnel.{r}": "count"
        for r in ("kept", "too_short", "repetitive", "duplicate", "near_duplicate",
                  "domain_capped")
    },
}


def isolate(run_dir: str) -> None:
    """Point every scratch location of Spark, the JVM and Python at the
    run directory, and size Spark to this host."""
    for sub in ("spark-local", "tmp"):
        os.makedirs(os.path.join(run_dir, sub), exist_ok=True)
    tmp = os.path.join(run_dir, "tmp")
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "2g")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "spark-local")
    os.environ["TMPDIR"] = tmp
    # the launcher JVM (SPARK_LAUNCHER_OPTS) and the driver JVM
    # (SPARK_SUBMIT_OPTS): temp files into the run directory, no
    # hsperfdata files under the system temp directory
    jvm_opts = f" -Djava.io.tmpdir={tmp} -XX:-UsePerfData -Dderby.system.home={tmp}"
    for var in ("SPARK_LAUNCHER_OPTS", "SPARK_SUBMIT_OPTS"):
        os.environ[var] = (os.environ.get(var, "") + jvm_opts).strip()
    import tempfile

    tempfile.tempdir = tmp


@dataclass
class Op:
    kind: str
    wall: float
    ok: bool
    tid: int | None = None  # the tracer's op id, for a traced op
    trace_cost: float = 0.0  # time spent in tracer code inside the timer


def run_op(wl, tracer, i: int, traced: bool = False) -> Op:
    """Plan, time, check and, if ``traced``, trace op ``i``."""
    op = wl.plan(i)
    wl.before(op)
    tracer.drain()  # traced or not, no earlier job's events are pending
    tracer.enabled = traced
    cost0 = tracer.cost
    try:
        t0 = time.perf_counter()
        with tracer.op(op["kind"]) as root:
            result = wl.run(op)
        wall = time.perf_counter() - t0
    except Exception:
        traceback.print_exc(file=sys.stderr)
        return Op(op["kind"], float("nan"), False)
    finally:
        tracer.enabled = False
    tracer.read_counters()
    try:
        ok = bool(wl.check(op, result))
    except Exception:
        traceback.print_exc(file=sys.stderr)
        ok = False
    if not ok:
        print(f"check failed: op {i} ({op['kind']})", file=sys.stderr)
    return Op(op["kind"], wall, ok, root.op if root else None, tracer.cost - cost0)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    # a terminated run still stops Spark and removes its directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(128 + signal.SIGTERM))

    run_dir = os.path.join(HERE, ".tmp", f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(run_dir)
    spark = wl = None
    try:
        isolate(run_dir)
        sys.path.insert(0, ROOT)
        import importlib

        from spans import Tracer

        mod_name, cls_name = WORKLOADS[args.workload]
        wl_cls = getattr(importlib.import_module(mod_name), cls_name)
        from weighted_raster_overlay_service_toolbox_spark.session import get_spark

        # -- set-up ------------------------------------------------------
        t0 = time.perf_counter()
        spark = get_spark(f"perfbench-{args.workload}")
        spark.range(1).collect()  # the session's first job starts the executors
        t_session = time.perf_counter() - t0
        tracer = Tracer(spark, enabled=bool(args.trace))

        wl = wl_cls(spark, tracer, args.seed)
        d = os.path.join(run_dir, "inputs")
        os.makedirs(d)
        t_build = time.perf_counter()
        with tracer.op("setup"):
            with tracer.span("bench.generate_inputs"):
                wl.generate(d)
            wl.build(d)
        t_build = time.perf_counter() - t_build
        tracer.read_counters()
        t_warm = time.perf_counter()
        warm = [run_op(wl, tracer, i) for i in range(wl.warmup_ops)]
        i = len(warm)
        t_warm = time.perf_counter() - t_warm
        setup_s = t_session + t_build + t_warm

        # -- the timed window --------------------------------------------
        ops: list[Op] = []
        wl.begin_window()
        t_end = time.perf_counter() + args.seconds
        while time.perf_counter() < t_end:
            ops.append(run_op(wl, tracer, i, bool(args.trace)))
            i += 1
        fin = wl.finish()

        failed = sum(not o.ok for o in warm + ops) + (0 if fin["ok"] else 1)
        attempted = len(warm) + len(ops) + (0 if fin["ok"] else 1)
        good = [o for o in ops if o.ok]
        print(
            f"{args.workload} seed={args.seed}: {len(ops)} ops timed after "
            f"{len(warm)} warm-up ops; failed {failed}/{attempted} "
            f"(failed_ratio {failed / attempted:.4f})"
        )
        if args.trace:
            metrics = per_layer(
                args, wl, tracer, ops, t_session, t_build, t_warm, [o.wall for o in warm], fin
            )
        else:
            metrics = end_to_end(wl, good, setup_s)
        print(
            json.dumps(
                {
                    "correct": failed == 0,
                    "attempted": attempted,
                    "failed": failed,
                    "metrics": metrics,
                }
            ),
            flush=True,
        )
        return 0
    finally:
        try:
            if wl is not None:
                wl.close()
            if spark is not None:
                stop_spark(spark)
        finally:
            shutil.rmtree(run_dir, ignore_errors=True)
            try:
                os.rmdir(os.path.join(HERE, ".tmp"))
            except OSError:
                pass


def kind_weighted(wl, good: list[Op]) -> tuple[float, float]:
    """``op_p50_s`` and ``items_per_s`` with every op kind weighing the
    same (see the module docstring). A kind with no good op in the window
    is left out; its ops count in ``failed``."""
    walls = {k: [o.wall for o in good if o.kind == k] for k in wl.kinds}
    walls = {k: v for k, v in walls.items() if v}
    p50 = statistics.fmean(statistics.median(v) for v in walls.values())
    rate = wl.items_per_op * len(walls) / sum(statistics.fmean(v) for v in walls.values())
    return p50, rate


def end_to_end(wl, good: list[Op], setup_s: float) -> dict:
    p50, rate = kind_weighted(wl, good)
    out = {
        "setup_s": (setup_s, "s"),
        "op_p50_s": (p50, "s"),
        "items_per_s": (rate, "1/s"),
    }
    return {k: {"value": v, "unit": u} for k, (v, u) in out.items()}


def per_layer(args, wl, tracer, ops, t_session, t_build, t_warm, warm_walls, fin) -> dict:
    from spans import COUNTERS

    def med(xs):
        return statistics.median(xs) if xs else 0.0

    out: dict[str, tuple[float, str]] = {}
    setup = {"session.get_spark": [t_session], "bench.warmup": [t_warm]}
    kinds: dict[str, list] = {k: [] for k in OP_KINDS}
    self_by_name: dict[str, list[float]] = {}
    wall_of = {o.tid: o.wall for o in ops if o.ok and o.tid is not None}
    for tid, spans in tracer.ops().items():
        root = spans[0]
        if root.name == "setup":
            for sp in spans[1:]:
                setup.setdefault(sp.name, []).append(sp.end - sp.start)
            continue
        if tid not in wall_of:
            continue
        selfs = tracer.self_times(spans)
        kinds[root.name].append((spans, selfs, wall_of[tid]))
        for sp in spans[1:]:
            self_by_name.setdefault(sp.name, []).append(selfs[sp.sid])
    for name in SETUP_SPANS:
        out[f"{name}.self_s"] = (med(setup.get(name)), "s")
    out["bench.warmup.ops"] = (len(warm_walls), "count")

    n_ops = max(1, sum(len(v) for v in kinds.values()))
    for name in SPAN_NAMES:
        v = self_by_name.get(name, [])
        out[f"{name}.self_s"] = (med(v), "s")
        out[f"{name}.calls"] = (len(v) / n_ops, "count")
    breakdown = {}
    for kind, recs in kinds.items():
        # wall_s is the op's own timer; unattributed_s is the part of it
        # that no module span covers: benchmark glue and tracer bookkeeping
        walls = [wall for _, _, wall in recs]
        unattributed = [
            wall - sum(selfs[sp.sid] for sp in spans[1:]) for spans, selfs, wall in recs
        ]
        counters = [tracer.subtree_counters(spans, spans[0]) for spans, _, _ in recs]
        out[f"op.{kind}.wall_s"] = (med(walls), "s")
        out[f"op.{kind}.unattributed_s"] = (med(unattributed), "s")
        for c in COUNTERS:
            unit = "s" if c.endswith("_s") else ("bytes" if c.endswith("bytes") else "count")
            out[f"op.{kind}.spark.{c}"] = (med([x[c] for x in counters]), unit)
        if recs:
            # means, so the span self times plus unattributed_s sum to
            # wall_s exactly
            mean_self: dict[str, float] = {}
            for spans, selfs, _ in recs:
                for sp in spans[1:]:
                    mean_self[sp.name] = mean_self.get(sp.name, 0.0) + selfs[sp.sid] / len(recs)
            breakdown[kind] = {
                "ops": len(recs),
                "wall_s": sum(walls) / len(recs),
                "self_s": mean_self,
                "unattributed_s": sum(unattributed) / len(recs),
                "unattributed_share": sum(unattributed) / sum(walls),
            }

    cells = getattr(wl, "cells_per_request", 0)
    sw = out["op.overlay_request.spark.shuffle_write_bytes"][0]
    out["plans.overlay.shuffle_write_bytes_per_cell"] = (sw / cells if cells else 0.0, "bytes")
    for name, unit in LAYER_EXTRAS.items():
        out[name] = (fin.get("metrics", {}).get(name, 0), unit)
    good = [o for o in ops if o.ok]
    # the traced run's op_p50_s, to set against an untraced run's
    out["trace.op_p50_s"] = (kind_weighted(wl, good)[0] if good else 0.0, "s")
    out["trace.bookkeeping_s"] = (med([o.trace_cost for o in good]), "s")

    os.makedirs(os.path.join(HERE, "out"), exist_ok=True)
    tracer.write(
        os.path.join(HERE, "out", f"{args.workload}-seed{args.seed}.trace.json"),
        {
            "workload": args.workload,
            "seed": args.seed,
            "seconds": args.seconds,
            "setup_build_s": t_build,
            "warmup_op_walls": warm_walls,
            "window_ops": [
                {"kind": o.kind, "wall_s": o.wall, "ok": o.ok, "trace_cost_s": o.trace_cost}
                for o in ops
            ],
            "breakdown": breakdown,
            "metrics": {k: v for k, (v, _) in out.items()},
        },
    )
    return {k: {"value": v, "unit": u} for k, (v, u) in out.items()}


def stop_spark(spark) -> None:
    """Stop the session, then the py4j gateway and its JVM, and wait for it."""
    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)  # the JVM pyspark launched
    try:
        spark.stop()
        gateway.shutdown()
    finally:
        if proc is not None:
            proc.stdin.close()  # the gateway JVM exits when its stdin closes
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()


if __name__ == "__main__":
    sys.exit(main())
