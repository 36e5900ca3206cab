#!/usr/bin/env python3
"""fourmc-spark benchmark: one workload per run, closed loop, one client.

    python3 perfbench/run.py --workload lookup --seed 1 --seconds 6 --trace 0

Run from the repository root. The run builds its inputs from the seed,
starts a ``local[nproc]`` session, sets the workload up, then repeats the
workload's unit operation for ``--seconds`` seconds, checking every
result. The last stdout line is one JSON object: ``correct``,
``attempted``, ``failed`` and ``metrics``. With ``--trace 0`` the
metrics are the end-to-end ones; with ``--trace 1`` the run also times
a traced pass and the per-layer probes and reports the per-layer
metrics. Spans and run metadata are written to ``.perfbench_out/``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import harness  # noqa: E402

WORKLOADS = ("scan", "lookup", "ingest", "curate")


class Ctx:
    """What a workload needs from the run: paths, seed, session, tracer."""

    def __init__(self, root: str, workload: str, seed: int, seconds: float, nproc: int,
                 trace: bool) -> None:
        self.root = root
        self.seed = seed
        self.seconds = seconds
        self.nproc = nproc
        self.work = os.path.join(root, ".perfbench_work", f"{workload}-{os.getpid()}")
        self.out = os.path.join(root, ".perfbench_out")
        self.tracer = harness.Tracer(trace)
        self.spark = None
        self.counters: harness.SparkCounters | None = None

    def path(self, *parts: str) -> str:
        return os.path.join(self.work, *parts)


def _load_workload(name: str, ctx: Ctx):
    mod = __import__(f"wl_{name}")
    return mod.Workload(ctx)


def _op_loop(wl, ctx: Ctx, seconds: float, first: int, counted: bool) -> dict:
    """Closed loop, one client: the next op starts when the last ends.
    The window closes on a whole round of the workload's op mix."""
    lat: list[float] = []
    units = 0.0
    failed = 0
    per_op: list[dict] = []
    i = first
    deadline = time.perf_counter() + seconds
    while time.perf_counter() < deadline or (i - first) % wl.round_ops:
        ctx.tracer.op_id = i
        if counted:
            # a streaming workload's jobs run in its query's job group
            gid = getattr(wl, "job_group", None) or ctx.counters.group()
            before = ctx.counters.jobs(gid)
        t = time.perf_counter()
        try:
            with ctx.tracer.span("op", workload=wl.name):
                u, ok = wl.op(i)
        except Exception:
            traceback.print_exc(file=sys.stderr)
            u, ok = 0.0, False
        lat.append(time.perf_counter() - t)
        if counted:
            jobs = ctx.counters.jobs(gid) - before
        units += u
        if not ok:
            failed += 1
            print(f"perfbench: op {i} failed its output check", file=sys.stderr)
        if counted:
            per_op.append(ctx.counters.collect(jobs))
        i += 1
    ctx.tracer.op_id = None
    return {"lat": lat, "units": units, "failed": failed, "per_op": per_op}


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "fourmc_spark", "__init__.py")):
        print("perfbench: run from the repository root (no fourmc_spark/ here)",
              file=sys.stderr)
        return 2
    nproc = len(os.sched_getaffinity(0))
    ctx = Ctx(root, args.workload, args.seed, args.seconds, nproc, bool(args.trace))
    os.makedirs(ctx.work)
    os.makedirs(ctx.out, exist_ok=True)
    # the engine's Python workers import fourmc_spark from the checkout
    sys.path.insert(0, root)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [root] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p])
    os.environ["SPARK_LOCAL_DIRS"] = ctx.path("spark-local")
    os.environ.setdefault("FOURMC_DRIVER_MEM", "2g")
    os.environ.setdefault("PYARROW_IGNORE_TIMEZONE", "1")

    # a SIGTERM unwinds through the cleanup below like an exception
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(128 + signal.SIGTERM))
    meta = harness.run_meta(root, args.workload, args.seed, nproc)
    meta["canary_before_s"] = harness.cpu_canary()
    ticks = harness.cpu_ticks()
    try:
        with harness.RssSampler() as rss:
            result = run(ctx, args)
    finally:
        t = time.perf_counter()
        _stop(ctx)
        shutil.rmtree(ctx.work, ignore_errors=True)
        meta["teardown_s"] = time.perf_counter() - t
        try:
            os.rmdir(os.path.dirname(ctx.work))
        except OSError:
            pass
    meta["steal_share"] = harness.steal_share(ticks, harness.cpu_ticks())
    meta["canary_after_s"] = harness.cpu_canary()
    meta["peak_rss_mb"] = rss.peak / 2**20
    if not args.trace:
        result["metrics"]["peak_rss_mb"] = {"value": rss.peak / 2**20, "unit": "MB"}
    meta.update(result.pop("detail"))

    tag = f"{args.workload}-s{args.seed}-t{args.trace}"
    with open(os.path.join(ctx.out, f"run-{tag}.json"), "w") as f:
        json.dump(meta, f, indent=1)
    if args.trace:
        ctx.tracer.dump(os.path.join(ctx.out, f"spans-{tag}.json"))
    print(json.dumps({"meta": meta}, separators=(",", ":")))
    print(json.dumps(result, separators=(",", ":")))
    return 0


def run(ctx: Ctx, args) -> dict:
    tr = ctx.tracer
    wl = _load_workload(args.workload, ctx)

    t0 = time.perf_counter()
    with tr.span("session.get_spark"):
        from fourmc_spark.session import get_spark

        ctx.spark = get_spark(f"perfbench-{args.workload}", master=f"local[{ctx.nproc}]",
                              shuffle_partitions=ctx.nproc)
        ctx.spark.sparkContext.setLogLevel("ERROR")
    session_s = time.perf_counter() - t0

    # the first fourmc action spawns the planner and executor Python
    # workers; a 1-row file keeps it the same cost for every workload
    t0 = time.perf_counter()
    with tr.span("spark.first_action"):
        floor_dir = ctx.path("floor")
        _one_row_file(floor_dir)
        ok = ctx.spark.read.format("fourmc").load(floor_dir).count() == 1
    first_action_s = time.perf_counter() - t0
    attempted, failed = 1, 0 if ok else 1

    builds = []
    for rep in range(wl.setup_reps):
        t0 = time.perf_counter()
        with tr.span("setup.build", rep=rep):
            wl.build(rep)
        builds.append(time.perf_counter() - t0)
    setup_s = session_s + first_action_s + harness.median(builds)

    ctx.counters = harness.SparkCounters(ctx.spark) if args.trace else None
    # let JIT, caches and lazy set-up settle before timing
    for w in range(wl.warmup_ops):
        with tr.span("warmup"):
            _u, ok = wl.op(-1 - w)
        attempted += 1
        failed += 0 if ok else 1

    # a traced run splits the window: untraced half, then the same loop
    # with spans and per-op Spark counters
    window = args.seconds / 2 if args.trace else args.seconds
    tr.enabled = False
    loop = _op_loop(wl, ctx, window, 0, counted=False)
    tr.enabled = bool(args.trace)
    attempted += len(loop["lat"])
    failed += loop["failed"]
    if args.trace:
        tr_loop = _op_loop(wl, ctx, window, 10_000, counted=True)
        attempted += len(tr_loop["lat"])
        failed += tr_loop["failed"]
    fin = wl.finish()
    attempted += fin["attempted"]
    failed += fin["failed"]

    lat = loop["lat"]
    tail, pct, _n = harness.tail(lat)
    detail = {
        "setup": {"session_s": session_s, "first_action_s": first_action_s,
                  "build_s": builds},
        "ops": len(lat), "tail_percentile": pct, "latencies_s": lat,
        "throughput_unit": wl.unit,
        "stored_bytes_per_input_byte": wl.stored_ratio(),
    }
    detail.update(fin.get("detail", {}))
    if not args.trace:
        metrics = {
            "setup_s": {"value": setup_s, "unit": "s"},
            "op_s_p50": {"value": harness.median(lat), "unit": "s"},
            "op_s_tail": {"value": tail, "unit": "s"},
            "throughput": {"value": loop["units"] / sum(lat), "unit": "item/s"},
            "stored_bytes_per_input_byte": {"value": detail["stored_bytes_per_input_byte"],
                                            "unit": "ratio"},
        }
        return {"correct": failed == 0, "attempted": attempted, "failed": failed,
                "metrics": metrics, "detail": detail}

    layer = {
        "session.start_s": session_s,
        "spark.first_action_s": first_action_s,
        "trace.overhead_s": harness.median(tr_loop["lat"]) - harness.median(lat),
    }
    # the first traced op's Spark counters: one fixed op, so the counts
    # repeat exactly run to run (all ops are in the run's detail file)
    layer.update(tr_loop["per_op"][0] if tr_loop["per_op"] else {})
    import layers

    values = layers.probe_all(ctx, wl)
    values.update(layer)
    values.update(wl.layer_metrics())
    metrics = {k: {"value": v, "unit": layers.UNITS[k]} for k, v in sorted(values.items())}
    detail["io_table"] = layers.io_table(values)
    detail["traced_latencies_s"] = tr_loop["lat"]
    detail["spark_counters_per_op"] = tr_loop["per_op"]
    return {"correct": failed == 0, "attempted": attempted, "failed": failed,
            "metrics": metrics, "detail": detail}


def _stop(ctx: Ctx) -> None:
    """Stop the session, its JVM and every Python worker, and wait for
    each to end."""
    if ctx.spark is None:
        return
    procs = harness.descendants(os.getpid())
    jvm = ctx.spark.sparkContext._gateway.proc
    ctx.spark.stop()
    jvm.stdin.close()  # the gateway JVM exits when its stdin closes
    try:
        jvm.wait(timeout=60)
    except subprocess.TimeoutExpired:
        jvm.kill()
        jvm.wait()
    for pid in harness.wait_gone(procs, timeout=30):
        try:
            os.kill(pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
    harness.wait_gone(procs, timeout=10)


def _one_row_file(d: str) -> None:
    from fourmc_spark.format.writer import write_file

    os.makedirs(d)
    write_file(os.path.join(d, "one.4mc"), b'{"x": 1}\n')


if __name__ == "__main__":
    sys.exit(main())
