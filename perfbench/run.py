#!/usr/bin/env python3
"""Link-graph benchmark for networkx_graph_spark.

    python3 perfbench/run.py --workload link_kernels --seed 1 --seconds 5 --trace 0

Run from the root of a checkout. One process, one closed-loop client, Spark
``local[N]`` with N = min(2, usable cores). A run:

1. starts the session and builds the workload's inputs from ``--seed``
   three times (``setup_s`` = session start + the median build);
2. computes the reference answers (cached per seed, never timed);
3. runs passes of the workload's operation list until their summed wall
   time reaches ``--seconds`` (at least one), checking every answer after
   each pass. ``pass_s`` is the first of them; later passes only add
   samples to the per-op numbers.

The last stdout line is the result JSON: end-to-end metrics with
``--trace 0``; with ``--trace 1`` every call into a program layer runs in
a Spark job group and the per-layer table is printed instead (spans are
written to ``perfbench/out/``). The line before it holds the
workload-specific numbers, host noise and the per-op timings.
``--smoke`` shrinks every input so a run with all its checks takes well
under a minute.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile
import time
import traceback
from pathlib import Path

from spans import NullTracer, Tracer, per_layer_units
from workloads import WORKLOADS, Context, Timings

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
OUT = HERE / "out"

END_TO_END = {"setup_s": "s", "pass_s": "s", "peak_rss_mb": "MB"}
SETUP_BUILDS = 3
DRIVER_MEMORY = "1g"
# Task threads. The passes are bound by per-job driver work, not by task
# parallelism; two leave the host's other cores to the driver, the JIT and
# the Python workers (README.md has the comparison with four).
LOCAL_CORES = 2


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--smoke", action="store_true", help="tiny inputs (tests)")
    return p.parse_args(argv)


def _cpu_ticks() -> tuple[int, int]:
    """(steal ticks, all ticks) from the aggregate line of /proc/stat."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:9]]
    return fields[7], sum(fields)


def _loadavg_1m() -> float:
    with open("/proc/loadavg") as f:
        return float(f.read().split()[0])


def start_session(scratch: Path, cores: int):
    """Spark session whose every file lives under ``scratch``."""
    from networkx_graph_spark.session import get_spark

    for d in ("local", "warehouse", "tmp"):
        (scratch / d).mkdir()
    # Python workers inherit the environment: they must import the
    # package from the checkout and keep temp files inside the run dir.
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (str(ROOT), os.environ.get("PYTHONPATH")) if p
    )
    os.environ["TMPDIR"] = str(scratch / "tmp")
    # no JVM (spark-submit's launcher included) writes /tmp/hsperfdata_*
    os.environ["JAVA_TOOL_OPTIONS"] = "-XX:-UsePerfData"
    return get_spark(
        app_name="perfbench",
        master=f"local[{cores}]",
        shuffle_partitions=cores,
        extra_conf={
            "spark.driver.memory": DRIVER_MEMORY,
            # a fixed-size heap: G1 does not resize it between runs, which
            # keeps the JVM's peak RSS comparable from run to run
            "spark.driver.extraJavaOptions": f"-Xms{DRIVER_MEMORY} -Djava.io.tmpdir={scratch / 'tmp'}",
            "spark.local.dir": str(scratch / "local"),
            "spark.sql.warehouse.dir": str(scratch / "warehouse"),
            "spark.ui.showConsoleProgress": "false",
            # the traced run reads every job and stage of the run back
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
        },
    )


def _descendants(pid: int) -> list[int]:
    """Live descendant pids of ``pid`` (from /proc)."""
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(entry))
    out, todo = [], [pid]
    while todo:
        for c in children.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def stop_session(spark) -> None:
    """Stop Spark, then wait for the JVM and every process it started
    (spark-submit, Python workers) to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    started = _descendants(os.getpid())
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    deadline = time.monotonic() + 30
    while any(os.path.exists(f"/proc/{p}") for p in started) and time.monotonic() < deadline:
        time.sleep(0.1)


def jvm_peak_rss_mb(spark) -> float:
    pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError("VmHWM missing from /proc status")


def jvm_gc_s(spark) -> float:
    beans = spark.sparkContext._jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
    return sum(beans.get(i).getCollectionTime() for i in range(beans.size())) / 1e3


def run_pass(wl, tm) -> tuple[float, int, int]:
    """One pass of the workload's ops: (wall s, attempted, failed). Each
    op is timed alone; its answer is checked after the pass."""
    ops = wl.ops()
    results, wall, failed = [], 0.0, 0
    for op, fn in ops:
        t0 = time.perf_counter()
        try:
            results.append((op, fn()))
        except Exception:
            traceback.print_exc()
            failed += 1
        dt = time.perf_counter() - t0
        wall += dt
        tm.add(op, dt)
    for op, res in results:
        try:
            ok = wl.check(op, res)
        except Exception:
            traceback.print_exc()
            ok = False
        if not ok:
            print(f"wrong answer: {wl.name}:{op}", file=sys.stderr)
            failed += 1
    wl.after_pass()
    return wall, len(ops), failed


def measure(args, spark, session_s, scratch, cores, ticks0) -> tuple[dict, dict]:
    tracer = Tracer(spark, args.workload) if args.trace else NullTracer()
    ctx = Context(spark, args.seed, args.smoke, tracer, str(OUT), str(scratch), cores)
    wl = WORKLOADS[args.workload](ctx)
    tm = Timings()
    builds = []
    with tracer.patched():
        for k in range(SETUP_BUILDS):
            wl.release()
            tracer.phase = f"setup{k}"
            t0 = time.perf_counter()
            wl.setup()
            builds.append(time.perf_counter() - t0)
        t0 = time.perf_counter()
        wl.prepare()
        prepare_s = time.perf_counter() - t0
        gc0 = jvm_gc_s(spark)
        passes, attempted, failed = [], 0, 0
        while not passes or sum(passes) < args.seconds:
            tracer.phase = f"pass{len(passes)}"
            wall, a, f = run_pass(wl, tm)
            if not passes:
                gc_s = jvm_gc_s(spark) - gc0
            passes.append(wall)
            attempted += a
            failed += f
    steal1, all1 = _cpu_ticks()
    host = {
        "steal_ticks": steal1 - ticks0[0],
        "steal_pct": 100.0 * (steal1 - ticks0[0]) / max(1, all1 - ticks0[1]),
        "loadavg_1m": _loadavg_1m(),
    }
    e2e = {
        "setup_s": session_s + statistics.median(builds),
        "pass_s": passes[0],
        "peak_rss_mb": jvm_peak_rss_mb(spark),
    }
    detail = {
        "workload": args.workload,
        "seed": args.seed,
        "local_cores": cores,
        "session_start_s": session_s,
        "build_s": builds,
        "prepare_s": prepare_s,
        "pass_s": passes,
        "attempted": attempted,
        "failed": failed,
        "failed_ratio": failed / attempted,
        "op_s": tm.by_op,
        **wl.detail(tm),
        "end_to_end": e2e,
        "host": host,
    }
    metrics = {k: {"value": v, "unit": END_TO_END[k]} for k, v in e2e.items()}
    if args.trace:
        table = layer_metrics(tracer, wl, session_s, e2e["peak_rss_mb"], gc_s)
        table["host.steal_pct"] = host["steal_pct"]
        table["host.loadavg_1m"] = host["loadavg_1m"]
        units = per_layer_units()
        metrics = {k: {"value": table[k], "unit": units[k]} for k in units}
        detail["spans"] = tracer.spans_json()
    result = {"correct": failed == 0, "attempted": attempted, "failed": failed, "metrics": metrics}
    return result, detail


def layer_metrics(tracer, wl, session_s, rss_mb, gc_s) -> dict[str, float]:
    """The per-layer table for the median set-up build plus the first
    pass (the pass ``pass_s`` times): job numbers from the spans, plus the
    numbers that come from results, the checkpoint dir and the JVM."""
    tracer.collect()
    setups = [f"setup{k}" for k in range(SETUP_BUILDS)]
    table = dict.fromkeys(per_layer_units(), 0.0)
    table.update(tracer.layer_table(setups, ["pass0"]))
    walls = tracer.superstep_walls.get("pass0", [])
    table.update({
        "session.wall_s": session_s,
        "jvm.peak_rss_mb": rss_mb,
        "jvm.gc_s": gc_s,
        "plans.supersteps.supersteps": len(walls),
        "plans.supersteps.superstep_s_p50": _quantile(walls, 0.5),
        "plans.supersteps.superstep_s_p90": _quantile(walls, 0.9),
    })
    table.update(wl.layer_extras(tracer, table))
    return table


def _quantile(xs, q: float) -> float:
    if not xs:
        return 0.0
    xs = sorted(xs)
    return xs[min(len(xs) - 1, int(q * len(xs)))]


def main(argv=None) -> int:
    args = parse_args(argv)
    sys.path.insert(0, str(ROOT))
    import networkx_graph_spark  # noqa: F401  (fail before any output without the program)
    cores = min(LOCAL_CORES, len(os.sched_getaffinity(0)))
    scratch = Path(tempfile.mkdtemp(prefix=".run-", dir=HERE))
    ticks0 = _cpu_ticks()
    spark = None
    try:
        t0 = time.perf_counter()
        spark = start_session(scratch, cores)
        session_s = time.perf_counter() - t0
        result, detail = measure(args, spark, session_s, scratch, cores, ticks0)
    finally:
        if spark is not None:
            stop_session(spark)
        shutil.rmtree(scratch, ignore_errors=True)
    if args.trace:
        OUT.mkdir(exist_ok=True)
        with open(OUT / f"trace-{args.workload}-seed{args.seed}.json", "w") as f:
            json.dump({**detail, "per_layer": result["metrics"]}, f)
        detail.pop("spans")
    print(json.dumps({"detail": detail}))
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
