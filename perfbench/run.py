#!/usr/bin/env python3
"""End-to-end benchmark of o2g_spark: geo_tiles, text_dedup, index_refresh.

    python3 perfbench/run.py --workload geo_tiles --seed 1 --seconds 10 --trace 0

Run from the repository root. One process, one Spark session on
``local[<cpus>]``, one closed-loop client. The inputs come from
``--seed``; every pass's output is checked against a reference built
once per run. The last line of standard output is one JSON object:
``{"correct", "attempted", "failed", "metrics"}``. With ``--trace 0``
the metrics are the end-to-end ones; ``--trace 1`` runs each pass as
per-layer spans and reports the per-layer metrics instead. A JSON line
before it records the host context (cpus, load, free /tmp, a pure-CPU
control before and after, and every pass time). See README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time
import traceback
from concurrent.futures import ThreadPoolExecutor

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

SETUPS = 3  # setup_s is the median of this many input materialisations
MIN_PASSES = 3  # timed passes, however long they take
DRIVER_HEAP = "3g"


def process_age_s() -> float:
    """Seconds since this process started (field 22 of /proc/self/stat)."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")


def cpu_control_s() -> float:
    """Pure-CPU control: min of 3 passes of a fixed single-threaded
    numpy integer loop. It rises with external load on the host, which
    tells a noisy window apart from a slower program."""
    import numpy as np

    x = np.arange(2_000_000, dtype=np.uint64)
    best = float("inf")
    for _ in range(3):
        t0 = time.perf_counter()
        y = x
        for _ in range(16):
            y = (y * np.uint64(0x9E3779B97F4A7C15) + np.uint64(12345)) & np.uint64(
                0xFFFFFFFFFFFF)
        best = min(best, time.perf_counter() - t0)
    return best


def host_context() -> dict:
    st = os.statvfs("/tmp")
    with open("/proc/loadavg") as f:
        load = [float(v) for v in f.read().split()[:3]]
    return {"nproc": len(os.sched_getaffinity(0)), "loadavg": load,
            "tmp_free_gb": round(st.f_bavail * st.f_frsize / 1e9, 2)}


def start_spark(workdir: str):
    from o2g_spark.session import get_spark

    tmp = os.path.join(workdir, "tmp")
    return get_spark(
        "perfbench",
        master=f"local[{len(os.sched_getaffinity(0))}]",
        extra_conf={
            "spark.driver.memory": DRIVER_HEAP,
            "spark.driver.extraJavaOptions": (
                f"-Xms{DRIVER_HEAP} -Djava.io.tmpdir={tmp} -XX:-UsePerfData"),
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": os.path.join(workdir, "warehouse"),
        },
    )


def stop_spark(spark) -> None:
    """Stop the session, then the JVM, then wait for every process the
    run started (the JVM's Python workers exit with it)."""
    from pyspark import SparkContext

    from perfbench.proctree import tree_pids

    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except Exception:  # noqa: BLE001 - a stuck JVM must not outlive us
            proc.kill()
            proc.wait()
    deadline = time.monotonic() + 30
    while len(tree_pids(os.getpid())) > 1 and time.monotonic() < deadline:
        time.sleep(0.2)


class Passes:
    """Runs and checks passes, and counts them for ``fail_frac``."""

    def __init__(self, wl, rec, root_pid: int):
        self.wl, self.rec, self.root = wl, rec, root_pid
        self.attempted = self.failed = 0
        self.self_check: bool | None = None

    def run(self, traced: bool = False):
        """One pass: (wall_s, tree_cpu_s, output, layers), or None if it
        raised. ``layers`` is None unless ``traced``."""
        from perfbench.proctree import tree_cpu_s

        self.wl.prepare()
        self.attempted += 1
        cpu0, t0 = tree_cpu_s(self.root), time.perf_counter()
        try:
            if traced:
                layers, wall, out = self.wl.traced_pass(self.rec)
            else:
                out, layers = self.wl.run_pass(), None
                wall = time.perf_counter() - t0
        except Exception:  # noqa: BLE001 - a failed pass is counted, not fatal
            traceback.print_exc()
            self.failed += 1
            return None
        return wall, tree_cpu_s(self.root) - cpu0, out, layers

    def check(self, out) -> None:
        self.failed += not self.wl.check(out)
        if self.self_check is None:
            # the check must also reject a damaged copy of real output
            self.self_check = not self.wl.check(self.wl.corrupt(out))


def run(args, workdir: str) -> dict:
    from perfbench import proctree
    from perfbench.spantrace import FIELDS, SpanRecorder
    from perfbench.workloads import WORKLOADS

    ctx = host_context()
    spark = start_spark(workdir)
    session_start_s = process_age_s()
    try:
        ctx["cpu_control_before_s"] = cpu_control_s()
        rec = SpanRecorder(spark) if args.trace else None
        wl = WORKLOADS[args.workload](spark, args.seed, workdir)
        passes = Passes(wl, rec, os.getpid())
        with proctree.PeakRss(os.getpid()) as rss:
            setups = [wl.setup(rec) for _ in range(SETUPS)]
            # the reference is built while the untimed warm-up passes run
            with ThreadPoolExecutor(1) as pool:
                ref = pool.submit(wl.reference)
                warm = [passes.run() for _ in range(wl.warmups)]
                ref.result()
            for r in filter(None, warm):
                passes.check(r[2])
            walls, cpus, traced = [], [], []
            t_end = time.perf_counter() + args.seconds
            while (time.perf_counter() < t_end or len(walls) < MIN_PASSES) and wl.has_pass():
                r = passes.run()
                if r is not None:
                    passes.check(r[2])
                    walls.append(r[0])
                    cpus.append(r[1])
                if args.trace and wl.has_pass():
                    r = passes.run(traced=True)
                    if r is not None:
                        passes.check(r[2])
                        traced.append(r)
            passes.attempted += 1
            t0 = time.perf_counter()
            passes.failed += not wl.finish(rec)
            ctx["finish_s"] = time.perf_counter() - t0
        ctx["cpu_control_after_s"] = cpu_control_s()
    finally:
        stop_spark(spark)

    if not walls:
        raise RuntimeError("no pass completed")
    med = statistics.median
    warm_s = [r[0] for r in warm if r]
    ctx.update(workload=wl.name, seed=args.seed, items_per_pass=wl.items,
               item=wl.item, setup_each_s=setups, session_start_s=session_start_s,
               warmup_pass_s=warm_s, pass_s=walls, pass_cpu_s=cpus,
               self_check=passes.self_check)
    if not args.trace:
        metrics = {
            "setup_s": (session_start_s + med(setups), "s"),
            "items_per_s": (wl.items / med(walls), "1/s"),
            "pass_cpu_s_p50": (med(cpus), "s"),
            "peak_rss_mb": (rss.peak_bytes / (1 << 20), "MB"),
        }
    else:
        metrics = layer_metrics(wl, rec, traced, walls, session_start_s, sum(warm_s),
                                ctx, FIELDS)
    ctx["fail_frac"] = passes.failed / passes.attempted
    print(json.dumps({"context": ctx}), flush=True)
    return {
        "correct": passes.failed == 0 and bool(passes.self_check),
        "attempted": passes.attempted,
        "failed": passes.failed,
        "metrics": {n: {"value": v, "unit": u} for n, (v, u) in metrics.items()},
    }


def layer_metrics(wl, rec, traced, walls, session_start_s, warmup_s, ctx, fields) -> dict:
    """Per-layer metrics of a traced run, each the median over its
    spans. Every layer of every workload is reported; a layer this
    workload does not run reports 0."""
    from perfbench.workloads import EXTRA_UNITS, LAYERS

    med = statistics.median
    if not traced:
        raise RuntimeError("no traced pass completed")
    units = {"self_s": "s", "task_s": "s", "gc_s": "s", "shuffle_mb": "MB",
             "spill_mb": "MB"}
    out: dict[str, tuple[float, str]] = {
        "session.start_s": (session_start_s, "s"),
        "warmup_s": (warmup_s, "s"),
        "cpu_control_s": ((ctx["cpu_control_before_s"] + ctx["cpu_control_after_s"]) / 2,
                          "s"),
        "trace_overhead_s": (med(t[0] for t in traced) - med(walls), "s"),
    }
    samples = {layer: [] for layer in LAYERS}
    for s in rec.spans:  # set-up and end-of-run spans carry their layer's name
        if s.name in samples and s.name not in wl.layers:
            samples[s.name].append(s)
    for t in traced:
        for layer, s in t[3].items():
            samples[layer].append(s)
    for layer, spans in samples.items():
        for f in fields:
            out[f"{layer}.{f}"] = (med(getattr(s, f) for s in spans) if spans else 0.0,
                                   units[f])
        out[f"{layer}.rows_out"] = (med(s.rows_out for s in spans) if spans else 0,
                                    "count")
    for layer in ("synth_dist", "docs"):
        out[f"{layer}.gen_s"] = (out[f"{layer}.self_s"][0], "s")
    for name, unit in EXTRA_UNITS.items():
        out[name] = (wl.extras.get(name, 0), unit)
    ctx["traced_pass_s"] = [t[0] for t in traced]
    ctx["traced_self_s"] = {layer: [t[3][layer].self_s for t in traced]
                            for layer in wl.layers}
    return out


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True,
                   choices=["geo_tiles", "text_dedup", "index_refresh"])
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = p.parse_args(argv)

    # everything the run writes lives under one fresh directory
    workdir = os.path.join(HERE, "_run", str(os.getpid()))
    for d in ("local", "tmp"):
        os.makedirs(os.path.join(workdir, d))
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(workdir, "local")
    os.environ["TMPDIR"] = os.path.join(workdir, "tmp")
    # the launcher JVM spark-submit starts first must not write to /tmp either
    os.environ["SPARK_LAUNCHER_OPTS"] = (
        f"-XX:-UsePerfData -Djava.io.tmpdir={os.environ['TMPDIR']}")
    os.environ["PYSPARK_PYTHON"] = sys.executable
    sys.path[:0] = [ROOT]
    try:
        result = run(args, workdir)
    finally:
        shutil.rmtree(workdir, ignore_errors=True)
        try:
            os.rmdir(os.path.join(HERE, "_run"))
        except OSError:
            pass  # another run still uses it
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
