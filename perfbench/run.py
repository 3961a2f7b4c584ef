"""Benchmark of the yukispark pipeline server and its operator kernels.

Run from the root of a checkout:

  python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Builds the program from source (perfbench/build.py), runs one workload, checks
its outputs, writes a record of the run under <build dir>/results/, and prints
one JSON object as the last line of stdout. --trace 0 reports the end-to-end
metrics; --trace 1 makes a separate, traced run and reports the per-layer ones.
See perfbench/README.md.
"""
import argparse
import json
import os
import shutil
import signal
import sys
import threading
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
sys.dont_write_bytecode = True

import build  # noqa: E402
import jvm  # noqa: E402
from reduce import result_line  # noqa: E402

FIXTURES = "perfbench/fixtures"

E2E = [("setup_s", "s"), ("wall_s", "s"), ("cpu_s", "s"), ("op_geomean_ms", "ms"),
       ("shuffle_mb", "MB"), ("heap_mb", "MB")]


def layer_metrics():
    from kernels import OPS
    return ([("api.submit_ms", "ms"), ("api.status_ms", "ms"), ("api.collect_ms", "ms"),
             ("api.keepalive_ms", "ms"),
             ("pipeline.noop_ms", "ms"), ("pipeline.edit_ms", "ms"),
             ("pipeline.cold_tpch_ms", "ms"), ("pipeline.cold_events_ms", "ms"),
             ("pipeline.cold_text_ms", "ms"), ("pipeline.overhead_ms", "ms"),
             ("pipeline.steps_computed", "count"), ("pipeline.steps_cached", "count"),
             ("pipeline.written_mb", "MB"), ("pipeline.source_copy_mb", "MB")]
            + [(f"ops.{op}_ms", "ms") for op in OPS]
            + [("ops.jobs", "count"), ("ops.stages", "count"), ("ops.tasks", "count"),
               ("ops.task_cpu_s", "s"), ("ops.task_run_s", "s"), ("ops.slot_util_pct", "%"),
               ("ops.plan_ms", "ms"), ("ops.codegen_compiles", "count"),
               ("ops.shuffle_read_mb", "MB"), ("ops.spill_mb", "MB"), ("ops.input_mb", "MB"),
               ("core.release_ms", "ms"), ("core.persisted_rdds", "count"),
               ("jvm.gc_ms", "ms"), ("jvm.jit_ms", "ms")])


class Health:
    """Run-health context, not metrics: host steal and guest idle shares over
    the timed window (sampled from /proc/stat) and the 1-minute load at the
    start and end of the run."""

    PERIOD_S = 0.25

    def __init__(self):
        self.load_start = self._load()
        self.samples = []
        self.window = None  # (start, end), epoch seconds
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._sample, daemon=True)
        self._thread.start()

    @staticmethod
    def _load():
        with open("/proc/loadavg") as f:
            return float(f.read().split()[0])

    def _sample(self):
        while True:
            with open("/proc/stat") as f:
                v = [int(x) for x in f.readline().split()[1:9]]
            # user nice system idle iowait irq softirq steal
            self.samples.append((time.time(), v[3] + v[4], v[7], sum(v)))
            if self._stop.wait(self.PERIOD_S):
                return

    def record(self):
        self._stop.set()
        self._thread.join()
        shares = {"steal_share": None, "idle_share": None}
        if self.window:
            inside = [s for s in self.samples if self.window[0] <= s[0] <= self.window[1]]
            if len(inside) >= 2:
                (_, i0, s0, t0), (_, i1, s1, t1) = inside[0], inside[-1]
                shares = {"steal_share": (s1 - s0) / (t1 - t0), "idle_share": (i1 - i0) / (t1 - t0)}
        return dict(shares, load1_start=self.load_start, load1_end=self._load())


class Context:
    def __init__(self, args, classpath, run_dir):
        self.seed, self.seconds, self.trace = args.seed, args.seconds, args.trace
        self.classpath, self.run_dir = classpath, run_dir
        self.fixtures = os.path.abspath(FIXTURES)
        self.health = Health()
        self.phases = [("start", time.time())]

    def mark(self, phase):
        """Record when a phase of the run ended (kept in the run record)."""
        self.phases.append((phase, time.time()))


def main(argv):
    # a terminated run still stops its JVM: SystemExit unwinds the finally blocks
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    p = argparse.ArgumentParser()
    p.add_argument("--workload", required=True,
                   choices=["pipeline_rerun", "operator_kernels"])
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = p.parse_args(argv)
    if not os.path.isdir(FIXTURES) or not os.path.isdir("src/main/scala"):
        sys.exit("run from the root of a checkout: fixtures or program sources are missing")
    classpath = build.build()

    results = os.path.join(build.build_dir(), "results")
    run_dir = os.path.join(build.build_dir(), "runs", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    os.makedirs(results, exist_ok=True)
    ctx = Context(args, classpath, run_dir)
    try:
        if args.workload == "operator_kernels":
            import kernels
            out = kernels.run(ctx)
        else:
            import pipeline
            out = pipeline.run(ctx)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    ctx.mark("done")

    m = out["metrics"]
    wanted = layer_metrics() if args.trace else E2E
    metrics = {name: (m.get(name, 0.0), unit) for name, unit in wanted}
    health = dict(ctx.health.record(), spark_threads=jvm.spark_threads(), seed=args.seed,
                  clients=out.get("clients", 1), poll_ms=out.get("poll_ms"))
    tag = f"{args.workload}-seed{args.seed}-trace{args.trace}"
    with open(os.path.join(results, tag + ".json"), "w") as f:
        json.dump({"workload": args.workload, "seconds": args.seconds, "health": health,
                   "metrics": m, "errors": out["errors"], "attempted": out["attempted"],
                   "failed": out["failed"], "phases_s": [(n, t - ctx.phases[0][1]) for n, t in ctx.phases],
                   **out.get("record", {})}, f)
    for e in out["errors"]:
        print("CHECK FAILED:", e)
    print(result_line(not out["errors"], out["attempted"], out["failed"], metrics))


if __name__ == "__main__":
    main(sys.argv[1:])
