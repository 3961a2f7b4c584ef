"""Launching the JVM under test with every file it writes kept in the run dir."""
import os
import subprocess

from build import ADD_OPENS
from reduce import covered_ms, mb

HEAP = "2g"


def spark_threads():
    """Spark task threads: at most the CPUs this process may run on, and 4."""
    return min(4, len(os.sched_getaffinity(0)))


def start(classpath, main, args, run_dir):
    """Start `main` in a fresh JVM; stdout and stderr go to files in run_dir."""
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env = dict(os.environ, SPARK_LOCAL_DIRS=tmp)
    env.pop("SPARK_GRAFT_CPUS", None)
    # -XX:-UsePerfData: no hsperfdata file under the system temp dir
    cmd = ["java", f"-Xmx{HEAP}", "-XX:-UsePerfData", *ADD_OPENS, "-Dspark.ui.enabled=false",
           "-Dspark.sql.session.timeZone=UTC", f"-Djava.io.tmpdir={tmp}",
           "-cp", classpath, main, *[str(a) for a in args]]
    out = open(log_path(run_dir, main, "out"), "w")
    err = open(log_path(run_dir, main, "err"), "w")
    try:
        return subprocess.Popen(cmd, stdout=out, stderr=err, stdin=subprocess.DEVNULL, env=env)
    finally:
        out.close()
        err.close()


def stop(proc, timeout=30):
    """Wait for the process to end, killing it if it does not within `timeout`."""
    try:
        proc.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        kill(proc)


def kill(proc):
    if proc.poll() is None:
        proc.kill()
        proc.wait()


def log_path(run_dir, main, stream):
    return os.path.join(run_dir, f"{main.rsplit('.', 1)[-1].lower()}.{stream}")


def stderr_tail(run_dir, main, n=2000):
    try:
        with open(log_path(run_dir, main, "err")) as f:
            return f.read()[-n:]
    except OSError:
        return ""


def window_metrics(begin, end, settled, spans, slots):
    """Metrics of one timed window from the harness's counters: `begin` and
    `end` bracket the window, `settled` is read once the Spark listeners
    have caught up with it."""
    def delta(key):
        return settled[key] - begin[key]
    jobs = [(s["start"], s["end"]) for s in spans
            if s["kind"] == "job" and begin["epoch_ms"] <= s["start"] and s["end"] <= settled["epoch_ms"]]
    job_ms = covered_ms(jobs)
    return {
        "shuffle_mb": mb(delta("shuffle_write_bytes")),
        "ops.jobs": delta("jobs"),
        "ops.stages": delta("stages"),
        "ops.tasks": delta("tasks"),
        "ops.task_cpu_s": delta("task_cpu_ns") / 1e9,
        "ops.task_run_s": delta("task_run_ms") / 1e3,
        "ops.slot_util_pct": 100.0 * delta("task_run_ms") / (job_ms * slots) if job_ms else 0.0,
        "ops.plan_ms": delta("plan_ms"),
        "ops.codegen_compiles": delta("codegen_compiles"),
        "ops.shuffle_read_mb": mb(delta("shuffle_read_bytes")),
        "ops.spill_mb": mb(delta("spill_bytes")),
        "ops.input_mb": mb(delta("input_bytes")),
        "jvm.gc_ms": end["gc_ms"] - begin["gc_ms"],
        "jvm.jit_ms": end["jit_ms"] - begin["jit_ms"],
    }
