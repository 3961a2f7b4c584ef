"""operator_kernels: timed passes over declared operators in one JVM, no HTTP,
admission or parquet write in the way."""
import json
import os
import time

import jvm
import oracle
from reduce import geomean_of_medians, median

# The operators, by the families whose code an optimisation would touch:
# exact-Jaccard verification, graph (one-shot and iterative) and TPC-H.
OPS = ["l45_prefix_join", "l35_triangles", "l46b_kcore_deep", "tq2_min_cost_supplier"]
WARMUP_PASSES = 3
PASS_SECONDS = 3.0  # nominal length of one pass; sets the fixed work per --seconds


def timed_passes(seconds):
    return max(1, round(seconds / PASS_SECONDS))


def run(ctx):
    out = os.path.join(ctx.run_dir, "kernels")
    launched = time.time()
    proc = jvm.start(ctx.classpath, "perfbench.Kernels",
                     [ctx.fixtures, out, ctx.seed, WARMUP_PASSES, timed_passes(ctx.seconds),
                      ctx.trace, jvm.spark_threads(), ",".join(OPS)], ctx.run_dir)
    try:
        jvm.stop(proc, timeout=150)
    finally:
        jvm.kill(proc)
    result_path = os.path.join(out, "result.json")
    if proc.returncode != 0 or not os.path.exists(result_path):
        raise RuntimeError("kernel harness failed: " + jvm.stderr_tail(ctx.run_dir, "perfbench.Kernels"))
    with open(result_path) as f:
        res = json.load(f)
    w = res["window"]
    ctx.health.window = (w["begin"]["epoch_ms"] / 1000, w["end"]["epoch_ms"] / 1000)
    calls, passes = res["calls"], res["timed_passes"]
    timed = [c for c in calls if c["timed"]]
    ok = [c for c in timed if c["rows"] >= 0]
    per_op = {op: [c["ms"] for c in ok if c["op"] == op] for op in OPS}

    errors = check(ctx.fixtures, out, calls)
    m = jvm.window_metrics(w["begin"], w["end"], w["settled"], res["spans"], res["task_slots"])
    m.update({
        "setup_s": w["begin"]["epoch_ms"] / 1000 - launched,
        "wall_s": len(passes) * median([p["ms"] for p in passes]) / 1000,
        "cpu_s": len(passes) * median([p["cpu_ms"] for p in passes]) / 1000,
        "op_geomean_ms": geomean_of_medians({k: v for k, v in per_op.items() if v}),
        "heap_mb": res["heap_bytes"] / 1e6,
        "core.release_ms": sum(s["end"] - s["start"] for s in res["spans"]
                               if s["kind"] == "release" and s["start"] >= w["begin"]["epoch_ms"]),
        "core.persisted_rdds": res["persisted_rdds"],
    })
    for op, v in per_op.items():
        m[f"ops.{op}_ms"] = median(v) if v else 0.0
    return {
        "metrics": m, "attempted": len(timed), "failed": len(timed) - len(ok), "errors": errors,
        "record": {"warmup_passes": res["warmup_passes"], "timed_passes": res["timed_passes"],
                   "spans": res["spans"]},
    }


def check(fixtures, out, calls):
    """Each operator's written result equals DuckDB running its oracle SQL on
    the same fixtures, and every call that did not fail returned the oracle's
    row count."""
    with open(os.path.join(out, "oracle_sql.json")) as f:
        sql = json.load(f)
    con = oracle.connect(fixtures)
    errors = []
    for op in OPS:
        rows = {c["rows"] for c in calls if c["op"] == op and c["rows"] >= 0}
        res_dir = os.path.join(out, "results", op)
        if not os.path.isdir(res_dir):
            errors.append(f"{op}: no result written")
            continue
        files = oracle.parquet_files(res_dir)
        why = oracle.compare(con, f"SELECT * FROM read_parquet({files!r})", sql[op])
        want = con.sql(sql[op]).shape[0]
        if why:
            errors.append(f"{op}: {why}")
        elif rows != {want}:
            errors.append(f"{op}: calls returned row counts {sorted(rows)}, oracle has {want}")
    return errors
