"""The pipeline_rerun workload, driven through the program's HTTP facade.

Set-up fills the warehouse: each of three spec shapes runs cold once, from
one closed-loop client, and warm-up rounds of cycles follow. In the timed
window two closed-loop clients then run cycles over the filled warehouse,
sharing every upstream impression. Each cycle resubmits a spec
unchanged (every step a cache hit), edits one leaf's parameter to a value not
used before (only that leaf recomputes), and collects the leaf.
"""
import http.client
import json
import os
import random
import threading
import time

import jvm
import oracle
from reduce import geomean_of_medians, median, mb, self_time

# /status poll period: a short fixed sleep for the first 20 ms of a run,
# well below the fastest operation (a no-op run of a few ms), then backing
# off, so polling a long run loads the server less
POLL_S = (0.0005, 0.020, 1.5, 0.004)  # first sleep, fixed for (s), growth per poll, longest sleep
CLIENTS = 2
WARMUP_ROUNDS = 8
ROUND_S = 2.0        # one round of three cycles per client for every 2 s of --seconds
SHAPES = ["tpch", "events", "text"]
BASE_REV = "base"
BASE_MIN = "-1"

TPCH_SQL = (
    "SELECT n.n_nationkey, n.n_name, c.c_mktsegment, "
    "sum(l.l_extendedprice * (1 - l.l_discount)) AS revenue, count(*) AS lines "
    "FROM li l JOIN ord o ON l.l_orderkey = o.o_orderkey "
    "JOIN cust c ON o.o_custkey = c.c_custkey "
    "JOIN nat n ON c.c_nationkey = n.n_nationkey "
    "GROUP BY n.n_nationkey, n.n_name, c.c_mktsegment")
TOPK_SQL = (
    "SELECT c_mktsegment, n_nationkey, revenue, rn FROM (SELECT c_mktsegment, n_nationkey, "
    "revenue, row_number() OVER (PARTITION BY c_mktsegment ORDER BY revenue DESC, "
    "n_nationkey) AS rn FROM rev_by) WHERE rn <= 3")
# The edit leaf of each shape: a grouped aggregate over a materialized
# upstream output. Edit values stay below every value of the filtered
# column, so each edit reads and shuffles the same rows.
LEAVES = {
    "tpch": ("seg", "rev_by", "SELECT c_mktsegment, count(*) AS nations, sum(revenue) AS revenue "
                              "FROM up WHERE revenue > ${min} GROUP BY c_mktsegment"),
    "events": ("types", "ev", "SELECT event_type, count(*) AS n, sum(value) AS total "
                              "FROM up WHERE value > ${min} GROUP BY event_type"),
    "text": ("bysrc", "dd", "SELECT source, count(*) AS docs, CAST(sum(n_chars) AS BIGINT) AS chars "
                            "FROM up WHERE n_chars > ${min} GROUP BY source"),
}
# Steps that apply a declared operator to a fixture table with its declared
# parameters, checked against that operator's oracle SQL.
DECLARED = {"funnel": "e13_funnel_steps", "attr": "e12_attribution", "trans": "e4_transitions"}


def step(sid, transform, inputs=None, **params):
    return {"id": sid, "transform": transform, "inputs": inputs or {}, "params": params}


def spec(name, fixtures, rev, min_value):
    """(steps, roots) of one spec shape; `rev` names the source revision,
    `min_value` is the edit leaf's parameter."""
    def src(sid, table):
        return step(sid, "source", dir=fixtures, table=table, rev=rev)
    if name == "tpch":
        steps, roots = [
            src("li", "lineitem"), src("ord", "orders"), src("cust", "customer"),
            src("nat", "nation"),
            step("rev_by", "sql", {a: a for a in ("li", "ord", "cust", "nat")}, sql=TPCH_SQL),
            step("top", "topk", {"rows": "rev_by"}, by="c_mktsegment", value="revenue",
                 id="n_nationkey", k="3")], ["top"]
    elif name == "events":
        steps, roots = [
            src("ev", "events"),
            step("funnel", "funnel_steps", {"events": "ev"}, steps="signup,view,purchase"),
            step("attr", "attribution", {"events": "ev"}, touches="click,view",
                 target="purchase", lookback="86400"),
            step("trans", "transitions", {"events": "ev"})], ["funnel", "attr", "trans"]
    else:
        steps, roots = [
            src("docs", "documents"),
            step("dd", "containment_dedup", {"docs": "docs"}, n="3", tau="0.6"),
            step("kw", "tfidf", {"docs": "dd"}, k="3"),
            step("groups", "dedup_groups", {"docs": "dd"}),
            step("split", "group_split", {"groups": "groups"}, train="80", val="10")], ["kw", "split"]
    leaf, up, sql = LEAVES[name]
    return steps + [step(leaf, "sql", {"up": up}, sql=sql, min=min_value)], roots + [leaf]


class Client:
    """One closed-loop client. It opens a connection per request, so request
    latency is the server's work and not the delayed-ACK wait a reused
    connection pays (`api.keepalive_ms`); every request is recorded as a
    client-side span (route, start, end in epoch ms)."""

    def __init__(self, port):
        self.port = port
        self.spans = []

    def call(self, method, path, body=None):
        t0 = time.time() * 1000
        conn = http.client.HTTPConnection("127.0.0.1", self.port, timeout=120)
        try:
            conn.request(method, path, body=None if body is None else json.dumps(body),
                         headers={"Content-Type": "application/json"})
            r = conn.getresponse()
            data = r.read()
        finally:
            conn.close()
        self.spans.append({"kind": "http", "name": path.split("/")[1], "start": t0,
                           "end": time.time() * 1000})
        return r.status, json.loads(data) if data else None

    def run(self, steps, roots):
        """Submit and poll until the run ends: (run id, workflow status)."""
        code, body = self.call("POST", "/run", {"steps": steps, "roots": roots})
        if code != 202:
            return None, f"submit {code}"
        rid = body["run_id"]
        sleep, fixed, growth, longest = POLL_S
        t0 = time.time()
        while True:
            code, st = self.call("GET", f"/status/{rid}")
            if code != 200 or st["workflow"] != "running":
                return rid, st["workflow"] if code == 200 else f"status {code}"
            time.sleep(sleep)
            if time.time() - t0 > fixed:
                sleep = min(sleep * growth, longest)

    def collect(self, rid, sid):
        code, body = self.call("GET", f"/collect/{rid}/{sid}")
        return body if code == 200 else None

    def logs(self, rid, sid):
        code, body = self.call("GET", f"/logs/{rid}/{sid}")
        return body if code == 200 else None


class Server:
    """The server JVM, its API port and its control port."""

    def __init__(self, ctx, warehouse):
        port_file = os.path.join(ctx.run_dir, "ports")
        self.run_dir = ctx.run_dir
        self.launched = time.time()
        self.proc = jvm.start(ctx.classpath, "perfbench.Server",
                              [warehouse, jvm.spark_threads(), ctx.trace, port_file], ctx.run_dir)
        try:
            self.api_port, self.control_port = self._ports(port_file)
        except BaseException:
            jvm.kill(self.proc)
            raise
        self.control = Client(self.control_port)

    def _ports(self, port_file):
        deadline = time.time() + 60
        while self.proc.poll() is None and time.time() < deadline:
            if os.path.exists(port_file):
                with open(port_file) as f:
                    text = f.read()
                if text.endswith("\n"):
                    return map(int, text.split())
            time.sleep(0.05)
        raise RuntimeError("server did not start: " + jvm.stderr_tail(self.run_dir, "perfbench.Server"))

    def ctl(self, route):
        code, body = self.control.call("GET", route)
        if code != 200:
            raise RuntimeError(f"control {route}: {code}")
        return body

    def close(self):
        try:
            if self.proc.poll() is None:
                self.control.call("GET", "/stop")
            jvm.stop(self.proc)
        finally:
            jvm.kill(self.proc)


def dir_bytes(path):
    total = 0
    for d, _, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(d, f)) for f in files)
    return total


def run(ctx):
    warehouse = os.path.join(ctx.run_dir, "warehouse")
    server = Server(ctx, warehouse)
    ctx.mark("server_ready")
    try:
        return rerun(ctx, server, warehouse)
    finally:
        server.close()
        ctx.mark("server_stopped")


def cold_cycle(client, name, steps, roots):
    """One cold run: submit, poll, collect every root."""
    t0 = time.time() * 1000
    rid, status = client.run(steps, roots)
    arts = [client.collect(rid, r) for r in roots] if status == "finished" else []
    if status != "finished" or not all(arts):
        raise RuntimeError(f"filling the warehouse: {name} run {status}")
    return {"shape": name, "rid": rid, "steps": steps, "start": t0, "end": time.time() * 1000,
            "collects": dict(zip(roots, arts)),
            "imps": {s["id"]: client.logs(rid, s["id"])["impression"] for s in steps}}


def keepalive_ms(port, n=20):
    """p50 latency of `GET /ping` on one reused connection, as a client that
    keeps its connection open sees it (the workload's clients do not)."""
    conn = http.client.HTTPConnection("127.0.0.1", port, timeout=120)
    xs = []
    try:
        for _ in range(n):
            t0 = time.time()
            conn.request("GET", "/ping")
            conn.getresponse().read()
            xs.append((time.time() - t0) * 1000)
    finally:
        conn.close()
    return median(xs)


def api_metrics(spans):
    out = {}
    for route, name in (("run", "submit"), ("status", "status"), ("collect", "collect")):
        xs = [s["end"] - s["start"] for s in spans if s["name"] == route]
        out[f"api.{name}_ms"] = median(xs) if xs else 0.0
    return out


def rerun(ctx, server, warehouse):
    rng = random.Random(ctx.seed)
    fill = Client(server.api_port)
    bytes0 = dir_bytes(warehouse)
    base = {name: cold_cycle(fill, name, *spec(name, ctx.fixtures, BASE_REV, BASE_MIN))
            for name in rng.sample(SHAPES, 3)}
    written = dir_bytes(warehouse) - bytes0
    cold_m = {f"pipeline.cold_{n}_ms": c["end"] - c["start"] for n, c in base.items()}
    cold_m["pipeline.written_mb"] = mb(written)
    cold_m["pipeline.source_copy_mb"] = mb(sum(
        dir_bytes(os.path.join(warehouse, c["imps"][s["id"]]))
        for c in base.values() for s in c["steps"] if s["transform"] == "source"))

    rounds = max(1, round(ctx.seconds / ROUND_S))
    n_cycles = (WARMUP_ROUNDS + rounds) * 3
    values = set()
    while len(values) < CLIENTS * n_cycles:
        values.add(f"{-1 - rng.random():.9f}")
    values = sorted(values)
    rng.shuffle(values)
    plans = [list(zip([n for _ in range(WARMUP_ROUNDS + rounds) for n in rng.sample(SHAPES, 3)],
                      values[c * n_cycles:(c + 1) * n_cycles]))
             for c in range(CLIENTS)]
    clients = [Client(server.api_port) for _ in range(CLIENTS)]

    def cycles(client, plan, out, barrier):
        for r in range(len(plan) // 3):
            barrier.wait()
            for name, value in plan[3 * r:3 * r + 3]:
                steps, roots = spec(name, ctx.fixtures, BASE_REV, BASE_MIN)
                t0 = time.time() * 1000
                rid, status = client.run(steps, roots)
                t1 = time.time() * 1000
                out.append({"kind": "noop", "shape": name, "rid": rid, "start": t0, "end": t1,
                            "ok": status == "finished"})
                esteps, eroots = spec(name, ctx.fixtures, BASE_REV, value)
                rid, status = client.run(esteps, eroots)
                t2 = time.time() * 1000
                out.append({"kind": "edit", "shape": name, "rid": rid, "start": t1, "end": t2,
                            "ok": status == "finished", "value": value, "steps": esteps})
                art = client.collect(rid, LEAVES[name][0]) if status == "finished" else None
                out.append({"kind": "collect", "shape": name, "rid": rid, "start": t2,
                            "end": time.time() * 1000, "ok": art is not None, "art": art})
        barrier.wait()

    def drive(part):
        """Run the clients' rounds in `part`; the clients start each round
        together. Returns the operations and, per round, its wall time and
        the server's CPU time (s)."""
        marks = []

        def mark():
            marks.append((time.time(), server.ctl("/counters")["cpu_ns"] / 1e9))
        # the timeout frees a client whose partner's thread has died
        barrier = threading.Barrier(CLIENTS, action=mark, timeout=120)
        outs = [[] for _ in clients]
        threads = [threading.Thread(target=cycles, args=(cl, p[part], o, barrier))
                   for cl, p, o in zip(clients, plans, outs)]
        for t in threads:
            t.start()
        for t in threads:
            t.join()
        rounds = [(b[0] - a[0], b[1] - a[1]) for a, b in zip(marks, marks[1:])]
        return [op for o in outs for op in o], rounds

    warmup, warmup_rounds = drive(slice(0, WARMUP_ROUNDS * 3))
    before = {(name, s["id"]): fill.logs(base[name]["rid"], s["id"])
              for name in SHAPES for s in base[name]["steps"]}
    ctx.mark("warm")
    begin, jobs0, t0 = server.ctl("/begin"), server.ctl("/jobs"), time.time()
    n0 = [len(cl.spans) for cl in clients]
    ops, timed_rounds = drive(slice(WARMUP_ROUNDS * 3, None))
    t1 = time.time()
    ctx.health.window = (t0, t1)
    end = server.ctl("/end")
    ctx.mark("window")
    window_spans = [s for cl, n in zip(clients, n0) for s in cl.spans[n:]]
    jobs1 = server.ctl("/jobs")
    computed = {g for g, n in jobs1.items() if g and n > jobs0.get(g, 0)}

    ok = [o for o in ops if o["ok"]]
    kinds = {k: [o["end"] - o["start"] for o in ok if o["kind"] == k] for k in ("noop", "edit", "collect")}
    errors = check_cold(ctx, server, warehouse, base)
    more, edit_imps = check_rerun(ctx, fill, base, before, jobs0, jobs1, ok)
    errors += more
    ctx.mark("checked")
    job_spans = {}
    for s in end["spans"]:
        if s["kind"] == "job":
            job_spans.setdefault(s["group"], []).append((s["start"], s["end"]))
    overhead = [self_time((o["start"], o["end"]), job_spans.get(edit_imps[o["rid"]], []))
                for o in ok if o["kind"] == "edit" and o["rid"] in edit_imps]
    m = jvm.window_metrics(begin, end["end"], end["settled"], end["spans"], end["task_slots"])
    if ctx.trace:
        m["api.keepalive_ms"] = keepalive_ms(server.api_port)
    m.update(cold_m)
    m.update(api_metrics(window_spans))
    m.update({
        "setup_s": t0 - server.launched,
        "wall_s": len(timed_rounds) * median([w for w, _ in timed_rounds]),
        "cpu_s": len(timed_rounds) * median([c for _, c in timed_rounds]),
        "heap_mb": end["heap_bytes"] / 1e6,
        "core.persisted_rdds": end["persisted_rdds"],
        "op_geomean_ms": geomean_of_medians({k: v for k, v in kinds.items() if v}),
        "pipeline.noop_ms": median(kinds["noop"]) if kinds["noop"] else 0.0,
        "pipeline.edit_ms": median(kinds["edit"]) if kinds["edit"] else 0.0,
        "pipeline.overhead_ms": median(overhead) if overhead else 0.0,
        "pipeline.steps_computed": len(computed),
        "pipeline.steps_cached": sum(len(base[o["shape"]]["steps"]) for o in ops
                                     if o["kind"] != "collect") - len(computed),
    })
    return {"metrics": m, "attempted": len(ops), "failed": len(ops) - len(ok), "errors": errors,
            "clients": CLIENTS, "poll_ms": [POLL_S[0] * 1000, POLL_S[3] * 1000],
            "record": {"cold_ms": {n: c["end"] - c["start"] for n, c in base.items()},
                       "op_ms": [(o["kind"], o["end"] - o["start"]) for o in warmup + ops],
                       "rounds": {"warmup": warmup_rounds, "timed": timed_rounds},
                       "spans": window_spans + end["spans"] if ctx.trace else []}}


def check_cold(ctx, server, warehouse, base):
    """The measured cold runs: sql steps equal DuckDB running the same SQL on
    the fixtures, declared-operator steps equal their oracle SQL (tfidf's over
    its input step's output), every output row carries its step's
    impression, and /collect row counts equal DuckDB's count."""
    errors = []
    oracle_sql = server.ctl("/oracle?q=" + ",".join([*DECLARED.values(), "l23_tfidf"]))
    fixture = {t: [os.path.join(ctx.fixtures, f"{t}.parquet")] for t in oracle.TABLES}
    expect = {"tpch": {"rev_by": TPCH_SQL, "top": TOPK_SQL},
              "events": {sid: oracle_sql[q] for sid, q in DECLARED.items()},
              "text": {"kw": oracle_sql["l23_tfidf"]}}
    for name, c in base.items():
        files = {s["id"]: oracle.parquet_files(os.path.join(warehouse, c["imps"][s["id"]]))
                 for s in c["steps"]}
        views = {"li": fixture["lineitem"], "ord": fixture["orders"],
                 "cust": fixture["customer"], "nat": fixture["nation"]}
        views.update({v: files[sid] for v, sid in (("rev_by", "rev_by"), ("documents", "dd"))
                      if sid in files})
        con = oracle.connect(ctx.fixtures, views)
        for sid, fs in files.items():
            why = oracle.lineage_ok(con, fs, c["imps"][sid])
            if why:
                errors.append(f"{name}.{sid}: {why}")
        for sid, sql in expect[name].items():
            why = oracle.compare(con, f"SELECT * FROM read_parquet({files[sid]!r})", sql)
            if why:
                errors.append(f"{name}.{sid}: {why}")
        for sid, art in c["collects"].items():
            n = con.sql(f"SELECT count(*) FROM read_parquet({files[sid]!r})").fetchone()[0]
            if art["rows"] != n:
                errors.append(f"{name}.{sid}: /collect rows {art['rows']} != {n}")
    return errors


def check_rerun(ctx, client, base, before, jobs0, jobs1, ops):
    """No-op runs start no job in their steps' groups and leave every durable
    record unchanged; an edit changes exactly the leaf's impression; the
    leaf's output equals DuckDB applying the edited SQL to the upstream
    step's parquet files; /collect row counts equal DuckDB's count."""
    errors = []
    base_imps = {k: r["impression"] for k, r in before.items()}
    for (name, sid), rec in before.items():
        now = client.logs(base[name]["rid"], sid)
        if now != rec:
            errors.append(f"{name}.{sid}: durable record changed: {rec} -> {now}")
        if jobs1.get(rec["impression"], 0) != jobs0.get(rec["impression"], 0):
            errors.append(f"{name}.{sid}: a Spark job ran in a cached step's group")
    edit_imps = {}
    arts = {o["rid"]: o["art"] for o in ops if o["kind"] == "collect"}
    for o in ops:
        if o["kind"] != "edit":
            continue
        name = o["shape"]
        leaf, up, sql = LEAVES[name]
        imps = {s["id"]: client.logs(o["rid"], s["id"])["impression"] for s in o["steps"]}
        for sid, imp in imps.items():
            if sid != leaf and imp != base_imps[(name, sid)]:
                errors.append(f"edit {o['rid']}: upstream step {sid} changed impression")
        if imps[leaf] in set(base_imps.values()) | set(edit_imps.values()):
            errors.append(f"edit {o['rid']}: leaf impression is not new")
        edit_imps[o["rid"]] = imps[leaf]
        up_dir = os.path.join(ctx.run_dir, "warehouse", imps[up])
        leaf_files = oracle.parquet_files(os.path.join(ctx.run_dir, "warehouse", imps[leaf]))
        con = oracle.connect(ctx.fixtures, {"up": oracle.parquet_files(up_dir)})
        why = (oracle.compare(con, f"SELECT * FROM read_parquet({leaf_files!r})",
                              sql.replace("${min}", o["value"]))
               or oracle.lineage_ok(con, leaf_files, imps[leaf]))
        if why:
            errors.append(f"edit {o['rid']}: {why}")
        art = arts.get(o["rid"])
        n = con.sql(f"SELECT count(*) FROM read_parquet({leaf_files!r})").fetchone()[0]
        if art and art["rows"] != n:
            errors.append(f"collect {o['rid']}: rows {art['rows']} != {n}")
    return errors, edit_imps
