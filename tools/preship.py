#!/usr/bin/env python3
"""Pre-ship gate: no declared-map change ships unexecuted.

Two rounds running, the round's one integrity defect was work that
bypassed its own verification (r9: fictional test citations; r10: a
declared query swept into the snapshot commit that crashed on every
fixture). This script is the mechanism replacing discipline: run it
before EVERY commit that touches src/main.

What it does
  1. Diffs the working tree (staged + unstaged) against HEAD.
  2. Maps each changed src/main file to the declared queries it gates:
     - a file with its own `"name" -> impl` registry entries gates ALL
       of them (file-level granularity is deliberately conservative —
       a changed helper can affect any query in the file);
     - a file with no registry (e.g. functions/RollingHash.scala) gates
       every registry file that references its top-level type names.
  3. Runs graft.Verify with SPARK_GRAFT_VERIFY_ONLY=<gated names> at
     sf0.01 and checks the DuckDB oracle via tools/check.py.
  4. Runs every ScalaTest spec that was itself changed OR references a
     changed file's top-level object name.

Exit 0 = gate passed (or nothing to gate). Non-zero = DO NOT COMMIT.

Usage: python3 tools/preship.py [--dry-run] [--sf DIR] [--skip-tests]
"""
import argparse
import os
import re
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
MAIN = "src/main/scala"
TEST = "src/test/scala"


def sh(args, **kw):
    return subprocess.run(args, cwd=REPO, text=True,
                          capture_output=True, **kw)


def changed_files():
    out = sh(["git", "diff", "HEAD", "--name-only"]).stdout.split()
    # include untracked sources too — brand-new files are exactly the
    # never-executed risk this gate exists for
    unt = sh(["git", "ls-files", "--others", "--exclude-standard"]).stdout.split()
    files = sorted(set(out) | set(unt))
    return ([f for f in files if f.startswith(MAIN) and f.endswith(".scala")],
            [f for f in files if f.startswith(TEST) and f.endswith(".scala")],
            [f for f in files if f.startswith("tools/") and f.endswith(".scala")])


REG_KEY = re.compile(r'"([a-z][a-z0-9_]*)"\s*->')
# modifier-aware: a file whose top-level types all carry modifiers (e.g.
# `final class HttpApi`) must still yield its type names — with an empty
# set it would match neither gate branch and slip through silently
# (ADVICE r11). `private[graft]`-style scoped modifiers included.
TOP_TYPE = re.compile(
    r'^(?:(?:private|protected|final|sealed|abstract|implicit|case)'
    r'(?:\[\w+\])?\s+)*(?:object|class|trait)\s+([A-Za-z_]\w*)',
    re.M)


# the declared-query registry: `val queries: Map[String, Q] = Map(`
QUERIES_MAP = re.compile(r'val\s+queries\s*:\s*Map\[String,.*?\]\s*=\s*Map\(', re.S)


def queries_body(src):
    """The source between a file's `val queries: Map[String, ...] = Map(`
    and its matching `)`, or None if it declares no such map. String
    literals are skipped so a paren inside one cannot end the body."""
    m = QUERIES_MAP.search(src)
    if not m:
        return None
    depth, i = 1, m.end()
    while i < len(src) and depth:
        if src.startswith('"""', i):
            j = src.find('"""', i + 3)
            i = len(src) if j < 0 else j + 3
            continue
        c = src[i]
        if c == '"':
            i += 1
            while i < len(src) and src[i] != '"':
                i += 2 if src[i] == '\\' else 1
        elif c == '(':
            depth += 1
        elif c == ')':
            depth -= 1
        i += 1
    return src[m.end():i - 1]


def parse_registry(src):
    """(declared-query keys, top-level type names) of one Scala source.
    Keys are the `"name" -> impl` pairs inside the `val queries` map body
    only: step specs, transform parameters and oracle maps elsewhere in
    the file share the arrow shape but are not declared queries."""
    # strip line comments/scaladoc so documented examples don't gate
    stripped = re.sub(r'//[^\n]*', '', src)
    stripped = re.sub(r'/\*.*?\*/', '', stripped, flags=re.S)
    body = queries_body(stripped)
    keys = set(REG_KEY.findall(body)) if body is not None else set()
    return keys, set(TOP_TYPE.findall(stripped))


def registry_keys(path):
    """parse_registry of the file at `path` (relative to the repo root)."""
    try:
        with open(os.path.join(REPO, path)) as f:
            return parse_registry(f.read())
    except FileNotFoundError:
        return set(), set()


def all_main_files():
    out = sh(["git", "ls-files", MAIN]).stdout.split()
    return [f for f in out if f.endswith(".scala")]


def gated_queries(changed_main):
    """Returns (gated query names, log lines, changed files gating NOTHING).

    Every changed main file lands in exactly one bucket: its own registry
    keys, the keys of registries referencing its top-level types, or the
    ungated list — which main() refuses to pass silently (ADVICE r11: the
    never-executed-change class is exactly what this gate exists for)."""
    gated, reasons, ungated = set(), [], []
    info = {f: registry_keys(f) for f in all_main_files()}
    for f in changed_main:
        keys, types = info.get(f) or registry_keys(f)
        if keys:
            gated |= keys
            reasons.append(f"{f}: gates its own {len(keys)} declared queries")
            continue
        # no registry here — gate every registry file referencing this
        # file's top-level names (word-boundary match on real code lines)
        hit = set()
        for g, (gkeys, _) in info.items():
            if g == f or not gkeys:
                continue
            with open(os.path.join(REPO, g)) as fh:
                gsrc = fh.read()
            if any(re.search(r'\b' + re.escape(t) + r'\b', gsrc)
                   for t in types):
                hit |= gkeys
                reasons.append(f"{f}: referenced by {g} -> {len(gkeys)} queries")
        if hit:
            gated |= hit
        else:
            ungated.append(f)
            reasons.append(f"{f}: gates NO declared query "
                           f"(top-level types: {sorted(types) or 'NONE'})")
    return gated, reasons, ungated


PACKAGE = re.compile(r'^package\s+([\w.]+)', re.M)
SUITE_CLASS = re.compile(
    r'^(?:final\s+)?class\s+([A-Za-z_]\w*)\b[^\n{]*\bextends\b', re.M)


def spec_class(path):
    """Fully qualified class name of the suite a test source defines, e.g.
    src/test/scala/graft/pipeline/StatusRecordSpec.scala ->
    graft.pipeline.StatusRecordSpec. None when the file is gone (a deleted
    spec cannot be run) or defines no concrete suite class (a trait such as
    SparkSpec, an object such as ListenerBusAccess)."""
    try:
        with open(os.path.join(REPO, path)) as f:
            src = f.read()
    except FileNotFoundError:
        return None
    m = SUITE_CLASS.search(src)
    if not m:
        return None
    pkgs = PACKAGE.findall(src)
    return ".".join(pkgs + [m.group(1)])


def specs_referencing(files):
    """Specs whose source references any top-level type of `files`."""
    names = set()
    for f in files:
        _, types = registry_keys(f)
        names |= types
    specs = set()
    if names:
        for t in sh(["git", "ls-files", TEST]).stdout.split():
            if not t.endswith(".scala"):
                continue
            with open(os.path.join(REPO, t)) as fh:
                src = fh.read()
            if any(re.search(r'\b' + re.escape(n) + r'\b', src)
                   for n in names):
                specs.add(spec_class(t))
    return specs - {None}


def changed_specs(changed_test):
    """Suites defined by the changed test files that still exist."""
    return {spec_class(t) for t in changed_test} - {None}


def touched_specs(changed_main, changed_test):
    return sorted(changed_specs(changed_test) | specs_referencing(changed_main))


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--dry-run", action="store_true",
                    help="print the gate plan, run nothing")
    ap.add_argument("--sf", default="/root/testdata/sf0.01")
    ap.add_argument("--out", default="/tmp/preship_verify")
    ap.add_argument("--skip-tests", action="store_true",
                    help="skip the FULL touched-spec run (when the suite "
                         "just ran) — the test tree still COMPILES, and a "
                         "main change whose ONLY coverage is a spec still "
                         "runs that spec (r13's RED suite shipped through "
                         "an unconditional --skip-tests hook)")
    ap.add_argument("--allow-uncovered", action="store_true",
                    help="let a main change with no gating query AND no "
                         "covering spec pass (say why in the commit)")
    a = ap.parse_args()

    changed_main, changed_test, changed_tools = changed_files()
    if not changed_main and not changed_test and not changed_tools:
        print("[preship] working tree matches HEAD under src/ or tools/ — "
              "nothing to gate")
        return 0

    gated, reasons, ungated = gated_queries(changed_main)
    specs = touched_specs(changed_main, changed_test)
    for r in reasons:
        print(f"[preship] {r}")
    print(f"[preship] gated queries: {len(gated)}; specs: {len(specs)}")
    # A changed main file that gates no declared query AND is exercised by
    # no spec would pass this gate completely unexecuted — exactly the
    # class the gate exists to catch. Refuse (ADVICE r11).
    spec_srcs = {}
    for t in sh(["git", "ls-files", TEST]).stdout.split():
        if t.endswith(".scala"):
            with open(os.path.join(REPO, t)) as fh:
                spec_srcs[t] = fh.read()

    def spec_covers(f):
        _, types = registry_keys(f)
        return any(re.search(r'\b' + re.escape(ty) + r'\b', src)
                   for ty in types for src in spec_srcs.values())

    uncovered = [f for f in ungated if not spec_covers(f)]
    for f in uncovered:
        print(f"[preship] UNCOVERED: {f} is executed by neither a declared "
              f"query nor a touched spec — add coverage or gate manually")
    if uncovered and not a.allow_uncovered and not a.dry_run:
        print("[preship] FAIL: uncovered main change "
              "(--allow-uncovered to override)")
        return 1

    # THE r13 HOLE, closed (VERDICT r13 #1/#3): the whole tree — test
    # sources included — must COMPILE on every gated commit, regardless of
    # --skip-tests. A src/main signature change with stale spec call sites
    # is a COMPILE break, not a test failure, and r13 shipped exactly that
    # (needsRegate lost two params; BenchLineSpec kept calling the 4-arg
    # form) through the unconditional --skip-tests hook. tools/*.scala
    # (an unmanaged source dir, not part of the normal build) are added to
    # the compile whenever one changed, so a probe/generator can't rot to
    # non-compiling either.
    compile_cmd = ["sbt", "-batch"]
    if changed_tools:
        compile_cmd.append(
            'set Compile/unmanagedSourceDirectories += file("tools")')
    compile_cmd.append("Test/compile")
    # MANDATORY even under --skip-tests: specs that are the ONLY executable
    # coverage of a changed main file (the file gates no declared query),
    # plus any spec file that itself changed — both are cheap relative to
    # the full touched-spec closure, and skipping them is how unexecuted
    # changes ship.
    spec_only_main = [f for f in ungated if f not in uncovered]
    mandatory = specs_referencing(spec_only_main) | changed_specs(changed_test)
    # ADVICE r14: plan-SHAPE pins are value-invisible — the oracle verifies
    # a registry-gated change's VALUES, but a broadcast→shuffle or
    # semi→nested-loop regression keeps values identical, so PlanSpec is
    # the only executable coverage of the shape. It references queries by
    # their DECLARED NAME (SparkEntry.queries("tq21_...")), which the
    # type-name matcher above can't see; when it pins any registry key or
    # type of a changed main file, it joins the mandatory set too.
    plan_src = spec_srcs.get(f"{TEST}/graft/PlanSpec.scala", "")

    def plan_pinned(f):
        keys, types = registry_keys(f)
        return (any(f'"{k}"' in plan_src for k in keys) or
                any(re.search(r'\b' + re.escape(ty) + r'\b', plan_src)
                    for ty in types))

    if plan_src and any(plan_pinned(f) for f in changed_main):
        mandatory.add("graft.PlanSpec")
    mandatory = sorted(mandatory)

    if a.dry_run:
        print("[preship] dry run:")
        print(f"  {' '.join(compile_cmd)}")
        if gated:
            print(f"  SPARK_GRAFT_VERIFY_ONLY={','.join(sorted(gated))} "
                  f"sbt 'runMain graft.Verify {a.sf} {a.out}'")
            print(f"  python3 tools/check.py {a.sf} {a.out}")
        if specs and not a.skip_tests:
            print(f"  sbt 'testOnly {' '.join(specs)}'")
        elif mandatory:
            print(f"  sbt 'testOnly {' '.join(mandatory)}'  # mandatory "
                  f"even under --skip-tests")
        if any(f.startswith(f"{MAIN}/graft/ops/") for f in changed_main):
            print(f"  sbt 'runMain graft.tools.TrapSweep {a.sf}'  "
                  f"# ops/ changed -> exploded-broadcast sweep")
        return 0

    what = "src+test" + ("+tools" if changed_tools else "")
    print(f"[preship] compiling the full tree ({what}) ...")
    r = subprocess.run(compile_cmd, cwd=REPO)
    if r.returncode != 0:
        print("[preship] FAIL: tree does not compile")
        return 1

    if gated:
        subprocess.run(["rm", "-rf", a.out])
        env = dict(os.environ, SPARK_GRAFT_VERIFY_ONLY=",".join(sorted(gated)))
        print(f"[preship] verifying {len(gated)} queries at {a.sf} ...")
        r = subprocess.run(
            ["sbt", "-batch", f"runMain graft.Verify {a.sf} {a.out}"],
            cwd=REPO, env=env)
        if r.returncode != 0:
            print("[preship] FAIL: Verify crashed")
            return 1
        r = subprocess.run(
            [sys.executable, "tools/check.py", a.sf, a.out], cwd=REPO)
        if r.returncode != 0:
            print("[preship] FAIL: oracle mismatch")
            return 1
    to_run = specs if not a.skip_tests else mandatory
    if to_run:
        label = ("touched" if not a.skip_tests
                 else "mandatory (spec-only coverage / changed specs)")
        print(f"[preship] running {len(to_run)} {label} specs ...")
        r = subprocess.run(["sbt", "-batch", "testOnly " + " ".join(to_run)],
                          cwd=REPO)
        if r.returncode != 0:
            print("[preship] FAIL: spec failure")
            return 1

    # VERDICT r16 stretch #7: an ops/ change re-plans declared queries, so
    # run the standalone exploded-broadcast sweep (tools/TrapSweep) over
    # ALL declared static plans. This is the same predicate as PlanSpec's
    # all-queries gate but with per-query error isolation and timings, and
    # it runs even under --skip-tests (a hint dropped in refactoring is
    # exactly the silent, value-invisible regression class).
    if any(f.startswith(f"{MAIN}/graft/ops/") for f in changed_main):
        print("[preship] ops/ changed — running the exploded-broadcast "
              "trap sweep over all declared plans ...")
        r = subprocess.run(
            ["sbt", "-batch",
             'set Compile/unmanagedSourceDirectories += file("tools")',
             f"runMain graft.tools.TrapSweep {a.sf}"], cwd=REPO)
        if r.returncode != 0:
            print("[preship] FAIL: trap sweep flagged a statically-"
                  "broadcast raw exploded side (or a query failed to plan)")
            return 1
    print("[preship] gate PASSED — safe to commit")
    return 0


if __name__ == "__main__":
    sys.exit(main())
