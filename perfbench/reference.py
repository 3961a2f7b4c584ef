"""Reference figures: runs the benchmark once per seed on each workload and
prints, per reported metric, the median, the quartiles and their distance
as a share of the median (the spread the benchmark's bounds are set against).
With --trace 1 it also prints the end-to-end metrics of the traced runs, from
their run records, for the tracing overhead.

Run from the root of a checkout:

  python3 perfbench/reference.py [--seeds 1-10] [--workloads a,b] [--trace 0|1]
"""
import argparse
import json
import os
import subprocess
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
from build import build_dir  # noqa: E402
from reduce import quartiles, spread  # noqa: E402


def seeds(text):
    lo, _, hi = text.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def main(argv):
    with open("BENCHMARK.json") as f:
        bench = json.load(f)
    p = argparse.ArgumentParser()
    p.add_argument("--seeds", type=seeds, default=seeds("1-10"))
    p.add_argument("--workloads", default=",".join(w["name"] for w in bench["workloads"]))
    p.add_argument("--trace", default="0")
    args = p.parse_args(argv)
    for workload in args.workloads.split(","):
        runs = []
        for seed in args.seeds:
            out = subprocess.run(bench["command"] + [
                "--workload", workload, "--seed", str(seed),
                "--seconds", str(bench["run_seconds"]), "--trace", args.trace],
                stdout=subprocess.PIPE, text=True)
            line = json.loads(out.stdout.strip().splitlines()[-1])
            runs.append(line)
            print(f"# {workload} seed {seed}: correct={line['correct']} "
                  f"attempted={line['attempted']} failed={line['failed']}", flush=True)
        table(workload, {n: [r["metrics"][n]["value"] for r in runs] for n in runs[0]["metrics"]})
        if args.trace == "1":
            records = []
            for seed in args.seeds:
                with open(os.path.join(build_dir(), "results", f"{workload}-seed{seed}-trace1.json")) as f:
                    records.append(json.load(f)["metrics"])
            table(workload + " (traced, end to end)",
                  {m["name"]: [r[m["name"]] for r in records] for m in bench["end_to_end"]})


def table(title, samples):
    print(f"\n| {title} | q1 | median | q3 | spread |\n|---|---|---|---|---|")
    for name, xs in samples.items():
        q1, q2, q3 = quartiles(xs)
        share = f"{spread(xs):.3f}" if q2 else "-"
        print(f"| {name} | {q1:.4g} | {q2:.4g} | {q3:.4g} | {share} |")
    print(flush=True)


if __name__ == "__main__":
    main(sys.argv[1:])
