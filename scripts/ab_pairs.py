#!/usr/bin/env python3
"""Paired parent/change runs of the repository benchmark (perfbench/run.py).

Usage (from the root of a checkout):

    python3 scripts/ab_pairs.py [--base REV] [--workload NAME ...] [--pairs N]
                                [--seed S] [--workdir DIR]

The change is this checkout's working tree. The parent is REV (default
HEAD, so an uncommitted change; pass --base HEAD~1 once it is committed),
exported with `git archive` into a fresh directory under --workdir
(default: a new temporary directory), so it builds into its own target/
and the two sides never share compiled classes. The script stops if the
working tree does not differ from REV. Each pair runs
`perfbench/run.py --trace 0` once per side on the same seed, for
BENCHMARK.json's run_seconds, alternating which side goes first; pair i
uses seed S+i.

For every end-to-end metric that BENCHMARK.json declares, the report gives
each side's median and quartiles, the change's wins over the pairs (ties
count for neither side), and whether the medians differ by more than the
parent's interquartile range. A gain holds when the change wins at least
nine tenths of the pairs and the medians differ by more than that range.
Every run's metrics are also written to DIR/pairs.json.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import tempfile

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def differs_from(rev):
    """Whether the working tree differs from `rev`: a tracked change, or
    an untracked file the parent export would not contain."""
    diff = subprocess.run(["git", "diff", "--quiet", rev], cwd=ROOT)
    if diff.returncode not in (0, 1):
        raise SystemExit(f"git diff against {rev} failed")
    untracked = subprocess.run(["git", "ls-files", "--others", "--exclude-standard"],
                               cwd=ROOT, check=True, stdout=subprocess.PIPE, text=True).stdout
    return diff.returncode == 1 or bool(untracked.strip())


def at_least_two(text):
    n = int(text)
    if n < 2:
        raise argparse.ArgumentTypeError("quartiles need at least 2 pairs")
    return n


def export_parent(rev, dest):
    os.makedirs(dest)
    archive = subprocess.run(["git", "archive", rev], cwd=ROOT, check=True,
                             stdout=subprocess.PIPE).stdout
    subprocess.run(["tar", "-x", "-C", dest], input=archive, check=True)


def run_once(checkout, workload, seed, seconds):
    """One untraced benchmark run; returns its result line."""
    p = subprocess.run([sys.executable, "perfbench/run.py", "--workload", workload,
                        "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"],
                       cwd=checkout, stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True)
    if p.returncode != 0:
        sys.stderr.write(p.stderr[-3000:])
        raise SystemExit(f"run failed in {checkout}: {workload} seed {seed}")
    return json.loads(p.stdout.strip().splitlines()[-1])


def report(workload, metrics, runs):
    n = len(runs)
    print(f"\n## {workload}: {n} pairs")
    for r in runs:
        if not (r["parent"]["correct"] and r["change"]["correct"]):
            print(f"  seed {r['seed']}: a run was not correct "
                  f"(parent {r['parent']['correct']}, change {r['change']['correct']})")
    print(f"{'metric':10s} {'side':7s} {'median':>9s} {'q1':>9s} {'q3':>9s}  runs")
    for m in metrics:
        name, lower = m["name"], m["better"] == "lower"
        vals = {side: [r[side]["metrics"][name]["value"] for r in runs]
                for side in ("parent", "change")}
        stats = {side: statistics.quantiles(v, n=4, method="inclusive")
                 for side, v in vals.items()}
        for side in ("parent", "change"):
            q1, med, q3 = stats[side]
            print(f"{name:10s} {side:7s} {med:9.3f} {q1:9.3f} {q3:9.3f}  "
                  + " ".join(f"{v:.3f}" for v in vals[side]))
        wins = sum((c < p) if lower else (c > p) for p, c in zip(vals["parent"], vals["change"]))
        losses = sum((c > p) if lower else (c < p) for p, c in zip(vals["parent"], vals["change"]))
        p_med, c_med = stats["parent"][1], stats["change"][1]
        iqr = stats["parent"][2] - stats["parent"][0]
        delta = c_med - p_med
        gain = wins * 10 >= 9 * n and abs(delta) > iqr and (delta < 0) == lower
        print(f"{name:10s} change wins {wins}/{n} (loses {losses}); median "
              f"{delta:+.3f} ({delta / p_med:+.1%} of parent); parent IQR {iqr:.3f}; "
              f"gain {'holds' if gain else 'not shown'}")


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--base", default="HEAD", help="parent revision (default HEAD)")
    ap.add_argument("--workload", action="append",
                    help="workload to run (repeatable; default: every BENCHMARK.json workload)")
    ap.add_argument("--pairs", type=at_least_two, default=10)
    ap.add_argument("--seed", type=int, default=1000, help="seed of the first pair")
    ap.add_argument("--workdir", default=None)
    args = ap.parse_args()

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    workloads = args.workload or [w["name"] for w in bench["workloads"]]
    if not differs_from(args.base):
        raise SystemExit(f"the working tree does not differ from {args.base}; "
                         "pass the parent revision with --base")
    workdir = args.workdir or tempfile.mkdtemp(prefix="ab_pairs_")
    os.makedirs(workdir, exist_ok=True)
    parent = os.path.join(workdir, "parent")
    export_parent(args.base, parent)
    print(f"parent {args.base} in {parent}; change is {ROOT}", flush=True)
    sides = {"parent": parent, "change": ROOT}

    results = {}
    for w in workloads:
        runs = []
        for i in range(args.pairs):
            seed = args.seed + i
            order = ("parent", "change") if i % 2 == 0 else ("change", "parent")
            pair = {"seed": seed, "first": order[0]}
            for side in order:
                pair[side] = run_once(sides[side], w, seed, bench["run_seconds"])
            runs.append(pair)
            print(f"{w} seed {seed}: " + ", ".join(
                f"{side} op_s {pair[side]['metrics']['op_s']['value']:.2f}"
                for side in ("parent", "change")), flush=True)
            results[w] = runs
            with open(os.path.join(workdir, "pairs.json"), "w") as f:
                json.dump(results, f, indent=1)
    for w in workloads:
        report(w, bench["end_to_end"], results[w])


if __name__ == "__main__":
    main()
