#!/usr/bin/env python3
"""Compare two sets of benchmark result files.

  python3 perfbench/compare.py A_DIR B_DIR
  python3 perfbench/compare.py --run A_CHECKOUT B_CHECKOUT --workload registry_cold \
      --seeds 1-10 --seconds 12 --out DIR

A result file is what `run.py --save DIR` writes. For each (workload,
metric) the table shows each side's median and quartiles, B's median
relative to A's, and whether the two medians agree within the bound that
BENCHMARK.json fixes for the metric. The box's steal fraction is shown
per side, so that a comparison made on a noisy box is visible as such,
and so are each side's failed and attempted operations: where B fails a
larger share of its operations than A, every verdict of that workload is
"invalid", since a failing operation can be faster than a correct one.

With `--run`, the two checkouts are first run on every seed, alternating
which side goes first (A B, B A, A B, ...), and their result files land
in OUT/a and OUT/b.
"""
import argparse
import glob
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import layers  # noqa: E402


def load(d):
    out = []
    for p in sorted(glob.glob(os.path.join(d, "*.json"))):
        with open(p) as f:
            out.append(json.load(f))
    return out


def quartiles(values):
    if len(values) < 2:
        return values[0], values[0], values[0]
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return q1, statistics.median(values), q3


def bounds():
    return {m["name"]: m for m in layers.SPEC["end_to_end"]}


def failures(runs):
    """(failed, attempted) operations over a side's runs."""
    return sum(r["failed"] for r in runs), sum(r["attempted"] for r in runs)


def compare(a_runs, b_runs, spec):
    """Rows of the table, and per workload each side's (failed,
    attempted) plus whether B's larger failure share voids the verdicts."""
    rows, fails = [], {}
    workloads = sorted({r["details"]["workload"] for r in a_runs + b_runs})
    for w in workloads:
        a = [r for r in a_runs if r["details"]["workload"] == w]
        b = [r for r in b_runs if r["details"]["workload"] == w]
        fa, fb = failures(a), failures(b)
        invalid = fb[0] * max(1, fa[1]) > fa[0] * max(1, fb[1])
        names = sorted(set().union(*(r["metrics"] for r in a + b)))
        for name in names + ["box.steal_frac"]:
            def vals(runs):
                if name == "box.steal_frac":
                    return [r["details"]["box"]["box.steal_frac"] for r in runs]
                return [r["metrics"][name]["value"] for r in runs if name in r["metrics"]]
            va, vb = vals(a), vals(b)
            if not va or not vb:
                continue
            qa, qb = quartiles(va), quartiles(vb)
            rel = qb[1] / qa[1] - 1.0 if qa[1] else float("nan")
            m = spec.get(name)
            if m is None:
                verdict = ""
            elif invalid:
                verdict = "invalid"
            elif abs(rel) <= m["bound"]:
                verdict = "agree"
            else:
                worse = rel > 0 if m["better"] == "lower" else rel < 0
                verdict = "worse" if worse else "better"
            rows.append((w, name, qa, qb, rel, m["bound"] if m else None, verdict,
                         len(va), len(vb)))
        fails[w] = (fa, fb, invalid)
    return rows, fails


def show(rows, fails):
    print(f"{'workload':16} {'metric':14} {'A q1/med/q3':>28} {'B q1/med/q3':>28} "
          f"{'B/A-1':>8} {'bound':>6}  verdict  n")
    for w, name, qa, qb, rel, bound, verdict, na, nb in rows:
        fa = "/".join(f"{x:.4g}" for x in qa)
        fb = "/".join(f"{x:.4g}" for x in qb)
        fbnd = f"{bound:.2f}" if bound is not None else ""
        print(f"{w:16} {name:14} {fa:>28} {fb:>28} {rel:>+8.3f} {fbnd:>6}  {verdict:7}  {na}/{nb}")
    for w, (fa, fb, invalid) in fails.items():
        print(f"{w:16} failed/attempted: A {fa[0]}/{fa[1]}, B {fb[0]}/{fb[1]}"
              + ("  -- B fails more: comparison invalid" if invalid else ""))


def seeds(spec):
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def run_sides(a_root, b_root, workload, seed_list, seconds, out):
    for i, seed in enumerate(seed_list):
        order = [("a", a_root), ("b", b_root)]
        if i % 2:
            order.reverse()
        for side, root in order:
            r = subprocess.run([sys.executable, "perfbench/run.py", "--workload", workload,
                                "--seed", str(seed), "--seconds", str(seconds), "--trace", "0",
                                "--save", os.path.abspath(os.path.join(out, side))],
                               cwd=root, stdout=subprocess.DEVNULL)
            if r.returncode != 0:
                sys.exit(f"{side} failed on seed {seed}")


def main():
    ap = argparse.ArgumentParser(description="Compare two sets of benchmark results.")
    ap.add_argument("sides", nargs=2, help="two result directories, or two checkouts with --run")
    ap.add_argument("--run", action="store_true")
    ap.add_argument("--workload")
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--seconds", type=float, default=12)
    ap.add_argument("--out")
    a = ap.parse_args()
    if a.run:
        if not (a.workload and a.out):
            ap.error("--run needs --workload and --out")
        run_sides(a.sides[0], a.sides[1], a.workload, seeds(a.seeds), a.seconds, a.out)
        dirs = [os.path.join(a.out, "a"), os.path.join(a.out, "b")]
    else:
        dirs = a.sides
    show(*compare(load(dirs[0]), load(dirs[1]), bounds()))


if __name__ == "__main__":
    main()
