#!/usr/bin/env python3
"""Paired parent/change comparison on graft's benchmark.

    python3 perfbench/compare.py --parent ../graft-parent --change . \\
        [--pairs 10] [--workload relational ...] [--out pairs.json]

Both arguments are checkout roots holding the same perfbench/ tree (a
change that claims a gain may not edit the benchmark). Each pair runs
perfbench/run.py once in each checkout with the same seed and the run
length of BENCHMARK.json, alternating which side runs first. Per
workload and end-to-end metric it prints each side's median and
quartiles, the change's win fraction (ties count for neither side) and
a verdict:

  gain        the change wins at least 9/10 of the pairs and the medians
              differ by more than the parent's own quartile spread;
  regression  the change's median is worse than the parent's by more
              than the metric's bound;
  unresolved  the parent's spread (quartile distance over median) is
              wider than the bound, unless every change run beats every
              parent run;
  same        none of the above.
"""
import argparse
import hashlib
import json
import statistics
import subprocess
import sys
from pathlib import Path

BENCH = Path(__file__).resolve().parent


def tree_hash(root):
    """Hash of the benchmark's own source files in checkout `root`."""
    bench = root / "perfbench"
    files = [bench / "build.sbt", bench / "project/build.properties",
             *sorted((bench / "src").rglob("*.scala")), *sorted(bench.glob("*.py"))]
    h = hashlib.sha1()
    for f in files:
        h.update(str(f.relative_to(root)).encode() + f.read_bytes())
    return h.hexdigest()


def run(root, workload, seed, seconds):
    r = subprocess.run([sys.executable, "perfbench/run.py", "--workload", workload,
                        "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"],
                       cwd=root, stdout=subprocess.PIPE, text=True, timeout=1200)
    last = r.stdout.strip().splitlines()[-1] if r.stdout.strip() else ""
    if r.returncode != 0 or not last.startswith("{"):
        sys.exit(f"run failed in {root} ({workload}, seed {seed}), exit {r.returncode}")
    return json.loads(last)


def quartiles(v):
    if len(v) < 2:
        return v[0], v[0], v[0]
    q1, q2, q3 = statistics.quantiles(v, n=4)
    return q1, q2, q3


def verdict(metric, parent, change):
    lower = metric["better"] == "lower"
    better = (lambda a, b: a < b) if lower else (lambda a, b: a > b)
    wins = sum(better(c, p) for p, c in zip(parent, change))
    p1, pm, p3 = quartiles(parent)
    c1, cm, c3 = quartiles(change)
    spread = (p3 - p1) / pm if pm else float("inf")
    gained = pm - cm if lower else cm - pm
    all_better = all(better(c, p) for c in change for p in parent)
    if wins >= 0.9 * len(parent) and gained > p3 - p1:
        v = "gain"
    elif spread > metric["bound"] and not all_better:
        v = "unresolved"
    elif -gained / pm > metric["bound"]:
        v = "regression"
    else:
        v = "same"
    return (p1, pm, p3), (c1, cm, c3), wins / len(parent), spread, v


def main():
    ap = argparse.ArgumentParser(description="paired parent/change benchmark comparison")
    ap.add_argument("--parent", required=True, type=Path)
    ap.add_argument("--change", required=True, type=Path)
    ap.add_argument("--pairs", type=int, default=10)
    ap.add_argument("--workload", action="append")
    ap.add_argument("--out", type=Path)
    args = ap.parse_args()
    spec = json.loads((BENCH.parent / "BENCHMARK.json").read_text())
    parent, change = args.parent.resolve(), args.change.resolve()
    if tree_hash(parent) != tree_hash(change):
        sys.exit("the two checkouts hold different perfbench/ trees")
    workloads = args.workload or [w["name"] for w in spec["workloads"]]
    raw = {}
    for w in workloads:
        raw[w] = {"parent": [], "change": []}
        for i in range(args.pairs):
            seed = 1000 + i
            sides = [("parent", parent), ("change", change)]
            for side, root in (sides if i % 2 == 0 else sides[::-1]):
                raw[w][side].append(run(root, w, seed, spec["run_seconds"]))
                print(f"{w} pair {i + 1}/{args.pairs} {side} done", file=sys.stderr)
    if args.out:
        args.out.write_text(json.dumps(raw, indent=1))

    print(f"{'workload':<12} {'metric':<12} {'parent q1/med/q3':<28} "
          f"{'change q1/med/q3':<28} {'win':>5} {'spread':>7} {'bound':>6}  verdict")
    for w in workloads:
        for m in spec["end_to_end"]:
            p = [r["metrics"][m["name"]]["value"] for r in raw[w]["parent"]]
            c = [r["metrics"][m["name"]]["value"] for r in raw[w]["change"]]
            pq, cq, win, spread, v = verdict(m, p, c)
            fmt = "/".join(f"{x:.4g}" for x in pq), "/".join(f"{x:.4g}" for x in cq)
            print(f"{w:<12} {m['name']:<12} {fmt[0]:<28} {fmt[1]:<28} "
                  f"{win:>5.2f} {spread:>7.3f} {m['bound']:>6}  {v}")
        pf = sum(r["failed"] for r in raw[w]["parent"])
        cf = sum(r["failed"] for r in raw[w]["change"])
        print(f"{w:<12} failed ops: parent {pf}, change {cf}")


if __name__ == "__main__":
    main()
