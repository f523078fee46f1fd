#!/usr/bin/env python3
"""Per-layer report of traced benchmark runs.

    python3 perfbench/layers.py --out perfbench/results .bench_build/results/*.json

Takes result files written by perfbench/run.py. For each workload it
reports the newest traced run, and the tracing overhead as the median
of the traced runs' end-to-end metrics against that of the untraced
runs (one run alone mixes host noise into the overhead). Writes
LAYERS.md (per-layer metrics, per-op breakdown, tracing overhead) and
one traced_<workload>.json per workload, spans included, to --out.
"""
import argparse
import json
import statistics
from pathlib import Path

E2E = ["setup_s", "op_p50_s", "op_tail_s", "ops_per_s"]


def main():
    ap = argparse.ArgumentParser(description="per-layer report of traced runs")
    ap.add_argument("--out", required=True, type=Path)
    ap.add_argument("results", nargs="+", type=Path)
    args = ap.parse_args()
    runs = [json.loads(p.read_text()) for p in args.results]
    workloads = sorted({r["workload"] for r in runs if r["traced"]})
    traced, all_traced, plain = {}, {}, {}
    for w in workloads:
        mine = [r for r in runs if r["workload"] == w]
        all_traced[w] = [r for r in mine if r["traced"]]
        traced[w] = max(all_traced[w], key=lambda r: r["section_start_ms"])
        plain[w] = [r for r in mine if not r["traced"]]
    args.out.mkdir(parents=True, exist_ok=True)
    for w, r in traced.items():
        keep = {k: r[k] for k in ("workload", "seed", "cores", "passes",
                                  "end_to_end", "tail", "per_layer", "per_op",
                                  "noise", "setups", "spans")}
        keep["fixture"] = Path(r["fixture"]).name
        (args.out / f"traced_{w}.json").write_text(json.dumps(keep))

    lines = ["# Per-layer profile of one traced run per workload", ""]
    lines += [f"Written by `perfbench/layers.py` from `perfbench/run.py --trace 1` "
              f"runs ({traced[workloads[0]]['cores']} cores, fixture "
              f"`{Path(traced[workloads[0]]['fixture']).name}`). Per-op values are means "
              "over the timed ops of the run.", ""]
    for w in workloads:
        r = traced[w]
        lines.append(f"- `{w}`: seed {r['seed']}, {r['passes']} passes, "
                     f"{r['tail']['samples']} timed ops, calibration "
                     f"{[round(c, 3) for c in r['noise']['cal_sec']]} s, steal "
                     f"{r['noise']['steal_jiffies_delta']} jiffies")
    lines += ["", "## Per-layer metrics", "",
              "| metric | " + " | ".join(workloads) + " |",
              "|---|" + "---:|" * len(workloads)]
    for k in traced[workloads[0]]["per_layer"]:
        lines.append(f"| `{k}` | " + " | ".join(
            f"{traced[w]['per_layer'][k]:.4g}" for w in workloads) + " |")
    lines += ["", "## Per op", "",
              "| workload | op | ops | wall s | build s | build share | jobs/op "
              "| build jobs/op | executor run s |",
              "|---|---|---:|---:|---:|---:|---:|---:|---:|"]
    for w in workloads:
        for op, m in traced[w]["per_op"].items():
            lines.append(f"| {w} | `{op}` | {m['ops']} | {m['wall_s']:.3f} | "
                         f"{m['build_s']:.3f} | {m['build_s'] / m['wall_s']:.0%} | "
                         f"{m['jobs']:.1f} | {m['build_jobs']:.1f} | "
                         f"{m['executor_run_s']:.3f} |")
    lines += ["", "## Per workload", "",
              "Jobs per timed op, and the share of query-op wall time spent in "
              "`fn(spark, dir)` (query construction) rather than in `.count()`.", "",
              "| workload | jobs/op | construction share of query-op wall |",
              "|---|---:|---:|"]
    for w in workloads:
        q = [m for m in traced[w]["per_op"].values() if m["kind"] == "query"]
        wall = sum(m["wall_s"] * m["ops"] for m in q)
        share = (f"{sum(m['build_s'] * m['ops'] for m in q) / wall:.0%}"
                 if wall else "no query ops")
        lines.append(f"| {w} | {traced[w]['per_layer']['scheduler.jobs']:.3g} | {share} |")
    lines += ["", "## Tracing overhead", "",
              "Median of the traced runs minus median of the untraced runs, as a "
              "share of the latter.", "",
              "| workload | metric | untraced median | traced median | overhead "
              "| untraced runs | traced runs |",
              "|---|---|---:|---:|---:|---:|---:|"]
    for w in workloads:
        if not plain[w]:
            continue
        for k in E2E:
            base = statistics.median(r["end_to_end"][k] for r in plain[w])
            t = statistics.median(r["end_to_end"][k] for r in all_traced[w])
            lines.append(f"| {w} | `{k}` | {base:.4g} | {t:.4g} | "
                         f"{(t - base) / base:+.1%} | {len(plain[w])} | "
                         f"{len(all_traced[w])} |")
    (args.out / "LAYERS.md").write_text("\n".join(lines) + "\n")


if __name__ == "__main__":
    main()
