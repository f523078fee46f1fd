#!/usr/bin/env python3
"""Per-op Spark job timeline of one op kind, from a traced perfbench run.

    python3 tools/job_timeline.py .bench_build/results/<traced run>.json mining_kmeans

A traced run (`perfbench/run.py ... --trace 1`) records every Spark job
with the job group `<op id>#build` (the query's construction, before
its action) or `<op id>#action` (the timed `.count()`). This prints, for
the named op kind, one summary line per timed op, the per-op means,
and the job-by-job timeline of the first timed op: offsets are
milliseconds from the op's start.
"""
import json
import sys


def main():
    if len(sys.argv) != 3:
        sys.exit(__doc__)
    res = json.load(open(sys.argv[1]))
    name = sys.argv[2]
    ops = [o for o in res["ops"] if o["phase"] == "timed" and o["op"] == name]
    if not ops:
        sys.exit(f"no timed {name} ops in {sys.argv[1]}")
    jobs = {}
    for j in res["spans"]["jobs"]:
        op_id, _, part = j["group"].rpartition("#")
        jobs.setdefault(op_id, []).append((part, j))

    print(f"# {name}: workload {res['workload']}, seed {res['seed']}, "
          f"{res['cores']} cores, {len(ops)} timed ops")
    print(f"{'op':<28} {'wall_s':>7} {'build_s':>7} {'jobs':>4} {'build_jobs':>10}")
    rows = []
    for o in ops:
        js = jobs.get(o["id"], [])
        row = ((o["end_ms"] - o["start_ms"]) / 1000,
               (o["build_end_ms"] - o["start_ms"]) / 1000,
               len(js), sum(part == "build" for part, _ in js))
        rows.append(row)
        print(f"{o['id']:<28} {row[0]:>7.3f} {row[1]:>7.3f} {row[2]:>4} {row[3]:>10}")
    mean = [sum(r[i] for r in rows) / len(rows) for i in range(4)]
    print(f"{'mean':<28} {mean[0]:>7.3f} {mean[1]:>7.3f} {mean[2]:>4.1f} {mean[3]:>10.1f}")

    first = ops[0]
    print(f"\n# job timeline of {first['id']} "
          f"(build ends at +{first['build_end_ms'] - first['start_ms']:.0f} ms)")
    print(f"{'job':>5} {'part':<6} {'start_ms':>8} {'dur_ms':>6} {'stages':>6}")
    for part, j in sorted(jobs.get(first["id"], []), key=lambda pj: pj[1]["start_ms"]):
        print(f"{j['job']:>5} {part:<6} {j['start_ms'] - first['start_ms']:>8.0f} "
              f"{j['end_ms'] - j['start_ms']:>6} {j['stages']:>6}")


if __name__ == "__main__":
    main()
