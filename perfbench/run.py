#!/usr/bin/env python3
"""graft's benchmark: one workload, one seed, one run.

Run from the root of a checkout:

    python3 perfbench/run.py --workload iterative --seed 1 --seconds 10 --trace 0

It builds the library and the harness from source (once per source
stamp, into .bench_build/ and the sbt target directories), runs the
harness in one JVM on local[cores], checks every output, writes a
result file to .bench_build/results/ and prints, last, one JSON line:
{"correct", "attempted", "failed", "metrics"}. With --trace 0 the
metrics are the end-to-end ones; with --trace 1 the harness registers
its listeners and the metrics are the per-layer ones.

Output checks, each failure counted against the op it concerns:
  * every query op's row count against the DuckDB oracle count of
    SparkEntry.oracleSql (cached per fixture stamp in perfbench/.oracle/);
    queries without an oracle must return rows;
  * one untimed full-value parity pass per run, by tools/parity.py;
  * every stream twin's total output against its batch form.
"""
import argparse
import hashlib
import json
import os
import re
import shutil
import statistics
import subprocess
import sys
import time
from pathlib import Path

BENCH = Path(__file__).resolve().parent
ROOT = Path.cwd()
BUILD = ROOT / ".bench_build"
DEADLINE_S = 175     # for one run, not counting a build

# Why each workload exists is recorded in BENCHMARK.json. A run makes
# `passes` timed passes per 10 s of --seconds, a fixed amount of work,
# so that a slow or fast host changes the times but never the number of
# samples or the rank the tail is read at. A query listed twice runs
# twice per pass: on `iterative` that puts both the median and the tail
# in mining_kmeans' band.
#
# `ingest` feeds each stream twin graft.StreamBench's input in
# StreamBench's 10 micro-batches per pass, open-loop: twin t's batches
# are due `twins[t]` seconds apart. That interval is the twin's median
# closed-loop batch cost on 4 cores (INTERVAL_BASIS) divided by
# UTILIZATION, so a twin that gets 1/UTILIZATION times slower saturates
# and its batches queue.
UTILIZATION = 0.7
INTERVAL_BASIS = {"decontaminate_index": 0.38, "dedup_state": 0.51}
WORKLOADS = {
    "relational": {
        "queries": ["agg_pricing_summary", "tpch_q3_shipping",
                    "tpch_q6_forecast", "tpch_q13_custdist",
                    "tpch_q22_balance"],
        "twins": {},
        "passes": 5,
    },
    "iterative": {
        "queries": ["mining_kmeans", "mining_kmeans", "merge_upsert_snapshot"],
        "twins": {},
        "passes": 8,
    },
    "ingest": {
        "queries": [],
        "twins": {t: round(c / UTILIZATION, 3) for t, c in INTERVAL_BASIS.items()},
        "passes": 2,
    },
}
SETUP_REPS = 3
BATCHES = 10         # micro-batches per twin per pass, as graft.StreamBench
JAVA_OPTS = [
    *[f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
        "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
        "java.net", "java.nio", "java.util", "java.util.concurrent",
        "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
        "sun.security.action", "sun.util.calendar")],
    "-Xmx6g", "-Dspark.sql.session.timeZone=UTC",
]
PROGRAM = ["build.sbt", "project/build.properties", "src/main/scala",
           "tools/parity.py"]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def stamp(paths):
    """Hash of (path, size, mtime) of every file under `paths`."""
    h = hashlib.sha1()
    for p in paths:
        files = sorted(p.rglob("*")) if p.is_dir() else [p]
        for f in files:
            if f.is_file():
                st = f.stat()
                h.update(f"{f}:{st.st_size}:{st.st_mtime_ns}\n".encode())
    return h.hexdigest()


def fixture_dir():
    """The fixture graft.Bench reads by default."""
    src = (ROOT / "src/main/scala/graft/Bench.scala").read_text()
    m = re.search(r'"SPARK_GRAFT_SF_DIR",\s*"([^"]+)"', src)
    if not m or not Path(m.group(1)).is_dir():
        fail("cannot find graft.Bench's default fixture directory")
    return m.group(1)


def build():
    """Compiles library and harness once per source stamp; returns the
    harness classpath."""
    sources = [ROOT / "build.sbt", *(ROOT / "project").glob("*.sbt"),
               *(ROOT / "project").glob("*.scala"), ROOT / "project/build.properties",
               ROOT / "src/main", BENCH / "build.sbt",
               BENCH / "project/build.properties", BENCH / "src"]
    key = stamp(sources)
    done = BUILD / "build.json"
    if done.exists():
        b = json.loads(done.read_text())
        if b.get("stamp") == key:
            return b["classpath"]
    BUILD.mkdir(exist_ok=True)
    with open(BUILD / "build.log", "w") as log:
        r = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true",
             "-Dsbt.server.autostart=false",
             f"-Dsbt.global.base={BUILD / 'sbt-global'}", "compile",
             "export Runtime/fullClasspath"],
            cwd=BENCH, stdout=subprocess.PIPE, stderr=log, text=True,
            timeout=700)
        log.write(r.stdout)
    lines = r.stdout.strip().splitlines()
    if r.returncode != 0 or not lines or ".jar" not in lines[-1]:
        fail(f"build failed, see {BUILD / 'build.log'}")
    done.write_text(json.dumps({"stamp": key, "classpath": lines[-1]}))
    return lines[-1]


def oracle_counts(fixture, oracle_sql):
    """Row count of each oracle query, cached per fixture stamp."""
    cache_dir = BENCH / ".oracle"
    cache_dir.mkdir(exist_ok=True)
    cache = cache_dir / f"{stamp([Path(fixture)])}.json"
    counts = json.loads(cache.read_text()) if cache.exists() else {}
    missing = {q: s for q, s in oracle_sql.items()
               if counts.get(q, {}).get("sql") != s}
    if missing:
        import duckdb
        con = duckdb.connect()
        for t in sorted(p.stem for p in Path(fixture).glob("*.parquet")):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{fixture}/{t}.parquet'")
        for q, s in missing.items():
            n = con.execute(
                f"SELECT count(*) FROM ({s.strip().rstrip(';')})").fetchone()[0]
            counts[q] = {"sql": s, "rows": int(n)}
        cache.write_text(json.dumps(counts, indent=1, sort_keys=True))
    return {q: counts[q]["rows"] for q in oracle_sql}


def parity_failures(fixture, parity_dir):
    """Names tools/parity.py reports as FAIL for the run's query outputs."""
    r = subprocess.run([sys.executable, str(ROOT / "tools/parity.py"),
                        fixture, str(parity_dir)],
                       stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                       text=True, timeout=120)
    failed = set(re.findall(r"^FAIL (\S+?):", r.stdout, re.M))
    if r.returncode != 0 and not failed:
        failed.add("<parity.py>")
    return failed, r.stdout


def tail(values):
    """The highest percentile with at least ten samples beyond it:
    (value, percentile, sample count)."""
    v = sorted(values)
    n = len(v)
    if n < 11:
        return None, None, n
    return v[n - 11], 100.0 * (n - 10) / n, n


def latency(op):
    start = op["due_ms"] if op["kind"] == "batch" else op["start_ms"]
    return (op["end_ms"] - start) / 1000


def end_to_end(res, timed):
    lat = [latency(o) for o in timed]
    wall = (res["section_end_ms"] - res["section_start_ms"]) / 1000
    t, pct, n = tail(lat)
    return {
        "setup_s": statistics.median(s["setup_s"] for s in res["setups"]),
        "op_p50_s": statistics.median(lat),
        "op_tail_s": t,
        "ops_per_s": len(timed) / wall,
    }, {"tail_percentile": pct, "samples": n}


def union_ms(spans):
    """Length of the union of [start, end] intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(spans):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def per_layer(res, timed):
    """Per-layer metrics of the timed section, from the traced spans."""
    sp = res["spans"]
    ops = {o["id"]: o for o in timed}
    n = len(timed)
    queries = [o for o in timed if o["kind"] == "query"]
    jobs = {}
    for j in sp["jobs"]:
        op_id, _, part = j["group"].rpartition("#")
        if op_id not in ops:
            # a micro-batch runs on its query's own thread, under that
            # query's job group: its jobs belong to the op running then
            op_id = next((o["id"] for o in timed
                          if o["start_ms"] <= j["start_ms"] <= o["end_ms"]), None)
            part = "action"
        if op_id:
            jobs[j["job"]] = (op_id, part, j)
    stages = [s for s in sp["stages"] if s["job"] in jobs]

    def ssum(k):
        return sum(s.get(k, 0) for s in stages)

    busy = 0.0
    for op_id in ops:
        busy += union_ms([(j["start_ms"], j["end_ms"]) for o, _, j in
                          jobs.values() if o == op_id and j["end_ms"] >= 0])
    wall_ms = sum(o["end_ms"] - o["start_ms"] for o in timed)
    phases = {"analysis": 0.0, "optimization": 0.0, "planning": 0.0}
    for ex in sp["executions"]:
        for ph, t in ex["phases"].items():
            if ph in phases and any(o["start_ms"] - 1 <= t["start_ms"] <= o["end_ms"] + 1
                                    for o in timed):
                phases[ph] += t["end_ms"] - t["start_ms"]
    lo, hi = res["section_start_ms"], res["section_end_ms"] + 1000
    prog = [p for p in sp["progress"] if lo <= p["received_ms"] <= hi]
    with_state = [p for p in prog if p["state"]]

    def dur(k):
        return statistics.fmean(p["durations_ms"].get(k, 0) for p in prog) / 1000 \
            if prog else 0.0

    last_state = {}
    for p in with_state:
        last_state[p["query"]] = p["state"]
    batches = [o for o in timed if o["kind"] == "batch"]
    setups = [o for o in res["ops"] if o["phase"] != "timed"]
    build_s = []
    for r, s in enumerate(res["setups"], 1):
        built = [o for o in setups if o["phase"] == f"setup{r}"
                 and o.get("new_artifacts", 0) > 0]
        build_s.append(s["twin_index_s"] + sum(
            (o["build_end_ms"] - o["start_ms"]) / 1000 for o in built))
    before, after = res["before"], res["after"]
    q = max(1, len(queries))
    by_op = {}
    for name in sorted({o["op"] for o in timed}):
        mine = [o for o in timed if o["op"] == name]
        ids = {o["id"] for o in mine}
        js = [(part, j) for o, part, j in jobs.values() if o in ids]
        k = len(mine)
        by_op[name] = {
            "kind": mine[0]["kind"],
            "ops": k,
            "wall_s": sum(latency(o) for o in mine) / k,
            "build_s": sum(o["build_end_ms"] - o["start_ms"] for o in mine) / 1000 / k,
            "jobs": len(js) / k,
            "build_jobs": sum(part == "build" for part, _ in js) / k,
            "executor_run_s": sum(s.get("run_ms", 0) for s in stages
                                  if jobs[s["job"]][0] in ids) / 1000 / k,
        }
    return by_op, {
        "operators.build_s": sum(o["build_end_ms"] - o["start_ms"] for o in queries) / 1000 / q,
        "operators.build_jobs": sum(1 for _, part, _ in jobs.values() if part == "build") / q,
        "catalyst.analysis_s": phases["analysis"] / 1000 / n,
        "catalyst.optimization_s": phases["optimization"] / 1000 / n,
        "catalyst.planning_s": phases["planning"] / 1000 / n,
        "scheduler.jobs": len(jobs) / n,
        "scheduler.stages": len(stages) / n,
        "scheduler.tasks": ssum("tasks") / n,
        "scheduler.job_busy_s": busy / 1000 / n,
        "driver.gap_s": (wall_ms - busy) / 1000 / n,
        "executor.run_s": ssum("run_ms") / 1000 / n,
        "executor.cpu_s": ssum("cpu_ns") / 1e9 / n,
        "executor.gc_s": ssum("gc_ms") / 1000 / n,
        "executor.busy_frac": ssum("run_ms") / (wall_ms * res["cores"]),
        "sources.input_bytes": ssum("input_bytes") / n,
        "sources.input_records": ssum("input_records") / n,
        "shuffle.read_bytes": ssum("shuffle_read_bytes") / n,
        "shuffle.write_bytes": ssum("shuffle_write_bytes") / n,
        "shuffle.fetch_wait_s": ssum("shuffle_fetch_wait_ms") / 1000 / n,
        "shuffle.spill_bytes": ssum("spill_bytes") / n,
        "plancache.frames": after["plancache_frames"],
        "plancache.scalars": after["plancache_scalars"],
        "plancache.new_frames": after["plancache_frames"] - before["plancache_frames"],
        "storage.cached_bytes": after["storage_cached_bytes"],
        "indexstore.build_s": statistics.median(build_s),
        "indexstore.artifacts": after["artifacts"]["count"],
        "indexstore.bytes": after["artifacts"]["bytes"],
        "indexstore.new_artifacts": after["artifacts"]["count"] - before["artifacts"]["count"],
        "streaming.add_batch_s": dur("addBatch"),
        "streaming.planning_s": dur("queryPlanning"),
        "streaming.wal_commit_s": dur("walCommit"),
        "streaming.state_rows": sum(s["rows_total"] for st in last_state.values() for s in st),
        "streaming.state_commit_s": statistics.fmean(
            sum(s["commit_ms"] for s in p["state"]) for p in with_state) / 1000
        if with_state else 0.0,
        "streaming.state_mem_bytes": sum(s["mem_bytes"] for st in last_state.values() for s in st),
        "streaming.generator_late_s": statistics.fmean(
            (o["start_ms"] - o["due_ms"]) / 1000 for o in batches) if batches else 0.0,
        "sink.output_bytes": ssum("output_bytes") / n,
        "sink.output_records": ssum("output_records") / n,
    }


E2E_UNITS = {"setup_s": "s", "op_p50_s": "s", "op_tail_s": "s", "ops_per_s": "1/s",
             "failed_frac": "1", "cached_mb": "MB"}
# Per-layer metrics are averages per timed op unless listed here.
LAYER_UNITS = {"executor.busy_frac": "1", "plancache.frames": "count",
               "plancache.scalars": "count", "plancache.new_frames": "count",
               "storage.cached_bytes": "B", "indexstore.build_s": "s",
               "indexstore.artifacts": "count", "indexstore.bytes": "B",
               "indexstore.new_artifacts": "count",
               "streaming.add_batch_s": "s/batch", "streaming.planning_s": "s/batch",
               "streaming.wal_commit_s": "s/batch", "streaming.state_rows": "count",
               "streaming.state_commit_s": "s/batch", "streaming.state_mem_bytes": "B",
               "streaming.generator_late_s": "s/batch"}


def layer_unit(name):
    if name in LAYER_UNITS:
        return LAYER_UNITS[name]
    return ("s" if name.endswith("_s") else "B" if name.endswith("_bytes")
            else "count") + "/op"


def check(res, fixture, run_dir):
    """Marks each op failed or not; returns (failures by op id, notes)."""
    notes = []
    counts = oracle_counts(fixture, res["oracle_sql"])
    parity_failed, parity_out = parity_failures(fixture, run_dir / "parity")
    for q, w in res["parity_writes"].items():
        if w != "written":
            parity_failed.add(q)
    if parity_failed:
        notes.append(parity_out)
    twin_bad = {c["twin"] for c in res["twin_checks"] if c["rows_out"] != c["expected"]}
    failed = {}
    for o in res["ops"]:
        why = None
        if not o["ok"]:
            why = o.get("error", "threw")
        elif o["kind"] == "query":
            want = counts.get(o["op"])
            if want is not None and o["rows"] != want:
                why = f"rows {o['rows']} != oracle {want}"
            elif want is None and o["rows"] <= 0:
                why = "no-oracle query returned no rows"
            elif o["op"] in parity_failed or "<parity.py>" in parity_failed:
                why = "full-value parity failed"
        elif o["op"] in twin_bad:
            why = "twin output differs from its batch form"
        if why:
            failed[o["id"]] = why
    return failed, notes


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), required=True)
    args = ap.parse_args()
    for p in PROGRAM:
        if not (ROOT / p).exists():
            fail(f"{ROOT / p} is missing: run from the root of a graft checkout")
    fixture = fixture_dir()
    classpath = build()
    t_start = time.time()

    wl = WORKLOADS[args.workload]
    tag = f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}"
    run_dir = BUILD / "runs" / tag
    shutil.rmtree(run_dir, ignore_errors=True)
    (run_dir / "tmp").mkdir(parents=True)
    out = run_dir / "harness.json"
    harness_args = {
        "workload": args.workload, "seed": args.seed,
        "passes": max(1, round(wl["passes"] * args.seconds / 10)),
        "trace": args.trace, "fixture": fixture, "run_dir": run_dir, "out": out,
        "setup_reps": SETUP_REPS, "queries": ",".join(wl["queries"]),
        "twins": ",".join(wl["twins"]), "batches": BATCHES,
        "intervals": ",".join(f"{t}:{i}" for t, i in wl["twins"].items()),
    }
    cmd = ["java", *JAVA_OPTS, f"-Djava.io.tmpdir={run_dir / 'tmp'}", "-cp", classpath,
           "perfbench.Harness", *[f"{k}={v}" for k, v in harness_args.items()]]
    with open(run_dir / "harness.log", "w") as log:
        proc = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT, cwd=run_dir)
        try:
            rc = proc.wait(timeout=max(10, DEADLINE_S - 15 - (time.time() - t_start)))
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            fail(f"harness timed out, see {run_dir / 'harness.log'}")
    if rc != 0 or not out.exists():
        fail(f"harness exited {rc}, see {run_dir / 'harness.log'}")
    res = json.loads(out.read_text())
    t_jvm = time.time()

    failed, notes = check(res, fixture, run_dir)
    timed = [o for o in res["ops"] if o["phase"] == "timed"]
    e2e, tail_info = end_to_end(res, timed)
    attempted = len(res["ops"])
    e2e_all = dict(e2e, failed_frac=len(failed) / attempted,
                   cached_mb=res["after"]["storage_cached_bytes"] / 2**20)
    by_op, layers = per_layer(res, timed) if args.trace else ({}, {})
    correct = not failed and e2e["op_tail_s"] is not None

    record = dict(res, end_to_end=e2e_all, tail=tail_info, per_layer=layers,
                  per_op=by_op, failures=failed, notes=notes, wall_s={
                      "jvm_start_to_section":
                          (res["section_start_ms"] - res["jvm_start_ms"]) / 1000,
                      "run_to_jvm_exit": t_jvm - t_start,
                      "checks": time.time() - t_jvm})
    results = BUILD / "results"
    results.mkdir(exist_ok=True)
    (results / f"{tag}.json").write_text(json.dumps(record))
    shutil.rmtree(run_dir, ignore_errors=True)

    for k, v in e2e_all.items():
        print(f"{args.workload} {k} {v} {E2E_UNITS[k]}")
    print(f"{args.workload} tail = p{tail_info['tail_percentile']} of "
          f"{tail_info['samples']} timed ops; passes {res['passes']}; "
          f"noise {json.dumps(res['noise'])}")
    for k, v in layers.items():
        print(f"{args.workload} {k} {v} {layer_unit(k)}")
    for op_id, why in sorted(failed.items()):
        print(f"FAILED {op_id}: {why}", file=sys.stderr)
    if e2e["op_tail_s"] is None:
        print("too few timed ops for a tail percentile", file=sys.stderr)

    if args.trace:
        metrics = {k: {"value": v, "unit": layer_unit(k)} for k, v in layers.items()}
    else:
        metrics = {k: {"value": e2e[k], "unit": E2E_UNITS[k]} for k in e2e}
    print(json.dumps({"correct": correct, "attempted": attempted,
                      "failed": len(failed), "metrics": metrics}))


if __name__ == "__main__":
    main()
