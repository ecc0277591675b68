#!/usr/bin/env python3
"""graft benchmark: one command, one workload per call.

    python3 perfbench/run.py --workload <linkgraph|sf-pipeline> \
        --seed <n> --seconds <s> --trace <0|1>

Builds the library and harness from source if needed (perfbench/build.py),
runs one JVM at local[<cores>], checks every output, prints a readable
report and, as the last stdout line, one JSON object with `correct`,
`attempted`, `failed` and `metrics` (end-to-end metrics with --trace 0,
per-layer metrics with --trace 1). See perfbench/README.md.
"""
import argparse
import glob
import hashlib
import json
import math
import os
import shutil
import statistics
import subprocess
import sys
import time

sys.dont_write_bytecode = True
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
import build  # noqa: E402

WORKLOADS = ("linkgraph", "sf-pipeline")
# linkgraph input: GraphSpec(numCycles, maxCycleLen = 6, extraArcsPerVertex = 2.4)
LINKGRAPH_CYCLES = 1000
PAGERANK_ITERS = 4  # Main.PageRankIters
SF_DATA = "sf0.01"
# Timed passes per run, at least; more run while --seconds lasts. A run
# reports medians over its passes.
PASSES = {"linkgraph": 2, "sf-pipeline": 3}
# a run must end within 180 s: the JVM's limit, leaving time for the DuckDB check
RUN_LIMIT_S = 150

GROUPS = [
    "sources.GraphGen", "sources.CodeTable", "sources.TableCatalog",
    "operators.Scc", "operators.PageRank", "operators.Wcc", "operators.Triangles",
    "operators.LabelProp", "operators.Degrees",
    "functions.Dedup", "functions.Similarity", "functions.TextAnalysis", "functions.AsOf",
    "streaming.EventStream", "entry.sql",
]
COUNTERS = [("wall_s", "s"), ("task_s", "s"), ("gc_s", "s"), ("jobs", "count"),
            ("tasks", "count"), ("shuffle_write_mb", "MB"), ("spill_mb", "MB"),
            ("driver_gap_s", "s")]
HANDLES = [("operators.Scc.rounds", "count"), ("operators.Scc.bfs_steps", "count"),
           ("operators.Scc.trimmed", "count"), ("operators.PageRank.step_ms", "ms"),
           ("operators.Wcc.iters", "count")]
OVERHEAD = ("run.tracing_overhead", "ratio")
CACHE = ("run.cache_peak_mb", "MB")
PASS_WALL = ("run.pass_s", "s")


def cores():
    """Spark's task slots: half the CPUs the process may use. The driver
    thread, the JIT and the collector need CPUs too; with a slot per CPU a
    pass on a shared host measures the scheduler, not the program."""
    return max(1, len(os.sched_getaffinity(0)) // 2)


def heap():
    """The test command's heap rule: half the machine's memory, clamped to [2, 8] GiB."""
    with open("/proc/meminfo") as f:
        kb = next(int(l.split()[1]) for l in f if l.startswith("MemTotal:"))
    return f"{min(8, max(2, kb // 2097152))}g"


JDK17_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke",
               "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
               "java.base/java.nio", "java.base/java.util",
               "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
               "java.base/sun.nio.ch", "java.base/sun.nio.cs",
               "java.base/sun.security.action", "java.base/sun.util.calendar"]


def run_jvm(args, classpath, run_dir, deadline):
    local = os.path.join(run_dir, "local")
    tmp = os.path.join(run_dir, "tmp")
    for d in (local, tmp):
        os.makedirs(d)
    env = dict(os.environ, SPARK_LOCAL_DIRS=local, SPARK_GRAFT_CPUS=str(cores()))
    h = heap()
    # C1 only: C2 keeps compiling for about six passes, longer than a run,
    # so timed passes would sit on its ramp; C1's ends within the warm-up.
    # C1 alone gets a 48 MB code cache, which Spark's generated classes fill
    # within a minute; the flush that follows recompiles everything in one
    # pass (+10 CPU-s), so keep the 240 MB the JVM gives tiered compilation.
    cmd = ["java", f"-Xms{h}", f"-Xmx{h}", "-XX:+UseParallelGC",
           f"-XX:ParallelGCThreads={cores()}", "-XX:TieredStopAtLevel=1",
           "-XX:ReservedCodeCacheSize=240m", "-XX:-UsePerfData",
           f"-Djava.io.tmpdir={tmp}",
           f"-Dspark.sql.warehouse.dir={os.path.join(run_dir, 'warehouse')}",
           f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
    for p in JDK17_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", classpath, "graftbench.Main",
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--out", os.path.join(run_dir, "out"), "--cores", str(cores()),
            "--passes", str(PASSES[args.workload]),
            "--cycles", str(args.cycles),
            "--data", os.path.join(HERE, "data", args.sf)]
    if args.queries:
        cmd += ["--queries", args.queries]
    if args.inject_fault:
        cmd += ["--inject", args.inject_fault]
    proc = subprocess.Popen(cmd, stdout=sys.stderr, env=env, cwd=run_dir)
    try:
        proc.wait(timeout=max(10, deadline - time.time()))
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        raise SystemExit("perfbench: JVM did not finish in time")
    if proc.returncode != 0:
        raise SystemExit(f"perfbench: JVM exited with {proc.returncode}")
    with open(os.path.join(run_dir, "out", "result.json")) as f:
        return json.load(f)


def duckdb_check(data_dir, run_dir, check_dir, names):
    """Compare each query's parquet output with SparkEntry.oracleSql run in
    DuckDB, by the canonical hash of tools/check_oracles.py. The tables are
    fixed, so the oracle's answer to a query that reads only them is kept in
    .bench_build/oracle, keyed by its SQL and the tables' bytes; oracles that
    read files the run wrote (hand-offs, catalog tables) run every time."""
    sys.path.insert(0, os.path.join(ROOT, "tools"))
    import duckdb
    import pandas as pd
    from check_oracles import TABLES, canon
    cache_dir = os.path.join(build.BUILD, "oracle")
    os.makedirs(cache_dir, exist_ok=True)
    data_digest = hashlib.sha256()
    for t in TABLES:
        with open(f"{data_dir}/{t}.parquet", "rb") as f:
            data_digest.update(f.read())
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data_dir}/{t}.parquet')")
    with open(os.path.join(check_dir, "oracle_sql.json")) as f:
        oracle = json.load(f)
    out = []
    for name in sorted(names):
        files = sorted(glob.glob(os.path.join(check_dir, name, "*.parquet")))
        if not files:
            continue  # the JVM already reported this query as failed
        got = pd.concat([pd.read_parquet(f) for f in files])
        sql = oracle[name]
        key = hashlib.sha256((sql + data_digest.hexdigest()).encode()).hexdigest()
        cached = os.path.join(cache_dir, key + ".json")
        if run_dir not in sql and os.path.exists(cached):
            with open(cached) as f:
                want = json.load(f)
        else:
            try:
                df = con.execute(sql).df()
            except Exception as e:  # an oracle that cannot run checks nothing
                out.append({"op": name, "ok": False, "detail": f"oracle error: {e}"})
                continue
            want = {"rows": len(df), "columns": sorted(df.columns), "hash": canon(df)}
            if run_dir not in sql:
                with open(cached + ".tmp", "w") as f:
                    json.dump(want, f)
                os.replace(cached + ".tmp", cached)
        ok = (len(got) == want["rows"] and sorted(got.columns) == want["columns"]
              and canon(got) == want["hash"])
        out.append({"op": name, "ok": ok, "detail":
                    f"rows {len(got)}/{want['rows']}, hash {'equal' if ok else 'differs'}"})
    con.close()
    return out


# --------------------------------------------------------------------- trace

def union_ms(intervals, lo, hi):
    """Length of the union of [a, b] intervals clipped to [lo, hi]."""
    total, cur_a, cur_b = 0.0, None, None
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= a:
            continue
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def span_table(spans):
    """Per-span self time and driver gap, in seconds."""
    children = {}
    for s in spans:
        children.setdefault(s["parent"], []).append(s)
    rows = []
    for s in spans:
        lo, hi = s["start_ms"], s["end_ms"]
        kids = [(c["start_ms"], c["end_ms"]) for c in children.get(s["id"], [])]
        rows.append(dict(s, self_s=(hi - lo - union_ms(kids, lo, hi)) / 1e3,
                         driver_gap_s=(hi - lo - union_ms(s["jobs"], lo, hi)) / 1e3))
    return rows


def per_layer(result):
    """Per-pass means of each span group's counters over the traced timed
    passes; sources.GraphGen per set-up repetition."""
    rows = span_table(result["spans"])
    n_pass = max(1, len(result["passes"]))
    n_setup = max(1, len(result["setup_walls"]))
    m = {}
    for g in GROUPS:
        if g == "sources.GraphGen":
            mine, per = [r for r in rows if r["group"] == g and r["phase"] == "setup"], n_setup
        else:
            mine, per = [r for r in rows if r["group"] == g and r["phase"] == "timed"], n_pass
        tot = lambda k: sum(r[k] for r in mine)
        vals = {"wall_s": tot("self_s"), "task_s": tot("task_ms") / 1e3,
                "gc_s": tot("gc_ms") / 1e3, "jobs": sum(len(r["jobs"]) for r in mine),
                "tasks": tot("tasks"), "shuffle_write_mb": tot("shuffle_write_bytes") / 1e6,
                "spill_mb": tot("spill_bytes") / 1e6, "driver_gap_s": tot("driver_gap_s")}
        for k, unit in COUNTERS:
            m[f"{g}.{k}"] = {"value": vals[k] / per, "unit": unit}
    for k, unit in HANDLES:
        m[k] = {"value": result["handles"].get(k, 0.0), "unit": unit}
    m[OVERHEAD[0]] = {"value": tracing_overhead(result), "unit": OVERHEAD[1]}
    m[CACHE[0]] = {"value": cache_peak(result), "unit": CACHE[1]}
    m[PASS_WALL[0]] = {"value": statistics.median(p["wall"] for p in result["untraced"]),
                       "unit": PASS_WALL[1]}
    return m


def tracing_overhead(result):
    """Median over the run's untraced/traced pass pairs of traced wall over
    untraced wall, minus 1 (Main.scala alternates the order in each pair)."""
    return statistics.median(t["wall"] / u["wall"]
                             for t, u in zip(result["passes"], result["untraced"])) - 1.0


def cache_peak(result):
    """Median over passes of the peak bytes Spark's block manager held."""
    return statistics.median(p["peak_mb"] for p in result["passes"])


# ------------------------------------------------------------------- metrics

def op_medians(passes, key):
    ops = {}
    for p in passes:
        for name, v in p[key].items():
            ops.setdefault(name, []).append(v)
    return {k: statistics.median(v) for k, v in ops.items()}


def geomean(xs):
    return math.exp(statistics.fmean(math.log(x) for x in xs))


def end_to_end(result):
    """The JSON line's end-to-end metrics: CPU seconds per pass and set-up
    wall. Walls of the passes are in the report and in the per-layer
    `run.pass_s`: on a shared host the CPU time the hypervisor steals moves
    them by 20% and more between runs."""
    passes = result["passes"]
    setup = result["jvm_start_s"] + statistics.median(result["setup_walls"]) \
        + result["warmup"]["wall"]
    return {
        "setup_s": {"value": setup, "unit": "s"},
        "pass_cpu_s": {"value": statistics.median(p["cpu_s"] for p in passes), "unit": "s"},
    }


def report(args, result, checks, e2e, attempted, failed, layer):
    """Readable report: every metric by name and unit, then per-op walls."""
    w = result["workload"]
    op_median = op_medians(result["passes"], "ops")
    sizes = ", ".join(f"{k}={int(v):,}" for k, v in result["sizes"].items())
    passes = [p["wall"] for p in result["passes"]]
    print(f"perfbench {w} seed={args.seed} cores={int(result['cores'])} heap={heap()} "
          f"inputs: {sizes}")
    print(f"  passes={len(passes)} (closed loop, one client); pass walls: "
          + " ".join(f"{x:.3f}" for x in passes))
    print("  pass cpu_s / steal_s: " + " ".join(
        f"{p['cpu_s']:.2f}/{p['steal_s']:.2f}" for p in result["passes"]))
    for k, v in e2e.items():
        print(f"  {k:24s} {v['value']:14.4f} {v['unit']}")
    print(f"  {'pass_s':24s} {statistics.median(passes):14.4f} s (wall)")
    op_cpu = op_medians(result["passes"], "ops_cpu")
    print(f"  {'query_geomean_s':24s} {geomean(op_median.values()):14.4f} s (wall)")
    print(f"  {'op_cpu_geomean_s':24s} {geomean(op_cpu.values()):14.4f} s")
    edges = result["sizes"].get("edges")
    rates = [("scc_edges_per_s", "scc", "edges/s", edges),
             ("pagerank_iters_per_s", "pagerank", "iter/s", PAGERANK_ITERS),
             ("wcc_edges_per_s", "wcc", "edges/s", edges),
             ("triangles_edges_per_s", "triangles", "edges/s", edges)]
    for name, op, unit, work in rates:
        if w == "linkgraph":
            print(f"  {name:24s} {work / op_median[op]:14.1f} {unit}")
        else:
            print(f"  {name:24s} {'n/a':>14s} {unit} (linkgraph only)")
    print(f"  {'cache_peak_mb':24s} {cache_peak(result):14.4f} MB")
    print(f"  {'ops_failed_share':24s} {failed / attempted:14.4f} ratio "
          f"({failed} of {attempted} operations)")
    print("  operation medians (s): " + ", ".join(
        f"{k}={v:.3f}" for k, v in sorted(op_median.items())))
    print("  operation CPU medians (s): " + ", ".join(
        f"{k}={v:.3f}" for k, v in sorted(op_cpu.items())))
    for c in checks:
        if not c["ok"]:
            print(f"  CHECK FAILED {c['op']}: {c['detail']}")
    if layer is not None:
        print(f"  per-layer (per pass; sources.GraphGen per set-up), "
              f"tracing overhead {layer[OVERHEAD[0]]['value']:+.3f}:")
        for g in GROUPS:
            if layer[f"{g}.wall_s"]["value"] > 0:
                print(f"    {g:24s} " + " ".join(
                    f"{k}={layer[f'{g}.{k}']['value']:.3f}" for k, _ in COUNTERS))
        print("    " + " ".join(f"{k}={layer[k]['value']:g}" for k, _ in HANDLES))


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), required=True)
    # for the package's own tests: smaller inputs and an injected wrong output
    ap.add_argument("--cycles", type=int, default=LINKGRAPH_CYCLES)
    ap.add_argument("--sf", default=SF_DATA)
    ap.add_argument("--queries", default="")
    ap.add_argument("--inject-fault", default="")
    ap.add_argument("--keep", default="", help="copy the run's result and spans here")
    args = ap.parse_args()

    t0 = time.time()
    classpath = build.build()
    runs = os.path.join(build.BUILD, "runs")
    shutil.rmtree(runs, ignore_errors=True)  # every run starts from empty local dirs
    run_dir = os.path.join(runs, f"{args.workload}-{os.getpid()}")
    os.makedirs(run_dir)
    try:
        # a build (first run in a checkout) does not count against the limit
        t1 = time.time()
        result = run_jvm(args, classpath, run_dir, time.time() + RUN_LIMIT_S)
        t2 = time.time()
        checks = list(result["checks"])
        if args.workload != "linkgraph":
            checks += duckdb_check(os.path.join(HERE, "data", args.sf), run_dir,
                                   result["check_dir"], result["groups"].keys())
        print(f"[perfbench] build {t1 - t0:.1f} s, jvm {t2 - t1:.1f} s, "
              f"duckdb check {time.time() - t2:.1f} s", file=sys.stderr)
        if args.keep:
            with open(args.keep, "w") as f:
                json.dump(dict(result, checks=checks), f)
    finally:
        shutil.rmtree(runs, ignore_errors=True)

    # every operation run counts once; the warm-up's are also checked
    done = [result["warmup"]] + result["untraced"] + result["passes"]
    attempted = sum(len(p["ops"]) for p in done)
    failed = sum(len(p["failed"]) for p in done) + sum(1 for c in checks if not c["ok"])
    e2e = end_to_end(result)
    layer = per_layer(result) if args.trace else None
    report(args, result, checks, e2e, attempted, failed, layer)
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": layer if args.trace else e2e}))


if __name__ == "__main__":
    main()
