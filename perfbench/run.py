#!/usr/bin/env python3
"""End-to-end benchmark for graft.

Usage (from the repository root):
  python3 perfbench/run.py --workload curation|lake --seed N \
      --seconds S --trace 0|1

Builds graft and the benchmark program in `perfbench/` with sbt (once per source
state), generates the seed's inputs, runs one JVM that drives the
workload (see graftbench.Main), checks every op's output against its
DuckDB oracle SQL, and prints one JSON line as the last line of stdout:

  {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

`--trace 0` reports the end-to-end metrics, `--trace 1` the per-layer
metrics. Everything the run writes stays under `.bench_build/`; each run
leaves its log, result, load evidence and spans in
`.bench_build/runs/<workload>-seed<N>-trace<T>-<time>/`.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 840

# Inputs per workload: layout and scale factor (fixture row counts × sf).
# curation reads the fixture layout, one single-row-group file per table;
# lake reads a pre-split layout at three times that scale.
WORKLOADS = {
    "curation": {"layout": "single", "sf": 0.001},
    "lake": {"layout": "split", "sf": 0.003},
}
# JVM settings that make run-to-run numbers comparable:
# - a fixed, pre-touched heap, so heap sizing and first-touch page faults
#   do not vary from run to run; peak RSS is then the heap plus what the
#   JVM and Spark hold outside it;
# - C1 only: with tiered C2 a lake pass keeps speeding up for about 100 s
#   (7.2 s to 5.4 s over 21 passes, 4 vCPUs), far past the warm-up a run
#   can afford, so each run would stop at a different point of that curve.
#   C1 levels off within the warm-up;
# - C1 alone gets a 48 MB code cache, which these workloads fill; the
#   sweeper then flushes compiled code, and the lake pass that follows
#   runs 3-4 s slower while it is compiled again. The tiered default,
#   240 MB, leaves room.
JVM_FLAGS = ["-Xms1536m", "-Xmx1536m", "-XX:+AlwaysPreTouch",
             "-XX:TieredStopAtLevel=1", "-XX:ReservedCodeCacheSize=240m"]

JDK_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def fail(msg, code=2):
    log(msg)
    sys.exit(code)


def run_group(cmd, timeout, out, **kw):
    """Run `cmd` in its own process group with output to `out`; on timeout
    kill the whole group and wait for it. Returns the exit code, or None
    on timeout."""
    proc = subprocess.Popen(cmd, stdin=subprocess.DEVNULL, stdout=out,
                            stderr=subprocess.STDOUT, start_new_session=True, **kw)
    try:
        return proc.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        return None


def source_stamp():
    """Hash of every file the build reads, so a changed tree rebuilds."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(ROOT, "project"),
             os.path.join(HERE, "src"), os.path.join(HERE, "project")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt")]
    for r in roots:
        for d, dirs, fs in os.walk(r):
            dirs[:] = sorted(x for x in dirs if x not in ("target", "project"))
            files += [os.path.join(d, f) for f in fs]
    for f in sorted(files):
        if f.endswith((".scala", ".sbt", ".properties", ".java")):
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def build():
    """Compile graft and the benchmark program; return the runtime classpath."""
    os.makedirs(BUILD, exist_ok=True)
    cp_file = os.path.join(BUILD, "classpath.txt")
    stamp_file = os.path.join(BUILD, "build.stamp")
    stamp = source_stamp()
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                with open(cp_file) as g:
                    return g.read()
    env = dict(os.environ)
    repos = os.path.expanduser("~/.sbt/repositories")
    if "SBT_OPTS" not in env and os.path.exists(repos):
        env["SBT_OPTS"] = ("-Dsbt.override.build.repos=true "
                           f"-Dsbt.repository.config={repos} -Dsbt.offline=true")
    env.setdefault("COURSIER_MODE", "offline")
    log("building graft and the benchmark program with sbt")
    t0 = time.time()
    build_log = os.path.join(BUILD, "build.log")
    with open(build_log, "w") as f:
        code = run_group(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                          "export Runtime/fullClasspath"],
                         BUILD_TIMEOUT_S, f, cwd=HERE, env=env)
    with open(build_log) as f:
        cps = [l for l in f.read().splitlines()
               if ".jar" in l and not l.startswith("[")]
    if code != 0 or not cps:
        fail(f"sbt build failed (exit {code}); see .bench_build/build.log")
    log(f"build took {time.time() - t0:.1f} s")
    with open(cp_file, "w") as f:
        f.write(cps[-1].strip())
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return cps[-1].strip()


def inputs(workload, seed):
    """Generate (once per seed) the inputs and a warm-up copy of them."""
    sys.path.insert(0, HERE)
    import gen
    spec = WORKLOADS[workload]
    base = os.path.join(BUILD, "data",
                        f"{spec['layout']}-sf{spec['sf']}-seed{seed}")
    main, warm = os.path.join(base, "main"), os.path.join(base, "warm")
    if not (os.path.isdir(main) and os.path.isdir(warm)):
        t0 = time.time()
        tables = gen.build(seed, spec["sf"])
        gen.write(tables, main, spec["layout"])
        gen.write(tables, warm, spec["layout"])
        log(f"generated {spec['layout']} sf{spec['sf']} seed {seed} "
            f"in {time.time() - t0:.1f} s")
    return main, warm, {"layout": spec["layout"], "sf": spec["sf"],
                        "bytes": gen.size_bytes(main)}


def percentile(values, q):
    """Nearest-rank percentile (q in 0..100)."""
    v = sorted(values)
    k = max(0, min(len(v) - 1, int(round(q / 100.0 * len(v) + 0.5)) - 1))
    return v[k]


def oracle_check(result, warm_dir, layout, out_dir):
    """Compare each op's warm-up output with its DuckDB oracle; return
    {op: reason} for every op whose output differs or could not be
    compared."""
    sys.path.insert(0, os.path.join(ROOT, "scripts"))
    import duckdb
    from oracle_check import TABLES, canon
    con = duckdb.connect()
    con.execute("SET TimeZone='UTC'")
    con.execute("SET threads=2")
    for t in TABLES:
        p = os.path.join(warm_dir, f"{t}.parquet")
        if layout == "split":
            p = os.path.join(p, "*.parquet")
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    bad = {}
    for name, sql in sorted(result["oracle_sql"].items()):
        files = os.path.join(out_dir, "check", name, "*.parquet")
        try:
            o = con.sql(sql)
            o_types = dict(zip(o.columns, map(str, o.types)))
            o_rows, o_cols = canon(o.fetchall(), list(o.columns))
            g = con.sql(f"SELECT * FROM read_parquet('{files}')")
            g_types = dict(zip(g.columns, map(str, g.types)))
            g_rows, g_cols = canon(g.fetchall(), list(g.columns))
        except Exception as e:  # noqa: BLE001 - any failure is a mismatch
            bad[name] = f"compare error: {e}"[:300]
            continue
        if g_cols != o_cols:
            bad[name] = f"columns {g_cols} vs oracle {o_cols}"
        elif any(g_types[c] != o_types[c] for c in g_cols):
            bad[name] = "column types differ from the oracle"
        elif g_rows != o_rows:
            bad[name] = f"{len(g_rows)} rows differ from {len(o_rows)} oracle rows"
    return bad


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()

    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft"))):
        fail("graft sources not found next to perfbench/; run from a full checkout")

    classpath = build()
    # the 180 s run limit starts after the build (a first run may build)
    started = time.time()
    main_dir, warm_dir, input_info = inputs(a.workload, a.seed)
    nproc = len(os.sched_getaffinity(0))

    run_dir = os.path.join(BUILD, "runs", f"{a.workload}-seed{a.seed}-trace"
                           f"{a.trace}-{time.strftime('%Y%m%dT%H%M%S')}")
    shutil.rmtree(run_dir, ignore_errors=True)
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    env = dict(os.environ, GRAFT_ARTIFACT_DIR=os.path.join(run_dir, "artifacts"))
    cmd = ["java", *[x for p in JDK_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")],
           *JVM_FLAGS, f"-Djava.io.tmpdir={tmp}",
           f"-Dspark.local.dir={tmp}",
           f"-Dspark.sql.warehouse.dir={os.path.join(run_dir, 'warehouse')}",
           "-Dspark.driver.host=127.0.0.1", "-Dspark.driver.bindAddress=127.0.0.1",
           "-cp", classpath, "graftbench.Main",
           "--workload", a.workload, "--inputs", main_dir,
           "--warm-inputs", warm_dir, "--out", run_dir,
           "--seconds", str(a.seconds), "--trace", str(a.trace),
           "--nproc", str(nproc)]
    budget = RUN_TIMEOUT_S - (time.time() - started)
    launched = time.time()
    with open(os.path.join(run_dir, "jvm.log"), "w") as jlog:
        code = run_group(cmd, max(10.0, budget), jlog, cwd=run_dir, env=env)
    if code is None:
        fail(f"benchmark JVM exceeded its time budget; see {run_dir}/jvm.log", 1)
    result_file = os.path.join(run_dir, "result.json")
    if code != 0 or not os.path.exists(result_file):
        fail(f"benchmark JVM exited with {code}; see {run_dir}/jvm.log", 1)
    with open(result_file) as f:
        result = json.load(f)

    mismatches = oracle_check(result, warm_dir, input_info["layout"], run_dir)
    untraced = [p for p in result["passes"] if not p["traced"]]
    traced = [p for p in result["passes"] if p["traced"]]
    calls = [c for p in result["warmup"] + result["passes"] for c in p["calls"]]
    errors = [(c["op"], c["error"]) for c in calls if c["error"]]
    attempted = len(calls)
    failed = len(errors) + len(mismatches)

    latencies = [c["construct_s"] + c["action_s"] for p in untraced for c in p["calls"]]
    walls = [p["wall_s"] for p in untraced]
    e2e = {
        "setup_s": result["setup_end_epoch_s"] - launched,
        "first_pass_s": walls[0],
        "pass_s": statistics.median(walls[1:]),
        "op_p50_s": statistics.median(latencies),
        "op_p90_s": percentile(latencies, 90),
        "peak_rss_mb": result["peak_rss_mb"],
    }
    layers = dict(result["layers"])
    if traced:
        layers["trace.overhead_s"] = (statistics.median(p["wall_s"] for p in traced)
                                      - statistics.median(walls[1:]))
    # print exactly the metrics BENCHMARK.json declares, with its units
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        declared = json.load(f)["per_layer" if a.trace else "end_to_end"]
    values = layers if a.trace else e2e
    metrics = {m["name"]: {"value": values[m["name"]], "unit": m["unit"]}
               for m in declared}

    record = {
        "workload": a.workload, "seed": a.seed, "trace": a.trace,
        "seconds": a.seconds, "nproc": nproc, "jvm_flags": JVM_FLAGS,
        "inputs": input_info, "load": result["load"],
        "passes": len(result["passes"]), "op_calls_timed": len(latencies),
        "fail_ratio": failed / attempted,
        "errors": [f"{op}: {e}" for op, e in errors],
        "mismatches": mismatches,
        "end_to_end": e2e,
        "per_layer": layers,
    }
    with open(os.path.join(run_dir, "record.json"), "w") as f:
        json.dump(record, f, indent=1)
    for op, e in errors:
        log(f"FAILED {op}: {e}")
    for op, e in mismatches.items():
        log(f"MISMATCH {op}: {e}")
    log(f"{a.workload} seed {a.seed}: {len(result['passes'])} passes, "
        f"fail_ratio {failed}/{attempted}, load {json.dumps(result['load'])}")
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))


if __name__ == "__main__":
    main()
