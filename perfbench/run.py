#!/usr/bin/env python3
"""Stream-store benchmark: builds the engine and the benchmark from source,
runs one seeded workload in one Spark local[nproc] JVM, checks its outputs
and prints the result as one JSON object on the last line of stdout.

  python3 perfbench/run.py --workload tail --seed 1 --seconds 10 --trace 0
  python3 perfbench/run.py --steady 10 [--workloads tail,scan] [--seed 1]
  python3 perfbench/run.py --selftest
  python3 perfbench/run.py --workload scan --seed 1 --trace 0 --corrupt

See perfbench/README.md for the workloads and metrics.
"""
import argparse
import fcntl
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
BUILD = ROOT / ".bench_build" / "perfbench"
ENGINE_SRC = ROOT / "src" / "main" / "scala"
ENGINE_RES = ROOT / "src" / "main" / "resources"
BENCH_SRC = HERE / "src"
JVM_TIMEOUT_S = 170
WORKLOADS = ["tail", "ingest", "scan", "dedup"]

# Spark 4 on JDK 17 outside spark-submit needs these module openings.
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def spark_jars():
    """The Spark distribution's jars: $SPARK_HOME, else where spark-submit lives."""
    submit = shutil.which("spark-submit")
    homes = [os.environ.get("SPARK_HOME")] + ([Path(submit).resolve().parent.parent] if submit else [])
    for home in filter(None, homes):
        jars = Path(home) / "jars"
        if any(jars.glob("scala-compiler-*.jar")) and any(jars.glob("spark-sql_*.jar")):
            return jars
    fail("no Spark distribution with a Scala compiler found (set SPARK_HOME)")


def sources():
    if not ENGINE_SRC.is_dir() or not BENCH_SRC.is_dir():
        fail(f"engine sources not found under {ENGINE_SRC.relative_to(ROOT)}; "
             "run from a full checkout")
    files = sorted(ENGINE_SRC.rglob("*.scala")) + sorted(BENCH_SRC.rglob("*.scala"))
    if not files:
        fail("no Scala sources found")
    return files


def build():
    """Compile engine + benchmark with scalac into .bench_build, once per
    source fingerprint."""
    jars = spark_jars()
    files = sources()
    h = hashlib.sha256(str(jars).encode())
    for f in files + sorted(p for p in ENGINE_RES.rglob("*") if p.is_file()):
        h.update(str(f.relative_to(ROOT)).encode())
        h.update(f.read_bytes())
    stamp = h.hexdigest()
    classes = BUILD / "classes"
    BUILD.mkdir(parents=True, exist_ok=True)
    with open(BUILD / "build.lock", "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        if (BUILD / "stamp").exists() and (BUILD / "stamp").read_text() == stamp:
            return jars, classes
        tmp = BUILD / "classes.tmp"
        subprocess.run(["rm", "-rf", str(tmp), str(classes)], check=True)
        tmp.mkdir()
        argfile = BUILD / "sources.txt"
        argfile.write_text("\n".join(str(f) for f in files))
        t0 = time.time()
        r = subprocess.run(["java", "-Xmx2g", "-Xss8m", "-cp", f"{jars}/*",
                            "scala.tools.nsc.Main", "-usejavacp", "-nowarn",
                            "-d", str(tmp), f"@{argfile}"],
                           stdout=sys.stderr, stderr=sys.stderr)
        if r.returncode != 0:
            fail("compilation failed", 3)
        tmp.rename(classes)
        (BUILD / "stamp").write_text(stamp)
        print(f"perfbench: built in {time.time() - t0:.1f}s", file=sys.stderr)
    return jars, classes


def heap_mb():
    """JVM heap from MemTotal: a sixth of RAM, between 1 and 3 GiB."""
    kb = 4 * 1024 * 1024
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                kb = int(line.split()[1])
    return max(1024, min(3072, kb // 1024 // 6))


def run_jvm(workload, seed, seconds, trace, extra=()):
    """One JVM run; returns the parsed PERFBENCH_RESULT object or None."""
    jars, classes = build()
    out = BUILD / "out"
    tmp = BUILD / "tmp"
    out.mkdir(parents=True, exist_ok=True)
    tmp.mkdir(parents=True, exist_ok=True)
    cmd = (["java"] + [a for p in ADD_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")] +
           [f"-Xmx{heap_mb()}m", "-XX:+UseG1GC", f"-Djava.io.tmpdir={tmp}",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            "-cp", f"{classes}:{ENGINE_RES}:{jars}/*", "perfbench.Main",
            "--workload", workload, "--seed", str(seed), "--seconds", str(seconds),
            "--trace", str(trace), "--out", str(out)] + list(extra))
    env = {k: v for k, v in os.environ.items()
           if k not in ("SPARK_GRAFT_BRANCHLOG", "SPARK_GRAFT_WRITE_PROF", "SPARK_GRAFT_JOBS")}
    env["SPARK_GRAFT_SCRATCH"] = str(tmp)
    proc = subprocess.Popen(cmd, cwd=ROOT, env=env, stdout=subprocess.PIPE,
                            stderr=subprocess.PIPE, text=True)
    try:
        stdout, stderr = proc.communicate(timeout=JVM_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.communicate()
        print(f"perfbench: {workload} run exceeded {JVM_TIMEOUT_S}s", file=sys.stderr)
        return None
    result = None
    for line in stdout.splitlines():
        if line.startswith("PERFBENCH_RESULT "):
            result = json.loads(line[len("PERFBENCH_RESULT "):])
    if proc.returncode != 0 or result is None:
        sys.stderr.write(stderr[-4000:])
        print(f"perfbench: {workload} JVM exited {proc.returncode}", file=sys.stderr)
        return None
    return result


def spec():
    return json.loads((ROOT / "BENCHMARK.json").read_text())


def result_line(result, trace):
    """The result printed as the last line: every end-to-end metric
    (trace 0) or every per-layer metric (trace 1) of BENCHMARK.json, by name
    with its unit. A layer the workload bypasses reads 0; a missing
    end-to-end metric fails the run."""
    s = spec()
    metrics = {}
    correct = result["failed"] == 0
    if trace:
        for m in s["per_layer"]:
            v = result["layer"].get(m["name"])
            metrics[m["name"]] = {"value": v if isinstance(v, (int, float)) else 0, "unit": m["unit"]}
    else:
        for m in s["end_to_end"]:
            v = result["e2e"].get(m["name"])
            if not isinstance(v, (int, float)) or v <= 0:
                correct = False
                result["errors"].append(f"end-to-end metric {m['name']} missing or not positive")
                v = 0
            metrics[m["name"]] = {"value": v, "unit": m["unit"]}
    return {"correct": correct, "attempted": max(1, result["attempted"]),
            "failed": result["failed"] + (0 if correct or result["failed"] else 1),
            "metrics": metrics}


def single(a):
    if a.workload not in WORKLOADS:
        fail(f"--workload must be one of {', '.join(WORKLOADS)}")
    result = run_jvm(a.workload, a.seed, a.seconds, a.trace, ["--corrupt"] if a.corrupt else [])
    if result is None:
        fail("run failed without a result", 1)
    for e in result["errors"]:
        print(f"# error: {e}")
    print("# report: " + json.dumps(result["report"]))
    print("# box: " + json.dumps(result["box"]))
    if a.trace:
        self_s = {k: round(v, 4) for k, v in result["layer"].items() if k.startswith("self_s.")}
        print("# self time per layer (s): " + json.dumps(self_s))
        print(f"# spans: .bench_build/perfbench/out/spans-{a.workload}-{a.seed}.jsonl")
    c = result_line(result, a.trace)
    print(json.dumps(c))
    sys.exit(0 if c["correct"] else 1)


def quartiles(vals):
    if len(vals) < 2:
        return vals[0], vals[0], vals[0]
    q1, q2, q3 = statistics.quantiles(vals, n=4)
    return q1, q2, q3


def steady(a):
    """Run each workload --steady times (seeds from --seed on, tracing off)
    plus one traced run, and print median, quartiles and relative spread per
    metric, with the tracing overhead (traced minus untraced median)."""
    s = spec()
    bounds = {m["name"]: m["bound"] for m in s["end_to_end"]}
    names = a.workloads.split(",") if a.workloads else [w["name"] for w in s["workloads"]]
    summary = {}
    for w in names:
        runs, run_s = [], []
        for seed in range(a.seed, a.seed + a.steady):
            t0 = time.time()
            r = run_jvm(w, seed, a.seconds, 0)
            if r is None or r["failed"]:
                fail(f"{w} seed {seed} failed: {r and r['errors']}", 1)
            runs.append(r)
            run_s.append(time.time() - t0)
            print(f"{w} seed {seed} ({run_s[-1]:.0f}s, steal {r['box']['cpu_steal_share']:.3f}): " +
                  json.dumps({k: round(v, 4) for k, v in r["e2e"].items()}), flush=True)
        row = {}
        for m in bounds:
            vals = [r["e2e"][m] for r in runs]
            q1, med, q3 = quartiles(vals)
            row[m] = {"median": med, "q1": q1, "q3": q3, "spread": (q3 - q1) / med,
                      "bound": bounds[m], "values": vals}
        report_keys = sorted({k for r in runs for k, v in r["report"].items()
                              if isinstance(v, (int, float)) and not isinstance(v, bool)})
        row["report"] = {k: statistics.median([r["report"][k] for r in runs if k in r["report"]])
                         for k in report_keys}
        row["box"] = {"nproc": runs[0]["box"]["nproc"], "mem_total_kb": runs[0]["box"]["mem_total_kb"],
                      "loadavg_start": [r["box"]["loadavg_start"][0] for r in runs],
                      "cpu_steal_share": [r["box"]["cpu_steal_share"] for r in runs],
                      "run_s": run_s,
                      "spark_task_cpu_s": statistics.median(r["box"]["spark_task_cpu_s"] for r in runs),
                      "timed_wall_s": statistics.median(r["box"]["timed_wall_s"] for r in runs)}
        t = run_jvm(w, a.seed, a.seconds, 1)
        if t is None or t["failed"]:
            fail(f"{w} traced run failed: {t and t['errors']}", 1)
        row["tracing_overhead"] = {m: t["e2e"][m] - row[m]["median"] for m in bounds}
        row["layer"] = t["layer"]
        summary[w] = row
        print(f"{w:7s} tracing overhead (traced - untraced median): " +
              json.dumps({m: round(v, 4) for m, v in row["tracing_overhead"].items()}), flush=True)
        for m in bounds:
            x = row[m]
            flag = "ok" if x["spread"] <= x["bound"] / 3 else ("WIDE" if x["spread"] > x["bound"] else "wide")
            print(f"{w:7s} {m:16s} median {x['median']:12.4f}  q1 {x['q1']:12.4f}  q3 {x['q3']:12.4f}"
                  f"  spread {x['spread']:.3f} (bound {x['bound']}) {flag}", flush=True)
    path = BUILD / "steady.json"
    path.write_text(json.dumps(summary, indent=1))
    print(f"# written to {path.relative_to(ROOT)}")


def selftest():
    jars, classes = build()
    cmd = (["java", "-Xmx1g", "-cp", f"{classes}:{ENGINE_RES}:{jars}/*", "perfbench.SelfTest"])
    sys.exit(subprocess.run(cmd, cwd=ROOT).returncode)


def main():
    p = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    p.add_argument("--workload")
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=int, help="timed window (default: run_seconds of BENCHMARK.json)")
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    p.add_argument("--corrupt", action="store_true",
                   help="damage one observed output per workload; the run must report failure")
    p.add_argument("--steady", type=int, default=0, help="runs per workload for the steadiness report")
    p.add_argument("--workloads", help="comma-separated workloads for --steady")
    p.add_argument("--selftest", action="store_true", help="run the generator and tracing tests")
    a = p.parse_args()
    sources()  # fail fast outside a full checkout
    if a.seconds is None:
        a.seconds = spec()["run_seconds"]
    if a.selftest:
        selftest()
    elif a.steady:
        steady(a)
    elif a.workload:
        single(a)
    else:
        fail("give --workload, --steady or --selftest")


if __name__ == "__main__":
    main()
