#!/usr/bin/env python3
"""graft benchmark: three closed-loop, single-client workloads over the
sf0.1 test data, timed from outside through graft's public functions.

Usage, from the root of a checkout:

    python3 perfbench/run.py --workload etl_star --seed 1 --seconds 20 --trace 0

Workloads: etl_star, llm_curation, table_ops (see perfbench/README.md).
--trace 0 prints the end-to-end metrics, --trace 1 the per-layer ones
(BENCHMARK.json names both sets). Human-readable lines come first; the
last line of stdout is one JSON object. `--selfcheck` runs the test of
the pruning guard instead.

The first run compiles graft's main sources and the harness with the
Scala compiler that ships in the Spark jars, into .bench_build/.
"""
import argparse
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

sys.dont_write_bytecode = True

T0 = time.time()
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
JARS = os.path.join(os.environ.get("SPARK_HOME", "/opt/spark"), "jars")
# the sf0.1 test tables, as for graft.Bench
DATA = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
BUILD = os.path.join(ROOT, ".bench_build", "perfbench")
WORKLOADS = ("etl_star", "llm_curation", "table_ops")
RUN_LIMIT_S = 170
# Spark on JDK 17 outside spark-submit needs these (Spark's own
# JavaModuleOptions list)
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def die(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def sources():
    main = os.path.join(ROOT, "src", "main", "scala")
    bench = os.path.join(HERE, "src")
    if not os.path.isdir(main):
        die(f"no graft sources under {main}: run from the root of a graft checkout")

    def scala(d):
        return sorted(os.path.join(r, f) for r, _, fs in os.walk(d)
                      for f in fs if f.endswith(".scala"))
    return scala(main), scala(bench)


def compile_scala(srcs, out, classpath):
    os.makedirs(out, exist_ok=True)
    compiler = ":".join(os.path.join(JARS, j) for j in (
        "scala-compiler-2.13.17.jar", "scala-library-2.13.17.jar",
        "scala-reflect-2.13.17.jar"))
    cmd = ["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx2g", "-cp", compiler,
           "scala.tools.nsc.Main", "-nowarn", "-d", out, "-classpath", classpath] + srcs
    r = subprocess.run(cmd, capture_output=True, text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-4000:] + r.stderr[-4000:])
        die("compilation failed")


def build():
    """Compiles graft and the harness when any source changed; returns the
    run-time classpath."""
    main, bench = sources()
    resources = os.path.join(ROOT, "src", "main", "resources")
    h = hashlib.sha256()
    for f in main + bench:
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    stamp = os.path.join(BUILD, "classes.stamp")
    graft_cls = os.path.join(BUILD, "classes", "graft")
    bench_cls = os.path.join(BUILD, "classes", "bench")
    jars = os.path.join(JARS, "*")
    if not (os.path.exists(stamp) and open(stamp).read() == h.hexdigest()):
        shutil.rmtree(os.path.join(BUILD, "classes"), ignore_errors=True)
        compile_scala(main, graft_cls, jars)
        compile_scala(bench, bench_cls, f"{graft_cls}:{jars}")
        with open(stamp, "w") as fh:
            fh.write(h.hexdigest())
    return ":".join([bench_cls, graft_cls, resources, jars])


def run_jvm(classpath, out, args):
    tmp = os.path.join(out, "tmp")
    os.makedirs(tmp, exist_ok=True)
    opens = [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    cmd = (["java", "-XX:-UsePerfData", "-Xmx4g", f"-Djava.io.tmpdir={tmp}",
            f"-Dspark.local.dir={tmp}", "-Dspark.ui.enabled=false"] + opens +
           ["-cp", classpath, "perfbench.Harness"] +
           [f"{k}={v}" for k, v in args.items()])
    with open(os.path.join(out, "jvm.log"), "w") as log:
        p = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT)
        try:
            rc = p.wait(timeout=max(10, RUN_LIMIT_S - (time.time() - T0)))
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            die("the run exceeded its time limit")
    if rc != 0:
        with open(os.path.join(out, "jvm.log")) as fh:
            sys.stderr.write("".join(fh.readlines()[-40:]))
        die(f"harness exited with {rc}")


def pct(xs, q):
    """Linear-interpolation quantile, the harness's own definition."""
    if not xs:
        return float("nan")
    s = sorted(xs)
    pos = q * (len(s) - 1)
    lo = int(pos)
    hi = min(lo + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (pos - lo)


def median_pass_s(passes):
    """One pass built from medians: for each op of a pass (an op type that
    runs twice in a pass counts as two), the median of its times over the
    passes, summed. A stall in one op of one pass can shift the median of
    the pass walls by the stall's length; the per-op medians barely move."""
    times = {}
    for p in passes:
        seen = {}
        for o in p["ops"]:
            seen[o["name"]] = seen.get(o["name"], 0) + 1
            times.setdefault((o["name"], seen[o["name"]]), []).append(o["ms"])
    return sum(statistics.median(v) for v in times.values()) / 1000


def end_to_end(run, checks):
    plain = [p for p in run["passes"] if not p["traced"]]
    ops = [o for p in plain for o in p["ops"] if o["ok"]]
    reads = [o["ms"] for o in ops if o["kind"] == "read"]
    commits = [o["ms"] for o in ops if o["kind"] == "commit"]
    m = {
        "setup_s": (run["setup_s"], "s"),
        "pass_s": (median_pass_s(plain), "s"),
        "read_ms_p50": (pct(reads, 0.5), "ms"),
        "read_ms_p95": (pct(reads, 0.95), "ms"),
        "peak_rss_mb": (run["peak_rss_mb"], "MB"),
    }
    walls = ", ".join(f"{p['wall_s']:.2f}" for p in plain)
    notes = {"pass_s": f"n={len(plain)} passes; pass walls {walls} s",
             "read_ms_p50": f"n={len(reads)}", "read_ms_p95": f"n={len(reads)}"}
    if commits:
        m["commit_ms_p50"] = (pct(commits, 0.5), "ms")
        m["commit_ms_p95"] = (pct(commits, 0.95), "ms")
        notes["commit_ms_p50"] = notes["commit_ms_p95"] = f"n={len(commits)}"
    m.update({k: (v, "ratio") for k, v in checks.get("amp", {}).items()})
    return m, notes


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=20)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--selfcheck", action="store_true")
    a = ap.parse_args()
    if not a.selfcheck and a.workload is None:
        die("--workload is required")
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    for d in (JARS, DATA):
        if not os.path.isdir(d):
            die(f"missing {d}")
    classpath = build()
    runs = os.path.join(BUILD, "runs")
    shutil.rmtree(runs, ignore_errors=True)
    out = os.path.join(runs, f"{a.workload or 'selfcheck'}-{a.seed}")
    os.makedirs(out)
    cpus = min(4, len(os.sched_getaffinity(0)))
    run_jvm(classpath, out, {
        "workload": "selfcheck" if a.selfcheck else a.workload, "seed": a.seed,
        "seconds": a.seconds, "trace": a.trace, "cpus": cpus, "data": DATA,
        "out": out, "t0ms": int(time.time() * 1000)})
    if a.selfcheck:
        with open(os.path.join(out, "selfcheck.json")) as fh:
            res = json.load(fh)
        for name, r in sorted(res.items()):
            print(f"{name}: noop write keeps every column: {r['noop_kept_all']}; "
                  f"count() caught: {r['count_caught']}; one-column write caught: "
                  f"{r['projection_caught']} -> {'ok' if r['ok'] else 'FAIL'}")
        sys.exit(0 if all(r["ok"] for r in res.values()) else 1)

    with open(os.path.join(out, "run.json")) as fh:
        run = json.load(fh)
    sys.path.insert(0, HERE)
    import checks as checks_mod
    golden = os.path.join(ROOT, "golden", os.path.basename(os.path.normpath(DATA)))
    checks = checks_mod.check(run, out, DATA, golden,
                              os.path.join(BUILD, "oracle_cache"))
    failed = len(run["failures"]) + len(checks["mismatches"])
    attempted = max(run["attempted"], failed, 1)
    correct = failed == 0

    print(f"workload {a.workload}  seed {a.seed}  local[{cpus}]  "
          f"{len(run['passes'])} passes  trace {a.trace}")
    for f in run["failures"]:
        print(f"  FAILED op {f['op']}: {f['error']}")
    for mm in checks["mismatches"]:
        print(f"  MISMATCH {mm}")
    print(f"  checks: {checks['summary']}")
    e2e, notes = end_to_end(run, checks)
    print(f"  failed_ops_ratio = {failed / attempted:.4f} ratio ({failed}/{attempted} ops)")
    for k, (v, unit) in e2e.items():
        print(f"  {k} = {v:.4f} {unit}" + (f" ({notes[k]})" if k in notes else ""))
    layers = run["layers"]
    if a.trace:
        for k in sorted(layers):
            print(f"  {k} = {layers[k]:.4f}")

    if a.trace:
        names = [(m["name"], m["unit"]) for m in spec["per_layer"]]
        values = layers
    else:
        names = [(m["name"], m["unit"]) for m in spec["end_to_end"]]
        values = {k: v for k, (v, _) in e2e.items()}
    missing = [n for n, _ in names if values.get(n) is None]
    if missing:
        die(f"metrics not measured: {missing}")
    reports = os.path.join(BUILD, "reports")
    os.makedirs(reports, exist_ok=True)
    for f in ("run.json", "spans.json"):
        if os.path.exists(os.path.join(out, f)):
            shutil.copy(os.path.join(out, f),
                        os.path.join(reports, f"{a.workload}-trace{a.trace}-{f}"))
    shutil.rmtree(runs, ignore_errors=True)
    print(json.dumps({
        "correct": correct, "attempted": attempted, "failed": failed,
        "metrics": {n: {"value": values[n], "unit": u} for n, u in names}}))


if __name__ == "__main__":
    main()
