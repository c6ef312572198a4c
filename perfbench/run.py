#!/usr/bin/env python3
"""graft's benchmark: one workload, one seed, one measured window.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a graft checkout. The first run builds graft and
the harness from source (sbt, offline) into .bench_build/; later runs
reuse the build while the sources are unchanged. The harness
(perfbench.Main) runs the workload on one local[4] session, checks its
outputs and writes every metric it has; this script prints every
end-to-end metric by name with its unit, and ends stdout with one JSON
line:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

--trace 0 reports the end-to-end metrics of BENCHMARK.json, --trace 1
the per-layer ones (spans and Spark listener counts; the spans are kept
as JSON lines in the run's directory). Workloads, metrics and the
reasons for them are in perfbench/README.md.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
WORKLOADS = ("lake_dml", "dedup_pipeline", "cdc_stream")
RUN_LIMIT_S = 175
BUILD_LIMIT_S = 700
HEAP = "2g"

# Every end-to-end metric the harness reports, with its unit; the ones
# BENCHMARK.json gates are printed in the JSON line, the rest only in
# the table (they do not apply to, or are not defined on, every
# workload).
E2E_UNITS = {
    "setup_s": "s", "op_p50_ms": "ms", "op_tail_ms": "ms", "ops_per_s": "1/s",
    "cpu_ms_per_op": "ms", "error_rate": "ratio", "heap_mb": "MB",
    "first_row_p50_ms": "ms", "read_p50_ms": "ms", "write_p50_ms": "ms", "write_amp": "ratio",
}

JDK_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def die(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def run_group(cmd, cwd, log_path, timeout, env=None):
    """Run cmd in its own process group; kill the whole group on timeout."""
    with open(log_path, "w") as log:
        p = subprocess.Popen(cmd, cwd=cwd, env=env, stdout=log, stderr=subprocess.STDOUT,
                             stdin=subprocess.DEVNULL, start_new_session=True)
        try:
            return p.wait(timeout=max(1, timeout))
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            return None
        finally:
            if p.poll() is None:
                os.killpg(p.pid, signal.SIGKILL)
                p.wait()


def tail(path, n=40):
    try:
        with open(path, errors="replace") as f:
            return "".join(f.readlines()[-n:])
    except OSError:
        return ""


def source_fingerprint():
    h = hashlib.sha256()
    for top in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"),
                os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")):
        paths = [top] if os.path.isfile(top) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(top) for f in fs)
        for p in paths:
            h.update(os.path.relpath(p, ROOT).encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def java_cmd(cp, work):
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") if "JAVA_HOME" in os.environ else "java"
    cmd = [java, f"-Xmx{HEAP}", f"-Djava.io.tmpdir={work}/tmp",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
           f"-Dspark.local.dir={work}/spark-local"]
    for m in JDK_OPENS:
        cmd += ["--add-opens", f"{m}=ALL-UNNAMED"]
    env = dict(os.environ, SPARK_GRAFT_WAREHOUSE=f"{work}/warehouse",
               SPARK_LOCAL_DIRS=f"{work}/spark-local")
    for d in ("tmp", "warehouse", "spark-local"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    return cmd + ["-cp", cp, "perfbench.Main"], env


def build():
    """Compile graft + the harness once per source state; returns the
    runtime classpath."""
    stamp = os.path.join(BUILD, "build.stamp")
    cp_file = os.path.join(BUILD, "sbt-target", "classpath.txt")
    fp = source_fingerprint()
    if os.path.exists(stamp) and open(stamp).read() == fp:
        return open(cp_file).read().strip()
    os.makedirs(BUILD, exist_ok=True)
    if os.path.exists(stamp):
        os.remove(stamp)
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    env.setdefault("SBT_OPTS", "-Dsbt.offline=true -Xmx2g")
    log = os.path.join(BUILD, "build.log")
    rc = run_group(["sbt", "-batch", "-Dsbt.log.noformat=true", "compile", "writeClasspath"],
                   HERE, log, BUILD_LIMIT_S, env)
    if rc != 0 or not os.path.exists(cp_file):
        die(f"build failed (exit {rc}); last lines of {log}:\n{tail(log)}")
    with open(stamp, "w") as f:
        f.write(fp)
    return open(cp_file).read().strip()


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    spec_path = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        die(f"{ROOT} is not a graft checkout (no src/main/scala/graft to build)")
    if not os.path.exists(spec_path):
        die(f"no BENCHMARK.json at {ROOT}")
    with open(spec_path) as f:
        spec = json.load(f)
    cp = build()
    started = time.monotonic()

    work = os.path.join(BUILD, "runs", f"{args.workload}-seed{args.seed}-trace{args.trace}")
    shutil.rmtree(work, ignore_errors=True)
    result_path = os.path.join(work, "result.json")
    log = os.path.join(work, "jvm.log")
    cmd, env = java_cmd(cp, work)
    cmd += ["--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--work", work, "--out", result_path]
    rc = run_group(cmd, ROOT, log, RUN_LIMIT_S - (time.monotonic() - started), env)
    if rc != 0 or not os.path.exists(result_path):
        die(f"{args.workload} run failed (exit {rc}); last lines of {log}:\n{tail(log)}")
    with open(result_path) as f:
        res = json.load(f)

    failed = set(res["failed_ops"])
    notes = res["notes"]
    attempted = res["attempted"]
    e2e = dict(res["e2e"])
    e2e["error_rate"] = len(failed) / attempted if attempted else 1.0
    layer = res["layer"]
    # the run's generated inputs are large; keep only what explains it
    for d in os.listdir(work):
        if d.startswith("setup") or d in ("inputs", "tmp", "warehouse", "spark-local"):
            shutil.rmtree(os.path.join(work, d), ignore_errors=True)

    print(f"workload {args.workload}  seed {args.seed}  window {args.seconds:g} s  "
          f"trace {args.trace}  ops {attempted}  failed {len(failed)}")
    for n in notes:
        print(f"  note: {n}")
    print("  op p50 by kind (ms): " + ", ".join(
        f"{k} {v:.1f}" for k, v in sorted(res["p50_ms_by_kind"].items())))
    print("  set-up phases (ms): " + ", ".join(
        f"{k} {v:.0f}" for k, v in res["setup_phases_ms"].items()) +
        "; set-ups (s): " + ", ".join(f"{v:.2f}" for v in res["setup_s_each"]) +
        f"; inputs generated in {res['inputs_s']:.2f} s")
    print(f"  {'metric':<28} {'value':>14}  unit")
    for name, unit in E2E_UNITS.items():
        v = e2e.get(name)
        shown = "n/a" if v is None else f"{v:.4f}"
        extra = f"  (p{res['tail_pct']:g} of {res['latency_samples']})" if name == "op_tail_ms" and v is not None else ""
        print(f"  {name:<28} {shown:>14}  {unit}{extra}")
    if args.trace:
        for m in spec["per_layer"]:
            v = layer.get(m["name"], 0.0)
            print(f"  {m['name']:<28} {v:>14.4f}  {m['unit']}")
        print(f"  spans: {os.path.join(work, 'trace.jsonl')}")

    chosen = spec["per_layer"] if args.trace else spec["end_to_end"]
    source = layer if args.trace else e2e
    metrics = {m["name"]: {"value": source.get(m["name"], None if not args.trace else 0.0),
                           "unit": m["unit"]} for m in chosen}
    print(json.dumps({"correct": not failed, "attempted": attempted, "failed": len(failed),
                      "metrics": metrics}))


if __name__ == "__main__":
    main()
