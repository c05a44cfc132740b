#!/usr/bin/env python3
"""Layered benchmark of the graft engine.

    python3 perfbench/run.py --workload W --seed N --seconds S --trace 0|1

Run from the repository root. The first run builds the engine and the
harness from source (sbt, offline) and generates the input tables; later
runs reuse both while the sources are unchanged. Each run starts one JVM
on local[4] that drives the workload W closed-loop through the engine's
public entry points, checks every output, and writes its record; this
script prints the result as one JSON line, the last line of stdout:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With --trace 0 the metrics are the end-to-end metrics of BENCHMARK.json,
with --trace 1 the per-layer ones. The traced run also writes its span
tree and per-query ledger to perfbench/.work/traces/. See README.md for
what each workload and metric measures.
"""
import argparse
import contextlib
import hashlib
import importlib.util
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
BUILD = os.path.join(HERE, "target")
SF = 0.01          # scale factor of the generated tables
GEN_VERSION = 1    # bump when gen_data.py changes its output
RUN_TIMEOUT = 170  # seconds a run may take, build excluded
# metric groups a workload does not exercise; they report 0
NOT_EXERCISED = {
    "batch": ("archive.", "ingest.", "telemetry."),
    "stream": (),
}
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def log(*a):
    print("[perfbench]", *a, file=sys.stderr, flush=True)


def sources_stamp():
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"),
             os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        paths = [r] if os.path.isfile(r) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(r) for f in fs)
        for p in paths:
            h.update(p[len(ROOT):].encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def build():
    """Compile engine + harness; return the runtime classpath."""
    stamp = sources_stamp()
    cp_file = os.path.join(BUILD, "perfbench-classpath.txt")
    if os.path.exists(cp_file):
        with open(cp_file) as f:
            got_stamp, cp = f.read().split("\n", 1)
        if got_stamp == stamp:
            return cp.strip()
    env = dict(os.environ, COURSIER_MODE="offline")
    env.setdefault("SBT_OPTS", "-Dsbt.offline=true")
    log("building engine and harness with sbt ...")
    t0 = time.time()
    out = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
         "export Runtime/fullClasspath"],
        cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
        text=True, timeout=850)
    lines = [l for l in out.stdout.splitlines() if l.strip()]
    if out.returncode != 0 or not lines:
        sys.stderr.write(out.stdout[-4000:])
        raise SystemExit("sbt build failed")
    cp = lines[-1].strip()
    os.makedirs(BUILD, exist_ok=True)
    with open(cp_file, "w") as f:
        f.write(stamp + "\n" + cp)
    log(f"built in {time.time() - t0:.0f} s")
    return cp


def data_dir():
    d = os.path.join(WORK, f"data-sf{SF}-v{GEN_VERSION}")
    if not os.path.exists(os.path.join(d, "embeddings.parquet")):
        sys.path.insert(0, HERE)
        import gen_data
        tmp = d + ".tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        gen_data.generate(tmp, SF)
        shutil.rmtree(d, ignore_errors=True)
        os.rename(tmp, d)
    return d


def run_jvm(cp, args, work, deadline):
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
        if os.environ.get("JAVA_HOME") else "java"
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # a fixed, pre-touched heap: first touches of fresh heap pages stall
    # this kind of virtual machine, which otherwise lands in the timings
    cmd = [java, "-Xms2g", "-Xmx2g", "-XX:+AlwaysPreTouch", "-XX:-UsePerfData",
           f"-Djava.io.tmpdir={tmp}",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "perfbench.Main"] + args
    proc = subprocess.Popen(cmd, stdout=sys.stderr, stderr=sys.stderr,
                            start_new_session=True)
    try:
        return proc.wait(timeout=max(1, deadline - time.time()))
    except subprocess.TimeoutExpired:
        log("run timed out; stopping the JVM")
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        return None


def oracle_check(results, data):
    """tools/check.py's compare of each result against its DuckDB oracle;
    returns the names of the queries that do not match."""
    path = os.path.join(ROOT, "tools", "check.py")
    sys.dont_write_bytecode = True
    spec = importlib.util.spec_from_file_location("graft_check", path)
    check = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(check)
    record = os.path.join(results, "check.json")
    with contextlib.redirect_stdout(sys.stderr):
        check.main(results, data, record)
    with open(record) as f:
        return sorted(n for n, r in json.load(f).items() if not r["hash_match"])


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(NOT_EXERCISED))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        raise SystemExit("engine sources not found next to perfbench/")
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    wanted = spec["per_layer" if a.trace else "end_to_end"]

    cp = build()
    data = data_dir()
    deadline = time.time() + RUN_TIMEOUT
    work = os.path.join(WORK, f"run-{a.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    out = os.path.join(work, "record.json")
    try:
        rc = run_jvm(cp, ["--workload", a.workload, "--seed", str(a.seed),
                          "--seconds", str(a.seconds), "--trace", str(a.trace),
                          "--data", data, "--work", work, "--out", out],
                     work, deadline)
        if rc != 0 or not os.path.exists(out):
            raise SystemExit(f"benchmark JVM failed (exit {rc})")
        with open(out) as f:
            rec = json.load(f)
        failed = rec["failed"]
        if rec["oracle_dir"]:
            bad = oracle_check(rec["oracle_dir"], data)
            if bad:
                log("oracle mismatch:", ", ".join(bad))
            failed += len(bad)
        got = rec["layers" if a.trace else "end_to_end"]
        metrics = {}
        for m in wanted:
            name = m["name"]
            if name not in got:
                if not name.startswith(NOT_EXERCISED[a.workload]):
                    raise SystemExit(f"metric {name} missing from the record")
                got[name] = 0.0
            metrics[name] = {"value": got[name], "unit": m["unit"]}
        if a.trace:
            traces = os.path.join(WORK, "traces")
            os.makedirs(traces, exist_ok=True)
            with open(os.path.join(
                    traces, f"{a.workload}-seed{a.seed}.json"), "w") as f:
                json.dump({k: rec[k] for k in ("workload", "seed", "extra",
                                               "spans")}, f)
        log(json.dumps({"seed": a.seed, "extra": {
            k: v for k, v in rec["extra"].items() if k != "ledger"}}))
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps({"correct": failed == 0, "attempted": rec["attempted"],
                      "failed": failed, "metrics": metrics}))


if __name__ == "__main__":
    main()
