#!/usr/bin/env python3
"""The repository benchmark.

    python3 perfbench/run.py --workload W --seed N --seconds S --trace 0|1

Run from the repository root. The first run in a checkout compiles graft
plus the harness (perfbench/build.sbt); later runs reuse the build while the
sources are unchanged. The inputs are the project's sf0.01 test fixtures,
kept in perfbench/fixtures. Everything generated lives under perfbench/.work.

Each run starts one JVM (perfbench.Main) that runs the workload and checks
its outputs. The last line of stdout is the result:
{"correct", "attempted", "failed", "metrics"} with the end-to-end metrics
(--trace 0) or the per-layer metrics (--trace 1). The line before it is the
run's report: the workload's own metrics, the environment, and for a traced
run its overhead against the untraced runs already recorded in the checkout.
Each run's full record is written to perfbench/.work/results/.
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

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
WORK = os.path.join(BENCH, ".work")
WORKLOADS = ("api_mix", "operator_suite")
FIXTURES = os.path.join(BENCH, "fixtures", "sf0.01")
RUN_LIMIT_S = 170
JVM_OPENS = ["java.base/" + p for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def tree_digest(paths):
    """SHA-1 over the relative names and contents of the given files/trees."""
    h = hashlib.sha1()
    for top in paths:
        files = [top] if os.path.isfile(top) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(top) for f in fs)
        for f in files:
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def sources():
    need = [os.path.join(ROOT, p) for p in ("src/main/scala", "build.sbt")]
    if not all(os.path.exists(p) for p in need):
        fail("graft sources not found next to perfbench/ (run from a repository checkout)")
    return need + [os.path.join(BENCH, p) for p in ("build.sbt", "project/build.properties",
                                                   "src/main")]


def stamped(name, digest):
    path = os.path.join(WORK, name + ".stamp")
    return os.path.exists(path) and open(path).read() == digest


def stamp(name, digest):
    with open(os.path.join(WORK, name + ".stamp"), "w") as fh:
        fh.write(digest)


def build(digest):
    """Compile graft and the harness; return the runtime classpath."""
    cp_file = os.path.join(WORK, "classpath.txt")
    if stamped("build", digest) and os.path.exists(cp_file):
        return open(cp_file).read()
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    proc = subprocess.run(
        ["sbt", "-batch", "-Dsbt.log.noformat=true", "export perfbench/Runtime/fullClasspath"],
        cwd=BENCH, env=env, capture_output=True, text=True, timeout=800)
    lines = proc.stdout.strip().splitlines()
    if proc.returncode != 0 or not lines or os.pathsep not in lines[-1]:
        sys.stderr.write(proc.stdout[-4000:] + proc.stderr[-4000:])
        fail("build failed")
    with open(cp_file, "w") as fh:
        fh.write(lines[-1])
    stamp("build", digest)
    return lines[-1]


def java(cp, tmp, args, timeout, log):
    """Run perfbench.Main in its own process group; return its stdout."""
    os.makedirs(tmp, exist_ok=True)
    home = os.environ.get("JAVA_HOME")
    cmd = [os.path.join(home, "bin", "java") if home else "java"]
    for p in JVM_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    # The export and the fixed compiler threads let the harness tell the
    # JIT's CPU time apart from the work's (perfbench.Recorder.jitNanos).
    cmd += ["--add-exports", "java.management/sun.management=ALL-UNNAMED",
            "-XX:-UseDynamicNumberOfCompilerThreads", "-Xmx3g", f"-Djava.io.tmpdir={tmp}", f"-Dspark.local.dir={tmp}",
            f"-Dspark.sql.warehouse.dir={os.path.join(tmp, 'warehouse')}",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            "-cp", cp, "perfbench.Main"] + args
    env = dict(os.environ, SPARK_LOCAL_DIRS=tmp)
    with open(log, "w") as err:
        proc = subprocess.Popen(cmd, cwd=ROOT, env=env, stdout=subprocess.PIPE,
                                stderr=err, text=True, start_new_session=True)
        try:
            out, _ = proc.communicate(timeout=max(1, timeout))
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            fail(f"timed out after {timeout:.0f}s (log: {log})")
        finally:
            if proc.poll() is None:
                os.killpg(proc.pid, signal.SIGKILL)
                proc.wait()
    if proc.returncode != 0:
        with open(log) as fh:
            sys.stderr.write(fh.read()[-4000:])
        fail(f"benchmark JVM exited with {proc.returncode}")
    return out


def prepare():
    """Compile once per source version; return the runtime classpath."""
    digest = tree_digest(sources())
    os.makedirs(WORK, exist_ok=True)
    return build(digest)


def overhead(workload, traced):
    """Traced minus the median of this checkout's untraced runs, per metric."""
    res = os.path.join(WORK, "results")
    base = {}
    for f in sorted(os.listdir(res)) if os.path.isdir(res) else []:
        if f.startswith(workload + "-") and f.endswith("-trace0.json"):
            with open(os.path.join(res, f)) as fh:
                rec = json.load(fh)
            if rec.get("correct"):
                for k, m in rec["end_to_end"].items():
                    if m["value"] is not None:
                        base.setdefault(k, []).append(m["value"])
    return {k: {"value": m["value"] - statistics.median(base[k]), "unit": m["unit"],
                "untraced_runs": len(base[k])}
            for k, m in traced.items() if k in base and m["value"] is not None}


def main():
    ap = argparse.ArgumentParser(description="graft benchmark")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    if a.workload not in WORKLOADS:
        fail(f"unknown workload {a.workload!r}; one of {', '.join(WORKLOADS)}")
    cp = prepare()
    started = time.time()
    run_id = f"{a.workload}-{a.seed}-{os.getpid()}"
    tmp = os.path.join(WORK, "tmp", run_id)
    logs = os.path.join(WORK, "logs")
    os.makedirs(logs, exist_ok=True)
    try:
        out = java(cp, tmp, [
            "run", "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", str(a.trace),
            "--fixtures", FIXTURES, "--work", tmp,
            "--store-fingerprints", os.path.join(BENCH, "store_fingerprints.tsv"),
            "--fingerprints", os.path.join(BENCH, "fingerprints.tsv")],
            RUN_LIMIT_S - (time.time() - started), os.path.join(logs, run_id + ".log"))
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    lines = [l for l in out.splitlines() if l.startswith("PERFBENCH ")]
    if not lines:
        fail("the benchmark JVM printed no result")
    rec = json.loads(lines[-1][len("PERFBENCH "):])
    if a.trace:
        rec["trace_overhead"] = overhead(a.workload, rec["end_to_end"])
    res = os.path.join(WORK, "results")
    os.makedirs(res, exist_ok=True)
    name = f"{a.workload}-{time.strftime('%Y%m%dT%H%M%S')}-{a.seed}-trace{a.trace}.json"
    with open(os.path.join(res, name), "w") as fh:
        json.dump(rec, fh, indent=1)
    report = {k: rec[k] for k in ("report", "env", "notes") if k in rec}
    if a.trace:
        report["trace_overhead"] = rec["trace_overhead"]
    print(json.dumps({"report": report}))
    print(json.dumps({k: rec[k] for k in ("correct", "attempted", "failed", "metrics")}),
          flush=True)


if __name__ == "__main__":
    main()
