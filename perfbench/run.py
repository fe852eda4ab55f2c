#!/usr/bin/env python3
"""Run one benchmark workload and print its result as the last stdout line.

    python3 perfbench/run.py --workload ep1_events --seed 1 --seconds 10 --trace 0

Builds the program and the benchmark from source with sbt on first use (or
when a source changed), then runs the benchmark JVM (perfbench.Main)
in a fresh work directory under perfbench/work/, which is deleted when the
run ends. With --trace 0 the result carries every end-to-end metric named
in BENCHMARK.json; with --trace 1 every per-layer metric. Full results,
the traced run's spans and the JVM and GC logs are kept under
perfbench/results/.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("ep1_events", "bm25_ingest")
STAMP = os.path.join(HERE, "target", "perfbench-classpath.txt")
BUILD_TIMEOUT_S = 850
RUN_TIMEOUT_S = 170
HEAP = "2g"

# What spark-submit adds for JDK 17 (JavaModuleOptions); the benchmark JVM
# is launched directly, so it needs them too.
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def sources():
    """Every input of the build: the program's and the benchmark's."""
    files = [os.path.join(ROOT, "build.sbt"),
             os.path.join(ROOT, "project", "build.properties"),
             os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for top in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")):
        for d, _, fs in os.walk(top):
            files += [os.path.join(d, f) for f in fs]
    return files


def run_group(cmd, timeout, **kw):
    """Run `cmd` in its own process group; on timeout kill the whole
    group and wait for it, so nothing the run started outlives it."""
    p = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        return p.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        return None
    except BaseException:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        raise


def classpath():
    srcs = sources()
    if os.path.exists(STAMP) and all(
            os.path.getmtime(f) <= os.path.getmtime(STAMP) for f in srcs):
        with open(STAMP) as f:
            return f.read().strip()
    os.makedirs(os.path.dirname(STAMP), exist_ok=True)
    log = os.path.join(HERE, "target", "build.log")
    with open(log, "w") as out:
        rc = run_group(["sbt", "--batch", "-Dsbt.log.noformat=true",
                        "-Dsbt.server.autostart=false", "compile",
                        "export Runtime/fullClasspath"],
                       BUILD_TIMEOUT_S, cwd=HERE, stdout=out,
                       stderr=subprocess.STDOUT, stdin=subprocess.DEVNULL)
    if rc != 0:
        fail(f"build failed (exit {rc}); see {log}", 3)
    with open(log) as f:
        lines = [l.strip() for l in f if ".jar" in l and os.pathsep in l]
    if not lines:
        fail(f"build printed no classpath; see {log}", 3)
    with open(STAMP, "w") as f:
        f.write(lines[-1])
    return lines[-1]


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, type=int, choices=(0, 1))
    a = ap.parse_args()
    if a.seconds < 1:
        fail("--seconds must be at least 1")
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        fail("the program's sources are not in this checkout", 3)
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)

    cp = classpath()
    slots = len(os.sched_getaffinity(0))
    stamp = f"{a.workload}-s{a.seed}-t{a.trace}-{int(time.time())}-{os.getpid()}"
    work = os.path.join(HERE, "work", stamp)
    results = os.path.join(HERE, "results")
    os.makedirs(results, exist_ok=True)
    out = os.path.join(results, stamp + ".json")
    for d in ("local", "tmp", "scratch"):
        os.makedirs(os.path.join(work, d))
    env = dict(os.environ, SPARK_GRAFT_SCRATCH=os.path.join(work, "scratch"))
    # A fixed young generation and initiating occupancy keep the heap's
    # growth, and so peak RSS, from following GC timing run to run.
    cmd = (["java", f"-Xmx{HEAP}", "-Xmn768m", "-XX:-G1UseAdaptiveIHOP",
            "-XX:-UsePerfData", f"-Djava.io.tmpdir={work}/tmp",
            f"-Xlog:gc:file={results}/{stamp}.gc.log:uptime",
            "-Dspark.ui.enabled=false",
            # job call sites deep enough to reach the graft frame that
            # launched them, for the traced run's layer attribution
            "-Dspark.callstack.depth=400"]
           + [x for p in ADD_OPENS for x in ("--add-opens", p + "=ALL-UNNAMED")]
           + ["-cp", cp, "perfbench.Main", "--workload", a.workload,
              "--seed", str(a.seed), "--seconds", str(a.seconds),
              "--trace", str(a.trace), "--slots", str(slots),
              "--work", work, "--out", out, "--run-id", stamp])
    load_before = open("/proc/loadavg").read().split()[:3]
    try:
        with open(os.path.join(results, stamp + ".log"), "w") as log:
            rc = run_group(cmd, RUN_TIMEOUT_S, cwd=work, env=env,
                           stdout=log, stderr=subprocess.STDOUT,
                           stdin=subprocess.DEVNULL)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.join(HERE, "work"))
        except OSError:
            pass
    load_after = open("/proc/loadavg").read().split()[:3]
    if rc != 0:
        fail(f"benchmark JVM {'timed out' if rc is None else f'exited {rc}'}; "
             f"see {out[:-5]}.log", 1)
    with open(out) as f:
        res = json.load(f)

    names = spec["per_layer"] if a.trace else spec["end_to_end"]
    source = res["per_layer"] if a.trace else res["end_to_end"]
    metrics = {}
    for m in names:
        v = source.get(m["name"])
        if v is None and not a.trace:
            fail(f"benchmark JVM reported no {m['name']}", 1)
        metrics[m["name"]] = {"value": float(v or 0.0), "unit": m["unit"]}
    e2e = res["end_to_end"]
    print(json.dumps({
        "detail": {
            "workload": a.workload, "seed": a.seed, "trace": a.trace,
            "slots": slots, "units": e2e["units"],
            "error_rate": e2e["error_rate"],
            "latency_tail": {"percentile": e2e["latency_tail_pct"],
                             "samples": e2e["units"],
                             "samples_beyond": e2e["latency_tail_beyond"]},
            "setup_ms": res["setup_ms"], "warmup_ms": res["warmup_ms"],
            "session_s": e2e["session_s"],
            "calibration_s": res["calibration_s"],
            "loadavg": {"before": load_before, "after": load_after,
                        "jvm": res["loadavg"]},
            "timed_loop": res["timed_loop"],
            "result_file": os.path.relpath(out, ROOT)}}))
    print(json.dumps({"correct": bool(res["correct"]),
                      "attempted": int(res["attempted"]),
                      "failed": int(res["failed"]),
                      "metrics": metrics}))


if __name__ == "__main__":
    main()
