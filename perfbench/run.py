#!/usr/bin/env python3
"""Run one workload of the graft benchmark and print its result.

    python3 perfbench/run.py --workload ingest --seed 1 --seconds 20 --trace 0

Run from the root of a checkout. The first run builds the benchmark,
and with it the engine from ../src/main/scala, through the sbt build in
this directory (offline); later runs reuse the build while the sources
are unchanged. Builds, inputs and traces stay under .bench_build/ (or
$CARGO_TARGET_DIR when set).

The last line of standard output is one JSON object with the keys
correct, attempted, failed and metrics. With --trace 0 the metrics are
the end-to-end metrics of BENCHMARK.json, with --trace 1 the per-layer
ones; a traced run reports its overhead against the untraced runs
already made in this checkout, and a traced run of ingest also runs one
round at local[1] and prints its per-layer tasks and wall beside the
local[N] numbers. A failed call or check makes the run report correct=false
with no metrics and exit 1; a run that cannot build or start exits
non-zero without printing a result.
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

START = time.time()
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
ENGINE_SRC = os.path.join(ROOT, "src", "main", "scala")
RUN_LIMIT_S = 175      # a run must end within 180 s, not counting a build
BUILD_LIMIT_S = 700    # the first run in a checkout, which builds, within 900 s
JVM_HEAP = "3g"
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def log(msg):
    print(msg, file=sys.stderr, flush=True)


def build_dir():
    return os.path.abspath(os.environ.get("CARGO_TARGET_DIR") or os.path.join(ROOT, ".bench_build"))


def run_group(cmd, timeout, **kw):
    """Run cmd in its own process group; kill the group on timeout and
    wait for it, so nothing outlives the benchmark."""
    p = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        return p.wait(timeout=max(1, timeout))
    except subprocess.TimeoutExpired:
        log(f"timed out after {timeout:.0f} s: {cmd[0]}")
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        return None
    except BaseException:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        raise


def source_stamp():
    h = hashlib.sha256()
    roots = [ENGINE_SRC, os.path.join(HERE, "src", "main", "scala")]
    files = [os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        for d, _, fs in os.walk(r):
            files += [os.path.join(d, f) for f in fs]
    for f in sorted(files):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build(out, stamp):
    """Compile the benchmark and the engine; return the runtime classpath."""
    if not os.path.isdir(ENGINE_SRC):
        log(f"cannot build: the engine sources ({os.path.relpath(ENGINE_SRC, ROOT)}) are not here")
        return None
    cp_file = os.path.join(HERE, "target", "bench-classpath.txt")
    stamp_file = os.path.join(out, "build.stamp")
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                with open(cp_file) as f2:
                    return f2.read().strip()
    opts = ["-Dsbt.offline=true", f"-Dsbt.global.base={out}/sbt-global",
            f"-Dsbt.ivy.home={out}/ivy", "-Dsbt.log.noformat=true", "-Dsbt.server.autostart=false"]
    repos = os.path.expanduser("~/.sbt/repositories")
    sbt_opts = os.environ.get("SBT_OPTS", "")
    if os.path.exists(repos) and "sbt.repository.config" not in sbt_opts:
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env = dict(os.environ, COURSIER_MODE="offline")
    log("building the benchmark and the engine (sbt writeClasspath)")
    t0 = time.time()
    rc = run_group(["sbt", "-batch"] + opts + ["writeClasspath"], BUILD_LIMIT_S,
                   cwd=HERE, env=env, stdout=sys.stderr, stderr=sys.stderr, stdin=subprocess.DEVNULL)
    if rc != 0 or not os.path.exists(cp_file):
        log(f"build failed (exit {rc})")
        return None
    with open(stamp_file, "w") as f:
        f.write(stamp)
    log(f"built in {time.time() - t0:.0f} s")
    with open(cp_file) as f:
        return f.read().strip()


def run_jvm(cp, out, a, label, cpus, extra, deadline, cds):
    """Run perfbench.Main once; return its result (None if it wrote
    none) and its trace path. The JVM maps the workload's class-data
    archive when there is one, and otherwise writes it at exit: Spark's
    classes then load pre-parsed in later runs, which about halves a run
    on a 4-vCPU box."""
    work = os.path.join(out, "work", f"{a.workload}-{a.seed}-{label}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    result = os.path.join(work, "result.json")
    trace_out = os.path.join(out, "traces", f"{a.workload}-seed{a.seed}-{label}.json")
    os.makedirs(os.path.dirname(trace_out), exist_ok=True)
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") if os.environ.get("JAVA_HOME") else "java"
    dump = not os.path.exists(cds)
    cmd = [java, f"-Xmx{JVM_HEAP}", f"-Xms{JVM_HEAP}",
           f"-XX:ArchiveClassesAtExit={cds}.tmp" if dump else f"-XX:SharedArchiveFile={cds}",
           "-Xlog:cds=off", "-Xlog:cds+dynamic=off", f"-Djava.io.tmpdir={work}/tmp",
           f"-Dspark.local.dir={work}/tmp", f"-Dspark.sql.warehouse.dir={work}/warehouse",
           f"-Dderby.system.home={work}/tmp", "-Dspark.ui.enabled=false",
           "-Dspark.sql.session.timeZone=UTC"]
    cmd += [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    cmd += ["-cp", cp, "perfbench.Main", "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", str(a.trace), "--work", work,
            "--result", result, "--start-ms", str(int(time.time() * 1000)), "--label", label]
    if a.trace:
        cmd += ["--trace-out", trace_out]
    if a.fail:
        cmd += ["--fail", a.fail]
    cmd += extra
    env = dict(os.environ, SPARK_GRAFT_CPUS=str(cpus), SPARK_LOCAL_DIRS=f"{work}/tmp")
    try:
        rc = run_group(cmd, deadline - time.time(), cwd=work, env=env, stdin=subprocess.DEVNULL)
        res = None
        if os.path.exists(result):
            with open(result) as f:
                res = json.load(f)
        if dump and rc is not None and os.path.exists(cds + ".tmp"):
            os.replace(cds + ".tmp", cds)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    if res is None:
        log(f"{label}: no result (exit {rc})")
    return res, trace_out


def main():
    # a SIGTERM unwinds through run_group, which kills the child's group
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=["ingest", "lifecycle"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--fail", help="make this call (a span name) throw, to test failure reporting")
    a = ap.parse_args()

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    out = os.path.join(build_dir(), "perfbench")
    os.makedirs(out, exist_ok=True)
    t0 = time.time()
    stamp = source_stamp()
    cp = build(out, stamp)
    if cp is None:
        return 3
    deadline = START + RUN_LIMIT_S + (time.time() - t0)
    cds = os.path.join(out, f"classes-{a.workload}-{stamp[:16]}.jsa")
    for old in glob.glob(os.path.join(out, f"classes-{a.workload}-*.jsa")):
        if old != cds:
            os.remove(old)  # an archive of an earlier build
    cpus = len(os.sched_getaffinity(0))
    res, trace_out = run_jvm(cp, out, a, "main", cpus, [], deadline, cds)
    if res is None:
        return 2
    attempted, failed = res["attempted"], res["failed"]
    results = os.path.join(out, "results")
    if a.trace and res["correct"]:
        report_overhead(results, a, res, trace_out)
        if a.workload == "ingest":
            base, _ = run_jvm(cp, out, a, "local1", 1, ["--rounds", "1", "--setup-reps", "1"],
                              deadline, cds)
            if base is None:
                return 2
            attempted += base["attempted"]
            failed += base["failed"]
            res["failures"] = res.get("failures", []) + base.get("failures", [])
            if base["correct"]:
                compare_baseline(res["metrics"], base["metrics"], cpus, trace_out)
    for line in res.get("failures", []):
        log(f"FAILED {line}")
    correct = res["correct"] and failed == 0
    metrics = res["metrics"] if correct else {}
    if correct:
        want = {m["name"] for m in spec["per_layer" if a.trace else "end_to_end"]}
        if set(metrics) != want:
            log(f"metric names differ from BENCHMARK.json: {sorted(set(metrics) ^ want)}")
            return 3
        if not a.trace:
            os.makedirs(results, exist_ok=True)
            with open(os.path.join(results, f"{a.workload}-seed{a.seed}.json"), "w") as f:
                json.dump({"timed_s": res["timed_s"], "metrics": metrics}, f)
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                      "metrics": metrics}), flush=True)
    return 0 if correct else 1


def report_overhead(results, a, res, trace_out):
    """Tracing overhead: the traced run's timed wall against the untraced
    runs of the same workload in this checkout (the same seed when there
    is one). Reported, not gated."""
    if not os.path.isdir(results):
        return
    same = os.path.join(results, f"{a.workload}-seed{a.seed}.json")
    files = [same] if os.path.exists(same) else [
        os.path.join(results, f) for f in os.listdir(results) if f.startswith(a.workload + "-")]
    walls = sorted(json.load(open(f))["timed_s"] for f in files)
    if not walls:
        return
    plain = walls[len(walls) // 2]
    overhead = res["timed_s"] / plain - 1
    print(f"tracing overhead {overhead * 100:+.1f}% timed wall (traced {res['timed_s']:.3f} s "
          f"vs untraced {plain:.3f} s over {len(walls)} run(s))")
    with open(trace_out) as f:
        trace = json.load(f)
    trace["tracing_overhead"] = {"traced_s": res["timed_s"], "untraced_s": plain,
                                 "untraced_runs": len(walls), "overhead": overhead}
    with open(trace_out, "w") as f:
        json.dump(trace, f, indent=1)


def compare_baseline(main_m, base_m, cpus, trace_out):
    """Per-layer tasks and wall at local[1] beside local[N]: reported, not gated."""
    rows = {}
    for name, m in base_m.items():
        span, _, counter = name.rpartition(".")
        if counter in ("tasks", "wall_s") and m["value"]:
            rows.setdefault(span, {})[counter] = (m["value"], main_m[name]["value"])
    for span, c in rows.items():
        t1, tn = c.get("tasks", (0, 0))
        w1, wn = c.get("wall_s", (0, 0))
        print(f"local[1] vs local[{cpus}] {span}: tasks {t1:.1f} vs {tn:.1f}, "
              f"wall {w1:.3f} s vs {wn:.3f} s")
    if os.path.exists(trace_out):
        with open(trace_out) as f:
            trace = json.load(f)
        trace["local1_vs_localN"] = {"cpus": cpus, "layers": {
            s: {k: {"local1": v[0], f"local{cpus}": v[1]} for k, v in c.items()}
            for s, c in rows.items()}}
        with open(trace_out, "w") as f:
            json.dump(trace, f, indent=1)


if __name__ == "__main__":
    sys.exit(main())
