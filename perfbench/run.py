#!/usr/bin/env python3
"""Runs one benchmark workload against the engine in this checkout.

    python3 perfbench/run.py --workload relational --seed 1 --seconds 10 --trace 0

Run from the root of the checkout. The first run builds the engine and the
benchmark with sbt (offline) and generates the input tables under
.bench_build/; later runs reuse both while the sources are unchanged. The
last line of standard output is the result:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

with the end-to-end metrics of BENCHMARK.json for --trace 0 and its
per-layer metrics for --trace 1. The line before it carries every figure
the run measured, with the run's context (cores, load, heap, commit);
the full result, per-query rows and span trees go to
.bench_build/results/.
"""
import argparse
import hashlib
import json
import os
import resource
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import gen  # noqa: E402
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
WORKLOADS = ("relational", "near_dup", "weather_stream")
HEAP = "3g"
# a benchmark run must end within 180 s; --full runs by hand get longer
JVM_TIMEOUT_S = 170
FULL_TIMEOUT_S = 900
# what a build depends on, under the checkout root and under perfbench/
SOURCES = ("build.sbt", "project/build.properties", "src/main")
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar"]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def tree_hash(base, entries):
    h = hashlib.sha256()
    for e in entries:
        p = os.path.join(base, e)
        files = [p] if os.path.isfile(p) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(p) for f in fs)
        for f in files:
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()[:16]


def sbt_env():
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = ["-Dsbt.offline=true", "-Xmx2g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    return env


def build():
    """Compiles engine + benchmark; returns the runtime classpath."""
    missing = [e for e in SOURCES if not os.path.exists(os.path.join(ROOT, e))]
    if missing:
        raise SystemExit(f"[perfbench] no engine sources in {ROOT} (missing {missing})")
    stamp = tree_hash(ROOT, SOURCES) + tree_hash(HERE, SOURCES)
    cp_file = os.path.join(BUILD, "classpath.json")
    if os.path.exists(cp_file):
        with open(cp_file) as f:
            cached = json.load(f)
        if cached.get("stamp") == stamp:
            return cached["classpath"], stamp
    log("building engine and benchmark with sbt (offline)")
    t0 = time.time()
    proc = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
         "export Runtime/fullClasspath"],
        cwd=HERE, env=sbt_env(), stdout=subprocess.PIPE, stderr=sys.stderr,
        text=True, timeout=840)
    out = [l for l in proc.stdout.splitlines() if l.strip()]
    if proc.returncode != 0 or not out:
        sys.stderr.write(proc.stdout[-4000:])
        raise SystemExit("[perfbench] build failed")
    classpath = out[-1].strip()
    os.makedirs(BUILD, exist_ok=True)
    with open(cp_file, "w") as f:
        json.dump({"stamp": stamp, "classpath": classpath}, f)
    log(f"built in {time.time() - t0:.0f} s")
    return classpath, stamp


def data_dir():
    out = os.path.join(BUILD, "data", tree_hash(HERE, ("gen.py",)))
    if not os.path.exists(os.path.join(out, "DONE")):
        tmp = out + ".tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        gen.generate(tmp)
        open(os.path.join(tmp, "DONE"), "w").close()
        shutil.rmtree(out, ignore_errors=True)
        os.rename(tmp, out)
    return out


def cores():
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def loadavg():
    try:
        with open("/proc/loadavg") as f:
            return f.read().split()[:3]
    except OSError:
        return None


def cpu_ticks():
    """(steal, total) jiffies over all CPUs from /proc/stat."""
    try:
        with open("/proc/stat") as f:
            v = [int(x) for x in f.readline().split()[1:]]
        return v[7], sum(v[:8])
    except (OSError, IndexError, ValueError):
        return None


def commit(stamp):
    try:
        return subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                              text=True, timeout=10).stdout.strip() or f"tree:{stamp}"
    except (OSError, subprocess.SubprocessError):
        return f"tree:{stamp}"


def run_jvm(classpath, workload, seed, seconds, trace, data, work, full=False):
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    cmd = ["java", f"-Xmx{HEAP}", "-Dspark.ui.enabled=false",
           f"-Djava.io.tmpdir={work}/tmp"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", classpath, "perfbench.Main", "--workload", workload,
            "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace),
            "--data", data, "--work", work, "--cores", str(cores()),
            "--full", "1" if full else "0"]
    timeout = FULL_TIMEOUT_S if full else JVM_TIMEOUT_S
    proc = subprocess.Popen(cmd, cwd=work, stdout=sys.stderr, stderr=sys.stderr)
    try:
        code = proc.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        raise SystemExit(f"[perfbench] {workload} run exceeded {timeout} s")
    if code != 0:
        raise SystemExit(f"[perfbench] {workload} run failed with exit code {code}")
    with open(os.path.join(work, "result.json")) as f:
        return json.load(f)


def check_outputs(result, work):
    """Fingerprints each query's cold-pass output against the pinned one;
    returns the mismatches."""
    names = result["check_queries"]
    if not names:
        return []
    import fingerprint
    with open(os.path.join(HERE, "fingerprints.json")) as f:
        pinned = json.load(f)
    bad = []
    for n in names:
        path = os.path.join(work, "check", n)
        try:
            got = fingerprint.of_parquet(path, n)
        except Exception as e:  # a missing or unreadable dump is a wrong output
            got = f"unreadable: {e}"
        if got != pinned.get(n):
            bad.append(f"{n}: got {got}, pinned {pinned.get(n)}")
    return bad


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--full", action="store_true",
                    help="relational: run all 60 b* queries instead of the default 15")
    a = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)

    load_start = loadavg()
    classpath, stamp = build()
    data = data_dir()
    work = os.path.join(BUILD, "work", a.workload)
    ticks0 = cpu_ticks()
    cpu0 = resource.getrusage(resource.RUSAGE_CHILDREN)
    result = run_jvm(classpath, a.workload, a.seed, a.seconds, a.trace, data, work, a.full)
    cpu1 = resource.getrusage(resource.RUSAGE_CHILDREN)
    ticks1 = cpu_ticks()
    mismatches = check_outputs(result, work)

    failed = int(result["failed"]) + len(mismatches)
    attempted = int(result["attempted"])
    errors = result["errors"] + mismatches
    for e in errors:
        log(f"wrong or failed: {e}")
    m = result["metrics"]
    if a.trace:
        wanted = [(x["name"], x["unit"], m.get(f"layer:{x['name']}")) for x in spec["per_layer"]]
    else:
        wanted = [(x["name"], x["unit"], m.get(x["name"])) for x in spec["end_to_end"]]
    absent = [n for n, _, v in wanted if v is None]
    if absent:
        raise SystemExit(f"[perfbench] run produced no value for {absent}")
    context = {
        "nproc": cores(), "loadavg_start": load_start, "loadavg_end": loadavg(),
        # share of CPU time the hypervisor gave to other guests during the run
        "cpu_steal_share": (ticks1[0] - ticks0[0]) / max(1, ticks1[1] - ticks0[1])
        if ticks0 and ticks1 else None,
        "jvm_cpu_s": cpu1.ru_utime + cpu1.ru_stime - cpu0.ru_utime - cpu0.ru_stime,
        "seed": a.seed, "seconds": a.seconds, "trace": a.trace, "full": a.full, "heap": HEAP,
        "commit": commit(stamp), "source_stamp": stamp,
        "data": {"sf": gen.SF, "docs": gen.DOCS, "vecs": gen.VECS}}
    detail = dict(result["detail"], error_rate=failed / attempted)
    os.makedirs(os.path.join(BUILD, "results"), exist_ok=True)
    stem = os.path.join(BUILD, "results", f"{a.workload}-seed{a.seed}-trace{a.trace}")
    with open(stem + ".json", "w") as f:
        json.dump({"context": context, "detail": detail, "metrics": m,
                   "per_query": result["per_query"], "errors": errors}, f, indent=1)
    if result.get("trace_detail"):
        with open(stem + "-spans.json", "w") as f:
            json.dump(result["trace_detail"], f)
    print(json.dumps({"workload": a.workload, "context": context, "detail": detail}))
    print(json.dumps({
        "correct": failed == 0, "attempted": attempted, "failed": failed,
        "metrics": {n: {"value": v, "unit": u} for n, u, v in wanted}}))


if __name__ == "__main__":
    main()
