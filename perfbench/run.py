#!/usr/bin/env python3
"""Run one workload of graft's benchmark and print its result.

Usage, from the repository root:

    python3 perfbench/run.py --workload backfill_full --seed 1 --seconds 10 --trace 0

Builds the engine and the benchmark from source with sbt on first use
(or when a source file changed), then runs one JVM (perfbench.Main).
Stdout ends with one JSON line: {"correct", "attempted", "failed",
"metrics"}; with --trace 0 the metrics are the end-to-end ones, with
--trace 1 the per-layer ones. The line before it records the
environment. Exits non-zero if the program cannot be built or run, or
if an output check failed.
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
REPO = os.path.dirname(HERE)
BUILD = os.path.join(HERE, "target")
WORKLOADS = ("backfill_full", "serve_warm")
BUILD_TIMEOUT_S = 840
# time a run may take beyond --seconds: JVM start, inputs, three set-ups,
# warm-up, the requests that finish the last round, and the output checks
RUN_ALLOWANCE_S = 150

# Spark 4 on JDK 17 needs these outside spark-submit; the same list the
# repository's build passes to its forked JVMs.
ADD_OPENS = [
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


def source_digest():
    """Hash of every input of the build, so a changed tree rebuilds."""
    h = hashlib.sha256()
    roots = [os.path.join(REPO, "src", "main"), os.path.join(HERE, "src"),
             os.path.join(REPO, "project"), os.path.join(HERE, "project")]
    files = [os.path.join(REPO, "build.sbt"), os.path.join(HERE, "build.sbt")]
    for r in roots:
        for d, dirs, names in os.walk(r):
            dirs[:] = sorted(x for x in dirs if x not in ("target", "project"))
            files += [os.path.join(d, n) for n in sorted(names)]
    for f in files:
        if os.path.isfile(f):
            h.update(os.path.relpath(f, REPO).encode())
            with open(f, "rb") as fh:
                h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def run_group(cmd, timeout, **kw):
    """Run cmd in its own process group; kill the group on timeout."""
    p = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        out, _ = p.communicate(timeout=timeout)
        return p.returncode, out
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.communicate()
        return None, None
    finally:
        if p.poll() is None:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()


def classpath(digest):
    """The runtime classpath, building first if the sources changed."""
    cache = os.path.join(BUILD, "classpath.json")
    if os.path.exists(cache):
        with open(cache) as fh:
            c = json.load(fh)
        if c.get("digest") == digest:
            return c["classpath"]
    log("building engine and benchmark with sbt ...")
    t0 = time.time()
    env = dict(os.environ, COURSIER_MODE="offline")
    rc, out = run_group(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "export Runtime/fullClasspath"],
        BUILD_TIMEOUT_S, cwd=HERE, env=env, stdout=subprocess.PIPE,
        stderr=subprocess.STDOUT, text=True)
    if rc != 0:
        if out:
            sys.stderr.write(out[-4000:])
        raise SystemExit(f"[perfbench] build failed (rc={rc})")
    cp = out.strip().splitlines()[-1].strip()
    os.makedirs(BUILD, exist_ok=True)
    with open(cache, "w") as fh:
        json.dump({"digest": digest, "classpath": cp}, fh)
    log(f"built in {time.time() - t0:.0f} s")
    return cp


def loadavg():
    try:
        with open("/proc/loadavg") as fh:
            return float(fh.read().split()[0])
    except OSError:
        return -1.0


def steal_s():
    """CPU time the hypervisor gave to other guests, summed over CPUs."""
    try:
        with open("/proc/stat") as fh:
            return int(fh.readline().split()[8]) / os.sysconf("SC_CLK_TCK")
    except (OSError, IndexError, ValueError):
        return -1.0


def dir_bytes(p):
    total = 0
    for d, _, names in os.walk(p):
        for n in names:
            try:
                total += os.path.getsize(os.path.join(d, n))
            except OSError:
                pass
    return total


def git_commit():
    try:
        r = subprocess.run(["git", "-C", REPO, "rev-parse", "HEAD"], capture_output=True,
                           text=True, timeout=30)
        return r.stdout.strip() if r.returncode == 0 else None
    except (OSError, subprocess.SubprocessError):
        return None


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, type=int, choices=(0, 1))
    a = ap.parse_args()

    if not os.path.isdir(os.path.join(REPO, "src", "main", "scala", "graft")) or \
            not os.path.isfile(os.path.join(REPO, "build.sbt")):
        raise SystemExit("[perfbench] engine sources not found beside perfbench/")

    digest = source_digest()
    cp = classpath(digest)

    root = os.path.join(BUILD, f"run-{os.getpid()}")
    shutil.rmtree(root, ignore_errors=True)
    os.makedirs(root)
    result = os.path.join(root, "result.json")
    nproc = os.cpu_count()
    mem = "2g"
    cmd = (["java"] + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")] +
           [f"-Xmx{mem}", "-Duser.timezone=UTC", f"-Djava.io.tmpdir={root}",
            "-Dspark.ui.enabled=false", "-cp", cp, "perfbench.Main",
            "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", str(a.trace),
            "--root", root, "--result", result])
    load_before, steal_before = loadavg(), steal_s()
    t0 = time.time()
    rc, _ = run_group(cmd, a.seconds + RUN_ALLOWANCE_S, cwd=root, stdout=sys.stderr, stderr=sys.stderr)
    wall = time.time() - t0
    load_after, steal = loadavg(), steal_s() - steal_before
    res = None
    if rc == 0 and os.path.exists(result):
        with open(result) as fh:
            res = json.load(fh)
        spans = result + ".spans.jsonl"
        if os.path.exists(spans):
            keep = os.path.join(BUILD, "traces")
            os.makedirs(keep, exist_ok=True)
            shutil.copy(spans, os.path.join(keep, f"{a.workload}-{a.seed}.spans.jsonl"))
            os.remove(spans)
        os.remove(result)
    leftover = dir_bytes(root)
    shutil.rmtree(root, ignore_errors=True)
    if res is None:
        raise SystemExit(f"[perfbench] benchmark JVM failed (rc={rc}, {wall:.0f} s)")

    metrics = res["per_layer"] if a.trace else res["end_to_end"]
    correct = res["failed"] == 0 and res["errors"] == 0
    env = {
        "workload": a.workload, "seed": a.seed, "seconds": a.seconds, "trace": a.trace,
        "cpus": res["cpus"], "nproc": nproc, "loadavg_before": load_before,
        "loadavg_after": load_after, "steal_s": round(steal, 2), "data": f"seeded synthetic ({res['data']})",
        "git_commit": git_commit(), "source_sha256": digest, "jdk": res["java"], "spark": res["spark"],
        "wall_s": round(wall, 3), "leftover_bytes": leftover,
        "setups_s": res["setups_s"],
        "jvm_start_to_first_request_s": res["jvm_start_to_first_request_s"],
        "tail_percentile": res["tail_percentile"],
        "tail_samples_beyond": res["tail_samples_beyond"],
        "heap_after_requests_mb": res["heap_after_requests_mb"],
        "requests": res["requests"], "by_label": res["by_label"],
        "latencies_s": [round(x, 4) for x in res["latencies_s"]],
        "first_error": res["first_error"],
    }
    print(json.dumps({"environment": env}))
    print(json.dumps({"correct": correct, "attempted": res["attempted"],
                      "failed": res["failed"], "metrics": metrics}))
    sys.exit(0 if correct else 1)


if __name__ == "__main__":
    main()
