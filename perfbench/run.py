#!/usr/bin/env python3
"""graft benchmark: builds the engine from this checkout and runs one
workload in one JVM on local[nproc].

    python3 perfbench/run.py --workload pyramid|queries --seed N \
        --seconds S --trace 0|1

The last line of standard output is the result:
    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}
with every end-to-end metric of BENCHMARK.json when --trace 0 and every
per-layer metric when --trace 1. The lines before it are the harness's
records (set-ups and passes), each stamped with the host fingerprint.

    python3 perfbench/run.py --pin [--small]
re-pins perfbench/digests.json from the code in this checkout: one
verified pass of every workload on every input variant.

See perfbench/README.md for the workloads and metrics.
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
HARNESS = os.path.join(HERE, "harness")
BUILD = os.path.join(HERE, ".build")
WORK = os.path.join(HERE, ".work")
DIGESTS = os.path.join(HERE, "digests.json")
WORKLOADS = ("pyramid", "queries")

# input scale of the timed runs (fixture sf units: sf 0.1 = 100,000 events)
# and of the self-check
SF = 0.005
SMALL_SF = 0.001
# the seed picks one of these input variants; each has pinned digests
VARIANTS = 8
JVM_TIMEOUT_S = 170
PIN_TIMEOUT_S = 1800
BUILD_TIMEOUT_S = 880

# what spark-submit would pass to a JDK 17 JVM (the engine's build.sbt
# carries the same list)
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def die(msg, code=2):
    print("perfbench: " + msg, file=sys.stderr)
    sys.exit(code)


def nproc():
    return len(os.sched_getaffinity(0))


def mem_total_kb():
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1])
    die("no MemTotal in /proc/meminfo")


def heap_mb():
    """An eighth of the host's memory, between 1 and 4 GiB."""
    return max(1024, min(4096, mem_total_kb() // 1024 // 8))


def source_files():
    """Everything the build reads: the engine's sources and build, and the
    harness's."""
    out = [os.path.join(ROOT, "build.sbt")]
    proj = os.path.join(ROOT, "project")
    if os.path.isdir(proj):
        out += [os.path.join(proj, f) for f in os.listdir(proj)
                if f.endswith((".sbt", ".scala", ".properties"))]
    for top in (os.path.join(ROOT, "src", "main"), os.path.join(HARNESS, "src")):
        for d, _, files in os.walk(top):
            out += [os.path.join(d, f) for f in files]
    out += [os.path.join(HARNESS, "build.sbt"),
            os.path.join(HARNESS, "project", "build.properties")]
    return sorted(out)


def source_digest():
    h = hashlib.sha256()
    for p in source_files():
        h.update(os.path.relpath(p, ROOT).encode() + b"\0")
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def git_head():
    try:
        r = subprocess.run(["git", "-C", ROOT, "rev-parse", "HEAD"],
                           capture_output=True, text=True, timeout=10)
        return r.stdout.strip() if r.returncode == 0 else "none"
    except (OSError, subprocess.SubprocessError):
        return "none"


def _terminated(signum, _frame):
    """Take the child's process group down with us."""
    if _child is not None:
        try:
            os.killpg(_child.pid, signal.SIGKILL)
            _child.wait()
        except (ProcessLookupError, ChildProcessError):
            pass
    sys.exit(128 + signum)


_child = None


def run_group(cmd, timeout, **kw):
    """Run cmd in its own process group; kill the whole group on timeout or
    when this script is terminated. Returns (returncode, stdout)."""
    global _child
    p = _child = subprocess.Popen(cmd, start_new_session=True,
                                  stdout=subprocess.PIPE, text=True, **kw)
    try:
        out, _ = p.communicate(timeout=timeout)
        return p.returncode, out
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.communicate()
        return None, ""
    finally:
        _child = None
        try:
            os.killpg(p.pid, signal.SIGKILL)  # stragglers, if any
        except ProcessLookupError:
            pass


def build(digest):
    """Compile the engine and the harness (sbt, offline); cached on the
    source digest. Returns the runtime classpath."""
    stamp = os.path.join(BUILD, "stamp")
    cp_file = os.path.join(HARNESS, "target", "bench-classpath.txt")
    if os.path.exists(stamp) and os.path.exists(cp_file):
        with open(stamp) as f:
            if f.read() == digest:
                with open(cp_file) as c:
                    return c.read().strip()
    if shutil.which("sbt") is None:
        die("sbt is not on PATH")
    os.makedirs(BUILD, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = ["-Dsbt.offline=true", "-Xmx2g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true",
                 "-Dsbt.repository.config=" + repos]
    env["SBT_OPTS"] = " ".join(opts)
    log = os.path.join(BUILD, "sbt.log")
    with open(log, "w") as lf:
        code, _ = run_group(["sbt", "--batch", "-Dsbt.log.noformat=true",
                             "writeClasspath"], BUILD_TIMEOUT_S, cwd=HARNESS,
                            env=env, stderr=subprocess.STDOUT)
    if code != 0 or not os.path.exists(cp_file):
        with open(log) as f:
            tail = f.read()[-4000:]
        die("build failed (see %s):\n%s" % (log, tail))
    with open(stamp, "w") as f:
        f.write(digest)
    with open(cp_file) as c:
        return c.read().strip()


def harness(cp, args, work, timeout=JVM_TIMEOUT_S):
    """Launch the harness JVM; returns (records, marked lines) or dies."""
    shutil.rmtree(work, ignore_errors=True)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    heap = heap_mb()
    cmd = (["java", "-Xms%dm" % heap, "-Xmx%dm" % heap]
           + [x for p in ADD_OPENS for x in ("--add-opens", p + "=ALL-UNNAMED")]
           + ["-Djava.io.tmpdir=" + tmp, "-cp", cp, "graftbench.Main",
              "--cpus", str(nproc()), "--work", work,
              "--launch-ns", str(time.time_ns())] + args)
    log = os.path.join(WORK, os.path.basename(work) + ".log")
    with open(log, "w") as lf:
        code, out = run_group(cmd, timeout, cwd=work, stderr=lf)
    shutil.rmtree(work, ignore_errors=True)
    if code != 0:
        with open(log) as f:
            tail = f.read()[-6000:]
        die("harness %s (log %s):\n%s" % (
            "timed out" if code is None else "exited %s" % code, log, tail), 1)
    lines = out.splitlines()
    records = [l for l in lines if l.startswith("{")]
    marked = [l for l in lines if l.startswith("GRAFTBENCH_")]
    return records, marked


def scale_key(small):
    return "sf%s" % (SMALL_SF if small else SF)


def pin(cp, small):
    """Re-pin the digests of every variant from this checkout's code."""
    pinned = {}
    if os.path.exists(DIGESTS):
        with open(DIGESTS) as f:
            pinned = json.load(f)
    got = {}
    _, marked = harness(cp, ["--workload", ",".join(WORKLOADS), "--seed", "0",
                             "--seconds", "0", "--sf", str(SMALL_SF if small else SF),
                             "--variant", ",".join(map(str, range(VARIANTS))), "--pin"],
                        os.path.join(WORK, "pin"), PIN_TIMEOUT_S)
    for line in marked:
        rec = json.loads(line.split(" ", 1)[1])
        if rec["failed"]:
            die("variant %s: %s operations failed" % (rec["variant"], rec["failed"]), 1)
        got["v%d" % rec["variant"]] = dict(sorted(rec["digests"].items()))
    if len(got) != VARIANTS:
        die("pinned %d of %d variants" % (len(got), VARIANTS), 1)
    pinned[scale_key(small)] = got
    with open(DIGESTS, "w") as f:
        json.dump(pinned, f, indent=1, sort_keys=True)
        f.write("\n")
    print("pinned %d variants at %s into %s" % (VARIANTS, scale_key(small), DIGESTS))


def check_digests(got, pinned, workloads):
    """Names of the outputs whose digest differs from the pinned one."""
    bad = []
    for key in sorted(pinned):
        if key.split("/", 1)[0] not in workloads:
            continue
        if got.get(key) != pinned[key]:
            print("perfbench: DIGEST MISMATCH in %s: pinned %s, got %s"
                  % (key, pinned[key], got.get(key)), file=sys.stderr)
            bad.append(key)
    return bad


def main():
    for sig in (signal.SIGTERM, signal.SIGINT, signal.SIGHUP):
        signal.signal(sig, _terminated)
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=0)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--small", action="store_true",
                    help="self-check scale (sf %s)" % SMALL_SF)
    ap.add_argument("--digests", default=DIGESTS,
                    help="pinned digests to check against")
    ap.add_argument("--pin", action="store_true",
                    help="re-pin the digests from this checkout's code")
    a = ap.parse_args()
    if not a.pin and a.workload is None:
        ap.error("--workload is required")

    for need in (os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "src", "main", "scala"),
                 os.path.join(HARNESS, "build.sbt")):
        if not os.path.exists(need):
            die("%s is missing: run from a full checkout of the repository" % need)
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    if shutil.which("java") is None:
        die("java is not on PATH")

    digest = source_digest()
    cp = build(digest)
    if a.pin:
        pin(cp, a.small)
        return

    variant = a.seed % VARIANTS
    host = {"nproc": nproc(), "mem_total_kb": mem_total_kb(), "heap_mb": heap_mb(),
            "git_head": git_head(), "source_sha256": digest}
    records, marked = harness(cp, [
        "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
        "--trace", str(a.trace), "--variant", str(variant),
        "--sf", str(SMALL_SF if a.small else SF), "--host", json.dumps(host)],
        os.path.join(WORK, a.workload))
    result = [l for l in marked if l.startswith("GRAFTBENCH_RESULT ")]
    if not result:
        die("the harness printed no result", 1)
    res = json.loads(result[-1].split(" ", 1)[1])
    for r in records:
        print(r)

    with open(a.digests) as f:
        pinned = json.load(f).get(scale_key(a.small), {}).get("v%d" % variant)
    if not pinned:
        die("no pinned digests for %s variant %d" % (scale_key(a.small), variant), 1)
    # in a traced run every workload passes once, so every output is checked
    workloads = WORKLOADS if a.trace else (a.workload,)
    bad = check_digests(res["digests"], pinned, workloads)

    specs = spec["per_layer"] if a.trace else spec["end_to_end"]
    metrics = {}
    for m in specs:
        if m["name"] not in res["metrics"]:
            die("metric %s was not measured" % m["name"], 1)
        metrics[m["name"]] = {"value": res["metrics"][m["name"]], "unit": m["unit"]}
    failed = res["failed"] + len(bad)
    print(json.dumps({"correct": failed == 0, "attempted": res["attempted"],
                      "failed": failed, "metrics": metrics}))


if __name__ == "__main__":
    main()
