#!/usr/bin/env python3
"""Fast self-check of the benchmark, at the self-check scale (sf 0.001).

    python3 perfbench/selfcheck.py

Checks that
  - every workload's untraced run prints every end-to-end metric of
    BENCHMARK.json with its unit, and its outputs match the pinned digests;
  - a traced run prints every per-layer metric with its unit;
  - a wrong pinned digest makes the run report correct=false and name the
    output (pipeline stage or query key) that failed;
  - in a directory holding only BENCHMARK.json and perfbench/, the
    benchmark exits non-zero without printing a result.
Exits non-zero on the first failed check.
"""
import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import run as bench  # noqa: E402

ROOT = os.path.dirname(HERE)
RUN = os.path.join(HERE, "run.py")
SCRATCH = os.path.join(HERE, ".work", "selfcheck")


def run(args, cwd=ROOT, script=RUN):
    p = subprocess.run([sys.executable, script] + args, cwd=cwd,
                       capture_output=True, text=True, timeout=1200)
    lines = p.stdout.strip().splitlines()
    return p.returncode, (lines[-1] if lines else ""), p.stderr


def check(ok, what):
    print(("ok    " if ok else "FAIL  ") + what)
    if not ok:
        sys.exit(1)


def result(line):
    r = json.loads(line)
    check(set(r) == {"correct", "attempted", "failed", "metrics"},
          "result has exactly correct/attempted/failed/metrics")
    return r


def metrics_match(r, specs, what):
    got = {k: v.get("unit") for k, v in r["metrics"].items()}
    want = {m["name"]: m["unit"] for m in specs}
    check(got == want, "%s: every metric emitted once, with its unit" % what)
    check(all(isinstance(v["value"], (int, float)) for v in r["metrics"].values()),
          "%s: every value is a number" % what)


def main():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    small = ["--seed", "0", "--seconds", "1", "--small"]

    for w in [x["name"] for x in spec["workloads"]]:
        code, last, err = run(["--workload", w, "--trace", "0"] + small)
        check(code == 0, "%s untraced run exits 0 (%s)" % (w, err.strip()[-300:]))
        r = result(last)
        check(r["correct"] and r["failed"] == 0 and r["attempted"] > 0,
              "%s: outputs match the pinned digests" % w)
        metrics_match(r, spec["end_to_end"], w + " untraced")

    w = spec["workloads"][0]["name"]
    code, last, err = run(["--workload", w, "--trace", "1"] + small)
    check(code == 0, "%s traced run exits 0 (%s)" % (w, err.strip()[-300:]))
    r = result(last)
    check(r["correct"], "%s traced: every workload's outputs match" % w)
    metrics_match(r, spec["per_layer"], w + " traced")

    # a wrong pinned digest must fail the run and name the output
    shutil.rmtree(SCRATCH, ignore_errors=True)
    os.makedirs(SCRATCH)
    with open(os.path.join(HERE, "digests.json")) as f:
        pinned = json.load(f)
    scale = bench.scale_key(small=True)
    for w in [x["name"] for x in spec["workloads"]]:
        outputs = sorted(k for k in pinned[scale]["v0"] if k.startswith(w + "/"))
        victim = outputs[len(outputs) // 2]
        bad = json.loads(json.dumps(pinned))
        n, h = bad[scale]["v0"][victim].split(":")
        bad[scale]["v0"][victim] = "%s:%d" % (n, int(h) + 1)
        path = os.path.join(SCRATCH, "digests_bad.json")
        with open(path, "w") as f:
            json.dump(bad, f)
        code, last, err = run(["--workload", w, "--trace", "0", "--digests", path] + small)
        r = result(last)
        check(code == 0 and not r["correct"] and r["failed"] >= 1,
              "%s: a wrong pinned digest makes the run incorrect" % w)
        check("DIGEST MISMATCH in " + victim in err,
              "%s: the failure names %s" % (w, victim))

    # only BENCHMARK.json and perfbench/: no result, non-zero exit
    bare = os.path.join(SCRATCH, "bare")
    os.makedirs(bare)
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
    shutil.copytree(HERE, os.path.join(bare, "perfbench"),
                    ignore=shutil.ignore_patterns(".work", ".build", "target"))
    code, last, err = run(["--workload", w, "--seed", "0", "--seconds", "1", "--trace", "0"],
                          cwd=bare, script=os.path.join(bare, "perfbench", "run.py"))
    check(code != 0 and not last.startswith("{"),
          "without the engine's sources the benchmark fails without a result")
    shutil.rmtree(SCRATCH, ignore_errors=True)
    print("self-check passed")


if __name__ == "__main__":
    main()
