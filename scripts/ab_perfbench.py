#!/usr/bin/env python3
"""Paired A/B runs of the perfbench benchmark: a parent checkout against a
change checkout, one pair per seed.

    python3 scripts/ab_perfbench.py <parent-checkout> <change-checkout> \
        <workload> <seed> [<seed> ...]

Each checkout runs its own `perfbench/run.py --workload W --seed S
--seconds R --trace 0`, with R the `run_seconds` of the change checkout's
BENCHMARK.json. The side that runs first alternates from seed to seed, so
a host that drifts over the session does not favour one side.

Standard output carries one JSON record per run as it finishes (seed,
side, position in the pair, exit code, the run's result line and its pass
records with their spans, kept whole). A run that fails or reports
`correct: false` also gets a `failed_run` line and leaves its pair out of
the metric summaries.

Then comes one `failures` record per side: its runs, the failed runs
(non-zero exit, no result line, or `correct: false`), the `failed` and
`attempted` operations summed over the runs that printed a result, and
the failed share (failed / attempted operations).

Last comes one summary record per end-to-end metric of BENCHMARK.json:
each side's median and quartiles, the pairs the change won (ties count for
neither side) and a verdict:

  gain        the change won at least 9/10 of the pairs, its median is
              better by more than the parent's own interquartile range,
              and it failed no larger share of operations and no more runs
              than the parent
  regression  the change's median is worse than the parent's by more than
              the metric's bound
  unresolved  the parent's interquartile range exceeds the bound, and not
              every change run beats every parent run
  unchanged   otherwise
"""
import json
import os
import statistics
import subprocess
import sys


def run_once(checkout, workload, seed, seconds):
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"],
        cwd=checkout, stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True)
    records = []
    for line in proc.stdout.splitlines():
        try:
            records.append(json.loads(line))
        except json.JSONDecodeError:
            pass
    result = records[-1] if records and "metrics" in records[-1] else None
    if result is None or proc.returncode != 0:
        sys.stderr.write(proc.stderr[-4000:])
    passes = [r for r in records if r.get("record") == "pass"]
    return proc.returncode, result, passes


def quartiles(values):
    if len(values) < 2:
        return values[0], values[0], values[0]
    q1, q2, q3 = statistics.quantiles(values, n=4, method="inclusive")
    return q1, q2, q3


def failures(side, runs):
    """`runs` holds (rc, result) for every run of one side."""
    failed_runs = sum(1 for rc, res in runs
                      if rc != 0 or not res or not res.get("correct"))
    failed_ops = sum(res["failed"] for _, res in runs if res)
    attempted_ops = sum(res["attempted"] for _, res in runs if res)
    return {"side": side, "runs": len(runs), "failed_runs": failed_runs,
            "failed_ops": failed_ops, "attempted_ops": attempted_ops,
            "failed_share": failed_ops / attempted_ops if attempted_ops else None}


def more_failures(par, chg):
    """True when the change failed more runs or a larger share of
    operations than the parent."""
    p, c = par["failed_share"], chg["failed_share"]
    return (chg["failed_runs"] > par["failed_runs"]
            or (p is not None and c is not None and c > p))


def summarize(metric, pairs, worse_failures):
    name, better, bound = metric["name"], metric["better"], metric["bound"]
    sign = 1.0 if better == "lower" else -1.0  # sign * (a - b) > 0: b is better
    ok = [(p[name], c[name]) for p, c in pairs if name in p and name in c]
    if not ok:
        return {"metric": name, "pairs": 0, "verdict": "no data"}
    par = [p for p, _ in ok]
    chg = [c for _, c in ok]
    pq1, pmed, pq3 = quartiles(par)
    cq1, cmed, cq3 = quartiles(chg)
    wins = sum(1 for p, c in ok if sign * (p - c) > 0)
    losses = sum(1 for p, c in ok if sign * (c - p) > 0)
    iqr = pq3 - pq1
    gain = sign * (pmed - cmed)
    if wins >= 0.9 * len(ok) and gain > iqr and not worse_failures:
        verdict = "gain"
    elif -gain > bound * pmed:
        verdict = "regression"
    elif iqr > bound * pmed and not all(sign * (p - c) > 0 for p in par for c in chg):
        verdict = "unresolved"
    else:
        verdict = "unchanged"
    return {"metric": name, "unit": metric.get("unit"), "better": better,
            "bound": bound, "pairs": len(ok),
            "parent": {"median": pmed, "q1": pq1, "q3": pq3},
            "change": {"median": cmed, "q1": cq1, "q3": cq3},
            "change_wins": wins, "parent_wins": losses,
            "median_gain": gain, "parent_iqr": iqr, "verdict": verdict}


def main(argv):
    if len(argv) < 5:
        sys.exit(__doc__)
    parent, change, workload = argv[1], argv[2], argv[3]
    seeds = [int(s) for s in argv[4:]]
    with open(os.path.join(change, "BENCHMARK.json")) as f:
        bench = json.load(f)
    seconds = bench["run_seconds"]
    sides = {"parent": parent, "change": change}
    pairs = []
    runs = {"parent": [], "change": []}
    for i, seed in enumerate(seeds):
        order = ["parent", "change"] if i % 2 == 0 else ["change", "parent"]
        got = {}
        for pos, side in enumerate(order):
            rc, result, passes = run_once(sides[side], workload, seed, seconds)
            print(json.dumps({"record": "run", "workload": workload, "seed": seed,
                              "side": side, "position": pos, "rc": rc,
                              "result": result, "passes": passes}), flush=True)
            runs[side].append((rc, result))
            if rc == 0 and result and result.get("correct"):
                got[side] = {k: v["value"] for k, v in result["metrics"].items()}
            else:
                print(json.dumps({"record": "failed_run", "seed": seed, "side": side}),
                      flush=True)
        if len(got) == 2:
            pairs.append((got["parent"], got["change"]))
    fails = {side: failures(side, runs[side]) for side in sides}
    for side in sides:
        print(json.dumps(dict({"record": "failures", "workload": workload},
                              **fails[side])), flush=True)
    worse = more_failures(fails["parent"], fails["change"])
    for metric in bench["end_to_end"]:
        print(json.dumps(dict({"record": "summary", "workload": workload},
                              **summarize(metric, pairs, worse))), flush=True)


if __name__ == "__main__":
    main(sys.argv)
