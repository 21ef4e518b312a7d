"""Self-test of the benchmark: is it steady, settled and deterministic?

For every workload in BENCHMARK.json it makes ``--seeds`` end-to-end runs
(seeds 1..N) plus one more run of seed 1, and reports:

  * spread: per end-to-end metric, the distance between the first and third
    quartile of the N values (``statistics.quantiles(n=4)``) as a share of
    their median, against the metric's bound;
  * settle: per run, the trend between the first and the last third of the
    timed reps, as a share of that run's median rep. The check fails when the
    median trend is larger than the spread of ``items_per_s``: the JIT is
    still moving the result by more than run-to-run noise does;
  * counts: within each run (warm-up and timed reps alike) and between the
    two runs of seed 1, the jobs, stages, tasks, input records and bytes,
    shuffle bytes and output bytes must be identical;
  * host steal: CPU seconds stolen by the hypervisor during each run, so
    host interference can be told apart from a program change.

Usage (from the repository root):

  python3 perfbench/selftest.py [--seeds 10] [--out perfbench/results/selftest.json]

Exits non-zero if any check fails.
"""

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
EXACT = ["spark.jobs", "spark.stages", "spark.tasks", "spark.input_records",
         "spark.input_bytes", "spark.shuffle_write_bytes", "spark.shuffle_read_bytes",
         "out_bytes"]


def steal():
    with open("/proc/stat") as f:
        fields = f.readline().split()
    return int(fields[8]) / 100.0 if len(fields) > 8 else 0.0


def run(bench, workload, seed):
    s0, t0 = steal(), time.time()
    p = subprocess.run(
        [*bench["command"], "--workload", workload, "--seed", str(seed),
         "--seconds", str(bench["run_seconds"]), "--trace", "0"],
        cwd=ROOT, capture_output=True, text=True, timeout=600)
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or len(lines) < 2:
        raise SystemExit(f"{workload} seed {seed} failed:\n{p.stderr[-3000:]}")
    with open(os.path.join(HERE, ".work", "run", "reps.jsonl")) as f:
        reps = [json.loads(line) for line in f]
    return dict(seed=seed, wall_s=time.time() - t0, host_steal_s=steal() - s0,
                info=json.loads(lines[-2])["info"], result=json.loads(lines[-1]), reps=reps)


def spread(values):
    q = statistics.quantiles(values, n=4)
    return (q[2] - q[0]) / statistics.median(values)


def trend(rep_seconds):
    k = len(rep_seconds) // 3
    if k == 0:
        return 0.0
    first, last = rep_seconds[:k], rep_seconds[-k:]
    return (statistics.mean(last) - statistics.mean(first)) / statistics.median(rep_seconds)


def counts(rep):
    return {k: rep[k] for k in EXACT}


def main():
    p = argparse.ArgumentParser()
    p.add_argument("--seeds", type=int, default=10)
    p.add_argument("--workloads", default="")
    p.add_argument("--out", default="")
    a = p.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    names = a.workloads.split(",") if a.workloads else [w["name"] for w in bench["workloads"]]

    report, ok = {}, True
    for w in names:
        runs = [run(bench, w, s) for s in range(1, a.seeds + 1)]
        again = run(bench, w, 1)
        problems = []
        for r in runs + [again]:
            if not r["result"]["correct"] or r["result"]["failed"]:
                problems.append(f"seed {r['seed']}: output check failed")
            base = counts(r["reps"][0])
            for rep in r["reps"][1:]:
                if counts(rep) != base:
                    problems.append(f"seed {r['seed']}: counts differ between reps: "
                                    f"{base} vs {counts(rep)}")
                    break
        if counts(runs[0]["reps"][-1]) != counts(again["reps"][-1]):
            problems.append(f"seed 1: counts differ between runs: "
                            f"{counts(runs[0]['reps'][-1])} vs {counts(again['reps'][-1])}")
        metrics = {}
        for name, bound in bounds.items():
            values = [r["result"]["metrics"][name]["value"] for r in runs]
            s = spread(values) if len(values) > 1 else 0.0
            metrics[name] = dict(median=statistics.median(values), spread=s, bound=bound,
                                 within_bound=s <= bound or name == "setup_s",
                                 below_third=s <= bound / 3, values=values)
            if not metrics[name]["within_bound"]:
                problems.append(f"{name} spread {s:.3f} exceeds bound {bound}")
        trends = [trend(r["info"]["rep_seconds"]) for r in runs]
        settle = statistics.median(trends)
        if abs(settle) > metrics["items_per_s"]["spread"]:
            problems.append(f"not settled: trend {settle:.3f} exceeds spread "
                            f"{metrics['items_per_s']['spread']:.3f}")
        report[w] = dict(
            metrics=metrics, settle_trend=settle, trends=trends,
            exact_counts=counts(runs[0]["reps"][-1]),
            host_steal_s=[r["host_steal_s"] for r in runs + [again]],
            wall_s=[r["wall_s"] for r in runs + [again]],
            rep_seconds=[r["info"]["rep_seconds"] for r in runs],
            problems=problems)
        ok &= not problems
        print(json.dumps({w: {k: v for k, v in report[w].items() if k != "rep_seconds"}}),
              flush=True)
    if a.out:
        with open(a.out, "w") as f:
            json.dump(report, f, indent=1)
    sys.exit(0 if ok else 1)


if __name__ == "__main__":
    main()
