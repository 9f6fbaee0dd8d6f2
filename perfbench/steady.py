"""Steadiness report: do two sets of runs of one commit agree?

Collect a set (each run gets its own seed):
  python3 perfbench/steady.py collect set1.jsonl --runs 10 --seed0 100
  python3 perfbench/steady.py collect set2.jsonl --runs 10 --seed0 200
Compare them:
  python3 perfbench/steady.py compare set1.jsonl set2.jsonl

For every (end-to-end metric, workload) pair the report prints each set's
median and quartiles, the quartile spread as a share of the median, and
whether the pair passes: each set's spread within the metric's bound
(set-up time excepted) and the second median no worse than the first by
more than the bound. Run from the root of a checkout; output files are
written where named.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys


def load_spec():
    with open("BENCHMARK.json") as f:
        return json.load(f)


def collect(args):
    spec = load_spec()
    names = args.workloads or [w["name"] for w in spec["workloads"]]
    with open(args.out, "a") as out:
        for i in range(args.runs):
            for w in names:
                seed = args.seed0 + i
                cmd = [sys.executable, os.path.join("perfbench", "run.py"), "--workload", w,
                       "--seed", str(seed), "--seconds", str(spec["run_seconds"]),
                       "--trace", "0"]
                r = subprocess.run(cmd, stdout=subprocess.PIPE, text=True)
                lines = r.stdout.strip().splitlines()
                res = json.loads(lines[-1]) if lines else None
                out.write(json.dumps({"workload": w, "seed": seed, "exit": r.returncode,
                                      "result": res}) + "\n")
                out.flush()
                print("%s seed %d: exit %d" % (w, seed, r.returncode), file=sys.stderr)


def read_set(path):
    by = {}
    for line in open(path):
        row = json.loads(line)
        if row["exit"] != 0 or not row["result"]:
            continue
        for name, m in row["result"]["metrics"].items():
            by.setdefault((row["workload"], name), []).append(m["value"])
    return by


def stats(values):
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return q1, q2, q3, (q3 - q1) / q2 if q2 else float("inf")


def compare(args):
    spec = load_spec()
    metrics = spec["end_to_end"]
    a, b = read_set(args.first), read_set(args.second)
    ok_all = True
    print("%-16s %-15s %5s %12s %12s %12s %7s | %12s %7s %7s  %s"
          % ("workload", "metric", "n", "q1", "median", "q3", "spread",
             "median2", "spread2", "drift", "verdict"))
    for w in [x["name"] for x in spec["workloads"]]:
        for m in metrics:
            va, vb = a.get((w, m["name"]), []), b.get((w, m["name"]), [])
            if len(va) < 2 or len(vb) < 2:
                print("%-16s %-15s  too few runs" % (w, m["name"]))
                ok_all = False
                continue
            q1, med, q3, spread = stats(va)
            _, med2, _, spread2 = stats(vb)
            worse = (med2 - med) / med if m["better"] == "lower" else (med - med2) / med
            bound = m["bound"]
            ok = worse <= bound and (m["name"] == "setup_s"
                                     or (spread <= bound and spread2 <= bound))
            ok_all &= ok
            print("%-16s %-15s %5d %12.4g %12.4g %12.4g %7.3f | %12.4g %7.3f %7.3f  %s"
                  % (w, m["name"], len(va), q1, med, q3, spread, med2, spread2, worse,
                     "agree" if ok else "DISAGREE (bound %.2f)" % bound))
    print("sets agree" if ok_all else "sets do NOT agree")
    return 0 if ok_all else 1


def main():
    ap = argparse.ArgumentParser()
    sub = ap.add_subparsers(dest="cmd", required=True)
    c = sub.add_parser("collect")
    c.add_argument("out")
    c.add_argument("--runs", type=int, default=10)
    c.add_argument("--seed0", type=int, default=100)
    c.add_argument("--workloads", nargs="*")
    p = sub.add_parser("compare")
    p.add_argument("first")
    p.add_argument("second")
    args = ap.parse_args()
    return collect(args) if args.cmd == "collect" else compare(args)


if __name__ == "__main__":
    sys.exit(main() or 0)
