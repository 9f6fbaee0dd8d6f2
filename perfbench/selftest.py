"""Self-test of the correctness check: broken runs must fail.

  python3 perfbench/selftest.py [--workload drain_parquet] [--seconds 3]

Runs the workload three times from the root of a checkout: as is (must
exit 0 with "correct": true), with one input file removed after
generation (drop_file), and with one landed database row altered before
the read-back (alter_row). Both broken runs must exit non-zero with
"correct": false. Exits 0 when all three behave.
"""
import argparse
import json
import os
import subprocess
import sys


def run(workload, seconds, inject):
    cmd = [sys.executable, os.path.join("perfbench", "run.py"), "--workload", workload,
           "--seed", "11", "--seconds", str(seconds), "--trace", "0"]
    if inject:
        cmd += ["--inject", inject]
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True)
    lines = r.stdout.strip().splitlines()
    correct = json.loads(lines[-1])["correct"] if lines else None
    mismatches = [l for l in r.stderr.splitlines() if "MISMATCH" in l]
    return r.returncode, correct, mismatches


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", default="drain_parquet")
    ap.add_argument("--seconds", type=int, default=3)
    a = ap.parse_args()
    ok = True
    for inject, want_ok in [(None, True), ("drop_file", False), ("alter_row", False)]:
        code, correct, mismatches = run(a.workload, a.seconds, inject)
        good = (code == 0 and correct is True) if want_ok else (code != 0 and correct is False)
        ok &= good
        print("%-10s exit %d, correct %s: %s" % (inject or "clean", code, correct,
                                                 "as expected" if good else "WRONG"))
        for m in mismatches:
            print("    " + m)
    print("self-test passed" if ok else "self-test FAILED")
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
