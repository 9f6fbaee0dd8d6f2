"""Events-to-DB benchmark: one run of one workload.

  python3 perfbench/run.py --workload drain_parquet --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. It builds the program from source
(cached under .bench_build/), generates the workload's inputs from the
seed, runs the harness JVM against the program's public entry points,
checks the landed database against the generator's expected answer, and
prints one JSON line: {"correct", "attempted", "failed", "metrics"}.
With --trace 0 the metrics are the end-to-end metrics of BENCHMARK.json,
with --trace 1 its per-layer metrics (spans and a self-time table go to
.bench_build/trace/). Exits non-zero when a check fails or the run is
invalid. All run state lives in a per-run directory that is removed at
the end (--keep keeps it).
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
sys.path.insert(0, HERE)

import build  # noqa: E402
import check  # noqa: E402
import gen  # noqa: E402
from workloads import WORKLOADS  # noqa: E402

RUN_LIMIT_S = 170      # the harness is killed past this, build excluded
SETUP_REPS = 3
# A fixed heap and young generation under the parallel collector, so the
# resident high-water mark follows the work done rather than the
# collector's sizing decisions.
JVM_MEMORY = ["-Xms2g", "-Xmx2g", "-Xmn512m", "-XX:+UseParallelGC",
              "-XX:-UseAdaptiveSizePolicy"]
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def log(msg):
    print("[perfbench] " + msg, file=sys.stderr, flush=True)


def cores():
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def cpu_times():
    """(steal, total) jiffies of this host, to tell a noisy run apart."""
    try:
        with open("/proc/stat") as f:
            v = [int(x) for x in f.readline().split()[1:]]
        return v[7], sum(v)
    except (OSError, IndexError, ValueError):
        return 0, 0


def harness(classes, settings_path, run_dir, deadline):
    jars = os.path.join(build.spark_jars(), "*")
    cmd = ["java", "-Xss4m"] + JVM_MEMORY
    for p in ADD_OPENS:
        cmd += ["--add-opens", p + "=ALL-UNNAMED"]
    cmd += ["-Dderby.system.home=" + run_dir,
            "-Djava.io.tmpdir=" + os.path.join(run_dir, "tmp"),
            "-cp", classes + os.pathsep + jars, "perfbench.Harness", settings_path]
    with open(os.path.join(run_dir, "harness.log"), "w") as out:
        started = time.time()
        proc = subprocess.Popen(cmd, cwd=run_dir, stdout=out, stderr=subprocess.STDOUT)
        try:
            code = proc.wait(timeout=max(10.0, deadline - time.time()))
        except subprocess.TimeoutExpired:
            code = None
        finally:  # also when this process is interrupted
            if proc.poll() is None:
                proc.kill()
                proc.wait()
    return started, code


def main():
    # a terminated run still stops its harness and removes its run directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--inject", choices=["drop_file", "alter_row"],
                    help="self-test: break the run on purpose")
    ap.add_argument("--keep", action="store_true", help="keep the run directory")
    a = ap.parse_args()

    root = os.getcwd()
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        spec = json.load(f)
    try:
        classes = build.build(root)
    except build.BuildError as e:
        log("build failed: %s" % e)
        return 2
    t_start = time.time()

    cfg = WORKLOADS[a.workload]
    run_dir = os.path.join(root, ".bench_build", "runs",
                           "%s-s%d-%d" % (a.workload, a.seed, os.getpid()))
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(os.path.join(run_dir, "tmp"))
    try:
        t = time.time()
        expected = gen.generate(a.workload, a.seed, a.seconds, os.path.join(run_dir, "gen"))
        gen_s = time.time() - t
        if a.inject == "drop_file":
            victim = sorted(os.listdir(os.path.join(run_dir, "gen", "input")))[1]
            os.remove(os.path.join(run_dir, "gen", "input", victim))

        trace_path = os.path.join(root, ".bench_build", "trace",
                                  "%s-seed%d" % (a.workload, a.seed))
        settings = {
            "workload": a.workload, "run_dir": run_dir,
            "input_dir": os.path.join(run_dir, "gen", "input"),
            "warmup_dir": os.path.join(run_dir, "gen", "warmup"),
            "result": os.path.join(run_dir, "result.json"),
            "spans": trace_path + ".spans.jsonl",
            "trace": a.trace, "cores": cores(), "setup_reps": SETUP_REPS,
            "aql": cfg.get("aql", ""),
            "release_per_second": cfg.get("release_per_second", 0),
            "inject": "alter_row" if a.inject == "alter_row" else "",
        }
        settings_path = os.path.join(run_dir, "settings.properties")
        with open(settings_path, "w") as f:
            for k, v in settings.items():
                f.write("%s=%s\n" % (k, str(v).replace("\\", "\\\\")))

        log("session: local[%d], spark.sql.shuffle.partitions=%d, AQE on, on-disk "
            "embedded Derby with default durability, JVM %s"
            % (settings["cores"], settings["cores"], " ".join(JVM_MEMORY)))
        steal0, total0 = cpu_times()
        started, code = harness(classes, settings_path, run_dir, t_start + RUN_LIMIT_S)
        steal1, total1 = cpu_times()
        log("host steal during the run: %.1f%% of CPU time"
            % (100.0 * (steal1 - steal0) / max(1, total1 - total0)))
        if code != 0:
            with open(os.path.join(run_dir, "harness.log")) as f:
                sys.stderr.write(f.read()[-6000:])
            log("harness %s" % ("timed out" if code is None else "exited with %d" % code))
            return 2
        with open(settings["result"]) as f:
            res = json.load(f)
        return report(a, spec, cfg, expected, res, started, gen_s, trace_path)
    finally:
        if not a.keep:
            shutil.rmtree(run_dir, ignore_errors=True)


def report(a, spec, cfg, expected, res, started, gen_s, trace_path):
    problems = check.check(expected, res)
    invalid = []
    if a.workload == "tail_json":
        if res["late_p90_ms"] > cfg["late_p90_bound_ms"]:
            invalid.append("load generator late: p90 %.1f ms" % res["late_p90_ms"])
        if res["lag_last_q_ms"] > cfg["lag_trend_bound"] * res["lag_first_q_ms"]:
            invalid.append("backlog grew: lag %.1f ms in the first quarter, %.1f ms "
                           "in the last" % (res["lag_first_q_ms"], res["lag_last_q_ms"]))
    for p in problems:
        log("MISMATCH " + p)
    for p in invalid:
        log("INVALID " + p)

    session_s = res["session_ready_epoch_ms"] / 1000.0 - started
    reps = sorted(res["setup_reps_ms"])
    e2e = {
        "setup_s": session_s + (res["warmup_ms"] + reps[len(reps) // 2]) / 1000.0,
        "rows_per_s": res["rows_per_s"],
        "trigger_p50_ms": res["trigger_p50_ms"],
        "trigger_p90_ms": res["trigger_p90_ms"],
        "lag_p50_ms": res["lag_p50_ms"],
        "lag_p90_ms": res["lag_p90_ms"],
        "mem_peak_mb": res["mem_peak_mb"],
    }
    layer = dict(res["per_layer"])
    layer["loadgen.gen_s"] = gen_s
    want = spec["per_layer"] if a.trace else spec["end_to_end"]
    values = layer if a.trace else e2e
    metrics = {m["name"]: {"value": values[m["name"]], "unit": m["unit"]} for m in want}

    attempted = res["attempted_triggers"] + 1
    failed = res["failed_triggers"] + len(problems) + len(invalid)
    log("%s seed %d: %d triggers, %d samples, timed %.2f s, session %.2f s, "
        "warm-up %.0f ms, set-up reps %s ms, settle %.0f ms, generation %.2f s"
        % (a.workload, a.seed, res["attempted_triggers"], res["lag_samples"],
           res["timed_s"], session_s, res["warmup_ms"],
           ["%.0f" % r for r in res["setup_reps_ms"]],
           res["settle_ms"], gen_s))
    log("trigger ms: %s" % " ".join("%.0f" % t for t in res["trigger_series_ms"]))
    log("lag ms:     %s" % " ".join("%.0f" % t for t in res["lag_series_ms"]))
    log("correct: %s, fail_ratio %.4f (%d of %d)"
        % (not problems and not invalid, failed / attempted, failed, attempted))
    if a.trace:
        with open(trace_path + ".selftime.json", "w") as f:
            json.dump({"workload": a.workload, "seed": a.seed, "self_time": res["self_time"],
                       "catalyst_phases_ms": res["catalyst_phases_ms"],
                       "per_layer": layer}, f, indent=1)
        log("self time by span (ms):  %-22s %6s %10s %10s" % ("span", "count", "total", "self"))
        for row in res["self_time"]:
            log("  %-22s %6d %10.1f %10.1f"
                % (row["name"], row["count"], row["total_ms"], row["self_ms"]))
        log("spans: %s" % res["spans_file"])
    print(json.dumps({"correct": not problems and not invalid, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))
    return 0 if not problems and not invalid else 1


if __name__ == "__main__":
    sys.exit(main())
