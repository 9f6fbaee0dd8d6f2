"""Workload settings of the events-to-DB benchmark.

Each workload is a dict of generator and harness settings. Input sizes
scale with the run length (`--seconds`) so that one run measures about
that long on a 4-core host; the same seed and run length always give the
same inputs.
"""

# Event types and their shares; every workload draws from the same mix.
TYPES = ["purchase", "signup", "view", "click", "error", "logout"]
TYPE_P = [0.20, 0.10, 0.30, 0.20, 0.10, 0.10]

WORKLOADS = {
    # Closed loop: a staged backlog of fresh events drained by one
    # envelope subscription (no SELECT, so the fixed events_sink table).
    "drain_parquet": {
        "aql": "FROM 'purchase' | 'signup' | 'view' | 'click'",
        "selected_types": ["purchase", "signup", "view", "click"],
        "files_per_second": 1.6,
        "events_per_file": 3000,
        "streams": 20000,
        "warmup_files": 2,
        "warmup_events": 300,
    },
    # Open loop: pre-rendered JSON-lines files released into the watched
    # directory at a fixed rate, well under what the JSON path drains on
    # 4 cores (2.3 files/s on a loaded host, 4.7 on a quiet one), so the
    # backlog cannot grow.
    "tail_json": {
        "aql": "FROM 'purchase' | 'signup' FILTER _.value > 10 "
               "SELECT _.user_id, _.value * 2, _.k ?? -1",
        "selected_types": ["purchase", "signup"],
        "min_value": 10.0,
        "release_per_second": 0.9,
        "events_per_file": 120,
        "streams": 2000,
        "dup_share": 0.25,
        "malformed_share": 0.01,
        "keyless_share": 0.005,
        "warmup_files": 12,
        "warmup_events": 120,
        # a run is invalid (not slow) past these
        "late_p90_bound_ms": 100.0,
        "lag_trend_bound": 2.0,
    },
    # DB-resident resume: phase 1 lands the first half of the files;
    # phase 2 restarts on a fresh Spark checkpoint over all files, so the
    # OffsetMap in the database alone decides what is fresh.
    "resume_restart": {
        "files_per_second": 1.0,
        "events_per_file": 1000,
        "streams": 50000,
        "late_share": 0.01,
        "warmup_files": 6,
        "warmup_events": 1000,
    },
}


def n_files(cfg, seconds):
    """Input files for a run of `seconds`: the timed ones and, on the open
    loop, one more that primes the query before the clock starts."""
    if "release_per_second" in cfg:
        return 1 + max(6, int(round(cfg["release_per_second"] * seconds)))
    return max(4, int(round(cfg["files_per_second"] * seconds)))
