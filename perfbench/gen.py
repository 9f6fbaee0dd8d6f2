"""Seeded input generator and expected answers for the events-to-DB benchmark.

`generate(workload, seed, seconds, out)` writes the inputs the program
sees and `out/expected.json`, the answer the landed database must hold.
The same arguments always give byte-identical files with the same
strictly increasing modification times.

Layout under `out`:
  input/part-NNNNN.{parquet,json}   timed inputs, in stream order
  warmup/part-NNNNN.*               inputs of the untimed warm-up
  expected.json                     keyed row set (count + checksum), and
                                    per workload the fresh count, the
                                    OffsetMap and the JSON reject count

Run it alone to inspect a workload's inputs:
  python3 perfbench/gen.py drain_parquet 7 10 /tmp/out
"""
import hashlib
import json
import os
import struct
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from workloads import TYPES, TYPE_P, WORKLOADS, n_files

# Modification times start here and advance one second per file, so the
# file source's oldest-first order is the generation order.
MTIME0 = 1_700_000_000
TS0 = 1_700_000_000_000_000_000  # epoch-ns of the first event
NULL = "\\N"

SCHEMA = pa.schema([("event_id", pa.int64()), ("ts", pa.int64()),
                    ("user_id", pa.int64()), ("event_type", pa.string()),
                    ("value", pa.float64()), ("props", pa.string())])


def canon(v):
    """A landed value as the harness's database dump writes it."""
    if v is None:
        return NULL
    if isinstance(v, float):
        return str(struct.unpack("<q", struct.pack("<d", v))[0])
    return str(v)


def digest(lines):
    """(count, order-independent checksum) over canonical row lines."""
    total = 0
    n = 0
    for line in lines:
        h = hashlib.blake2b(line.encode(), digest_size=8).digest()
        total = (total + int.from_bytes(h, "little")) & 0xFFFFFFFFFFFFFFFF
        n += 1
    return n, format(total, "016x")


def row_line(values):
    return "\x1f".join(canon(v) for v in values)


def _events(rng, n, first_id, first_ts, streams):
    """n fresh events with increasing ids and timestamps."""
    ids = first_id + 10 * np.arange(n, dtype=np.int64)  # gaps for late ids
    ts = first_ts + 1000 * np.cumsum(rng.integers(1, 2000, n, dtype=np.int64))
    users = rng.integers(0, streams, n, dtype=np.int64)
    types = rng.choice(len(TYPES), n, p=TYPE_P)
    values = rng.integers(0, 20000, n) / 100.0
    ks = rng.integers(-1, 50, n)  # -1: payload without k
    return [(int(ids[i]), int(ts[i]), int(users[i]), TYPES[types[i]],
             float(values[i]), int(ks[i])) for i in range(n)]


def _props(k):
    return "{}" if k < 0 else '{"k":%d}' % k


def _write_parquet(path, events, index):
    cols = list(zip(*events)) if events else [[]] * 6
    table = pa.table({
        "event_id": pa.array(cols[0], pa.int64()),
        "ts": pa.array(cols[1], pa.int64()),
        "user_id": pa.array(cols[2], pa.int64()),
        "event_type": pa.array(cols[3], pa.string()),
        "value": pa.array(cols[4], pa.float64()),
        "props": pa.array([_props(k) for k in cols[5]], pa.string()),
    }, schema=SCHEMA)
    pq.write_table(table, path, compression="snappy")
    os.utime(path, (MTIME0 + index, MTIME0 + index))


def _write_lines(path, lines, index):
    with open(path, "w", encoding="utf-8", newline="\n") as f:
        f.write("\n".join(lines) + "\n")
    os.utime(path, (MTIME0 + index, MTIME0 + index))


def _json_line(e, keyless=False):
    eid, ts, uid, etype, value, k = e
    obj = {} if keyless else {"event_id": eid}
    obj.update({"ts": ts, "user_id": uid, "event_type": etype,
                "value": value, "props": _props(k)})
    return json.dumps(obj, separators=(",", ":"))


def _gen_parquet_files(rng, cfg, count, per, first_id, directory, late_share=0.0):
    """`count` parquet files of `per` events; returns the events per file."""
    os.makedirs(directory, exist_ok=True)
    files = []
    seen_by_user = {}   # user -> an earlier event id, for late arrivals
    used = set()
    next_id, next_ts = first_id, TS0
    for i in range(count):
        evs = _events(rng, per, next_id, next_ts, cfg["streams"])
        next_id = evs[-1][0] + 10
        next_ts = evs[-1][1] + 1000
        if late_share > 0 and seen_by_user:
            # genuinely new events whose id sits below an id their stream
            # already delivered in an earlier file
            lates = rng.random(per) < late_share
            for j in np.nonzero(lates)[0]:
                eid, ts, uid, etype, value, k = evs[j]
                if uid not in seen_by_user:
                    continue
                # ids are multiples of 10, so the nine below one are free
                late = seen_by_user[uid] - 1 - int(rng.integers(0, 9))
                if late in used:
                    continue
                evs[j] = (late, ts, uid, etype, value, k)
        for e in evs:
            used.add(e[0])
        for e in evs:
            seen_by_user.setdefault(e[2], e[0])
        _write_parquet(os.path.join(directory, "part-%05d.parquet" % i), evs, i)
        files.append(evs)
    return files


def _gen_json_files(rng, cfg, count, per, first_id, directory):
    """`count` JSON-lines files of `per` lines with re-deliveries, malformed
    and keyless lines; returns (keyed well-formed events by id, reject
    count, lines)."""
    os.makedirs(directory, exist_ok=True)
    delivered = []   # keyed well-formed events, in delivery order
    by_id = {}
    rejects = 0
    n_lines = 0
    next_id, next_ts = first_id, TS0
    for i in range(count):
        evs = _events(rng, per, next_id, next_ts, cfg["streams"])
        next_id = evs[-1][0] + 10
        next_ts = evs[-1][1] + 1000
        kinds = rng.random(per)
        picks = rng.random(per)
        lines = []
        for j, e in enumerate(evs):
            u = kinds[j]
            if u < cfg["malformed_share"]:
                rejects += 1
                full = _json_line(e)
                lines.append(full[: len(full) // 2] if j % 2 else "not json " + full[:8])
            elif u < cfg["malformed_share"] + cfg["keyless_share"]:
                lines.append(_json_line(e, keyless=True))
            elif u < cfg["malformed_share"] + cfg["keyless_share"] + cfg["dup_share"] and delivered:
                # an identical re-delivery of an earlier event (this file or before)
                lines.append(_json_line(delivered[int(picks[j] * len(delivered))]))
            else:
                delivered.append(e)
                by_id[e[0]] = e
                lines.append(_json_line(e))
        n_lines += len(lines)
        _write_lines(os.path.join(directory, "part-%05d.json" % i), lines, i)
    return by_id, rejects, n_lines


def generate(workload, seed, seconds, out):
    cfg = WORKLOADS[workload]
    count = n_files(cfg, seconds)
    rng = np.random.default_rng([seed, 1])
    warm_rng = np.random.default_rng([seed, 2])
    inp = os.path.join(out, "input")
    warm = os.path.join(out, "warmup")
    per = cfg["events_per_file"]
    warm_args = (cfg["warmup_files"], cfg["warmup_events"], 10, warm)
    exp = {"workload": workload, "seed": seed, "files": count}

    if workload == "drain_parquet":
        files = _gen_parquet_files(rng, cfg, count, per, 10, inp)
        _gen_parquet_files(warm_rng, cfg, *warm_args)
        sel = set(cfg["selected_types"])
        rows = (row_line((e[0], e[1] // 1000, e[2], e[3], e[4]))
                for f in files for e in f if e[3] in sel)
        exp["rows"], exp["checksum"] = digest(rows)
        exp["events"] = sum(len(f) for f in files)

    elif workload == "tail_json":
        by_id, rejects, n_lines = _gen_json_files(rng, cfg, count, per, 10, inp)
        _gen_json_files(warm_rng, cfg, *warm_args)
        sel = set(cfg["selected_types"])
        rows = (row_line((e[0], e[2], e[4] * 2, e[5]))
                for e in by_id.values()
                if e[3] in sel and e[4] > cfg["min_value"])
        exp["rows"], exp["checksum"] = digest(rows)
        exp["events"] = n_lines
        exp["rejects"] = rejects

    elif workload == "resume_restart":
        files = _gen_parquet_files(rng, cfg, count, per, 10, inp, cfg["late_share"])
        _gen_parquet_files(warm_rng, cfg, *warm_args, cfg["late_share"])
        half = count // 2
        # the EP-3 protocol replayed: a row is fresh when its id is above
        # its stream's watermark at the start of its batch (one file per
        # batch); the watermark then moves to the batch's fresh maximum
        wm = {}
        fresh = 0
        for f in files[:half] + files:
            top = {}
            for e in f:
                if e[0] > wm.get(e[2], -1):
                    fresh += 1
                    top[e[2]] = max(top.get(e[2], -1), e[0])
            wm.update(top)
        rows = (row_line((e[0], e[1] // 1000, e[2], e[3], e[4]))
                for f in files for e in f)
        exp["rows"], exp["checksum"] = digest(rows)
        exp["events"] = sum(len(f) for f in files[:half]) + sum(len(f) for f in files)
        exp["phase1_files"] = half
        exp["fresh"] = fresh
        exp["offsets"], exp["offsets_checksum"] = digest(
            row_line(kv) for kv in sorted(wm.items()))
    else:
        raise ValueError("unknown workload " + workload)

    with open(os.path.join(out, "expected.json"), "w") as f:
        json.dump(exp, f, indent=1, sort_keys=True)
    return exp


if __name__ == "__main__":
    w, s, sec, o = sys.argv[1], int(sys.argv[2]), int(sys.argv[3]), sys.argv[4]
    print(json.dumps(generate(w, s, sec, o), sort_keys=True))
