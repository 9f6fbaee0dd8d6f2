"""Correctness check: the landed state against the generator's answer."""
import json
import sys

from gen import digest


def _digest_file(path):
    with open(path, encoding="utf-8") as f:
        return digest(line.rstrip("\n") for line in f)


def check(expected, result):
    """Returns the list of mismatches (empty when the run is correct)."""
    bad = []
    n, cs = _digest_file(result["check_rows_file"])
    if (n, cs) != (expected["rows"], expected["checksum"]):
        bad.append("landed rows: got %d / %s, expected %d / %s"
                   % (n, cs, expected["rows"], expected["checksum"]))
    if "fresh" in expected and result.get("check_fresh") != expected["fresh"]:
        bad.append("DbResume.rowsWritten: got %s, expected %d"
                   % (result.get("check_fresh"), expected["fresh"]))
    if "offsets" in expected:
        n, cs = _digest_file(result["check_offsets_file"])
        if (n, cs) != (expected["offsets"], expected["offsets_checksum"]):
            bad.append("OffsetMap: got %d / %s, expected %d / %s"
                       % (n, cs, expected["offsets"], expected["offsets_checksum"]))
    if "rejects" in expected and result.get("check_rejects") != expected["rejects"]:
        bad.append("JSON rejects: got %s, expected %d"
                   % (result.get("check_rejects"), expected["rejects"]))
    return bad


if __name__ == "__main__":
    with open(sys.argv[1]) as e, open(sys.argv[2]) as r:
        problems = check(json.load(e), json.load(r))
    print("\n".join(problems) or "correct")
    sys.exit(1 if problems else 0)
