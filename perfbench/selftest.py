#!/usr/bin/env python3
"""Self-test of the benchmark runner on the sf0.001 inputs.

    python3 perfbench/selftest.py

Passes when:
  - the shortest run of each workload (two timed passes), untraced and
    traced, emits every metric that BENCHMARK.json names, and every query's
    output matches its pin;
  - every query of every workload records at least one Spark stage;
  - an output that no longer matches its pin fails the check, and each of
    that query's executions counts as failed;
  - traced spans nest as run > pass > query > phase, in time as well;
  - the inputs hold the row counts workloads.json declares, one row group
    per file.
"""
import json
import sys
from pathlib import Path

import pyarrow.parquet as pq

sys.path.insert(0, str(Path(__file__).resolve().parent))
import fingerprint  # noqa: E402
import run  # noqa: E402

SCALE = "sf0.001"
failures = []


def check(ok, what):
    print(("ok   " if ok else "FAIL ") + what)
    if not ok:
        failures.append(what)


def check_inputs():
    for scale, tables in run.SPEC["inputs"].items():
        if scale == "note":
            continue
        for t, rows in tables.items():
            meta = pq.read_metadata(run.HERE / "data" / scale / f"{t}.parquet")
            check(meta.num_rows == rows and meta.num_row_groups == 1,
                  f"{scale}/{t}: {meta.num_rows} rows in {meta.num_row_groups} row group(s)")


def check_fingerprint():
    rows = [(1, "a", 0.1 + 0.2), (2, None, 3.0)]
    base = fingerprint.of(["id", "s", "x"], rows)
    check(fingerprint.of(["id", "s", "x"], rows[::-1]) == base, "fingerprint ignores row order")
    check(fingerprint.of(["x", "s", "id"], [(r[2], r[1], r[0]) for r in rows]) == base,
          "fingerprint ignores column order")
    check(fingerprint.of(["id", "s", "x"], [(1, "a", 0.3), rows[1]]) == base,
          "fingerprint rounds doubles")
    check(fingerprint.of(["id", "s", "x"], [(1, "b", 0.3), rows[1]]) != base,
          "fingerprint sees an altered value")


def check_nesting(raw):
    spans = {s["id"]: s for s in raw["spans"] if s["id"] >= 0}
    parent_kind = {"pass": "run", "query": "pass", "build": "query", "plan": "query",
                   "exec": "query", "verify": "query"}
    bad = []
    for s in spans.values():
        want = parent_kind.get(s["kind"])
        if want is None:
            continue
        p = spans.get(s["parent"])
        if p is None or p["kind"] != want or not (
                p["start_ns"] <= s["start_ns"] <= s["end_ns"] <= p["end_ns"]):
            bad.append(f"{s['kind']} {s['name']}")
    return bad


def main():
    check_inputs()
    check_fingerprint()
    pinned = json.loads(run.FINGERPRINTS.read_text())[SCALE]
    declared = json.loads(run.BENCHMARK.read_text())
    for w, spec in run.SPEC["workloads"].items():
        names = [q["name"] for q in spec["queries"]]
        pins = {n: pinned[n] for n in names}
        line, d = run.run(w, seed=1, seconds=0, trace=0, scale=SCALE, pins=pins)
        check(set(line["metrics"]) == {m["name"] for m in declared["end_to_end"]},
              f"{w}: untraced run emits every end-to-end metric")
        check(line["correct"] and line["failed"] == 0 and line["attempted"] == 2 * len(names),
              f"{w}: two passes, every output matches its pin")
        line, d = run.run(w, seed=1, seconds=0, trace=1, scale=SCALE, pins=pins)
        check(set(line["metrics"]) == {m["name"] for m in declared["per_layer"]},
              f"{w}: traced run emits every per-layer metric")
        check(line["correct"], f"{w}: traced run outputs match their pins")
        no_stage = [n for n in names if d["per_query"].get(n, {}).get("spark.stages", 0) < 1]
        check(not no_stage, f"{w}: every query records a stage {no_stage or ''}")
        raw = json.loads(Path(d["raw"]).read_text())
        bad = check_nesting(raw)
        check(not bad, f"{w}: spans nest as run > pass > query > phase {bad[:3] or ''}")
    altered = dict(pins, **{names[0]: dict(pins[names[0]], rows=pins[names[0]]["rows"] + 1)})
    line, _ = run.run(w, seed=1, seconds=0, trace=0, scale=SCALE, pins=altered)
    check(not line["correct"] and line["failed"] == 2,
          f"{w}: an output that no longer matches its pin fails the check")
    if failures:
        sys.exit(f"{len(failures)} self-test check(s) failed")
    print("self-test passed")


if __name__ == "__main__":
    main()
