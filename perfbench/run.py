#!/usr/bin/env python3
"""The fuguespark benchmark.

    python3 perfbench/run.py --workload tpch --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py --workload all --seed 1 --seconds 10

One run builds the library from source (perfbench/build.py), starts one JVM
that runs the workload's queries in a closed loop with one client
(perfbench/src/Runner.scala), and prints the metrics. The last line of
stdout is one JSON object: {"correct", "attempted", "failed", "metrics"}.
With --trace 0 the metrics are the end-to-end ones; with --trace 1 the run
also records spans and Spark counters and reports the per-layer metrics.
`--workload all` runs every workload untraced and traced with the same
seed, prints every metric, and states the tracing overhead on pass_s.

Workloads, inputs and the layer map are in perfbench/workloads.json; the
pinned output fingerprints in perfbench/fingerprints.json (made and checked
against DuckDB by perfbench/pin.py).
"""
import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
from collections import defaultdict
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))
import build  # noqa: E402

HERE = Path(__file__).resolve().parent
SPEC = json.loads((HERE / "workloads.json").read_text())
BENCHMARK = build.ROOT / "BENCHMARK.json"
FINGERPRINTS = HERE / "fingerprints.json"
RUN_TIMEOUT_S = 170
HEAP = "3g"
# What Spark's launcher passes on JDK 17 (JavaModuleOptions); the library's
# build.sbt passes the same list to forked runs.
ADD_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
             "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
             "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]

END_TO_END = {"setup_s": "s", "pass_s": "s", "query_p50_s": "s", "query_tail_s": "s",
              "rows_per_s": "1/s", "failed_frac": "ratio", "peak_rss_mb": "MB"}


class BenchError(Exception):
    pass


def median(xs):
    return statistics.median(xs) if xs else 0.0


def tail(xs):
    """The highest percentile with at least ten samples beyond it: the
    eleventh-largest value. Returns (value, percentile, sample count)."""
    s = sorted(xs)
    if len(s) < 11:
        return (s[0] if s else 0.0), 0.0, len(s)
    k = len(s) - 11
    return s[k], 100.0 * k / (len(s) - 1), len(s)


def java(args, log_name, timeout=RUN_TIMEOUT_S):
    """Build if needed, then run perfbench.Runner with `args` plus a fresh
    work directory; Spark's scratch space stays inside .bench_build."""
    build.build()
    tmp, work = build.BUILD / "tmp", build.BUILD / "work"
    for d in (tmp, work):
        shutil.rmtree(d, ignore_errors=True)
        d.mkdir(parents=True)
    (build.BUILD / "out").mkdir(exist_ok=True)
    cmd = ["java", f"-Xmx{HEAP}", f"-Djava.io.tmpdir={tmp}",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    cmd += ["-cp", build.classpath(), "perfbench.Runner", "--work", str(work)] + args
    env = dict(os.environ, SPARK_LOCAL_DIRS=str(tmp))
    log = build.BUILD / "logs" / f"{log_name}.log"
    log.parent.mkdir(parents=True, exist_ok=True)
    with open(log, "w") as f:
        try:
            rc = subprocess.run(cmd, stdout=f, stderr=subprocess.STDOUT, env=env,
                                cwd=build.ROOT, timeout=timeout).returncode
        except subprocess.TimeoutExpired:
            raise BenchError(f"{log_name}: no result within {timeout} s (log: {log})")
        finally:
            shutil.rmtree(tmp, ignore_errors=True)
            shutil.rmtree(work, ignore_errors=True)
    if rc != 0:
        raise BenchError(f"{log_name}: runner exited with {rc} (log: {log})")


def data_dir(workload, scale):
    spec = SPEC["workloads"][workload]
    data = HERE / "data" / (scale or spec["data"])
    tables = {t for q in spec["queries"] for t in q["tables"]}
    missing = [t for t in sorted(tables) if not (data / f"{t}.parquet").is_file()]
    if missing:
        raise BenchError(f"missing inputs in {data}: {missing}")
    return data


def query_list(workload):
    return ",".join(f"{q['name']}:{q['module']}" for q in SPEC["workloads"][workload]["queries"])


def launch(workload, seed, seconds, trace, scale, pins):
    """Run the workload once; return the runner's record, the launch time
    and the record's path."""
    build.build()  # before the set-up clock starts
    data = data_dir(workload, scale)
    out_dir = build.BUILD / "out"
    out_dir.mkdir(parents=True, exist_ok=True)
    pins_file = out_dir / f"pins-{workload}.json"
    pins_file.write_text(json.dumps(pins))
    raw_file = out_dir / f"{workload}.trace{trace}.json"
    raw_file.unlink(missing_ok=True)
    launched = time.time()
    java(["--mode", "run", "--queries", query_list(workload), "--data", str(data),
          "--out", str(raw_file), "--seed", str(seed), "--seconds", str(seconds),
          "--trace", str(trace), "--fingerprints", str(pins_file)],
         f"{workload}.trace{trace}")
    return json.loads(raw_file.read_text()), launched, raw_file


def end_to_end(workload, raw, launched, scale):
    spec = SPEC["workloads"][workload]
    inputs = SPEC["inputs"][scale or spec["data"]]
    setup_s = raw["setup"]["setup_end_epoch_ms"] / 1000.0 - launched
    passes = raw["pass_walls"]
    samples = [e["build_s"] + e["plan_s"] + e["exec_s"] for e in raw["executions"]]
    per_query = defaultdict(list)
    for e, t in zip(raw["executions"], samples):
        per_query[e["query"]].append(t)
    mismatched = {q for q, v in raw["verified"].items() if not v["match"]}
    unverified = {q["name"] for q in spec["queries"]} - set(raw["verified"])
    bad = mismatched | unverified
    failed = sum(1 for e in raw["executions"] if e["failed"] or e["query"] in bad)
    attempted = len(raw["executions"])
    rows_per_pass = sum(inputs[t] for q in spec["queries"] for t in q["tables"])
    pass_s = median(passes)
    tail_s, tail_pct, n = tail(samples)
    metrics = {
        "setup_s": setup_s,
        "pass_s": pass_s,
        # the median query's median latency: a pooled median of a few
        # queries' executions would jump between the queries' clusters
        "query_p50_s": median([median(v) for v in per_query.values()]),
        "query_tail_s": tail_s,
        "rows_per_s": rows_per_pass / pass_s if pass_s else 0.0,
        "failed_frac": failed / attempted if attempted else 1.0,
        "peak_rss_mb": raw["peak_rss_mb"],
    }
    info = {"tail_percentile": tail_pct, "samples": n, "passes": len(passes),
            "pass_s_quartiles": statistics.quantiles(passes, n=4) if len(passes) > 1 else passes,
            "rows_per_pass": rows_per_pass, "mismatched": sorted(bad),
            "loadavg_per_core": [raw["loadavg_per_core_start"], raw["loadavg_per_core_end"]]}
    return metrics, attempted, failed, not bad and failed == 0, info


def _union(intervals, lo=None, hi=None):
    total, cur_s, cur_e = 0, None, None
    for s, e in sorted(intervals):
        if lo is not None:
            s, e = max(s, lo), min(e, hi)
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def layers(raw, pins):
    """Per-layer numbers of every timed pass (summed over its queries) and of
    every query (median over passes). Layer times are spans' self times."""
    spans = raw["spans"]
    kids = defaultdict(list)
    for s in spans:
        if s["parent"] is not None:
            kids[s["parent"]].append(s)
    nproc = raw["nproc"]

    def dur(s):
        return (s["end_ns"] - s["start_ns"]) / 1e9

    def self_time(s):
        cs = [(c["start_ns"], c["end_ns"]) for c in kids[s["id"]]]
        return dur(s) - _union(cs, s["start_ns"], s["end_ns"]) / 1e9

    per_pass, per_query = [], defaultdict(lambda: defaultdict(list))
    for p in (s for s in spans if s["kind"] == "pass" and s["attrs"].get("timed")):
        m = defaultdict(float)
        skews, storage_rdds, storage_mb = [], 0, 0.0
        for q in (s for s in kids[p["id"]] if s["kind"] == "query"):
            qm = defaultdict(float)
            phases = [s for s in kids[q["id"]] if s["kind"] != "verify"]
            stages = [c for ph in phases for c in kids[ph["id"]] if c["kind"] == "stage"]
            execs = [c for ph in phases for c in kids[ph["id"]] if c["kind"] == "execution"]
            for ph in phases:
                if ph["kind"] == "build":
                    qm[f"{q['attrs']['module']}.build_s"] += self_time(ph)
                    qm["frontend.build_s"] += self_time(ph)
            for ph in ("analysis", "optimization", "planning"):
                qm[f"spark.{ph}_s"] = (q["attrs"].get(f"df_{ph}_ms", 0)
                                       + sum(e["attrs"][f"{ph}_ms"] for e in execs)) / 1e3
            qm["spark.exec_s"] = _union([(s["start_ns"], s["end_ns"]) for s in stages]) / 1e9
            for s in stages:
                a = s["attrs"]
                qm["spark.stages"] += 1
                qm["spark.tasks"] += a["tasks"]
                qm["spark.task_run_s"] += a["task_run_ms"] / 1e3
                qm["spark.task_cpu_s"] += a["task_cpu_ns"] / 1e9
                qm["spark.gc_s"] += a["gc_ms"] / 1e3
                qm["spark.shuffle_read_mb"] += a["shuffle_read_bytes"] / 2**20
                qm["spark.shuffle_write_mb"] += a["shuffle_write_bytes"] / 2**20
                qm["spark.spill_mb"] += a["spill_disk_bytes"] / 2**20
                if a["tasks"] >= 2:
                    skews.append(a["task_max_ms"] / max(a["task_median_ms"], 1))
            for e in execs:
                a = e["attrs"]
                qm["join_rows"] += a["join_rows"]
                qm["scan_rows"] += a["scan_rows"]
                if a["file_write"]:
                    qm["io.write_s"] += dur(e)
                    qm["io.written_mb"] += a["written_bytes"] / 2**20
                    qm["io.files_written"] += a["written_files"]
            qm["out_rows"] = int(pins.get(q["name"], {}).get("rows", 0))
            storage_rdds = max(storage_rdds, q["attrs"].get("persisted_rdds", 0))
            storage_mb = max(storage_mb, q["attrs"].get("storage_mb", 0.0))
            for k, v in qm.items():
                m[k] += v
                per_query[q["name"]][k].append(v)
        failed = [e for e in raw["executions"] if e["pass"] == int(p["name"].split()[1])]
        m["build.failed"] = sum(1 for e in failed if e["failed"] == "build")
        m["exec.failed"] = sum(1 for e in failed if e["failed"] == "exec")
        busy = m["spark.exec_s"] * nproc
        m["spark.core_util"] = m["spark.task_run_s"] / busy if busy else 0.0
        m["spark.task_skew"] = max(skews, default=1.0)
        out = max(m.pop("out_rows"), 1)
        m["spark.join_rows_per_out_row"] = m.pop("join_rows") / out
        m["spark.scan_rows_per_out_row"] = m.pop("scan_rows") / out
        m["storage.persisted_rdds"] = storage_rdds
        m["storage.cached_mb"] = storage_mb
        per_pass.append(m)
    setup = raw["setup"]
    names = sorted({k for m in per_pass for k in m})
    result = {k: median([m.get(k, 0.0) for m in per_pass]) for k in names}
    for mod in SPEC["layers"]["modules"]:
        result.setdefault(f"{mod}.build_s", 0.0)
    for k in ("io.write_s", "io.written_mb", "io.files_written"):
        result.setdefault(k, 0.0)
    result["session.start_s"] = setup["session_start_s"]
    result["session.warmup_s"] = setup["warmup_s"]
    queries = {q: {k: median(v) for k, v in sorted(m.items())} for q, m in per_query.items()}
    return result, queries


def run(workload, seed, seconds, trace, scale=None, pins=None):
    """One run; returns (result line, details)."""
    declared = json.loads(BENCHMARK.read_text())
    if pins is None:
        if not FINGERPRINTS.is_file():
            raise BenchError(f"no pinned fingerprints at {FINGERPRINTS}")
        pins = json.loads(FINGERPRINTS.read_text())[scale or SPEC["workloads"][workload]["data"]]
    raw, launched, raw_file = launch(workload, seed, seconds, trace, scale, pins)
    metrics, attempted, failed, correct, info = end_to_end(workload, raw, launched, scale)
    details = {"workload": workload, "seed": seed, "trace": trace, "end_to_end": metrics,
               "info": info, "raw": str(raw_file), "spark_conf": raw["spark_conf"],
               "master": raw["master"]}
    if trace:
        lay, per_query = layers(raw, pins)
        details["layers"], details["per_query"] = lay, per_query
        reported = {m["name"]: {"value": float(lay[m["name"]]), "unit": m["unit"]}
                    for m in declared["per_layer"]}
        (raw_file.parent / f"{workload}.layers.json").write_text(json.dumps(details, indent=1))
    else:
        reported = {m["name"]: {"value": float(metrics[m["name"]]), "unit": m["unit"]}
                    for m in declared["end_to_end"]}
    line = {"correct": correct, "attempted": attempted, "failed": failed, "metrics": reported}
    return line, details


def print_details(d):
    print(f"== {d['workload']} (seed {d['seed']}, trace {d['trace']}, {d['master']})")
    for k, v in d["end_to_end"].items():
        print(f"  {k:<16} {v:>14.4f} {END_TO_END[k]}")
    i = d["info"]
    print(f"  query_tail_s is p{i['tail_percentile']:.1f} of {i['samples']} executions; "
          f"{i['passes']} timed passes, pass_s quartiles {i['pass_s_quartiles']}; "
          f"loadavg/core {i['loadavg_per_core']}")
    if i["mismatched"]:
        print(f"  FINGERPRINT MISMATCH: {i['mismatched']}")
    if "layers" in d:
        for k, v in sorted(d["layers"].items()):
            print(f"  {k:<32} {v:>12.4f}")
        print(f"  per-query layers: {Path(d['raw']).parent / (d['workload'] + '.layers.json')}")


def main():
    ap = argparse.ArgumentParser(description=__doc__,
                                 formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=list(SPEC["workloads"]) + ["all"])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=json.loads(BENCHMARK.read_text())["run_seconds"])
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()
    try:
        if args.workload != "all":
            line, details = run(args.workload, args.seed, args.seconds, args.trace)
            print_details(details)
            print(json.dumps(line))
            return
        ok = True
        for w in SPEC["workloads"]:
            plain, d0 = run(w, args.seed, args.seconds, 0)
            traced, d1 = run(w, args.seed, args.seconds, 1)
            print_details(d0)
            print_details(d1)
            p0, p1 = d0["end_to_end"]["pass_s"], d1["end_to_end"]["pass_s"]
            print(f"  tracing overhead on pass_s: {100 * (p1 / p0 - 1):+.1f}% "
                  f"({p0:.3f} s untraced, {p1:.3f} s traced)")
            ok = ok and plain["correct"] and traced["correct"]
        if not ok:
            sys.exit(1)
    except (BenchError, build.BuildError) as e:
        sys.exit(f"perfbench: {e}")


if __name__ == "__main__":
    main()
