#!/usr/bin/env python3
"""Pin every benchmark query's output fingerprint and cross-check it once
against DuckDB.

    python3 perfbench/pin.py

For each input scale the benchmark uses (and sf0.001, which the self-test
uses), the runner prints each query's fingerprint and oracle SQL. Every
query with oracle SQL (SparkEntry.oracleSql, or the runner's own for the
composed write steps) is recomputed in DuckDB over the same parquet files
and must give the same fingerprint; queries without one (d02_dedup_minhash)
stay pinned by the Spark fingerprint alone. The result is written to
perfbench/fingerprints.json; any disagreement exits 1 and writes nothing.
"""
import json
import sys
from collections import defaultdict
from pathlib import Path

import duckdb

sys.path.insert(0, str(Path(__file__).resolve().parent))
import build  # noqa: E402
import fingerprint  # noqa: E402
import run  # noqa: E402


def oracle(data, sql):
    con = duckdb.connect()
    for f in sorted(Path(data).glob("*.parquet")):
        con.execute(f"CREATE VIEW {f.stem} AS SELECT * FROM read_parquet('{f}')")
    cur = con.execute(sql)
    cols = [d[0] for d in cur.description]
    return fingerprint.of(cols, cur.fetchall())


def pin_scale(scale, workloads):
    queries = ",".join(run.query_list(w) for w in workloads)
    data = run.data_dir(workloads[0], scale)
    out = build.BUILD / "out" / f"pin-{scale}.json"
    run.java(["--mode", "pin", "--queries", queries, "--data", str(data), "--out", str(out)],
             f"pin-{scale}", timeout=1200)
    pinned, bad = {}, []
    for name, p in sorted(json.loads(out.read_text()).items()):
        entry = {"rows": p["rows"], "hash": p["hash"], "oracle": "none"}
        if p["oracle_sql"]:
            rows, digest = oracle(data, p["oracle_sql"])
            ok = (rows, digest) == (p["rows"], p["hash"])
            entry["oracle"] = "duckdb" if ok else f"MISMATCH duckdb rows={rows} hash={digest}"
            if not ok:
                bad.append(name)
        print(f"{scale} {name}: {entry}")
        pinned[name] = entry
    return pinned, bad


def main():
    scales = defaultdict(list)
    for w, spec in run.SPEC["workloads"].items():
        scales[spec["data"]].append(w)
        scales["sf0.001"].append(w)
    result, bad = {}, []
    for scale, workloads in sorted(scales.items()):
        result[scale], b = pin_scale(scale, workloads)
        bad += [f"{scale}/{n}" for n in b]
    if bad:
        sys.exit(f"fingerprints disagree with DuckDB: {bad}")
    run.FINGERPRINTS.write_text(json.dumps(result, indent=1, sort_keys=True) + "\n")
    print(f"wrote {run.FINGERPRINTS}")


if __name__ == "__main__":
    main()
