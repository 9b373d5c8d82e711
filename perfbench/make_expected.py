#!/usr/bin/env python3
"""Regenerates expected_digests.json: runs every flow of the workloads once
per scale factor, writes the outputs as parquet, checks each output against
the flow's oracle SQL (graft.SparkEntry.oracleSql) in DuckDB with the
normalisation of the repository's tools/check.py, and stores the row count
and digest of each output. A flow without oracle SQL gets its row count
only. Each flow also gets the number of input records its tasks read, the
fixed numerator of rows_per_s; it must be the same in both warm-up passes.
Run from the repository root, on a commit whose outputs are trusted:

    python3 perfbench/make_expected.py
"""

import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
sys.path.insert(0, os.path.join(ROOT, "tools"))
import check  # noqa: E402  (tools/check.py: DuckDB oracle and normalisation)
import duckdb  # noqa: E402
import pandas as pd  # noqa: E402
from run import load_jsonl  # noqa: E402
from workloads import WORKLOADS  # noqa: E402


def oracle_check(outdir, sfdir, flow, sql, con):
    got = pd.concat([pd.read_parquet(os.path.join(outdir, flow, f))
                     for f in sorted(os.listdir(os.path.join(outdir, flow)))
                     if f.endswith(".parquet")], ignore_index=True)
    g, e = check.norm(got), check.norm(con.execute(sql).df())
    return list(g.columns) == list(e.columns) and len(g) == len(e) and g.equals(e)


def main():
    expected = {}
    for sf in sorted({w["sf"] for w in WORKLOADS.values()}):
        names = [n for n, w in WORKLOADS.items() if w["sf"] == sf]
        flows = sorted({f for n in names for f in WORKLOADS[n]["flows"]})
        dump = os.path.join(ROOT, ".bench_work", "dump-" + sf)
        subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload", names[0],
                        "--flows", ",".join(flows), "--seed", "0", "--seconds", "0",
                        "--passes", "0", "--dump", dump], cwd=ROOT, check=False,
                       stdout=subprocess.DEVNULL)
        run = [d for d in os.listdir(os.path.join(ROOT, ".bench_work"))
               if d.startswith("run-")][0]
        records = load_jsonl(os.path.join(ROOT, ".bench_work", run, "records.jsonl"))
        warm = {r["flow"]: r for r in records if r["type"] == "flow" and r["phase"] == "warm"}
        warm2 = {r["flow"]: r for r in records if r["type"] == "flow" and r["phase"] == "warm2"}
        oracle = json.load(open(os.path.join(dump, "oracle_sql.json")))
        sfdir = os.path.join(HERE, "data", sf)
        con = duckdb.connect()
        for t in check.TABLES:
            p = os.path.join(sfdir, t + ".parquet")
            if os.path.exists(p):
                con.execute("CREATE VIEW %s AS SELECT * FROM read_parquet('%s')" % (t, p))
        expected[sf] = {}
        for f in flows:
            r = warm.get(f)
            if r is None or not r["ok"]:
                sys.exit("%s %s did not run: %s" % (sf, f, r and r.get("error")))
            if warm2.get(f, {}).get("input_rows") != r["input_rows"]:
                sys.exit("%s %s read %s input records, then %s" % (
                    sf, f, r["input_rows"], warm2.get(f, {}).get("input_rows")))
            if f in oracle:
                if not oracle_check(dump, sfdir, f, oracle[f], con):
                    sys.exit("%s %s differs from its DuckDB oracle" % (sf, f))
                expected[sf][f] = {"rows": r["rows"], "digest": r["digest"], "oracle": True}
            else:
                expected[sf][f] = {"rows": r["rows"], "oracle": False}
            expected[sf][f]["input_rows"] = r["input_rows"]
            print(sf, f, expected[sf][f])
    with open(os.path.join(HERE, "expected_digests.json"), "w") as fh:
        json.dump(expected, fh, indent=1, sort_keys=True)
        fh.write("\n")


if __name__ == "__main__":
    main()
