"""Build perfbench/expected/queries.json: the row count and result hash of
every query in both query sets on perfbench/data/sf0.01, certified
against DuckDB.

Usage: python3 perfbench/tools/make_expected.py <scratch dir>

The harness runs each query once through the same observed noop write the
benchmark times, and dumps the full result as parquet beside the oracle
SQL. scripts/oracle_check.py then compares every dump with DuckDB on the
same tables. A query whose dump does not match keeps its DuckDB row count
and no hash, so the benchmark counts it as failed every time it runs.
"""
import json
import os
import re
import subprocess
import sys

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import run  # noqa: E402
from bench import queries  # noqa: E402


def main(scratch):
    os.makedirs(scratch, exist_ok=True)
    sets = queries.load_sets()
    names = sorted({e["name"] for w in queries.SETS for e in sets[w]["queries"]})
    dump = os.path.join(scratch, "dump")
    cfg = {"workload": "expected", "cores": run.cores(), "work": os.path.join(scratch, "work"),
           "records": os.path.join(scratch, "expected.jsonl"), "spans": os.path.join(scratch, "spans.jsonl"),
           "data": queries.data_dir(), "dump": dump, "names": names}
    if os.path.exists(cfg["records"]):
        os.remove(cfg["records"])
    path = os.path.join(scratch, "expected.json")
    with open(path, "w") as f:
        json.dump(cfg, f)
    if run.launch(run.classpath(), path, scratch) != 0:
        sys.exit("harness failed; see " + os.path.join(scratch, "harness.log"))
    with open(cfg["records"]) as f:
        ops = {r["name"]: r for r in map(json.loads, f) if r.get("kind") == "op"}
    check = subprocess.run([sys.executable, os.path.join(ROOT, "scripts", "oracle_check.py"), dump,
                            queries.data_dir()], capture_output=True, text=True)
    print(check.stdout)
    verdict = {}
    for line in check.stdout.splitlines():
        m = re.match(r"(OK|FAIL)\s+(\S+):\s+rows (\d+)/(\d+)", line)
        if m:
            verdict[m.group(2)] = (m.group(1), int(m.group(4)))
    expected = {}
    for n in names:
        status, duck_rows = verdict.get(n, ("MISSING", None))
        op = ops.get(n, {})
        ok = status == "OK" and op.get("ok")
        expected[n] = {"rows": op.get("rows") if ok else duck_rows, "hash": op.get("hash") if ok else None,
                       "oracle": status}
    os.makedirs(os.path.dirname(queries.EXPECTED), exist_ok=True)
    with open(queries.EXPECTED, "w") as f:
        json.dump({"_about": "row count and result hash per query on perfbench/data/sf0.01; "
                             "oracle = scripts/oracle_check.py verdict against DuckDB",
                   **expected}, f, indent=1, sort_keys=True)
        f.write("\n")


if __name__ == "__main__":
    main(os.path.abspath(sys.argv[1]))
