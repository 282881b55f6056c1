"""Run-to-run spread of the end-to-end metrics in the run records.

Usage: python3 perfbench/tools/spread.py [records.jsonl]

For each workload, prints every end-to-end metric's median over the
untraced runs, its quartiles (statistics.quantiles, n=4) and the distance
between them as a share of the median, beside the bound in BENCHMARK.json.
"""
import json
import os
import statistics
import sys

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
ROOT = os.path.dirname(HERE)


def main(argv):
    path = argv[0] if argv else os.path.join(ROOT, ".bench_build", "records.jsonl")
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bounds = {m["name"]: m["bound"] for m in json.load(f)["end_to_end"]}
    with open(path) as f:
        recs = [json.loads(l) for l in f if l.strip()]
    recs = [r for r in recs if not r["trace"]]
    for w in sorted({r["workload"] for r in recs}):
        rs = [r for r in recs if r["workload"] == w]
        print(f"{w}: {len(rs)} runs, seeds {[r['seed'] for r in rs]}, failed ops "
              f"{sum(r['failed'] for r in rs)}")
        for name, bound in bounds.items():
            xs = [r["metrics"][name] for r in rs if r["metrics"].get(name) is not None]
            if len(xs) < 2:
                continue
            q1, med, q3 = statistics.quantiles(xs, n=4)
            print(f"  {name:10s} median {med:9.4f}  q1 {q1:9.4f}  q3 {q3:9.4f}  "
                  f"spread {(q3 - q1) / med:6.3f}  bound {bound}  (a third: {bound / 3:.3f})")


if __name__ == "__main__":
    main(sys.argv[1:])
