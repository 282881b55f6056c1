"""Choose the queries_short and queries_heavy sets from one traced pass
over the whole registry on the benchmark's tables.

Usage: python3 perfbench/tools/select_sets.py <scratch dir>

Each query runs once (after a short warm-up) with the benchmark's own
listeners; its executor share is executor task time over wall time times
cores. The short set takes the quick queries with the lowest share; the
heavy set the queries with the highest share or the most Spark jobs per
second among those of HEAVY_MIN_S to HEAVY_MAX_S. Whether a query passes
its result check plays no part. The chosen lists, with each query's
measured share and the reason, and the whole pass are written to
perfbench/query_sets.json.
"""
import json
import os
import sys

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, HERE)

import run  # noqa: E402
from bench import queries  # noqa: E402

WARM = ["q1_agg", "q2_filter", "q3_enrich", "q4_watermark", "q5_dedup", "q100_data_card",
        "q101_novelty", "q102_psi_drift"]
SHORT_MAX_S = 0.5
# Odd, so that with each short query run twice and each heavy one once per
# round (bench/queries.py) the nearest rank of op_p50_s falls in the middle
# of one short query's samples, not on the edge between two.
SHORT_N = 5
# The heavy set is capped by run time: a queries run has about 20 s to time
# its operations after a cold warm-up round (README, "Metrics").
HEAVY_MIN_S = 0.6
HEAVY_MAX_S = 1.3
HEAVY_BY_SHARE = 2
HEAVY_BY_JOBS = 2


def traced_pass(scratch):
    os.makedirs(scratch, exist_ok=True)
    cfg = {"workload": "select", "cores": run.cores(), "work": os.path.join(scratch, "work"),
           "records": os.path.join(scratch, "select.jsonl"), "spans": os.path.join(scratch, "spans.jsonl"),
           "data": queries.data_dir(), "warm": WARM, "names": []}
    if os.path.exists(cfg["records"]):
        os.remove(cfg["records"])
    path = os.path.join(scratch, "select.json")
    with open(path, "w") as f:
        json.dump(cfg, f)
    run.launch(run.classpath(), path, scratch)
    return cfg["records"]


def share(r, cores):
    return r.get("executor.task_s", 0.0) / (r["wall_s"] * cores) if r["wall_s"] > 0 else 0.0


def choose(records_path, cores):
    with open(records_path) as f:
        ops = [json.loads(l) for l in f if l.strip()]
    ops = [o for o in ops if o.get("kind") == "op" and o.get("phase") == "select"]
    for o in ops:
        o["share"] = share(o, cores)
        o["jobs_per_s"] = o.get("driver.jobs", 0.0) / o["wall_s"] if o["wall_s"] > 0 else 0.0

    def entry(o, reason):
        return {"name": o["name"], "wall_s": round(o["wall_s"], 4), "executor_share": round(o["share"], 4),
                "jobs": int(o.get("driver.jobs", 0)), "construct_s": round(o.get("queries.construct_s", 0.0), 4),
                "reason": reason}

    fast = sorted((o for o in ops if o["wall_s"] <= SHORT_MAX_S), key=lambda o: o["share"])
    short = [entry(o, f"wall {o['wall_s']:.3f} s <= {SHORT_MAX_S} s with executor share "
                      f"{o['share']:.3f}, among the {SHORT_N} lowest shares of the quick queries")
             for o in fast[:SHORT_N]]
    slow = [o for o in ops if HEAVY_MIN_S <= o["wall_s"] <= HEAVY_MAX_S]
    by_share = sorted(slow, key=lambda o: -o["share"])[:HEAVY_BY_SHARE]
    by_jobs = sorted((o for o in slow if o not in by_share), key=lambda o: -o["jobs_per_s"])[:HEAVY_BY_JOBS]
    heavy = [entry(o, f"wall {o['wall_s']:.3f} s with executor share {o['share']:.3f}, among the "
                      f"{HEAVY_BY_SHARE} highest shares of the queries of {HEAVY_MIN_S}-{HEAVY_MAX_S} s")
             for o in by_share]
    heavy += [entry(o, f"wall {o['wall_s']:.3f} s running {o['jobs_per_s']:.1f} Spark jobs/s "
                       f"(a many-job iterative loop), among the {HEAVY_BY_JOBS} highest of the queries "
                       f"of {HEAVY_MIN_S}-{HEAVY_MAX_S} s") for o in by_jobs]
    return {"method": {"pass": "one traced run of every registry query on perfbench/data/sf0.01, "
                                "local[%d], after a warm-up of %s" % (cores, ",".join(WARM)),
                       "executor_share": "sum of executor task run time / (wall x cores)",
                       "short": f"wall <= {SHORT_MAX_S} s, lowest executor share, {SHORT_N} queries",
                       "heavy": f"wall {HEAVY_MIN_S}-{HEAVY_MAX_S} s: the {HEAVY_BY_SHARE} highest "
                                f"executor shares and the {HEAVY_BY_JOBS} most Spark jobs per second"},
            "queries_short": {"queries": short}, "queries_heavy": {"queries": heavy},
            "registry_pass": {"columns": ["name", "wall_s", "executor_share", "jobs"],
                              "rows": [[o["name"], round(o["wall_s"], 4), round(o["share"], 4),
                                        int(o.get("driver.jobs", 0))] for o in ops]}}


def write(sets):
    registry = sets.pop("registry_pass")
    # indented like the rest, but one registry row per line
    rows = ",\n  ".join(json.dumps(r) for r in registry["rows"])
    with open(queries.SETS_FILE, "w") as f:
        f.write(json.dumps(sets, indent=1)[:-2] + ',\n "registry_pass": {"columns": '
                + json.dumps(registry["columns"]) + ', "rows": [\n  ' + rows + "\n ]}\n}\n")


if __name__ == "__main__":
    write(choose(traced_pass(os.path.abspath(sys.argv[1])), run.cores()))
