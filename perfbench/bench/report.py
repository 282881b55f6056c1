"""Turn the harness records into checks and metrics, and print them."""
import json
import os
import platform
import statistics
import subprocess
import time

from . import build, stats

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def _declared(kind):
    """(name, unit) of every metric of `kind` in BENCHMARK.json."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return [(m["name"], m["unit"]) for m in json.load(f)[kind]]


END_TO_END = _declared("end_to_end")
PER_LAYER = _declared("per_layer")
# Per-layer values that are one-off per run rather than per operation.
RUN_LEVEL = {"jobs.catalog_refresh_s", "jobs.housekeeping_s", "jvm.heap_peak_mb", "trace.overhead_s"}


def load(path):
    if not os.path.exists(path):
        return []
    with open(path, encoding="utf-8") as f:
        return [json.loads(line) for line in f if line.strip()]


def _cpu_model():
    try:
        with open("/proc/cpuinfo") as f:
            for line in f:
                if line.startswith("model name"):
                    return line.split(":", 1)[1].strip()
    except OSError:
        pass
    return platform.processor() or "unknown"


def _git_sha(root):
    try:
        out = subprocess.run(["git", "rev-parse", "HEAD"], cwd=root, capture_output=True,
                             text=True, timeout=10)
        return out.stdout.strip() if out.returncode == 0 else None
    except (OSError, subprocess.TimeoutExpired):
        return None


def _cpu_ticks():
    """(steal, total) jiffies from /proc/stat, or None off Linux."""
    try:
        with open("/proc/stat") as f:
            fields = [int(x) for x in f.readline().split()[1:9]]
        return fields[7], sum(fields)
    except (OSError, ValueError, IndexError):
        return None


def host_record(root, args):
    return {"workload": args.workload, "seed": args.seed, "seconds": args.seconds,
            "trace": args.trace, "git_sha": _git_sha(root), "source_stamp": build.stamp(root),
            "nproc": os.cpu_count(), "cpu_model": _cpu_model(), "loadavg_start": os.getloadavg(),
            "_ticks": _cpu_ticks()}


def host_end(record):
    """Load at the end, and the share of CPU time the hypervisor stole
    during the run (slow runs on a shared host show it)."""
    start, end = record.pop("_ticks"), _cpu_ticks()
    steal = None
    if start and end and end[1] > start[1]:
        steal = (end[0] - start[0]) / (end[1] - start[1])
    return {"loadavg_end": os.getloadavg(), "cpu_steal_share": steal, "finished_at": time.time()}


def _by(records, kind, **match):
    return [r for r in records if r.get("kind") == kind and all(r.get(k) == v for k, v in match.items())]


def _one(records, kind, **match):
    rs = _by(records, kind, **match)
    return rs[-1] if rs else {}


def _sink_map(check):
    return {str(s["poll"]): [s["rows"], s["hash"]] for s in check.get("sink", [])}


def _cursors(check):
    c = check.get("cursors") or {}
    return [c.get("rows"), c.get("hash")]


def check_ingest(records, ref, trace, cfg):
    """(ids of failed timed operations, run-level check failures)."""
    # the sink is append-only: the final state holds every timed poll's rows
    sink = _sink_map(_one(records, "check", stage="final"))
    ops = _by(records, "op", phase="timed")
    bad_ops = {o["op"] for o in ops if not o["ok"] or sink.get(str(o["op"])) != ref["sink"][str(o["op"])]}
    fails = []

    def need(name, ok, detail=""):
        if not ok:
            fails.append(f"{name} {detail}".strip())

    need("warm polls emitted the reference rows",
         all(sink.get(p) == ref["sink"][p] for p in map(str, cfg["warm_polls"])))
    need("cursors after the timed pass", _cursors(_one(records, "check", stage="after_timed"))
         == ref["cursors_after_timed"])
    setup = _one(records, "setup_step", name="catalog_refresh")
    need("catalog refresh rows", setup.get("rows") == ref["catalog_rows"],
         f"{setup.get('rows')} != {ref['catalog_rows']}")
    td = _one(records, "teardown")
    need("replay of the last poll emits 0 rows", td.get("replay_emitted") == 0, str(td.get("replay_emitted")))
    fault = td.get("fault") or {}
    need("fault: the cursor commit failed", fault.get("threw") is True, fault.get("error", ""))
    need("fault: the emit landed before the failure",
         fault.get("emitted_before_fault") == ref["fault_emitted"])
    need("fault: cursors unchanged by the failed cycle", fault.get("cursors_unchanged") is True)
    need("fault: the replay re-emitted only that poll",
         fault.get("emitted_on_replay") == ref["fault_emitted"],
         f"{fault.get('emitted_on_replay')} != {ref['fault_emitted']}")
    final = _one(records, "check", stage="final")
    need("final sink equals the reference", _sink_map(final) == ref["sink"])
    need("final cursors equal the reference", _cursors(final) == ref["cursors_final"])
    need("housekeeping kept rows", td.get("housekeeping_kept") == ref["housekeeping_kept"],
         f"{td.get('housekeeping_kept')} != {ref['housekeeping_kept']}")
    if trace:
        tr = _one(records, "check", stage="after_traced")
        tsink = _sink_map(tr)
        polls = [str(p) for p in cfg["warm_polls"] + cfg["timed_polls"][: cfg["traced_ops"]]]
        need("traced pass emitted the reference rows", all(tsink.get(p) == ref["sink"][p] for p in polls)
             and len(tsink) == len(polls))
        need("cursors after the traced pass", _cursors(tr) == ref["cursors_after_traced"])
        fails += [f"traced {o['name']} failed" for o in _by(records, "op", phase="traced") if not o["ok"]]
    return bad_ops, fails


def check_queries(records, expected, trace):
    def bad(o):
        want = expected.get(o["name"])
        return not o["ok"] or want is None or [o.get("rows"), o.get("hash")] != [want["rows"], want["hash"]]
    bad_ops = {o["op"] for o in _by(records, "op", phase="timed") if bad(o)}
    fails = [f"warm {o['name']} mismatched or failed" for o in _by(records, "op", phase="warm") if bad(o)]
    if trace:
        fails += [f"traced {o['name']} mismatched or failed" for o in _by(records, "op", phase="traced")
                  if bad(o)]
    return bad_ops, fails


def evaluate(workload, records, ref, t_setup, trace, cfg):
    if workload == "ingest_cycle":
        bad_ops, fails = check_ingest(records, ref, trace, cfg)
    else:
        bad_ops, fails = check_queries(records, ref, trace)
    ops = _by(records, "op", phase="timed")
    good = [o for o in ops if o["op"] not in bad_ops]
    failed = [o for o in ops if o["op"] in bad_ops]
    walls = [o["wall_s"] for o in good]
    first = _one(records, "first_op")
    metrics = {
        "setup_s": first["ms"] / 1e3 - t_setup if first else None,
        "run_s": sum(walls),
        "op_p50_s": stats.percentile(walls, 0.5, stats.MIN_TAIL_SAMPLES),
        "op_p90_s": stats.percentile(walls, 0.9, stats.MIN_TAIL_SAMPLES),
    }
    short = [k for k, v in metrics.items() if v is None]
    if short:
        fails.append(f"too few successful operations ({len(walls)}) for {', '.join(short)}")
    heap = max((o.get("heap_peak_mb", 0.0) for o in ops), default=0.0)
    record = {
        "attempted": len(ops), "failed": len(failed), "fail_ratio": len(failed) / max(1, len(ops)),
        "failed_ops": [o["name"] for o in failed], "run_checks_failed": fails,
        "op_samples": len(walls), "ops_per_workload": {workload: len(ops)},
        "samples_beyond": {"op_p50_s": len(walls) - stats.rank(len(walls), 0.5),
                           "op_p90_s": len(walls) - stats.rank(len(walls), 0.9)} if walls else {},
        "heap_peak_mb": heap, "metrics": metrics,
        "op_walls": [[o["name"], round(o["wall_s"], 4)] for o in ops],
    }
    out = {"correct": not failed and not fails, "attempted": len(ops), "failed": len(failed),
           "record": record}
    if trace:
        out["metrics"] = _layers(records)
        record["layers"] = out["metrics"]
    else:
        out["metrics"] = {n: {"value": metrics[n] if metrics[n] is not None else 0.0, "unit": u}
                          for n, u in END_TO_END}
    return out


def _layers(records):
    traced = [o for o in _by(records, "op", phase="traced") if o["ok"]]
    vals = {}
    for name, unit in PER_LAYER:
        if name in RUN_LEVEL:
            continue
        xs = [o[name] for o in traced if name in o]
        vals[name] = statistics.fmean(xs) if xs else 0.0
    setup = _one(records, "setup_step", name="catalog_refresh")
    vals["jobs.catalog_refresh_s"] = setup.get("wall_s", 0.0)
    vals["jobs.housekeeping_s"] = _one(records, "teardown").get("housekeeping_s", 0.0)
    vals["jvm.heap_peak_mb"] = max((o.get("heap_peak_mb", 0.0) for o in traced), default=0.0)
    # the traced pass repeats timed operations later in the same JVM: compare
    # each with the untraced median of its query (ingest polls all differ,
    # so against the median cycle)
    timed = _by(records, "op", phase="timed")
    overall = statistics.median(o["wall_s"] for o in timed) if timed else 0.0
    by_name = {}
    for o in timed:
        by_name.setdefault(o["name"], []).append(o["wall_s"])
    untraced = {n: statistics.median(ws) if len(ws) > 1 else overall for n, ws in by_name.items()}
    vals["trace.overhead_s"] = sum(o["wall_s"] - untraced.get(o["name"], overall) for o in traced)
    return {n: {"value": vals[n], "unit": u} for n, u in PER_LAYER}


def show(result):
    rec = result["record"]
    print(f"workload {rec['workload']} seed {rec['seed']} trace {rec['trace']}: "
          f"{rec['attempted']} operations, {rec['op_samples']} timed samples "
          f"({rec['samples_beyond'].get('op_p90_s', 0)} beyond p90), "
          f"fail_ratio {rec['fail_ratio']:.4f} (ratio)")
    for name in rec["failed_ops"]:
        print(f"  failed operation: {name}")
    for msg in rec["run_checks_failed"]:
        print(f"  failed check: {msg}")
    for name, m in result["metrics"].items():
        print(f"  {name} {m['value']:.6g} {m['unit']}")
    print(f"  heap_peak_mb {rec['heap_peak_mb']:.1f} MB (record only)")
    print(json.dumps({k: result[k] for k in ("correct", "attempted", "failed", "metrics")}))
