#!/usr/bin/env python3
"""Benchmark of the graft pipeline: the paper's ingestion cycle, and a
short and a heavy set of registry queries, timed to the full result and
checked in the same pass.

Usage (from the repository root):
  python3 perfbench/run.py --workload ingest_cycle --seed 1 --seconds 20 --trace 0

Workloads: ingest_cycle, queries. One JVM on
local[nproc], one client, closed loop. The last line of stdout is one
JSON object {correct, attempted, failed, metrics}; --trace 0 reports the
end-to-end metrics, --trace 1 the per-layer ones. Exits non-zero when
any output check fails or the program cannot be built.
"""
import argparse
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

from bench import build, ingest_gen, queries, report  # noqa: E402

WORKLOADS = ("ingest_cycle", "queries")
HEAP = "2g"
HARNESS_TIMEOUT_S = 165
BUILD_DIR = os.path.join(ROOT, os.environ.get("CARGO_TARGET_DIR", ".bench_build"))


def cores():
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def java_cmd(classpath, run_dir, config):
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # heap pinned and pre-touched, as the program's own measuring runs do:
    # first-touch page faults after start-up would land inside operations
    cmd = ["java", f"-Xmx{HEAP}", f"-Xms{HEAP}", "-XX:+AlwaysPreTouch", "-XX:-UsePerfData",
           f"-Djava.io.tmpdir={tmp}"]
    with open(os.path.join(HERE, "jvm.opens")) as f:  # shared with build.sbt's test JVM
        for m in f.read().split():
            cmd += ["--add-opens", f"{m}=ALL-UNNAMED"]
    return cmd + ["-cp", classpath, "perfbench.Harness", config]


def classpath():
    """The harness's runtime classpath, built first if the sources changed."""
    return build.ensure_built(ROOT, BUILD_DIR, os.path.join(BUILD_DIR, "build.log"))


def launch(classpath, config, run_dir, timeout=None):
    """Run the harness on `config` in its own process group, with its
    output in run_dir/harness.log; returns its exit code. On timeout the
    JVM is killed and TimeoutExpired propagates."""
    with open(os.path.join(run_dir, "harness.log"), "w") as out:
        return build.run_group(java_cmd(classpath, run_dir, config), timeout, cwd=run_dir,
                               stdout=out, stderr=subprocess.STDOUT).returncode


def prepare(workload, seed, seconds, run_dir):
    """Seeded inputs and the harness config; returns (config, context)."""
    cfg = {"workload": workload, "cores": cores(), "work": os.path.join(run_dir, "work"),
           "records": os.path.join(run_dir, "records.jsonl"),
           "spans": os.path.join(run_dir, "spans.jsonl")}
    if workload == "ingest_cycle":
        warm, timed, fault = ingest_gen.schedule(seconds)
        replay = ingest_gen.Replay(seed, fault + 1)
        inputs = os.path.join(run_dir, "inputs")
        ingest_gen.write_inputs(replay, list(warm) + list(timed) + [fault], inputs)
        traced = min(ingest_gen.TRACED_POLLS, len(timed))
        ref = ingest_gen.reference(replay, warm, timed, fault, traced)
        cfg.update(inputs=inputs, warm_polls=list(warm), timed_polls=list(timed),
                   fault_poll=fault, cutoff_us=ref["cutoff_us"], traced_ops=traced)
        return cfg, ref
    warm, timed = queries.schedule(seed, seconds)
    cfg.update(data=queries.data_dir(), warm=warm, timed=timed, traced_ops=len(set(warm)))
    return cfg, queries.expected()


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        print("perfbench: program sources (src/main/scala/graft) not found beside perfbench/",
              file=sys.stderr)
        return 2
    try:
        cp = classpath()
    except (RuntimeError, OSError, subprocess.TimeoutExpired) as e:
        print(f"perfbench: {e}", file=sys.stderr)
        return 2

    run_dir = os.path.join(BUILD_DIR, "runs", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    record = report.host_record(ROOT, args)
    try:
        t_setup = time.time()
        cfg, ref = prepare(args.workload, args.seed, args.seconds, run_dir)
        cfg["trace"] = bool(args.trace)
        config = os.path.join(run_dir, "config.json")
        with open(config, "w") as f:
            json.dump(cfg, f)
        try:
            code = launch(cp, config, run_dir, HARNESS_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            print(f"perfbench: harness ran past {HARNESS_TIMEOUT_S} s and was stopped", file=sys.stderr)
            return 3
        records = report.load(cfg["records"])
        if code != 0:
            with open(os.path.join(run_dir, "harness.log")) as f:
                tail = f.read()[-3000:]
            print(f"perfbench: harness exited {code}\n{tail}", file=sys.stderr)
            return 3
        result = report.evaluate(args.workload, records, ref, t_setup, bool(args.trace), cfg)
        record.update(report.host_end(record))
        result["record"].update(record)
        if args.trace:
            shutil.copy(cfg["spans"], os.path.join(BUILD_DIR, f"spans-{args.workload}-{args.seed}.jsonl"))
        with open(os.path.join(BUILD_DIR, "records.jsonl"), "a") as f:
            f.write(json.dumps(result["record"]) + "\n")
        report.show(result)
        return 0 if result["correct"] else 1
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
