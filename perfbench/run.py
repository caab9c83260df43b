#!/usr/bin/env python3
"""Closed-loop benchmark of the engine's medallion and corpus paths.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Builds the engine from source (perfbench/build.py), generates the
workload's inputs from the seed, and drives one JVM running
GraftSession.local on every available core with a single client: each op
starts when the previous one returned. Between ops, with the clock
stopped, the harness checks the op's outputs without the engine (DuckDB or
planted ground truth) and stages the next op's inputs.

The last stdout line is one JSON object: correct, attempted, failed and
metrics -- the end-to-end metrics with --trace 0, the per-layer metrics
(from spans around every public call, see perfbench/metrics.py) with
--trace 1. The line before it holds the measured input properties and run
details. Everything is written under .bench_build/ in the checkout.
"""
import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import threading
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import build  # noqa: E402
import drivers  # noqa: E402
import metrics  # noqa: E402

SETUP_REPS = 3
MIN_OPS = 4
DEADLINE_S = 165
JVM_HEAP = "2g"
PREFIX = "@@PB "


def jvm_command(cp, args, work, input_dir, cores):
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    opens = ["java.base/" + p for p in (
        "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
        "java.net", "java.nio", "java.util", "java.util.concurrent",
        "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
        "sun.security.action", "sun.util.calendar")]
    # no hsperfdata file: the JVM would otherwise write it outside the checkout
    # a fixed-size heap keeps young collections few and their pauses even
    cmd = ["java", f"-Xms{JVM_HEAP}", f"-Xmx{JVM_HEAP}", "-Xss8m",
           "-XX:-UsePerfData"]
    for p in opens:
        cmd += ["--add-opens", p + "=ALL-UNNAMED"]
    cmd += [
        f"-Djava.io.tmpdir={tmp}",
        f"-Dspark.local.dir={tmp}",
        f"-Dspark.sql.warehouse.dir={os.path.join(work, 'warehouse')}",
        f"-Dderby.system.home={os.path.join(work, 'derby')}",
        f"-Dgraft.artifacts.root={os.path.join(work, 'artifacts')}",
        "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
        "-cp", cp, "perfbench.Main",
        "--workload", args.workload, "--input", input_dir, "--work",
        os.path.join(work, "run"), "--cores", str(cores),
        "--setup-reps", str(SETUP_REPS), "--trace", str(args.trace)]
    return cmd


def fail(msg):
    print(f"[perfbench] {msg}", file=sys.stderr)
    sys.exit(2)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(drivers.DRIVERS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    t_start = time.monotonic()
    root = build.ROOT
    try:
        cp = build.ensure()
    except build.BuildError as e:
        fail(f"build failed: {e}")

    work = os.path.join(root, ".bench_build", "work", args.workload)
    shutil.rmtree(work, ignore_errors=True)
    input_dir = os.path.join(work, "input")
    os.makedirs(input_dir)
    t = time.perf_counter()
    drv = drivers.DRIVERS[args.workload](args.seed, input_dir)
    gen_s = time.perf_counter() - t
    drv.oracle()

    cores = len(os.sched_getaffinity(0))
    log = open(os.path.join(work, "jvm.log"), "w")
    proc = subprocess.Popen(
        jvm_command(cp, args, work, input_dir, cores), stdin=subprocess.PIPE,
        stdout=subprocess.PIPE, stderr=log, text=True, cwd=work)
    # a hung JVM is killed before the harness's own time budget runs out
    watchdog = threading.Timer(DEADLINE_S + 10, proc.kill)
    watchdog.start()
    try:
        run = drive(proc, drv, args, t_start)
    finally:
        watchdog.cancel()
        if proc.poll() is None:
            proc.kill()
        proc.wait()
        log.close()
    if run is None:
        fail(f"JVM exited early (code {proc.returncode}); see {log.name}")
    ops, setup, end = run

    attempted = len(ops)
    failed = sum(1 for o in ops if o["error"])
    lat = [o["lat_s"] for o in ops]
    timed = sum(lat)
    details = {
        "workload": args.workload, "seed": args.seed, "cores": cores,
        "clients": 1, "input": drv.props,
        "ops": attempted, "timed_s": timed, "lat_s": lat,
        "errors": [f"op {o['op']}: {o['error']}" for o in ops if o["error"]][:5],
    }
    if args.trace:
        result = traced_metrics(work, ops, drv)
    else:
        tail_v, tail_p, beyond = metrics.tail(lat)
        details["op_tail"] = {"percentile": tail_p, "samples": attempted,
                              "beyond": beyond}
        rows = sum(drv.consumed(o["op"])[0] for o in ops)
        read_bytes = sum(drv.consumed(o["op"])[1] for o in ops)
        written = sum(o["written"] for o in ops)
        space = drivers.tree_bytes(setup["dir"], skip=drv.skip)
        result = {
            "setup_s": gen_s + setup["session_s"] + statistics.median(setup["setup_s"]),
            "op_p50_s": metrics.quantile(sorted(lat), 50),
            "op_tail_s": tail_v,
            "ops_per_s": attempted / timed,
            "rows_per_s": rows / timed,
            "write_amp": written / read_bytes,
            "space_amp": space / drv.source_bytes(),
            "live_heap_mb": end["heap_mb"],
        }
        details["failed_ops_frac"] = failed / attempted
        details["setup"] = {"generate_s": gen_s, "session_s": setup["session_s"],
                            "reps_s": setup["setup_s"]}
        if args.workload == "corpus_refresh" and drv.recalls:
            details["knn_recall_at_10"] = statistics.median(drv.recalls)
    spec = json.load(open(os.path.join(root, "BENCHMARK.json")))
    key = "per_layer" if args.trace else "end_to_end"
    units = {m["name"]: m["unit"] for m in spec[key]}
    print(json.dumps(details, default=str))
    print(json.dumps({
        "correct": failed == 0, "attempted": attempted, "failed": failed,
        "metrics": {n: {"value": result[n], "unit": u} for n, u in units.items()},
    }))


def drive(proc, drv, args, t_start):
    """Run the closed loop; return (ops, setup, end) or None on early exit."""
    def recv():
        while True:
            line = proc.stdout.readline()
            if not line:
                return None
            if line.startswith(PREFIX):
                return json.loads(line[len(PREFIX):])

    def send(cmd):
        proc.stdin.write(json.dumps(cmd) + "\n")
        proc.stdin.flush()

    setup = recv()
    if setup is None:
        return None
    drv.after_setup(setup["dir"])
    ops = []
    min_ops = MIN_OPS + args.trace
    send(drv.command(0))
    while True:
        rec = recv()
        if rec is None:
            return None
        if rec["ev"] == "end":
            return ops, setup, rec
        out = rec["out"]
        error = out.get("failed")
        if error is None:
            try:
                error = drv.check(rec["op"], out)
            except Exception as e:  # a check that cannot run is a failed op
                error = f"check raised {e!r}"
        # bytes every layer and artifact gained during the op
        rec["written"] = drivers.tree_bytes(
            setup["dir"], since_ns=(rec["start_ms"] - 10) * 1000000, skip=drv.skip)
        rec["error"] = error
        ops.append(rec)
        timed = sum(o["lat_s"] for o in ops)
        done = timed >= args.seconds and len(ops) >= min_ops
        if done or time.monotonic() - t_start > DEADLINE_S:
            send({"cmd": "stop"})
        else:
            send(drv.command(len(ops)))


def traced_metrics(work, ops, drv):
    trace = os.path.join(work, "run", "trace")

    def lines(name):
        with open(os.path.join(trace, name)) as fh:
            return [json.loads(x) for x in fh if x.strip()]
    spans, jobs = lines("spans.jsonl"), lines("jobs.jsonl")
    counters = lines("counters.jsonl")[0]
    m = metrics.layer_metrics(spans, jobs, counters)
    # op 0 warms the JVM up and is left out of the comparison
    traced = [o["lat_s"] for o in ops[1:] if o["traced"]]
    plain = [o["lat_s"] for o in ops[1:] if not o["traced"]]
    m["trace.overhead_frac"] = statistics.median(traced) / statistics.median(plain) - 1
    if isinstance(drv, drivers.CorpusRefresh) and drv.recalls:
        m["pq.knn_recall_at_10"] = statistics.median(drv.recalls)
        m["artifacts.index_rows"] = drv.index_rows
        m["curation.kept_frac"] = statistics.median(drv.kept_frac)
    return m


if __name__ == "__main__":
    main()
