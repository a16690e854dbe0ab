#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. Builds the engine together with the
benchmark's JVM side when the build is missing or older than any source,
generates the workload's inputs from the seed, runs the workload in one
JVM, checks every op's output, and prints one JSON object as the last line
of stdout: end-to-end metrics with --trace 0, per-layer metrics with
--trace 1. Exits non-zero, printing no result, when the build or the run
fails.
"""
import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

import check
import gen

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("republish_large", "query_mix")
LARGE_ENTITIES = 20000
QUERY_SCALE = 1.0
SETUP_REPEATS = 3
# The op a traced run also makes untraced, to measure the tracing overhead:
# the first query of the mix, cold in both JVMs.
OVERHEAD_OP = "q114_streaming_statement_store"
# The JVMs of a run must end within --seconds plus this many seconds of the
# run's start; the rest of the 180 s a run may take is left for the checks.
JVM_ALLOWANCE_S = 150
JAVA_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
    "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar"]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def newest_source_mtime():
    newest = 0.0
    for base in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"),
                 os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project")):
        for d, dirs, files in os.walk(base):
            dirs[:] = [x for x in dirs if x != "target"]
            for f in files:
                newest = max(newest, os.path.getmtime(os.path.join(d, f)))
        if os.path.isfile(base):
            newest = max(newest, os.path.getmtime(base))
    return newest


def build():
    """Compiles the engine and the benchmark with sbt, offline; returns the
    runtime classpath."""
    cp_file = os.path.join(HERE, "target", "classpath.txt")
    if os.path.exists(cp_file) and os.path.getmtime(cp_file) > newest_source_mtime():
        return open(cp_file).read().strip()
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        raise SystemExit("engine sources (src/main/scala/graft) not found")
    tmp = os.path.join(HERE, "target", "tmp")
    os.makedirs(tmp, exist_ok=True)
    # Temporary files of sbt and of every JVM it starts stay in the checkout.
    env = dict(os.environ, COURSIER_MODE="offline", TMPDIR=tmp,
               JAVA_TOOL_OPTIONS=f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData")
    env["SBT_OPTS"] = " ".join([
        "-Dsbt.override.build.repos=true", "-Dsbt.offline=true", "-Xmx2g",
        "-Dsbt.repository.config=" + os.path.expanduser("~/.sbt/repositories")])
    log("building")
    t = time.time()
    res = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true",
                          "compile", "writeClasspath"],
                         cwd=HERE, env=env, stdin=subprocess.DEVNULL,
                         stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if res.returncode != 0 or not os.path.exists(cp_file):
        sys.stderr.write(res.stdout[-4000:])
        raise SystemExit("build failed")
    log(f"built in {time.time() - t:.1f} s")
    return open(cp_file).read().strip()


def generate(workload, seed, work, traced):
    """Writes the inputs under `work`: the republish dataset (inputs/etl,
    with its previous version in the store), the query tables
    (inputs/tables), or both for a traced run. Returns (ETL manifest or
    None, input bytes, input rows) where bytes and rows are the workload's."""
    for d in ("inputs", "store"):
        if os.path.exists(f"{work}/{d}"):
            shutil.rmtree(f"{work}/{d}")
    manifest, size = None, {}
    if traced or workload == "republish_large":
        manifest = gen.etl_republish(seed, f"{work}/inputs/etl", f"{work}/store",
                                     LARGE_ENTITIES)
        size["republish_large"] = (manifest["bytes"], manifest["statements_v2"])
    if traced or workload == "query_mix":
        size["query_mix"] = gen.query_tables(seed, f"{work}/inputs/tables", QUERY_SCALE)
    return (manifest,) + size[workload]


def run_jvm(cp, args, work, deadline, stop_ok):
    """Runs perfbench.Main in `work` and returns its result.json. A JVM still
    running at `deadline` (a time.time() value) is stopped. With `stop_ok`
    the ops it finished are then returned as its result, and the op it was
    running counts as failed, with the time it had taken; otherwise the run
    fails."""
    cmd = ["java", "-cp", cp, "-Xms2g", "-Xmx2g", "-XX:-UsePerfData",
           f"-Djava.io.tmpdir={work}/tmp", "-Dspark.ui.enabled=false"]
    for p in JAVA_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["perfbench.Main"] + [str(a) for a in args]
    os.makedirs(f"{work}/tmp", exist_ok=True)
    with open(f"{work}/jvm.log", "w") as out:
        proc = subprocess.Popen(cmd, cwd=work, stdout=out, stderr=subprocess.STDOUT,
                                stdin=subprocess.DEVNULL, start_new_session=True)
        try:
            rc = proc.wait(timeout=max(1.0, deadline - time.time()))
        except subprocess.TimeoutExpired:
            stopped_ms = time.time() * 1000
            hwm_kb = vm_hwm_kb(proc.pid)
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            log(f"stopped the JVM at its deadline, {JVM_ALLOWANCE_S} s after --seconds")
            if not stop_ok:
                raise SystemExit("JVM did not finish in time")
            return stopped_result(work, stopped_ms, hwm_kb)
    if rc != 0:
        with open(f"{work}/jvm.log") as f:
            sys.stderr.write(f.read()[-4000:])
        raise SystemExit(f"JVM exited with {rc}")
    with open(f"{work}/result.json") as f:
        return json.load(f)


def vm_hwm_kb(pid):
    try:
        with open(f"/proc/{pid}/status") as f:
            return next(int(x.split()[1]) for x in f if x.startswith("VmHWM:"))
    except (OSError, StopIteration):
        return 0


def stopped_result(work, stopped_ms, hwm_kb):
    """The result of a JVM stopped at `stopped_ms`, from its events.jsonl:
    the ops it finished, and the op it was running (or its set-up) as a
    failed op that took until the stop."""
    path = f"{work}/events.jsonl"
    events = [json.loads(x) for x in open(path)] if os.path.exists(path) else []
    ready_ms = events[0]["ready_ms"] if events else stopped_ms
    ops = [e for e in events if "name" in e]
    starts = [e for e in events if "start" in e]
    if len(starts) > len(ops):
        name, since = starts[-1]["start"], starts[-1]["ms"]
    else:
        name, since = ("setup" if not events else "between ops"), ready_ms
    sec = (stopped_ms - since) / 1000
    ops.append({"name": name, "round": ops[-1]["round"] if ops else 0, "seconds": sec,
                "error": f"still running when stopped after {sec:.1f} s", "fields": {}})
    return {"ready_ms": ready_ms, "ops": ops, "peak_rss_kb": hwm_kb,
            "rounds": [{"round": 0, "seconds": (stopped_ms - ready_ms) / 1000}],
            "shuffle_partitions": "?", "nproc": os.cpu_count()}


def tail(values):
    """The highest percentile with at least ten samples above it, or the
    maximum when there are fewer than eleven samples; with its percentile."""
    v = sorted(values)
    n = len(v)
    if n < 11:
        return v[-1], 100.0
    return v[n - 11], 100.0 * (n - 10) / n


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    cp = build()
    deadline = time.time() + a.seconds + JVM_ALLOWANCE_S
    work = os.path.join(HERE, "work", a.workload)
    if os.path.exists(work):
        shutil.rmtree(work)
    os.makedirs(work)

    # Set-up is input generation plus the JVM's start, session and the
    # workload's own set-up. Generation repeats SETUP_REPEATS times and
    # contributes its median; the JVM part happens once per run.
    gen_times = []
    for i in range(1 if a.trace else SETUP_REPEATS):
        t = time.time()
        manifest, input_bytes, input_rows = generate(a.workload, a.seed, work, a.trace)
        gen_times.append(time.time() - t)
    args = [f"{work}/inputs/etl", f"{work}/inputs/tables", input_bytes]
    ref_ops = []
    if a.trace:
        # The tracing overhead: the first query of the mix, untraced in a
        # JVM of its own, then traced first thing in the traced JVM.
        ref = f"{work}/untraced"
        ref_ops = run_jvm(cp, ["query_mix", 0, 0] + args + [ref, OVERHEAD_OP], ref,
                          deadline, False)["ops"]
    spawn_ms = time.time() * 1000
    res = run_jvm(cp, [a.workload, a.seconds, a.trace] + args + [work], work,
                  deadline, not a.trace)
    setup_s = statistics.median(gen_times) + (res["ready_ms"] - spawn_ms) / 1000

    ops = res["ops"] + ref_ops
    t = time.time()
    failures = check.check_ops(ops, work, manifest, f"{work}/inputs/tables")
    log(f"checked {len(ops)} ops in {time.time() - t:.1f} s")
    for name, why in failures:
        log(f"FAILED {name}: {why}")
    attempted = len(ops)
    failed = len(failures)
    lat = [o["seconds"] for o in ops]
    tail_v, tail_pct = tail(lat)
    log(f"{a.workload} seed={a.seed}: {len(res['rounds'])} rounds, {attempted} ops, "
        f"{failed} failed; tail is p{tail_pct:.1f} of {len(lat)} samples; "
        f"shuffle partitions {res['shuffle_partitions']} on {res['nproc']} cores; "
        f"input {input_rows} rows, {input_bytes} bytes")

    if a.trace:
        layers = dict(res["layers"])
        traced_s, untraced_s = layers[f"queries.{OVERHEAD_OP}.s"], ref_ops[0]["seconds"]
        layers["trace.untraced_op_s"] = untraced_s
        layers["trace.overhead_pct"] = 100 * (traced_s / untraced_s - 1)
        log(f"{OVERHEAD_OP}: traced {traced_s:.2f} s, untraced {untraced_s:.2f} s: "
            f"overhead {layers['trace.overhead_pct']:+.1f}%")
        metrics = {k: {"value": v, "unit": check.layer_unit(k)}
                   for k, v in check.layer_metrics(layers).items()}
    else:
        out_bytes = check.output_bytes(a.workload, work, ops)
        metrics = {
            "setup_s": {"value": setup_s, "unit": "s"},
            "wall_s": {"value": statistics.median(r["seconds"] for r in res["rounds"]),
                       "unit": "s"},
            "op_p50_s": {"value": statistics.median(lat), "unit": "s"},
            "op_tail_s": {"value": tail_v, "unit": "s"},
            "peak_rss_mb": {"value": res["peak_rss_kb"] / 1024, "unit": "MB"},
            "ok_ops_ratio": {"value": (attempted - failed) / attempted, "unit": "ratio"},
            "output_bytes_per_input_byte": {"value": out_bytes / input_bytes,
                                            "unit": "ratio"},
        }
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))


if __name__ == "__main__":
    main()
