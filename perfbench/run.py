#!/usr/bin/env python3
"""Benchmark entry point: build the engine and the harness, generate seeded
inputs, run one workload for a fixed time, check every output, and print
one JSON line with the metrics.

Usage (from the repository root):
    python3 perfbench/run.py --workload behavior_batch --seed 1 --seconds 5 --trace 0

--trace 0 prints the end-to-end metrics of BENCHMARK.json, --trace 1 the
per-layer ones (from a run with the harness's SparkListener registered).
The end-to-end costs are CPU seconds of the engine's JVM; the wall times
are per-layer figures and go to standard error.
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import check  # noqa: E402
import gen  # noqa: E402

ROOT = os.path.dirname(HERE)
BUILD = os.path.join(HERE, "target")
WORK = os.path.join(HERE, "work")
HARNESS_TIMEOUT_S = 165

# Input sizes. The event log: a month of events at the per-user density of
# the engine's sf0.1 test data (67 events per user), in 16 row groups. The
# batch queries read 25,000 events of 375 users: a pass costs about the same
# from 10,000 to 100,000 events, and three timed passes of the smaller log
# fit the run. The stream replays the first deliveries of 100,000 events of
# 1,500 users.
EVENTS = {
    "behavior_batch": dict(n_events=25_000, n_users=375, days=30, row_group=1_563),
    "behavior_stream": dict(n_events=100_000, n_users=1_500, days=30, row_group=6_250),
}
DELIVERY_EVENTS = 5_000
DELIVERIES = 7  # one warm-up delivery, then up to two rounds of three

WORKLOADS = ("behavior_batch", "behavior_stream")

JDK_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar",
]


def log(msg):
    print("[perfbench] " + msg, file=sys.stderr, flush=True)


def source_hash():
    h = hashlib.sha256()
    files = sorted(glob.glob(os.path.join(ROOT, "src/main/**/*"), recursive=True)
                   + glob.glob(os.path.join(HERE, "src/**/*"), recursive=True)
                   + [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt")])
    for f in files:
        if os.path.isfile(f):
            h.update(f.encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def sbt_env():
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    if "SBT_OPTS" not in env:
        opts = ["-Dsbt.offline=true", "-Xmx2g", "-Dsbt.server.autostart=false"]
        repos = os.path.expanduser("~/.sbt/repositories")
        if os.path.isfile(repos):
            opts += ["-Dsbt.override.build.repos=true", "-Dsbt.repository.config=" + repos]
        env["SBT_OPTS"] = " ".join(opts)
    return env


def build():
    """Compile the engine and the harness once per source tree; later runs
    reuse the recorded classpath."""
    stamp = os.path.join(BUILD, "perfbench-build.json")
    digest = source_hash()
    if os.path.isfile(stamp):
        with open(stamp) as f:
            s = json.load(f)
        if s.get("hash") == digest:
            return s["classpath"]
    log("building engine and harness with sbt")
    p = subprocess.run(["sbt", "-batch", "compile", "export Runtime/fullClasspath"],
                       cwd=HERE, env=sbt_env(), stdout=subprocess.PIPE,
                       stderr=subprocess.STDOUT, text=True, timeout=850)
    lines = [l for l in p.stdout.splitlines() if l.strip()]
    if p.returncode != 0 or not lines or "[" in lines[-1][:1]:
        sys.stderr.write(p.stdout[-4000:])
        raise SystemExit("build failed")
    os.makedirs(BUILD, exist_ok=True)
    with open(stamp, "w") as f:
        json.dump({"hash": digest, "classpath": lines[-1].strip()}, f)
    return lines[-1].strip()


def make_inputs(workload, seed, d):
    t = gen.write_events(d, seed, **EVENTS[workload])
    if workload == "behavior_stream":
        dd = os.path.join(d, "deliveries")
        gen.write_deliveries(dd, t, DELIVERY_EVENTS, DELIVERIES)
        gen.write_flush(dd, t)
    return t.num_rows


def rows_per_round(workload, n_events, ops):
    """Input rows one round consumes: the whole log for the batch pass, the
    round's data deliveries for the stream."""
    if workload == "behavior_batch":
        return n_events
    data = [op for op in ops if op["name"] != "flush.parquet"]
    return DELIVERY_EVENTS * len(data) / len({op["round"] for op in data})


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")):
        raise SystemExit("engine sources not found next to the benchmark")
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    classpath = build()

    # every run starts from an empty work directory: inputs, persisted
    # state, checkpoints and outputs all live under it
    shutil.rmtree(WORK, ignore_errors=True)
    inputs = os.path.join(WORK, "in")
    os.makedirs(os.path.join(WORK, "tmp"))
    n_events = make_inputs(a.workload, a.seed, inputs)
    cmd = (["java"] + [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in JDK_OPENS]
           + ["-Xms3g", "-Xmx3g", "-Dspark.sql.session.timeZone=UTC",
              "-Djava.io.tmpdir=" + os.path.join(WORK, "tmp"), "-cp", classpath,
              "perfbench.Main", a.workload, inputs, WORK, str(a.seconds),
              str(a.trace)])
    with open(os.path.join(WORK, "harness.log"), "w") as logf:
        p = subprocess.Popen(cmd, cwd=WORK, stdout=logf, stderr=subprocess.STDOUT)
        try:
            rc = p.wait(timeout=HARNESS_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            raise SystemExit("harness timed out")
    if rc != 0:
        with open(os.path.join(WORK, "harness.log")) as f:
            sys.stderr.write(f.read()[-4000:])
        raise SystemExit(f"harness failed with exit code {rc}")
    out = os.path.join(WORK, "out")
    with open(os.path.join(out, "result.json")) as f:
        result = json.load(f)
    with open(os.path.join(out, "oracle_sql.json")) as f:
        oracle = json.load(f)

    if a.workload == "behavior_batch":
        checked = check.batch_ops(inputs, oracle, result["ops"])
    else:
        checked = check.stream_feed(inputs, oracle, result["ops"])
    attempted = len(checked)
    failed = sum(1 for ok, _ in checked if not ok)
    mismatched = sum(1 for ok, why in checked if not ok and why != "error")
    for ok, why in checked:
        if not ok:
            log("failed: " + why)

    m = dict(result["metrics"])
    m["events_per_cpu_s"] = rows_per_round(a.workload, n_events, result["ops"]) / m["pass_cpu_s"]
    for k, v in sorted(m.items()):
        log(f"{k} = {v:.4f}")
    # a layer the workload does not use reads 0; every end-to-end metric
    # must have been measured
    if a.trace:
        metrics = {x["name"]: {"value": float(m.get(x["name"], 0.0)), "unit": x["unit"]}
                   for x in spec["per_layer"]}
    else:
        metrics = {x["name"]: {"value": float(m[x["name"]]), "unit": x["unit"]}
                   for x in spec["end_to_end"]}
    print(json.dumps({"correct": mismatched == 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))


if __name__ == "__main__":
    main()
