#!/usr/bin/env python3
"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload fx_batch --seed 1 --seconds 10 --trace 0

Steps: build the program and harness from source (cached per source hash),
generate the workload's inputs from the seed, launch the harness JVM with
pinned heap, cores and scratch (all inside this checkout), compute the
reference fingerprint while it runs, check every operation's output, and print each
metric with its unit. The last line of output is the JSON summary
`{"correct", "attempted", "failed", "metrics"}`. With `--trace 0` the
metrics are the end-to-end ones, with `--trace 1` the per-layer ones.
Exits non-zero, without a summary, if the build or the harness fails.
"""
import argparse
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import build  # noqa: E402
import gen  # noqa: E402
import metrics  # noqa: E402
import reference  # noqa: E402

HEAP = "3g"
CORES = 4
# set-ups per run (batch, stream): a batch set-up is only a session start
# (~0.1 s), so more of them steady its median; a stream set-up stages files
SETUPS = (9, 3)
# a fixed young generation: collections come often enough that the peak
# heap after collection is sampled many times per operation
YOUNG = "256m"
WARM_FILES = 3
STATE_PARTS = 2
RUN_LIMIT_S = 170

JVM_OPTS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "jdk.internal.ref", "sun.nio.ch",
    "sun.nio.cs", "sun.security.action", "sun.util.calendar")] + [
    "-Dio.netty.tryReflectionSetAccessible=true"]


def harness(classes, workload, data, warm, work, seconds, trace, cores, meanwhile):
    """Launch the harness JVM, call `meanwhile()` while it runs, and return
    the harness's raw result with what `meanwhile` returned."""
    p = gen.PARAMS[workload]
    out = os.path.join(work, "raw.json")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    args = {"workload": workload, "data": data, "work": work, "out": out,
            "seconds": seconds, "trace": trace, "cores": cores,
            "setups": SETUPS[workload == "fx_stream"]}
    if workload == "fx_stream":
        args.update(chunks=p["chunks"], files_per_s=p["files_per_s"],
                    disorder_hours=p["disorder_hours"], warm_files=WARM_FILES)
    else:
        args.update(warm_data=warm, min_ops=p["min_ops"])
    # the stream's keyed state is 40 keys: two state partitions
    env = dict(os.environ, GRAFT_SCRATCH_DIR=os.path.join(work, "scratch"),
               GRAFT_STREAM_STATE_PARTS=str(STATE_PARTS))
    cmd = (["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", f"-Xmn{YOUNG}",
            f"-XX:ActiveProcessorCount={cores}", "-XX:-UsePerfData",
            f"-Djava.io.tmpdir={tmp}",
            "-Dspark.ui.enabled=false"] + JVM_OPTS
           + ["-cp", f"{classes}{os.pathsep}{build.spark_jars()}", "perfbench.Harness"])
    log = os.path.join(work, "harness.log")
    args["launch_ms"] = int(time.time() * 1000)
    with open(log, "w") as fh:
        proc = subprocess.Popen(cmd + [f"{k}={v}" for k, v in args.items()],
                                stdout=fh, stderr=subprocess.STDOUT, env=env)
        try:
            got = meanwhile()
            proc.wait(timeout=RUN_LIMIT_S - (time.time() * 1000 - args["launch_ms"]) / 1000)
        finally:
            if proc.poll() is None:
                proc.kill()
                proc.wait()
    if proc.returncode != 0 or not os.path.exists(out):
        with open(log) as fh:
            tail = fh.read()[-6000:]
        raise RuntimeError(f"harness exited with {proc.returncode}:\n{tail}")
    with open(out) as fh:
        return json.load(fh), got


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(gen.PARAMS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--cores", type=int, default=CORES)
    a = ap.parse_args()

    try:
        classes = build.build()
    except (RuntimeError, OSError) as e:
        print(f"build failed: {e}", file=sys.stderr)
        return 1
    work = os.path.join(build.BUILD_DIR, f"run-{a.workload}-{a.seed}-{os.getpid()}")
    try:
        data = os.path.join(work, "data")
        rows = gen.generate(data, a.workload, a.seed)
        warm = os.path.join(work, "warm-data")
        if a.workload != "fx_stream":
            gen.generate(warm, a.workload, a.seed, warm=True)

        def expected():
            # the reference is computed while the harness JVM starts up
            ref = reference.WORKLOADS[a.workload](data)
            if a.workload != "fx_stream":
                ref["warm"] = reference.WORKLOADS[a.workload](warm)["total"]
            return ref

        raw, ref = harness(classes, a.workload, data, warm, work, a.seconds, a.trace,
                           a.cores, expected)
    except (RuntimeError, OSError, subprocess.TimeoutExpired) as e:
        print(f"benchmark failed: {e}", file=sys.stderr)
        return 1
    finally:
        shutil.rmtree(work, ignore_errors=True)

    s = metrics.summarize(a.workload, raw, ref, rows, a.trace == 1)
    units = metrics.PER_LAYER if a.trace else metrics.END_TO_END
    print(f"workload {a.workload}  seed {a.seed}  input rows {rows}  "
          f"cores {a.cores}  heap {HEAP} (young {YOUNG})")
    for name in units:
        print(f"  {name:32s} {s.metrics[name]:>16.4f} {units[name]}")
    if not a.trace:
        print(f"  latency samples: {s.samples} (too few for a percentile above the median)")
    cycles = ", ".join(f"{(c['end_ms'] - c['start_ms']) / 1000:.2f}" for c in raw["setups"])
    print(f"  set-up cycles (s): {cycles}; warm-up {raw['warm_up_ms'] / 1000:.2f} s")
    if "ops" in raw:
        print("  operations (ms): " + ", ".join(
            f"{o['ms']:.0f}{'*' if o['traced'] else ''}" for o in raw["ops"]))
    print(f"  {'failed_ratio':32s} {s.failed / max(s.attempted, 1):>16.4f} "
          f"({s.failed} of {s.attempted} operations)")
    for p in s.problems:
        print(f"  CHECK FAILED: {p}")
    print(json.dumps({
        "correct": not s.problems,
        "attempted": s.attempted,
        "failed": s.failed,
        "metrics": {k: {"value": s.metrics[k], "unit": u} for k, u in units.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
