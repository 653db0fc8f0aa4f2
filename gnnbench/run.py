#!/usr/bin/env python3
"""Runs one benchmark workload and prints its result as the last line.

Usage: python3 gnnbench/run.py --workload {stream_embed,dense_mix,iter_mix}
           --seed N --seconds S --trace {0,1}

Builds first if needed (gnnbench/build.py), then runs gnnbench.Main in one
JVM with Spark at local[4]. The last stdout line is one JSON object with
the keys correct, attempted, failed and metrics: the end-to-end metrics of
BENCHMARK.json with --trace 0, its per-layer metrics with --trace 1. A
traced run also writes its span file under .bench_build/out.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

sys.dont_write_bytecode = True  # keep the checkout free of __pycache__
import build  # noqa: E402

HERE = build.HERE
ROOT = build.ROOT
WORKLOADS = ("stream_embed", "dense_mix", "iter_mix")
RUN_TIMEOUT_S = 170
ADD_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
             "java.net", "java.nio", "java.util", "java.util.concurrent",
             "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
             "sun.security.action", "sun.util.calendar"]


def declared_metrics(trace):
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return {m["name"] for m in spec["per_layer" if trace else "end_to_end"]}


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, type=int, choices=(0, 1))
    a = ap.parse_args()
    if a.seconds < 1:
        ap.error("--seconds must be at least 1")
    try:
        classes = build.ensure()
    except build.BuildError as e:
        print(f"[gnnbench] build failed: {e}", file=sys.stderr)
        return 2
    started = time.monotonic()

    out = os.path.join(build.BUILD, "out")
    tmp = os.path.join(build.BUILD, "tmp", str(os.getpid()))
    os.makedirs(out, exist_ok=True)
    os.makedirs(tmp, exist_ok=True)
    cmd = (["java"] +
           [x for p in ADD_OPENS for x in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")] +
           ["-Xms3g", "-Xmx3g", "-XX:ReservedCodeCacheSize=512m", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}",
            f"-Dspark.local.dir={tmp}", "-Dspark.ui.enabled=false",
            "-cp", os.pathsep.join([classes, os.path.join(build.spark_jars(), "*")]),
            "gnnbench.Main", "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", str(a.trace),
            "--fixtures", os.path.join(HERE, "fixtures"),
            "--expected", os.path.join(HERE, "expected_digests.txt"),
            "--out", out])
    # The engine reads these developer knobs; the benchmark fixes them.
    env = {k: v for k, v in os.environ.items() if not k.startswith("SPARK_GRAFT_")}
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=sys.stderr,
                            env=env, cwd=ROOT, start_new_session=True, text=True)
    try:
        stdout, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        print(f"[gnnbench] run exceeded {RUN_TIMEOUT_S} s", file=sys.stderr)
        return 1
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    lines = [l for l in stdout.splitlines() if l.strip()]
    if proc.returncode != 0 or not lines:
        print(f"[gnnbench] benchmark exited with {proc.returncode}", file=sys.stderr)
        return proc.returncode or 1
    result = json.loads(lines[-1])
    got, want = set(result["metrics"]), declared_metrics(a.trace)
    if got != want:
        print(f"[gnnbench] metrics differ from BENCHMARK.json: missing {sorted(want - got)}, "
              f"extra {sorted(got - want)}", file=sys.stderr)
        return 1
    print(f"[gnnbench] {a.workload} seed {a.seed}: {time.monotonic() - started:.1f} s",
          file=sys.stderr)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
