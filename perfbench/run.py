#!/usr/bin/env python3
"""Geocoder benchmark: one workload, one seed, one measured run.

    python3 perfbench/run.py --workload forward --seed 1 --seconds 10 --trace 0

Builds the engine from the checkout's sources (perfbench/build.py), runs
the benchmark JVM (graftbench.GeoBench) at local[<cpus>] with the heap the
tier-1 tests use, checks its answers, and prints a summary followed by one
JSON line: {"correct", "attempted", "failed", "metrics"}. With --trace 0
the metrics are the end-to-end ones, with --trace 1 the per-layer ones
(plus a span file under the build directory).

The run fails (correct: false, exit code 1) when the share of right
answers falls below the seed commit's share in perfbench/baseline.json.
"""
import argparse
import json
import os
import subprocess
import sys

sys.dont_write_bytecode = True  # keep the checkout free of __pycache__
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

JVM_TIMEOUT_S = 170



def driver_mem():
    """The tier-1 heap rule: half the machine's memory, 2..8 GiB."""
    if os.environ.get("SPARK_DRIVER_MEM"):
        return os.environ["SPARK_DRIVER_MEM"]
    try:
        with open("/proc/meminfo") as fh:
            kb = next(int(line.split()[1]) for line in fh if line.startswith("MemTotal:"))
        return f"{min(8, max(2, kb // 2097152))}g"
    except (OSError, StopIteration):
        return "2g"


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=["forward", "reverse"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()

    try:
        cp = build.build()
    except build.BuildError as e:
        print(f"[perfbench] build failed: {e}", file=sys.stderr)
        return 2
    with open(os.path.join(build.BENCH_DIR, "baseline.json")) as fh:
        ok_floor = json.load(fh)["ok_share_floor"][a.workload]
    # metric names and units come from the benchmark's definition
    with open(os.path.join(build.ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)

    out = build.out_dir()
    tmp = os.path.join(out, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = ["java", f"-Xmx{driver_mem()}", "-XX:+UseParallelGC", *build.JVM_OPENS,
           "-Dspark.ui.enabled=false", f"-Djava.io.tmpdir={tmp}",
           "-cp", os.pathsep.join(cp), "graftbench.GeoBench",
           "--workload", a.workload, "--seed", str(a.seed),
           "--seconds", str(a.seconds), "--trace", str(a.trace),
           "--out", out]
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=sys.stderr, text=True)
    try:
        stdout, _ = proc.communicate(timeout=JVM_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        print(f"[perfbench] benchmark JVM exceeded {JVM_TIMEOUT_S}s", file=sys.stderr)
        return 3
    lines = [ln for ln in stdout.splitlines() if ln.startswith("{")]
    if proc.returncode != 0 or not lines:
        print(f"[perfbench] benchmark JVM exited with {proc.returncode}", file=sys.stderr)
        return 3
    r = json.loads(lines[-1])

    ok_share = r["e2e"]["ok_share"]
    fail_share = r["failed"] / r["attempted"]
    correct = r["failed"] == 0 and ok_share >= ok_floor
    notes = r["notes"]
    print(f"workload={a.workload} seed={a.seed} trace={a.trace} "
          f"{notes.get('setting')} digest={notes.get('digest')}")
    for m in spec["end_to_end"]:
        print(f"  {m['name']} = {r['e2e'][m['name']]:.6g} {m['unit']}")
    print(f"  fail_share = {fail_share:.6g} share ({r['failed']}/{r['attempted']})")
    n = notes["latency_samples"]
    if "latency_tail_ms" in notes:
        print(f"  latency_tail_ms = {float(notes['latency_tail_ms']):.6g} ms "
              f"(p{float(notes['latency_tail_percentile']):.4g} of {n} samples)")
    else:
        print(f"  latency_tail_ms = n/a ({n} samples; one with 10 beyond it needs 11)")
    print(f"  answers: {r['ok']}/{r['checked']} right, floor {ok_floor}")
    if "span_file" in notes:
        print(f"  spans: {os.path.relpath(notes['span_file'], build.ROOT)}")
    if not correct:
        print("[perfbench] answer check failed", file=sys.stderr)

    values = r["layer"] if a.trace else r["e2e"]
    metrics = {m["name"]: {"value": values[m["name"]], "unit": m["unit"]}
               for m in spec["per_layer" if a.trace else "end_to_end"]}
    print(json.dumps({"correct": correct, "attempted": r["attempted"],
                      "failed": r["failed"], "metrics": metrics}))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
