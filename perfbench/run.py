"""graft benchmark: one command, two seeded workloads, every metric named
with its unit, outputs checked.

    python3 perfbench/run.py --workload flagship|catalog \\
        --seed N --seconds S --trace 0|1

Run from the root of a checkout. It builds the program from source
(perfbench/build.py), launches one JVM for the workload, and prints as its
last stdout line {"correct", "attempted", "failed", "metrics"}: the
end-to-end metrics with --trace 0, the per-layer metrics with --trace 1.
Everything it writes stays under .bench_build/ in the checkout; the run's
own work directory is deleted when it ends. See perfbench/README.md.
"""
import argparse
import json
import os
import shutil
import subprocess
import sys
import time

sys.dont_write_bytecode = True  # leave no __pycache__ in the checkout
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402
import oracle  # noqa: E402

WORKLOADS = ("flagship", "catalog")
# fixed heap and young generation with the throughput collector: default G1
# doubled the run-to-run spread of pass times
JVM_FLAGS = ["-Xms3g", "-Xmx3g", "-Xmn1g", "-XX:+UseParallelGC",
             "-XX:-UseAdaptiveSizePolicy", "-Xss4m", "-Dfile.encoding=UTF-8",
             "-Dspark.ui.enabled=false"]
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar"]
JVM_TIMEOUT_S = 165
# (name, unit, result key) of the end-to-end metrics
END_TO_END = [("wall_s", "s", "wall_s"), ("live_heap_mb", "MB", "live_heap_mb"),
              ("setup_s", "s", "setup_s")]
BASELINE_CORES = 16  # the BASELINE.json N->4N scaling gate needs 4 x 4 cores


def per_layer_names():
    here = os.path.dirname(os.path.abspath(__file__))
    with open(os.path.join(here, "..", "BENCHMARK.json")) as f:
        return [(m["name"], m["unit"]) for m in json.load(f)["per_layer"]]


def vmstat():
    """Host idle and steal (%) over one second, from vmstat."""
    try:
        out = subprocess.run(["vmstat", "1", "2"], capture_output=True, text=True,
                             timeout=10).stdout.split("\n")
        head = out[1].split()
        last = [l for l in out if l.strip()][-1].split()
        return {k: int(last[head.index(k)]) for k in ("id", "st") if k in head}
    except (OSError, subprocess.SubprocessError, ValueError, IndexError):
        return {}


def calibrate():
    """Seconds for a fixed single-thread Python loop (median of 3): a host
    speed reading taken beside every run, so host drift can be told from a
    change in the program."""
    def loop():
        t0 = time.perf_counter()
        x = 0
        for i in range(2_000_000):
            x ^= i * 7
        return time.perf_counter() - t0
    return sorted(loop() for _ in range(3))[1]


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    classpath = build.build()
    nproc = os.cpu_count()
    host = {"nproc": nproc, "vmstat": vmstat(), "calib_s": calibrate()}
    if nproc < BASELINE_CORES:
        host["scaling_gate"] = (f"unmeasured here: BASELINE.json >=0.8 N->4N gate needs "
                                f"{BASELINE_CORES} cpus, host has {nproc}")

    work = os.path.abspath(os.path.join(build.BUILD, "runs",
                                        f"{a.workload}-{a.seed}-{os.getpid()}"))
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    result_path = os.path.join(work, "result.json")
    opens = [x for p in ADD_OPENS for x in ("--add-opens", p + "=ALL-UNNAMED")]
    # temp files (Spark's artifact directory among them) stay in the run's
    # work directory; no hsperfdata file outside the checkout either
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    cmd = (["java"] + JVM_FLAGS + ["-XX:-UsePerfData", "-Djava.io.tmpdir=" + tmp] + opens +
           ["-cp", os.pathsep.join(classpath),
           "perfbench.Main", "--workload", a.workload, "--seed", str(a.seed),
           "--seconds", str(a.seconds), "--trace", str(a.trace),
           "--work", work, "--out", result_path])
    log_path = os.path.join(build.BUILD, f"last-{a.workload}.log")
    try:
        with open(log_path, "w") as log:
            proc = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT)
            try:
                proc.wait(timeout=JVM_TIMEOUT_S)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
                sys.exit(f"perfbench: JVM exceeded {JVM_TIMEOUT_S} s; log in {log_path}")
        if proc.returncode != 0 or not os.path.exists(result_path):
            sys.exit(f"perfbench: JVM exited {proc.returncode}; log in {log_path}")
        with open(result_path) as f:
            r = json.load(f)

        attempted, failed = r["attempted"], r["failed"]
        failures = list(r["failures"])
        oracle_s = None
        if a.workload == "catalog":
            t0 = time.perf_counter()
            for name, ok, detail in oracle.compare(os.path.join(work, "catalog"),
                                                   os.path.join(work, "check")):
                attempted += 1
                if not ok:
                    failed += 1
                    failures.append(f"{name} != DuckDB oracle: {detail}")
            oracle_s = time.perf_counter() - t0
    finally:
        shutil.rmtree(work, ignore_errors=True)

    info = {k: r[k] for k in ("workload", "seed", "sizes", "jvm_flags", "gc", "session_s",
                              "gen_s", "warm_s", "check_s", "pass_s", "traced_pass_s",
                              "rates", "scratch_left_mb")}
    # a benchmark run measures; it never claims a gain by itself
    info.update(host=host, failures=failures, oracle_s=oracle_s, claim=None)
    print("run " + json.dumps(info, sort_keys=True))
    if a.trace:
        layer = r["layer"]
        trace_dir = os.path.join(build.BUILD, "traces")
        os.makedirs(trace_dir, exist_ok=True)
        trace_path = os.path.join(trace_dir, f"{a.workload}-{a.seed}-{int(time.time())}.json")
        with open(trace_path, "w") as f:
            json.dump({"info": info, "layer": layer, "spans": r["spans"]}, f)
        print("layer " + json.dumps(layer, sort_keys=True))
        print(f"tracing overhead: traced pass {layer['trace.pass_s']:.4f} s vs untraced "
              f"{r['wall_s']:.4f} s ({layer['trace.overhead_pct']:+.2f}%); spans in {trace_path}")
        metrics = {n: {"value": layer[n], "unit": u} for n, u in per_layer_names()}
    else:
        metrics = {n: {"value": r[k], "unit": u} for n, u, k in END_TO_END}
    for n, m in metrics.items():
        print(f"{a.workload} {n} = {m['value']:.6g} {m['unit']}")
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))


if __name__ == "__main__":
    main()
