#!/usr/bin/env python3
"""Reconcile benchmark: one two-source compare pass, end to end and per layer.

Builds the engine and the benchmark's Scala code from source
(perfbench/build.py), then runs perfbench/src/Reconcile.scala in one local
Spark process for one workload and seed, and prints one JSON result line last:

    python3 perfbench/run.py --workload nightly_clean --seed 1 --seconds 20 --trace 0

With --trace 0 the metrics are the end_to_end metrics of BENCHMARK.json,
with --trace 1 its per_layer metrics. Before the result line, a `host:` line
records the CPU steal share and the time of a fixed-work calibration loop;
they are never used to rescale a metric. Build output, the cached upstream
input and per-run scratch go under $CARGO_TARGET_DIR (default .bench_build).
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time
from pathlib import Path

sys.dont_write_bytecode = True
sys.path.insert(0, str(Path(__file__).resolve().parent))
import build  # noqa: E402

WORKLOADS = ("nightly_clean", "replica_lag", "scattered_drift")
# Input scale: GenFixtures' shapes at 1/20 of sf1 (425k rows a side), the
# largest at which 48 runs (4 + 22 per workload) stay within 3420 s. Below
# about sf0.05 scattered drift of ~0.1% no longer reaches 32 separate
# bad-chunk ranges on events, and the workload would lose its prune tier.
SF = 0.05
HEAP_MB = 3072
BUDGET_S = 170          # one run with the build and the upstream in place
FIRST_BUDGET_S = 880    # a run that also compiles or generates the upstream


def calibrate() -> float:
    """Seconds for a fixed amount of hashing: a host-speed record."""
    buf = bytes(range(256)) * (1 << 16)
    t0 = time.perf_counter()
    for _ in range(8):
        hashlib.sha256(buf).digest()
    return time.perf_counter() - t0


def cpu_times() -> list:
    try:
        with open("/proc/stat") as f:
            return [int(x) for x in f.readline().split()[1:9]]
    except (OSError, ValueError):
        return []


def steal_pct(a: list, b: list) -> float:
    if len(a) < 8 or len(b) < 8 or sum(b) <= sum(a):
        return 0.0
    return 100.0 * (b[7] - a[7]) / (sum(b) - sum(a))


def java_cmd(classes: Path, work: Path, args: list) -> list:
    opens = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
             "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
             "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]
    # C1 only. Under C2 the JIT still spent 6-8 s of CPU compiling in each
    # warm pass, and whole runs settled in a fast or a slow mode: the verdict
    # part of a replica_lag pass took 1.8 s in some JVMs and 3.0 s in others,
    # so ten runs spread verdict_s over 0.31 of its median. C1 compiles
    # without profiling: passes run slower, but alike from run to run
    cmd = ["java", "-XX:-UsePerfData", "-XX:TieredStopAtLevel=1"]
    for p in opens:
        cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    cmd += [f"-Xmx{HEAP_MB}m", f"-Djava.io.tmpdir={work / 'tmp'}",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            f"-Dspark.local.dir={work / 'spark-local'}",
            f"-Dspark.sql.warehouse.dir={work / 'warehouse'}",
            "-Dspark.driver.host=localhost", "-Dspark.driver.bindAddress=127.0.0.1",
            "-cp", f"{classes}:{build.spark_jars()}/*", "perfbench.Reconcile"] + args
    return cmd


def launch(cmd: list, env: dict, deadline: float) -> int:
    """Run one JVM to completion or until the deadline; never leave it behind."""
    proc = subprocess.Popen(cmd, env=env, stdout=sys.stderr, start_new_session=True)
    try:
        return proc.wait(timeout=max(1.0, deadline - time.monotonic()))
    except subprocess.TimeoutExpired:
        print("run: benchmark JVM timed out", file=sys.stderr)
        return -1
    finally:
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, type=int, choices=(0, 1))
    a = ap.parse_args()

    spec = json.loads((build.ROOT / "BENCHMARK.json").read_text())
    names = [m["name"] for m in spec["per_layer" if a.trace else "end_to_end"]]
    out = Path(os.environ.get("CARGO_TARGET_DIR", ".bench_build"))
    out = (out if out.is_absolute() else build.ROOT / out).resolve()

    t_start = time.monotonic()
    classes = build.build(out)
    # the upstream depends only on the scale and the generator's sources
    gen = hashlib.sha256()
    for f in (build.ENGINE_SRC / "graft" / "GenFixtures.scala",
              build.BENCH_SRC / "Inputs.scala"):
        gen.update(f.read_bytes())
    upstream = out / "data" / f"upstream-sf{SF}-{gen.hexdigest()[:12]}"
    first = time.monotonic() - t_start > 5 or not upstream.is_dir()
    budget = FIRST_BUDGET_S if first else BUDGET_S

    work = out / "runs" / f"{a.workload}-{a.seed}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    try:
        (work / "tmp").mkdir(parents=True)
        result = work / "result.json"
        cpus = len(os.sched_getaffinity(0))
        env = dict(os.environ, SPARK_GRAFT_CPUS=str(cpus),
                   SPARK_LOCAL_DIRS=str(work / "spark-local"),
                   SPARK_LOCAL_IP="127.0.0.1", SPARK_LOCAL_HOSTNAME="localhost")
        calib_s = calibrate()
        cpu0 = cpu_times()
        rc = launch(java_cmd(classes, work, [
            "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--sf", str(SF), "--cpus", str(cpus),
            "--upstream", str(upstream), "--work", str(work), "--result", str(result)]),
            env, t_start + budget)
        steal = steal_pct(cpu0, cpu_times())
        if rc != 0 or not result.is_file():
            print(f"run: benchmark JVM failed (exit {rc})", file=sys.stderr)
            return 1
        res = json.loads(result.read_text())
        got = dict(res["metrics"])
        got["host.calib_s"] = {"value": calib_s, "unit": "s"}
        got["host.steal_pct"] = {"value": steal, "unit": "%"}
        missing = [n for n in names if n not in got]
        if missing:
            print(f"run: benchmark JVM did not report {missing}", file=sys.stderr)
            return 1
        spans = work / "spans.jsonl"
        if spans.is_file():
            (out / "traces").mkdir(exist_ok=True)
            shutil.copy(spans, out / "traces" / f"{a.workload}-{a.seed}.jsonl")
        print(f"host: steal_pct={steal:.3f} calib_s={calib_s:.4f}")
        print(json.dumps({"correct": bool(res["correct"]), "attempted": int(res["attempted"]),
                          "failed": int(res["failed"]),
                          "metrics": {n: got[n] for n in names}}))
        return 0
    finally:
        shutil.rmtree(work, ignore_errors=True)

if __name__ == "__main__":
    sys.exit(main())
