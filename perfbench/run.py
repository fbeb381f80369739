#!/usr/bin/env python3
"""graft benchmark: closed-loop workloads over the engine's public Scala API.

Usage (from the repository root):

  python3 perfbench/run.py --workload <pit_inmem|query_catalog>
                           --seed <n> --seconds <s> --trace <0|1>

Builds the engine and the benchmark (perfbench/build.py; cached under
$CARGO_TARGET_DIR, default .bench_build), makes the workload's inputs from the
seed, runs one JVM at local[4], checks the outputs and prints, as the last
stdout line, {"correct", "attempted", "failed", "metrics"}: the end-to-end
metrics of BENCHMARK.json with --trace 0, its per-layer metrics with
--trace 1. The line before it records the environment of the run (CPU steal
and guest time sampled from /proc/stat, nproc, heap, Spark version, commit).
Every file the run writes stays under the build directory; a traced run
keeps its spans in <build dir>/spans/<workload>-<seed>.jsonl.
"""
import argparse
import json
import os
import shutil
import subprocess
import sys
import threading

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.dont_write_bytecode = True  # leave nothing behind in the source tree

import build  # noqa: E402

WORKLOADS = ("pit_inmem", "query_catalog")
JVM_TIMEOUT_S = 160
HEAP = "4g"
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar"]
# a run is marked as taken in a steal storm above these shares of CPU time
STORM_MEAN, STORM_PEAK = 0.05, 0.15


class StealSampler(threading.Thread):
    """Samples /proc/stat steal and guest shares of all CPU time once a second."""

    def __init__(self):
        super().__init__(daemon=True)
        self.samples = []
        self.halt = threading.Event()

    @staticmethod
    def read():
        with open("/proc/stat") as f:
            v = [int(x) for x in f.readline().split()[1:]]
        v += [0] * (10 - len(v))
        # user nice system idle iowait irq softirq steal guest guest_nice;
        # guest time is already counted in user/nice
        return sum(v[:8]), v[7], v[8] + v[9]

    def run(self):
        prev = self.read()
        while not self.halt.wait(1.0):
            cur = self.read()
            dt = cur[0] - prev[0]
            if dt > 0:
                self.samples.append(((cur[1] - prev[1]) / dt, (cur[2] - prev[2]) / dt))
            prev = cur

    def summary(self):
        st = [s for s, _ in self.samples] or [0.0]
        gu = [g for _, g in self.samples] or [0.0]
        mean, peak = sum(st) / len(st), max(st)
        return {"steal_mean": round(mean, 5), "steal_peak": round(peak, 5),
                "guest_mean": round(sum(gu) / len(gu), 5), "samples": len(self.samples),
                "steal_storm": mean > STORM_MEAN or peak > STORM_PEAK}


def commit(root):
    if os.path.isdir(os.path.join(root, ".git")):
        p = subprocess.run(["git", "rev-parse", "HEAD"], cwd=root, capture_output=True, text=True)
        if p.returncode == 0:
            return p.stdout.strip()
    return None


def fail(msg, code=2):
    sys.stderr.write(f"perfbench: {msg}\n")
    sys.exit(code)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    root = os.getcwd()
    spec_path = os.path.join(root, "BENCHMARK.json")
    golden = os.path.join(root, "src", "test", "resources", "golden", "pit_anchor_features")
    if not os.path.isfile(spec_path):
        fail("run from the repository root (no BENCHMARK.json here)")
    needed = (os.path.join(root, "src", "main", "scala", "graft"), golden,
              os.path.join(root, "tools", "check_oracle.py"))
    if not all(os.path.exists(p) for p in needed):
        fail("engine sources, golden fixture or tools/check_oracle.py missing (run from a full checkout)")
    with open(spec_path) as f:
        spec = json.load(f)
    wanted = spec["per_layer"] if a.trace else spec["end_to_end"]

    build_dir = os.path.abspath(os.environ.get("CARGO_TARGET_DIR") or ".bench_build")
    classes, digest = build.build(root, build_dir)

    work = os.path.join(build_dir, "runs", f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    try:
        if a.workload == "query_catalog":
            import catalog_data
            catalog_data.write(a.seed, os.path.join(work, "data"))
        sampler = StealSampler()
        sampler.start()
        jars = os.path.join(build.spark_jars(root), "*")
        cmd = ["java"] + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")] + [
            f"-Xmx{HEAP}", f"-Djava.io.tmpdir={work}/tmp",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            f"-Dspark.local.dir={work}/tmp", f"-Dspark.sql.warehouse.dir={work}/warehouse",
            "-cp", f"{classes}{os.pathsep}{jars}", "graft.perfbench.PerfBench",
            a.workload, str(a.seed), str(a.seconds), str(a.trace), work, root]
        with open(os.path.join(work, "jvm.log"), "w") as log:
            proc = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT, cwd=work)
            try:
                rc = proc.wait(timeout=JVM_TIMEOUT_S)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
                rc = None
        sampler.halt.set()
        sampler.join()
        result_path = os.path.join(work, "jvm_result.json")
        if rc != 0 or not os.path.exists(result_path):
            with open(os.path.join(work, "jvm.log")) as f:
                sys.stderr.write(f.read()[-6000:])
            fail(f"benchmark JVM {'timed out' if rc is None else f'exited with {rc}'}", 1)
        with open(result_path) as f:
            res = json.load(f)

        attempted, failed, problems = res["attempted"], res["failed"], list(res["problems"])
        if a.workload == "query_catalog":
            import oracle
            n, bad = oracle.check(os.path.join(work, "data"), work)
            attempted += n
            failed += len(bad)
            problems += bad

        env = dict(res["env"])
        env.update(sampler.summary())
        env.update({"workload": a.workload, "seed": a.seed, "seconds": a.seconds, "trace": a.trace,
                    "nproc": len(os.sched_getaffinity(0)), "heap": HEAP, "commit": commit(root),
                    "source_digest": digest[:16],
                    "seed_applies": "tables generated from the seed" if a.workload == "query_catalog"
                    else "TranscriptGen seed"})
        for p in problems:
            sys.stderr.write(f"perfbench: check failed: {p}\n")
        print(json.dumps({"env": env, "problems": problems[:20]}))

        got = dict(res["metrics"], ops_failed_frac=failed / max(attempted, 1))
        metrics = {}
        for m in wanted:
            v = got.get(m["name"], 0.0)  # a layer this workload does not drive reads 0
            if v is None:
                v, failed = 0.0, failed + 1
            metrics[m["name"]] = {"value": v, "unit": m["unit"]}
        if a.trace == 0 and any(v["value"] <= 0 for v in metrics.values()):
            failed += 1
        print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                          "metrics": metrics}))
        spans = os.path.join(work, "spans.jsonl")
        if os.path.exists(spans):
            os.makedirs(os.path.join(build_dir, "spans"), exist_ok=True)
            shutil.copy(spans, os.path.join(build_dir, "spans", f"{a.workload}-{a.seed}.jsonl"))
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
