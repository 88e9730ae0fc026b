#!/usr/bin/env python3
"""Seeded workload benchmark of graft. See perfbench/README.md.

    python3 perfbench/run.py --workload curate --seed 1 --seconds 20 --trace 0

Builds graft and the benchmark from source when needed, takes the
median of several session set-ups (`setup_s`), runs one workload
closed-loop in a fresh JVM and prints, as the last line of stdout, one
JSON object: {"correct", "attempted", "failed", "metrics"}. With
--trace 0 the metrics are the end-to-end metrics of BENCHMARK.json,
with --trace 1 its per-layer metrics. The full record of the run
(input manifest, every execution with its load average, spans) is
written under the build directory's results/.
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

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.dont_write_bytecode = True
sys.path.insert(0, HERE)
import build  # noqa: E402

WORKLOADS = ("frame_ops", "curate")
# Session start-ups per run; their median is setup_s (the measured run's
# own start-up is one of them).
SETUP_SAMPLES = 3
# Every JVM of a run is killed this many seconds after the build, so a
# run ends within its time limit.
RUN_DEADLINE = 170
JVM_OPTS = [
    "-Xms2g", "-Xmx2g", "-Xss8m", "-XX:-UsePerfData",
    "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
] + [opt for p in (
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
) for opt in ("--add-opens", p + "=ALL-UNNAMED")]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def cores():
    return len(os.sched_getaffinity(0))


class Jvm:
    """One benchmark JVM; `ready_s` is process start to session ready."""

    def __init__(self, deadline, classpath, work, mode, *args):
        os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
        env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"))
        cmd = ["java"] + JVM_OPTS + [
            "-Djava.io.tmpdir=" + os.path.join(work, "tmp"),
            "-Dlog4j2.configurationFile=" + os.path.join(HERE, "log4j2.properties"),
            "-cp", os.pathsep.join(classpath), "perfbench.Main", mode, "--work", work,
        ] + list(args)
        self.ready_s = None
        t0 = time.monotonic()
        self.proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=sys.stderr,
                                     text=True, env=env)
        self.timer = threading.Timer(max(1.0, deadline - time.monotonic()), self.proc.kill)
        self.timer.start()
        for line in self.proc.stdout:
            if line.strip() == "READY" and self.ready_s is None:
                self.ready_s = time.monotonic() - t0
            else:
                sys.stderr.write(line)

    def wait(self):
        code = self.proc.wait()
        self.timer.cancel()
        if code != 0 or self.ready_s is None:
            fail(f"JVM exited with code {code}")


def load_spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    try:
        spec = load_spec()
        classpath = build.ensure_built()
    except (OSError, ValueError, build.BuildError) as e:
        fail(f"cannot build: {e}")

    deadline = time.monotonic() + RUN_DEADLINE
    n = cores()
    work = os.path.join(build.build_dir(), "runs", f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    result_file = os.path.join(work, "result.json")
    try:
        setups = []
        for _ in range(0 if a.trace else SETUP_SAMPLES - 1):
            p = Jvm(deadline, classpath, work, "probe", "--cores", str(n))
            p.wait()
            setups.append(p.ready_s)
        j = Jvm(deadline, classpath, work, "run", "--workload", a.workload, "--seed", str(a.seed),
                "--seconds", str(a.seconds), "--trace", str(a.trace), "--cores", str(n),
                "--result", result_file)
        j.wait()
        setups.append(j.ready_s)
        with open(result_file) as f:
            res = json.load(f)
    finally:
        keep = os.path.join(build.build_dir(), "results")
        os.makedirs(keep, exist_ok=True)
        if os.path.exists(result_file):
            shutil.copy(result_file, os.path.join(
                keep, f"{a.workload}-seed{a.seed}-trace{a.trace}-{int(time.time())}.json"))
        shutil.rmtree(work, ignore_errors=True)

    got = dict(res["metrics"])
    got["setup_s"] = statistics.median(setups)
    wanted = spec["per_layer"] if a.trace else spec["end_to_end"]
    if a.trace:
        # a layer this workload bypasses did no work
        got = {m["name"]: got.get(m["name"], 0.0) for m in wanted}
    missing = [m["name"] for m in wanted if m["name"] not in got]
    if missing:
        fail(f"metrics not produced: {missing}")
    execs = res["executions"]
    contended = sum(e["contended"] for e in execs)
    # load beyond the CPUs this run kept busy itself: other tenants
    others = statistics.median(max(0.0, e["loadavg_after"] - e["own_cpus"]) for e in execs)
    print(f"perfbench: {a.workload} seed={a.seed} trace={a.trace} cores={n} "
          f"executions={len(execs)} failed={res['failed']} contended={contended} "
          f"other_load={others:.2f} "
          f"fail_frac={res['failed'] / len(execs)} "
          + ("" if a.trace else f"op_tail_percentile={res['op_tail_percentile']} "
             f"op_samples={res['op_samples']} setup_samples={[round(s, 4) for s in setups]} ")
          + f"inputs={json.dumps(res['manifest'])}", file=sys.stderr)
    for f in res.get("codec_failures", []):
        print(f"perfbench: codec failure: {f}", file=sys.stderr)
    print(json.dumps({
        "correct": bool(res["correct"]),
        "attempted": int(res["attempted"]),
        "failed": int(res["failed"]),
        "metrics": {m["name"]: {"value": got[m["name"]], "unit": m["unit"]} for m in wanted},
    }))


if __name__ == "__main__":
    main()
