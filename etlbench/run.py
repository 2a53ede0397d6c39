#!/usr/bin/env python3
"""Benchmark of the report ETL, end to end and layer by layer.

    python3 etlbench/run.py --workload fleet --seed 1 --seconds 5 --trace 0

Run from the root of a checkout. It builds the program and the benchmark
from source (etlbench/build.py), then runs one workload in fresh JVMs:

  seed JVM   once per build and workload: the seven prior daily jobs are
             written to a monitoring store that every run copies (its own
             JVM, so the timed job stays the first job in its JVM, as
             EtlMain.main runs it)
  job JVM    Graft.session, the in-process stub Talkdesk server, the timed
             ETL job and the outcome checker; the run's first job JVM then
             runs the stub's self-test and, on `envelope`, the EtlMain.run
             parity check; job JVMs follow one another until their jobs
             add up to --seconds, and the metrics are their medians
  setup JVM  Graft.session alone, one more set-up sample; setup JVMs follow
             the jobs until the run has SETUP_SAMPLES set-up samples

With --trace 1 the job runs once untraced and once traced, each on its own
copy of the seeded store; the traced run then times warm dashboard
refreshes for --seconds and reports the per-layer metrics, the span table
with self times and the tracing overhead, and keeps its spans in
<build dir>/etlbench/trace-<workload>.jsonl.

The last line of stdout is one JSON object: correct, attempted, failed
(reports that ended FAILED although the script lets them succeed) and
metrics. The exit code is 0 when a result was printed.
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

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.dont_write_bytecode = True  # no __pycache__ in the source tree
import build  # noqa: E402

ROOT = os.path.dirname(HERE)
WORKLOADS = ("envelope", "bulk", "storm", "fleet")
END_TO_END = {
    "setup_s": "s",
    "job_s": "s",
    "reports_per_s": "1/s",
    "report_land_ms_p50": "ms",
    "report_land_ms_p99": "ms",
}
RUN_DEADLINE_S = 175
SETUP_JVM_S = 15
SETUP_SAMPLES = 2


def per_layer_units():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return {m["name"]: m["unit"] for m in json.load(f)["per_layer"]}


def jvm(deadline, classes, run_dir, log, *args):
    """Run etlbench.Main in a fresh JVM whose files all land in run_dir."""
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = ["java", "-Xms2g", "-Xmx2g", "-Duser.timezone=UTC",
           "-Djava.io.tmpdir=" + tmp,
           # the stub answers like a production API front end: TCP_NODELAY,
           # else each keep-alive response waits out the client's delayed ACK
           "-Dsun.net.httpserver.nodelay=true",
           "-Dspark.ui.enabled=false",
           "-Dspark.sql.session.timeZone=UTC",
           "-Dspark.local.dir=" + os.path.join(run_dir, "spark-local"),
           "-Dspark.sql.warehouse.dir=" + os.path.join(run_dir, "warehouse"),
           *build.ADD_OPENS,
           "-cp", classes + os.pathsep + os.path.join(build.spark_jars(), "*"),
           "etlbench.Main", *args]
    out = os.path.join(run_dir, args[0] + ".json")
    t0 = time.monotonic()
    with open(os.path.join(run_dir, log), "ab") as lf:
        proc = subprocess.Popen(cmd + [out], cwd=run_dir, stdout=lf, stderr=subprocess.STDOUT)
        try:
            code = proc.wait(timeout=max(1.0, deadline - time.monotonic()))
        except subprocess.TimeoutExpired:
            raise RuntimeError(f"{args[0]} JVM still running at the run's {RUN_DEADLINE_S}s deadline")
        finally:
            if proc.poll() is None:
                proc.kill()
                proc.wait()
    if code != 0 or not os.path.exists(out):
        with open(os.path.join(run_dir, log), errors="replace") as lf:
            tail = lf.read()[-4000:]
        raise RuntimeError(f"{args[0]} JVM exited {code}:\n{tail}")
    with open(out) as f:
        result = json.load(f)
    os.remove(out)
    m = result.get("metrics", result)
    print(f"etlbench: {args[0]} JVM {time.monotonic() - t0:.1f}s: setup_s {m['setup_s']:.2f}"
          + (f", job_s {m['job_s']:.2f}, report_land_ms_p50 {m['report_land_ms_p50']:.0f}" if "job_s" in m else ""),
          file=sys.stderr)
    return result


def seeded_history(deadline, classes, work, workload):
    """The workload's seven prior daily jobs. A seed JVM writes them once per
    build; every run copies them, since the history is the same for every
    seed."""
    cache = os.path.join(classes + "-history", workload)
    if not os.path.isdir(cache):
        seed_dir = os.path.join(work, "seed")
        os.makedirs(seed_dir)
        jvm(deadline, classes, seed_dir, "seed.log", "seed", workload, os.path.join(seed_dir, "store"))
        os.makedirs(os.path.dirname(cache), exist_ok=True)
        try:
            os.rename(os.path.join(seed_dir, "store"), cache)
        except OSError:  # a concurrent run won the rename
            if not os.path.isdir(cache):
                raise
    return cache


def main():
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    classes = build.build()
    deadline = time.monotonic() + RUN_DEADLINE_S
    work = os.path.join(build.build_dir(), "runs", f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        history = seeded_history(deadline, classes, work, a.workload)

        def job(i, trace):
            store = os.path.join(work, f"job{i}", "store")
            shutil.copytree(history, store)
            return jvm(deadline, classes, work, f"job{i}.log", "job", a.workload, str(a.seed), store,
                       str(trace), str(a.seconds), "1" if i == 0 else "0")

        if a.trace:
            untraced, traced = job(0, 0), job(1, 1)
            jobs = [traced]
            values = dict(traced["metrics"])
            values["trace.overhead_s"] = values["job_s"] - untraced["metrics"]["job_s"]
            metrics = {k: {"value": values[k], "unit": u} for k, u in per_layer_units().items()}
            keep = os.path.join(build.build_dir(), f"trace-{a.workload}.jsonl")
            shutil.copyfile(os.path.join(work, "job1", "spans.jsonl"), keep)
            print("\n".join(traced["table"]))
            print(f"spans: {os.path.relpath(keep, ROOT)}")
            failures = untraced["failures"] + traced["failures"]
        else:
            # cold jobs, each in a fresh JVM, until --seconds of job time is
            # measured; another starts only if it fits twice in the deadline,
            # with room left for the setup JVMs
            jobs, walls = [], []
            while not jobs or (sum(j["metrics"]["job_s"] for j in jobs) < a.seconds
                               and time.monotonic() + 2 * max(walls)
                               < deadline - SETUP_JVM_S * max(0, SETUP_SAMPLES - len(jobs) - 1)):
                t0 = time.monotonic()
                jobs.append(job(len(jobs), 0))
                walls.append(time.monotonic() - t0)
            setups = [j["metrics"]["setup_s"] for j in jobs]
            while len(setups) < SETUP_SAMPLES:
                setups.append(jvm(deadline, classes, work, "setup.log", "setup", a.workload, str(a.seed))["setup_s"])
            failures = [f for j in jobs for f in j["failures"]]
            values = {k: statistics.median(j["metrics"][k] for j in jobs) for k in END_TO_END}
            values["setup_s"] = statistics.median(setups)
            metrics = {k: {"value": values[k], "unit": u} for k, u in END_TO_END.items()}
        for f in failures:
            print(f"CHECK FAILED: {f}", file=sys.stderr)
        for u in (u for j in jobs for u in j["unscripted"]):
            print(f"unscripted FAILED report: {u}", file=sys.stderr)
        print(json.dumps({
            "correct": not failures,
            "attempted": sum(j["attempted"] for j in jobs),
            "failed": sum(j["failed"] for j in jobs),
            "metrics": metrics,
        }))
    finally:
        shutil.rmtree(work, ignore_errors=True)


def _terminate(signum, frame):
    raise SystemExit(f"etlbench: stopped by signal {signum}")


if __name__ == "__main__":
    # SystemExit unwinds through the finally blocks that stop the JVMs
    signal.signal(signal.SIGTERM, _terminate)
    try:
        main()
    except (RuntimeError, OSError, KeyError, ValueError) as e:
        print(f"etlbench: {e}", file=sys.stderr)
        sys.exit(1)
