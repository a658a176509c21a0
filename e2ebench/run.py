"""End-to-end benchmark of the product path: YAML jobs through
``runner.run_job_file`` and the curation queries, on one local Spark
session. Run from the repository root:

    python3 e2ebench/run.py --workload bulk_csv_warn --seed 1 \\
        --seconds 10 --trace 0

A run generates its inputs from the seed, starts the session, times a
host-speed canary, runs the workload's first step (if any) as the untimed
warm-up, then times the workload's fixed number of steps and runs the
closing checks. With ``--trace 1`` it runs each of those steps twice,
untraced and traced, and reports per-layer numbers instead of the
end-to-end ones. The last line of standard output is the result; the
line before it is the full record with host context. Everything the run
writes stays under ``.e2ebench_work`` (removed at exit) and
``.e2ebench_out`` (span files) in the current directory.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import gen  # noqa: E402
import workloads  # noqa: E402

WORKLOADS = tuple(workloads.WORKLOADS)
DRIVER_MEMORY = "2g"

END_TO_END_UNITS = {
    "setup_s": "s", "run_s": "s", "rows_per_s": "1/s", "op_s_p50": "s",
    "cold_op_s": "s", "peak_rss_mb": "MB", "stored_bytes_ratio": "ratio",
}


def host_canary() -> float:
    """Median of five timings of a fixed single-core job (hashing 4 MiB),
    after one discarded run: a plain record field, not a scale."""
    data = bytes(range(256)) * 16384
    times = []
    for _ in range(6):
        t0 = time.perf_counter()
        hashlib.blake2b(data).digest()
        times.append(time.perf_counter() - t0)
    return statistics.median(times[1:])


def peak_rss_mb(root_pid: int) -> float:
    """Sum of peak RSS (VmHWM) over the process tree."""
    total_kb = 0
    for pid in workloads.process_tree(root_pid):
        try:
            with open(f"/proc/{pid}/status") as fh:
                for line in fh:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
        except OSError:
            continue
    return total_kb / 1024.0


def start_session(work: str):
    from dativo_ingest_spark import session

    tmp = os.path.join(work, "tmp")
    spark = session.get_spark(
        "e2ebench",
        master=f"local[{os.cpu_count()}]",
        shuffle_partitions=os.cpu_count(),
        extra_conf={
            "spark.ui.enabled": "false",
            "spark.ui.showConsoleProgress": "false",
            "spark.driver.memory": DRIVER_MEMORY,
            "spark.local.dir": tmp,
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.driver.extraJavaOptions":
                f"-Djava.io.tmpdir={tmp} -Dderby.system.home={tmp} "
                "-XX:-UsePerfData",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    """Stop the context, if one started, then the JVM the gateway
    launched, and wait."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if spark is not None:
        spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)
    SparkContext._gateway = None
    SparkContext._jvm = None


def reap_children() -> None:
    """Kill and wait for any process the run started that is still alive,
    such as a JVM whose launch a SIGTERM interrupted."""
    for pid in workloads.process_tree(os.getpid())[1:]:
        try:
            os.kill(pid, signal.SIGKILL)
            os.waitpid(pid, 0)
        except (ProcessLookupError, ChildProcessError):
            pass


def alternating_steps(workload, tracer):
    """TIMED_STEPS pairs of an untraced and a traced step, the order
    flipping each pair (U T, T U, ...) so both sides see the same warm-up
    and host state."""
    untraced, traced = [], []

    def traced_step():
        tracer.install()
        workload.tracer = tracer
        try:
            return workload.step()
        finally:
            tracer.uninstall()
            workload.tracer = None

    for i in range(workload.TIMED_STEPS):
        order = (workload.step, traced_step)
        pair = [f() for f in (order if i % 2 == 0 else order[::-1])]
        if i % 2:
            pair.reverse()
        untraced.append(pair[0])
        traced.append(pair[1])
    return untraced, traced


def end_to_end(w, steps, warm, setup_s: float) -> dict[str, float]:
    """The BENCHMARK.json metrics; ``setup_s`` is session start
    plus warm-up."""
    ops = [o for s in steps for o in s.ops]
    rows = sum(s.rows for s in steps)
    return {
        "setup_s": setup_s,
        "run_s": sum(s.seconds for s in steps),
        "rows_per_s": rows / sum(s.seconds for s in steps),
        "op_s_p50": statistics.median(o.seconds for o in ops),
        "cold_op_s": (warm.ops or steps[0].ops)[0].seconds,
        "peak_rss_mb": peak_rss_mb(os.getpid()),
        "stored_bytes_ratio": w.stored_bytes() / w.input_bytes(),
    }


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", choices=WORKLOADS, required=True)
    ap.add_argument("--seed", type=int, required=True)
    # every run of a workload times the same fixed steps, sized to take
    # about this long on an idle 4-core host; the value is recorded only
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--testdata", default=gen.DEFAULT_TESTDATA)
    a = ap.parse_args(argv)
    # a terminated run still stops its JVM and removes its work dir
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    root = os.getcwd()
    if not os.path.isdir(os.path.join(root, "dativo_ingest_spark")):
        print("e2ebench: run from the repository root (no "
              "dativo_ingest_spark/ here)", file=sys.stderr)
        return 2
    sys.path.insert(0, root)
    work = os.path.join(root, ".e2ebench_work",
                        f"{a.workload}-{a.seed}-{os.getpid()}")
    os.makedirs(os.path.join(work, "tmp"))
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    tempfile.tempdir = None

    spark = None
    try:
        t0 = time.perf_counter()
        manifest = gen.generate(a.workload, a.seed,
                                os.path.join(work, "inputs"), a.testdata)
        gen_s = time.perf_counter() - t0

        t0 = time.perf_counter()
        spark = start_session(work)
        session_s = time.perf_counter() - t0
        canary = host_canary()
        w = workloads.WORKLOADS[a.workload](spark, manifest,
                                            os.path.join(work, "out"))
        t0 = time.perf_counter()
        warm = w.warm_up()
        setup_s = session_s + time.perf_counter() - t0

        if a.trace:
            from spans import Tracer, unit_of

            if not warm.ops:
                # a workload without a warm-up gets one here, so that
                # both sides of trace.overhead_s run warm
                warm = w.step()
            tracer = Tracer(spark)
            steps, traced = alternating_steps(w, tracer)
            metrics = {k: (v, unit_of(k))
                       for k, v in tracer.metrics(len(traced)).items()}
            metrics["session.get_spark.wall_s"] = (session_s, "s")
            metrics["trace.overhead_s"] = (
                statistics.median(s.seconds for s in traced)
                - statistics.median(s.seconds for s in steps), "s")
            metrics["trace.unattributed_jobs"] = (
                tracer.unattributed_jobs, "count")
            metrics["trace.jobs"] = (tracer.jobs_total, "count")
            tracer.dump(os.path.join(
                root, ".e2ebench_out",
                f"spans_{a.workload}_seed{a.seed}.json"))
            steps_all = [warm, *steps, *traced, w.finish()]
        else:
            steps = [w.step() for _ in range(w.TIMED_STEPS)]
            metrics = {k: (v, END_TO_END_UNITS[k])
                       for k, v in end_to_end(w, steps, warm,
                                              setup_s).items()}
            steps_all = [warm, *steps, w.finish()]
        ops = [o for s in steps_all for o in s.ops]
        failed = [o for o in ops if o.errors]
        record = {
            "workload": a.workload, "seed": a.seed, "trace": a.trace,
            "seconds": a.seconds,
            "host": {
                "nproc": os.cpu_count(),
                "master": spark.sparkContext.master,
                "default_parallelism": spark.sparkContext.defaultParallelism,
                "pyspark": spark.version,
                "canary_s": canary,
            },
            "inputs": {"input_bytes": manifest["input_bytes"],
                       "gen_s": gen_s},
            "session_s": session_s,
            "timed_steps": len(steps),
            "failed_frac": len(failed) / len(ops),
            "ops": [{"name": o.name, "seconds": o.seconds, "rows": o.rows,
                     "errors": o.errors} for o in ops],
        }
        print(json.dumps({"record": record}))
        print(json.dumps({
            "correct": not failed,
            "attempted": len(ops),
            "failed": len(failed),
            "metrics": {k: {"value": v, "unit": u}
                        for k, (v, u) in metrics.items()},
        }))
        return 0
    finally:
        try:
            if "pyspark" in sys.modules:
                stop_session(spark)
        finally:
            reap_children()
            shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
