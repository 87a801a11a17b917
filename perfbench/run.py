"""Run one benchmark workload in a fresh process.

    python3 perfbench/run.py --workload index_serve --seed 3 --seconds 20 --trace 0

Prints, as its last two stdout lines:

1. the run record: ``{"record": {...}}`` with every metric of the
   workload by name with its unit and sample count, the seed, the
   commit, ``nproc``, load average at start and end and the CPU
   calibration (and, with ``--trace 1``, the per-layer figures);
2. the result line: ``{"correct", "attempted", "failed", "metrics"}``,
   whose metrics are the end-to-end set with ``--trace 0`` and the
   per-layer set with ``--trace 1``, as BENCHMARK.json lists them.

Everything the run writes stays under ``.perfbench/`` in the checkout;
the traced run leaves its spans in ``.perfbench/traces/``.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def parse(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def commit() -> str:
    try:
        out = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                             text=True, timeout=10)
    except (OSError, subprocess.TimeoutExpired):
        return "unknown"
    return out.stdout.strip() if out.returncode == 0 else "unknown"


def stop(spark, workers: list[int]) -> None:
    """Stop the session, then wait for the JVM and for the Python
    workers it had started to exit (killing any that outlive 30 s)."""
    proc = spark.sparkContext._gateway.proc
    spark.stop()
    spark.sparkContext._gateway.shutdown()
    proc.stdin.close()
    try:
        proc.wait(timeout=30)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
    deadline = time.monotonic() + 30
    for pid in workers:
        while os.path.exists(f"/proc/{pid}") and time.monotonic() < deadline:
            time.sleep(0.05)
        if os.path.exists(f"/proc/{pid}"):
            os.kill(pid, signal.SIGKILL)


def main(argv=None) -> int:
    args = parse(argv)
    if not (os.path.isdir(os.path.join(ROOT, "mrgo_spark"))
            and os.path.isfile(os.path.join(ROOT, "bench.py"))):
        print("perfbench: run from a checkout of the repository (mrgo_spark/ and"
              " bench.py not found next to perfbench/)", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    from perfbench import inputs, report, workloads
    from perfbench.procs import ProcGroup
    from perfbench.trace import NullTracer, Tracer

    try:
        listed = report.listed(ROOT)
    except (OSError, ValueError, KeyError) as e:
        print(f"perfbench: cannot read BENCHMARK.json: {e}", file=sys.stderr)
        return 2
    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r};"
              f" choose from {sorted(workloads.WORKLOADS)}", file=sys.stderr)
        return 2

    nproc = len(os.sched_getaffinity(0))
    base = os.path.join(ROOT, ".perfbench")
    run_dir = os.path.join(base, f"run-{args.workload}-{args.seed}-{os.getpid()}")
    data_dir, work_dir, tmp_dir = (os.path.join(run_dir, d) for d in ("data", "work", "tmp"))
    for d in (data_dir, work_dir, tmp_dir):
        os.makedirs(d)
    # keep every scratch write (Spark local dirs, JVM and Python temp
    # files) inside the checkout
    os.environ["SPARK_GRAFT_CPUS"] = str(nproc)
    os.environ["SPARK_LOCAL_DIRS"] = tmp_dir
    os.environ["TMPDIR"] = tmp_dir

    harness_s = 0.0
    t0 = time.perf_counter()
    from bench import _cpu_calibration

    calibration = _cpu_calibration()
    load_start = os.getloadavg()
    tables = inputs.make_tables(args.seed)
    inputs.write_tables(tables, data_dir)
    harness_s += time.perf_counter() - t0

    from mrgo_spark.session import get_spark

    tracer = Tracer() if args.trace else NullTracer()
    t0 = time.perf_counter()
    spark = get_spark(
        "perfbench",
        extra_conf={
            "spark.local.dir": tmp_dir,
            "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
            # no hsperfdata file under /tmp
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp_dir} -XX:-UsePerfData",
            "spark.ui.showConsoleProgress": "false",
        },
    )
    procs = ProcGroup(spark.sparkContext._gateway.proc.pid)
    try:
        spark.sparkContext.setLogLevel("ERROR")
        start_s = time.perf_counter() - t0
        wl = workloads.WORKLOADS[args.workload](
            spark, tracer, args.seed, args.seconds, work_dir, data_dir, tables, procs)
        wl.layers["session.start_s"] = start_s
        wl.setup()
        t_setup = time.perf_counter()
        setup_s = t_setup - T_START - harness_s - wl.harness_s
        wl.window(wl.cycle)
        peak = procs.peak_rss_mb()
        t_window = time.perf_counter()
        wl.check()
        t_check = time.perf_counter()
        e2e = report.end_to_end(wl, setup_s, peak)
        layers = report.per_layer(wl, tracer) if args.trace else {}
    finally:
        stop(spark, procs.workers())
        shutil.rmtree(run_dir, ignore_errors=True)
    # where the run's wall time went, for sizing runs against a budget
    wall = {"to_setup_end": t_setup - T_START, "window": t_window - t_setup,
            "check": t_check - t_window, "stop": time.perf_counter() - t_check}
    if args.trace:
        os.makedirs(os.path.join(base, "traces"), exist_ok=True)
        tracer.dump(os.path.join(base, "traces", f"{args.workload}-seed{args.seed}.json"))

    correct = wl.failed == 0 and wl.bad_checks == 0
    record = {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "commit": commit(),
        "nproc": nproc,
        "loadavg_start": list(load_start),
        "loadavg_end": list(os.getloadavg()),
        "calibration": calibration,
        "correct": correct,
        "attempted": wl.attempted,
        "failed": wl.failed,
        "failed_checks": wl.bad_checks,
        "window_s": wl.window_s,
        "wall_s": wall,
        "steal_frac_window": wl.steal_frac,
        "samples": {k: len(v) for k, v in wl.samples.items()},
        "ops": [[o["kind"], round(o["s"], 4), o["ok"]] for o in wl.timed_ops],
        "traffic": workloads.TRAFFIC[args.workload],
        "metrics": e2e,
    }
    if args.trace:
        record["layers"] = {k: report.metric(v, name=k) for k, v in layers.items()}
    print(json.dumps({"record": record}))
    # a layer the workload never calls (no ingest in batch_queries, no
    # MRJob in index_serve) reports 0
    src = record["layers"] if args.trace else e2e
    metrics = {m["name"]: {"value": src[m["name"]]["value"] if m["name"] in src else 0.0,
                           "unit": m["unit"]}
               for m in listed[1 if args.trace else 0]}
    print(json.dumps({"correct": correct, "attempted": wl.attempted, "failed": wl.failed,
                      "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
