"""Benchmark entry point.

    python3 perfbench/run.py --workload market_analytics --seed 1 --seconds 5 --trace 0

Run from the root of a checkout. The seed generates the input tables
(``datagen.py``) and the workload's choices; the engine receives only
those inputs. One driver process runs the workload at ``local[nproc]``:
it starts the Spark session, runs the workload's untimed preparation,
then repeats whole rounds, at least one, until ``--seconds`` have
passed, then checks the outputs outside the timed region.

End-to-end metrics: ``setup_s`` (process start to the first timed
operation), ``wall_s`` (median wall time of one round) and ``op_p50_s``
(median latency of one operation). The last line of standard output is
one JSON object: with ``--trace 0`` the end-to-end metrics, with
``--trace 1`` the per-layer metrics of a traced run (``layers.py``; its
spans go to ``perfbench/.out``). The lines before it print every metric
by name and unit, the error rate, and the host load average before and
after the run. ``perfbench/.out`` also keeps each run's full record.

This process only prepares inputs and supervises: the measured run is a
child process in its own process group, so a hung run is killed whole
and every process it started is waited for.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(1, ROOT)  # the engine and its tools, after this directory
OUT_DIR = os.path.join(HERE, ".out")
DRIVER_MEMORY = "2g"
# A run must end within 180 s; the measured child gets what is left of
# this after input generation.
DEADLINE_S = 170


def _args(argv=None):
    from workloads import WORKLOADS

    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), required=True)
    ap.add_argument("--scale", type=float, default=0.1, help="input size, as a TPC-H scale factor")
    ap.add_argument("--child", nargs=2, metavar=("WORK_DIR", "T0"), help=argparse.SUPPRESS)
    return ap.parse_args(argv)


def _cpus() -> int:
    return len(os.sched_getaffinity(0))


def _child_env(work: str) -> dict:
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env = dict(os.environ)
    env.update(
        SPARK_GRAFT_CPUS=str(_cpus()),
        SPARK_DRIVER_MEMORY=DRIVER_MEMORY,
        SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"),
        TMPDIR=tmp,
        PYSPARK_SUBMIT_ARGS=" ".join(
            [
                "--conf spark.ui.showConsoleProgress=false",
                f"--conf spark.sql.warehouse.dir={os.path.join(work, 'warehouse')}",
                f"--driver-java-options -Djava.io.tmpdir={tmp}",
                "pyspark-shell",
            ]
        ),
    )
    return env


def _stop_group(proc: subprocess.Popen) -> None:
    """Kill whatever is left of the child's process group (the JVM and
    its Python workers) and wait until none of it remains."""
    for sig in (signal.SIGTERM, signal.SIGKILL):
        try:
            os.killpg(proc.pid, sig)
        except ProcessLookupError:
            return
        for _ in range(50):
            try:
                os.killpg(proc.pid, 0)
            except ProcessLookupError:
                return
            time.sleep(0.1)


def supervise(args) -> int:
    import datagen
    from workloads import WORKLOADS

    t_begin = time.monotonic()
    tables = WORKLOADS[args.workload].tables
    work = os.path.join(HERE, ".work", f"{args.workload}-{args.seed}-{os.getpid()}")
    try:
        datagen.generate(os.path.join(work, "data"), tables, args.seed, args.scale)
        load_before = os.getloadavg()
        t0 = time.monotonic()
        cmd = [sys.executable, os.path.abspath(__file__), *sys.argv[1:], "--child", work, repr(t0)]
        proc = subprocess.Popen(cmd, cwd=work, env=_child_env(work), start_new_session=True)
        try:
            code = proc.wait(timeout=DEADLINE_S - (t0 - t_begin))
        except subprocess.TimeoutExpired:
            print("run exceeded its deadline; stopped", file=sys.stderr)
            code = None
        finally:
            _stop_group(proc)
            proc.wait()
        load_after = os.getloadavg()
        if code != 0:
            print(f"measured run failed (exit {code})", file=sys.stderr)
            return 1
        with open(os.path.join(work, "result.json")) as fh:
            result = json.load(fh)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    record = dict(
        result,
        workload=args.workload,
        seed=args.seed,
        trace=args.trace,
        loadavg_before=load_before,
        loadavg_after=load_after,
    )
    os.makedirs(OUT_DIR, exist_ok=True)
    with open(os.path.join(OUT_DIR, f"{args.workload}-seed{args.seed}-trace{args.trace}.json"), "w") as fh:
        json.dump(record, fh, indent=1)
    _report(record)
    summary = {k: result[k] for k in ("correct", "attempted", "failed", "metrics")}
    print(json.dumps(summary))
    return 0


def _report(record: dict) -> None:
    from metrics import tail_percentile

    print(f"workload {record['workload']} seed {record['seed']} trace {record['trace']}")
    print("loadavg before %.2f %.2f %.2f" % tuple(record["loadavg_before"]))
    print("loadavg after  %.2f %.2f %.2f" % tuple(record["loadavg_after"]))
    lat = record["op_latency_s"]
    p = tail_percentile(len(lat))
    tail = f", p{p} {record['op_tail_s']:.4f} s" if p else ""
    print(
        "setup: session %.2f s, preparation %.2f s; output checks %.2f s"
        % (record["session_start_s"], record["prepare_s"], record["check_s"])
    )
    print(f"operations: {len(lat)} timed samples in {len(record['round_wall_s'])} rounds{tail}")
    print(
        f"error_rate {record['error_rate']:.4f} "
        f"({record['failed']} of {record['attempted']} operations failed)"
    )
    for name, m in record["metrics"].items():
        print(f"{name:<52} {m['value']:>16.6f} {m['unit']}")


def measure(args) -> None:
    """The measured run (child process): set up, time rounds, check."""
    import numpy as np

    from statistics import median

    from metrics import Tally, percentile, tail_percentile
    from spans import Tracer
    from workloads import WORKLOADS

    work, t0 = args.child[0], float(args.child[1])
    tracer = Tracer(f"{args.workload}-{args.seed}", enabled=bool(args.trace))
    with tracer.span("session.start") as s:
        from finance_data_pipeline_spark.session import get_spark

        spark = get_spark(app_name="perfbench")
    spark.sparkContext.setLogLevel("ERROR")
    tracer.attach(spark)
    tally = Tally()
    workload = WORKLOADS[args.workload](
        spark, tracer, tally, np.random.default_rng(args.seed % 2**63),
        os.path.join(work, "data"), work,
    )
    t_prepare = time.monotonic()
    workload.prepare()
    setup_s = time.monotonic() - t0

    start = time.perf_counter()
    rnd = 0
    while rnd == 0 or (time.perf_counter() - start < args.seconds and workload.rounds_left() != 0):
        workload.run_round(rnd)
        rnd += 1
    t_check = time.monotonic()
    workload.check()
    check_s = time.monotonic() - t_check

    lat = workload.op_latency
    if not lat:
        raise SystemExit("no operation completed")
    p = tail_percentile(len(lat))
    if args.trace:
        from layers import layer_metrics

        metrics = layer_metrics(workload, tracer, s["dur"])
        os.makedirs(OUT_DIR, exist_ok=True)
        tracer.dump(os.path.join(OUT_DIR, f"{args.workload}-seed{args.seed}-spans.jsonl"), start)
    else:
        metrics = {
            "setup_s": (setup_s, "s"),
            "wall_s": (median(workload.round_wall), "s"),
            "op_p50_s": (median(lat), "s"),
        }
    result = {
        "correct": tally.failed == 0,
        "attempted": tally.attempted,
        "failed": tally.failed,
        "error_rate": tally.error_rate,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
        "op_latency_s": lat,
        "op_tail_s": percentile(lat, p) if p else None,
        "round_wall_s": workload.round_wall,
        "setup_s": setup_s,
        "session_start_s": s["dur"],
        "prepare_s": setup_s - (t_prepare - t0),
        "check_s": check_s,
    }
    with open(os.path.join(work, "result.json"), "w") as fh:
        json.dump(result, fh)
    spark.stop()


def main(argv=None) -> int:
    args = _args(argv)
    if args.child:
        measure(args)
        return 0
    # A terminated supervisor still stops the measured run (finally blocks).
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(1))
    return supervise(args)


if __name__ == "__main__":
    sys.exit(main())
