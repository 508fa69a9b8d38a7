"""One benchmark run in a fresh process: start Spark, set the workload up,
measure, check, report. ``run.py`` starts this as a child so that a hung
run can be killed as a whole; run it directly only for debugging:

    python3 streambench/worker.py --root . --workdir .streambench_work/dbg \
        --workload kv_interactive --seed 1 --seconds 10 --trace 0

The last stdout line is the result object run.py relays.
"""

from __future__ import annotations

import time

PROCESS_START = time.perf_counter()
#: No timed operation starts later than this into the run, so that one
#: slow operation still leaves time for the checks and a clean JVM stop
#: within run.py's deadline.
LAST_OPERATION_START_S = 110.0

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shlex  # noqa: E402
import sys  # noqa: E402


def phase(name: str) -> None:
    """Log the time since process start at which a phase ends (stderr,
    which run.py keeps in the run's log)."""
    print(f"[{time.perf_counter() - PROCESS_START:7.2f} s] {name}", file=sys.stderr, flush=True)


def spark_env(workdir: str) -> dict[str, str]:
    """Keep every file Spark and the JVM write inside the run's work
    directory, size the driver for a shared host, and use one local core
    per CPU this process may run on."""
    tmp = os.path.join(workdir, "tmp")
    local = os.path.join(workdir, "spark-local")
    os.makedirs(tmp, exist_ok=True)
    os.makedirs(local, exist_ok=True)
    confs = {
        "spark.local.dir": local,
        "spark.sql.warehouse.dir": os.path.join(workdir, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
        # the traced run reads every job of a run back from the status store
        "spark.ui.retainedJobs": "100000",
        "spark.ui.retainedStages": "100000",
    }
    # no hsperfdata files in the system temp directory either
    submit = [f"--driver-java-options=-Djava.io.tmpdir={tmp} -XX:-UsePerfData"]
    submit += [f"--conf={k}={v}" for k, v in confs.items()]
    return {
        "TMPDIR": tmp,
        "SPARK_LOCAL_DIRS": local,
        "SPARK_LAUNCHER_OPTS": "-XX:-UsePerfData",
        "SPARK_DRIVER_MEMORY": "3g",
        "SPARK_GRAFT_CPUS": str(len(os.sched_getaffinity(0))),
        "PYSPARK_SUBMIT_ARGS": " ".join(shlex.quote(a) for a in submit) + " pyspark-shell",
    }


def stop_spark(spark) -> None:
    """Stop the session, then the JVM this process launched, and wait
    for it to exit."""
    from pyspark import SparkContext  # noqa: PLC0415

    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    try:
        gateway.shutdown()
    except Exception:  # noqa: BLE001 - the JVM may already be gone
        pass
    if proc is not None:
        try:
            proc.stdin.close()  # the gateway exits when its stdin closes
            proc.wait(timeout=30)
        except Exception:  # noqa: BLE001 - fall back to a kill
            proc.kill()
            proc.wait(timeout=10)


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--root", required=True)
    ap.add_argument("--workdir", required=True)
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--trace-out", default=None, help="where the traced run writes its spans")
    ap.add_argument("--shape", default=None, help="JSON object overriding the workload shape")
    ap.add_argument("--corrupt", action="store_true",
                    help="falsify one output before the check (tests the failure path)")
    args = ap.parse_args(argv)

    os.environ.update(spark_env(args.workdir))
    sys.path.insert(0, os.path.abspath(args.root))
    sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

    from shapes import SHAPES  # noqa: PLC0415
    from tracing import Tracer, jvm_pid, vm_hwm_mb  # noqa: PLC0415
    from workloads import COMMON_PATH, WORKLOADS  # noqa: PLC0415

    shape = dict(SHAPES[args.workload], **json.loads(args.shape or "{}"))
    tracer = Tracer(f"{args.workload}-seed{args.seed}") if args.trace else None
    wl = WORKLOADS[args.workload](shape, args.seed, args.workdir, tracer)
    wl.generate()
    phase("inputs generated")

    from streamy_db_spark.session import get_spark  # noqa: PLC0415

    spark = get_spark(app_name=f"streambench-{args.workload}")
    phase("spark started")
    try:
        wl.setup(spark)
        setup_s = time.perf_counter() - PROCESS_START
        phase("set up")
        wl.measure(args.seconds, PROCESS_START + LAST_OPERATION_START_S)
        phase(f"{len(wl.ops)} operations measured")
        if args.corrupt:
            wl.corrupt()
        attempted, failed, notes = wl.check()
        phase("outputs checked")
        notes = wl.errors + notes
        if wl.errors:
            failed = max(failed, 1)
        ok = failed == 0 and bool(wl.ops)
        jpid = jvm_pid(spark)
        peak_rss_mb = vm_hwm_mb() + (vm_hwm_mb(jpid) if jpid else 0.0)
        e2e = wl.end_to_end() if wl.ops else {}
        layers = wl.per_layer() if (tracer and wl.ops) else {}
        if layers:
            layers["traced.latency_ms_p50"] = e2e["latency_ms_p50"]
        figures = wl.named_figures() if wl.ops else []
        figures.append(("peak_rss_mb", peak_rss_mb, "MB"))
    finally:
        if tracer:
            tracer.uninstall()
        stop_spark(spark)
        phase("spark stopped")

    e2e["setup_s"] = setup_s
    if layers:
        layers["process.peak_rss_mb"] = peak_rss_mb
    result = {
        "ok": ok,
        "attempted": attempted,
        "failed": failed,
        "notes": notes,
        "operations": len(wl.ops),
        "end_to_end": e2e,
        "per_layer": layers,
        "path": [*COMMON_PATH, *wl.PATH],
        "figures": figures,
    }
    if tracer and args.trace_out:
        tracer.dump(args.trace_out)
        result["spans_file"] = args.trace_out
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
