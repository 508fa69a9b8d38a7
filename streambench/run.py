"""Benchmark entry point.

    python3 streambench/run.py --workload kv_interactive --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. Starts one worker process (worker.py) for
the run, relays its figures, and prints as the last stdout line one JSON
object with ``correct``, ``attempted``, ``failed`` and ``metrics``: the
``end_to_end`` metrics of BENCHMARK.json with ``--trace 0``, its
``per_layer`` metrics with ``--trace 1``. Exits non-zero when a check
finds a wrong output (the object then says ``"correct": false``), and
without printing the object when the run itself fails.

Everything the run writes stays under ``.streambench_work/`` in the
checkout; the worker's own directory is removed at the end, its log and
its result object are kept beside it, and the spans of traced runs under
``.streambench_work/traces/``. The worker and
every process it started (the Spark JVM, its Python workers) are stopped
and waited for before this script exits.
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
DEADLINE_S = 170.0  # the whole run, worker start to exit
WORK = ".streambench_work"


def group_members(pgid: int) -> list[int]:
    out = []
    for name in os.listdir("/proc"):
        if name.isdigit():
            try:
                with open(f"/proc/{name}/stat") as f:
                    fields = f.read().rsplit(")", 1)[1].split()
            except OSError:
                continue
            if int(fields[2]) == pgid and fields[0] != "Z":
                out.append(int(name))
    return out


def stop_group(pgid: int, grace_s: float = 10.0) -> None:
    """SIGTERM the worker's process group, SIGKILL what is left after
    ``grace_s``, and return once no member is alive."""
    for sig, wait_s in ((signal.SIGTERM, grace_s), (signal.SIGKILL, 10.0)):
        if not group_members(pgid):
            return
        try:
            os.killpg(pgid, sig)
        except ProcessLookupError:
            return
        deadline = time.time() + wait_s
        while time.time() < deadline and group_members(pgid):
            time.sleep(0.1)


def format_value(v: float) -> str:
    return f"{v:.6g}" if isinstance(v, float) else str(v)


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description="streambench: one benchmark run")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--shape", default=None, help=argparse.SUPPRESS)
    ap.add_argument("--corrupt", action="store_true", help=argparse.SUPPRESS)
    args = ap.parse_args(argv)

    root = os.getcwd()
    if not os.path.isdir(os.path.join(root, "streamy_db_spark")):
        print("streambench: no streamy_db_spark package in the current directory",
              file=sys.stderr)
        return 2
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        spec = json.load(f)
    names = [w["name"] for w in spec["workloads"]]
    if args.workload not in names:
        print(f"streambench: unknown workload {args.workload!r}; one of {names}", file=sys.stderr)
        return 2

    workdir = os.path.join(root, WORK, f"run-{os.getpid()}")
    traces = os.path.join(root, WORK, "traces")
    os.makedirs(workdir, exist_ok=True)
    os.makedirs(traces, exist_ok=True)
    stem = os.path.join(root, WORK, f"{args.workload}-seed{args.seed}-trace{args.trace}")
    log_path = stem + ".log"
    cmd = [sys.executable, os.path.join(HERE, "worker.py"), "--root", root,
           "--workdir", workdir, "--workload", args.workload, "--seed", str(args.seed),
           "--seconds", str(args.seconds), "--trace", str(args.trace),
           "--trace-out", os.path.join(traces, f"{args.workload}-seed{args.seed}.json")]
    if args.shape:
        cmd += ["--shape", args.shape]
    if args.corrupt:
        cmd.append("--corrupt")

    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=log, text=True,
                                cwd=root, start_new_session=True)
        try:
            out, _ = proc.communicate(timeout=DEADLINE_S)
        except subprocess.TimeoutExpired:
            out = None
        finally:
            stop_group(proc.pid)
            proc.wait()
    shutil.rmtree(workdir, ignore_errors=True)

    lines = (out or "").strip().splitlines()
    if out is None or proc.returncode != 0 or not lines:
        why = "timed out" if out is None else f"exited with code {proc.returncode}"
        print(f"streambench: worker {why}; log: {log_path}", file=sys.stderr)
        with open(log_path) as f:
            sys.stderr.write("".join(f.readlines()[-30:]))
        return 1
    res = json.loads(lines[-1])
    with open(stem + ".result.json", "w") as f:
        json.dump(res, f, indent=1)

    ok = res["ok"]
    attempted, failed = res["attempted"], res["failed"]
    print(f"workload {args.workload}  seed {args.seed}  operations {res['operations']}")
    for note in res["notes"]:
        print(f"  CHECK FAILED: {note}")
    e2e = res["end_to_end"]
    for name, value, unit in res["figures"]:
        print(f"  {name:32s} {format_value(value):>14s} {unit}")
    print(f"  {'failed_frac':32s} {format_value(failed / max(1, attempted)):>14s} ratio")
    for m in spec["end_to_end"]:
        if m["name"] in e2e:
            print(f"  {m['name']:32s} {format_value(e2e[m['name']]):>14s} {m['unit']}")
    if args.trace:
        for m in spec["per_layer"]:
            v = res["per_layer"].get(m["name"])
            if v is not None:
                print(f"  {m['name']:44s} {format_value(v):>14s} {m['unit']}")
        if res.get("spans_file"):
            print(f"  spans: {res['spans_file']}")

    if args.trace and res["operations"]:
        # a layer on the workload's path must report every metric; only
        # the layers off its path read 0
        missing = [m["name"] for m in spec["per_layer"]
                   if m["name"].startswith(tuple(res["path"])) and m["name"] not in res["per_layer"]]
        if missing:
            print(f"streambench: the traced run did not report {missing}", file=sys.stderr)
            return 1
    wanted = spec["per_layer"] if args.trace else spec["end_to_end"]
    source = res["per_layer"] if args.trace else e2e
    metrics = {m["name"]: {"value": float(source.get(m["name"], 0.0)), "unit": m["unit"]}
               for m in wanted}
    print(json.dumps({"correct": ok, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))
    if not ok:
        print(f"streambench: {failed} of {attempted} items failed their checks",
              file=sys.stderr)
        return 1
    return 0


if __name__ == "__main__":
    sys.exit(main())
