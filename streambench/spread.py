"""Run-to-run spread and tracing overhead of the benchmark.

    python3 streambench/spread.py --workload stream_drain --seeds 1 2 3 4 5
    python3 streambench/spread.py --workload kv_interactive --seeds 1 2 3 --overhead

Runs ``run.py`` once per seed (sequentially, from the current directory)
and prints, per end-to-end metric, the median, the quartiles and the
spread: the distance between the first and third quartile as a share of
the median (``statistics.quantiles(values, n=4)``), next to the bound
BENCHMARK.json allows. With ``--overhead`` each seed also gets a traced
run, and the tracing overhead is reported as the traced minus the
untraced ``latency_ms_p50`` of the same seed.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))


def one_run(workload: str, seed: int, seconds: int, trace: int) -> tuple[dict, float]:
    """The run's result object and its wall time in seconds."""
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)]
    t0 = time.perf_counter()
    proc = subprocess.run(cmd, capture_output=True, text=True)
    wall = time.perf_counter() - t0
    if proc.returncode != 0:
        raise SystemExit(f"seed {seed} trace {trace} failed:\n{proc.stdout}{proc.stderr}")
    return json.loads(proc.stdout.strip().splitlines()[-1]), wall


def spread(values: list[float]) -> tuple[float, float, float, float]:
    """(median, first quartile, third quartile, IQR / median)."""
    q1, q2, q3 = statistics.quantiles(values, n=4)
    med = statistics.median(values)
    return med, q1, q3, (q3 - q1) / med


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", type=int, nargs="+", required=True)
    ap.add_argument("--overhead", action="store_true")
    args = ap.parse_args(argv)
    with open("BENCHMARK.json") as f:
        spec = json.load(f)

    runs, overhead, walls = [], [], []
    for seed in args.seeds:
        res, wall = one_run(args.workload, seed, spec["run_seconds"], 0)
        runs.append(res["metrics"])
        walls.append(wall)
        line = {k: round(v["value"], 4) for k, v in res["metrics"].items()}
        line["run_wall_s"] = round(wall, 1)
        if args.overhead:
            traced = one_run(args.workload, seed, spec["run_seconds"], 1)[0]["metrics"]
            delta = traced["traced.latency_ms_p50"]["value"] - res["metrics"]["latency_ms_p50"]["value"]
            overhead.append(delta)
            line["trace_overhead_ms"] = round(delta, 1)
        print(f"seed {seed}: {json.dumps(line)}", flush=True)

    print(f"\n{args.workload}: {len(runs)} runs, wall per run: median "
          f"{statistics.median(walls):.1f} s, max {max(walls):.1f} s")
    for m in spec["end_to_end"]:
        vals = [r[m["name"]]["value"] for r in runs]
        if len(vals) < 2:
            continue
        med, q1, q3, sp = spread(vals)
        print(f"  {m['name']:16s} median {med:12.4f} {m['unit']:6s} q1 {q1:12.4f} q3 {q3:12.4f}"
              f"  spread {sp:.4f}  bound {m['bound']}")
    if overhead:
        print(f"  tracing overhead on latency_ms_p50: median {statistics.median(overhead):.1f} ms"
              f" over {len(overhead)} seeds")
    return 0


if __name__ == "__main__":
    sys.exit(main())
