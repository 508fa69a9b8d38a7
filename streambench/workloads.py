"""The benchmark's workloads: set-up, the timed loop, output checks and
the per-layer read-out of a traced run.

Each workload object goes through ``generate`` (no Spark), ``setup``
(builds inputs inside Spark; kv_interactive also makes one untimed
warm-up call so that cold compilation stays out of its timings),
``measure`` (operations until the run's seconds are spent, at least the
shape's minimum), ``check`` (every output against the program's serial
oracle or the planted duplicates) and ``end_to_end`` / ``per_layer`` (the
reported figures).

stream_drain and corpus_build time the first operation of the process:
each is a job a user starts from scratch (a streaming replay brought up
against a log, a corpus build submitted once), so the JVM's compilation
of its plans is part of what the user waits for. It is also the only way
the three workloads fit the benchmark's time budget (METRICS.md).

An *operation* is one ``StreamyDB.execute`` call on kv_interactive, one
``run_streaming_replay_continuous`` drain on stream_drain and one
``pipeline.build_corpus`` on corpus_build. Per-layer counters and busy
times are reported per operation, so runs that fit a different number of
operations stay comparable.

Each workload names the per-layer metrics on its path (``PATH``, name
prefixes): ``run.py`` refuses a traced run that leaves one of them out,
and reads 0 only for the layers a workload does not touch.
"""

from __future__ import annotations

import ast
import math
import os
import shutil
import sys
import threading
import time
from statistics import median

import gen
from tracing import (
    Tracer,
    gc_seconds,
    jobs_between,
    last_job_id,
    percentile,
    self_times,
    tail_percentile,
)


#: Per-layer metric prefixes every workload reports.
COMMON_PATH = ("spark.", "jvm.", "driver.", "process.", "traced.")


class Workload:
    name = ""
    PATH: tuple[str, ...] = ()

    def __init__(self, shape: dict, seed: int, workdir: str, tracer: Tracer | None):
        self.shape = shape
        self.seed = seed
        self.workdir = workdir
        self.tracer = tracer
        self.spark = None
        self.ops: list[dict] = []  # timed operations, in order
        self.errors: list[str] = []

    # -- the timed loop --------------------------------------------------

    def measure(self, seconds: float, hard_stop: float) -> None:
        """Run operations until ``seconds`` are spent and at least the
        shape's minimum has run; never start one after ``hard_stop``
        (a ``time.perf_counter`` value) or past the generated inputs."""
        spark = self.spark
        self._job0 = last_job_id(spark) if self.tracer else None
        self._gc0 = gc_seconds(spark) if self.tracer else None
        self._cpu0 = time.process_time()
        t0 = time.perf_counter()
        while len(self.ops) < self.max_ops:
            now = time.perf_counter()
            if len(self.ops) >= self.min_ops and now - t0 >= seconds:
                break
            if now >= hard_stop:
                break
            try:
                self.ops.append(self.operation(len(self.ops)))
            except Exception as exc:  # noqa: BLE001 - reported as a failed operation
                self.errors.append(f"operation {len(self.ops)}: {type(exc).__name__}: {exc}")
                break
        self._cpu1 = time.process_time()
        self._gc1 = gc_seconds(spark) if self.tracer else None
        self._job1 = last_job_id(spark) if self.tracer else None

    def corrupt(self) -> None:
        """Falsify one output, so that the check must fail (tests the
        failure path)."""
        verdicts = self.last_verdicts()
        txn = next(iter(verdicts))
        verdicts[txn] = not verdicts[txn]

    def measured_jobs(self) -> list[dict]:
        return jobs_between(self.spark, self._job0, self._job1)

    def common_layers(self) -> dict[str, float]:
        n = max(1, len(self.ops))
        jobs = self.measured_jobs()
        return {
            "spark.jobs": len(jobs) / n,
            "spark.stages": sum(j["stages"] for j in jobs) / n,
            "spark.tasks": sum(j["tasks"] for j in jobs) / n,
            "spark.failed_tasks": sum(j["failed_tasks"] for j in jobs) / n,
            "jvm.gc_s": (self._gc1 - self._gc0) / n,
            "driver.cpu_s": (self._cpu1 - self._cpu0) / n,
        }

    def span_stats(self, name: str) -> tuple[list[float], list[float]]:
        """Durations and self times (seconds) of every span called ``name``."""
        spans = self.tracer.spans
        selfs = self_times(spans)
        hits = [s for s in spans if s.name == name]
        return [s.duration for s in hits], [selfs[s.id] for s in hits]


# ---------------------------------------------------------------- kv_interactive


class KvInteractive(Workload):
    """Closed loop, one client: each operation is one ``execute`` of
    ``txns_per_call`` transactions against a store preloaded with
    ``keyspace`` keys."""

    name = "kv_interactive"
    PATH = ("db.", "engine_batch.", "session.")

    def generate(self) -> None:
        s = self.shape
        self.calls = gen.kv_calls(self.seed, s["max_calls"], s["txns_per_call"],
                                  s["keyspace"], s["zipf_s"])
        self.min_ops = s["min_calls"]
        self.max_ops = len(self.calls) - 1
        self.verdicts: list[dict] = []  # per call, warm-up first

    def setup(self, spark) -> None:
        from pyspark.sql import functions as F  # noqa: PLC0415

        from streamy_db_spark.db import StreamyDB  # noqa: PLC0415

        self.spark = spark
        state = spark.range(self.shape["keyspace"]).select(
            F.format_string("key_%010d", "id").alias("key"),
            F.format_string("key_%010d:v0", "id").alias("value"),
        ).localCheckpoint(eager=True)
        self.db = StreamyDB(spark, state)
        self.verdicts.append(self.db.execute(self.calls[0]))  # warm-up
        if self.tracer:
            self._install_trace()

    def operation(self, i: int) -> dict:
        call = self.calls[i + 1]
        sc = self.spark.sparkContext
        if self.tracer:
            sc.setJobGroup(f"kv-call-{i}", f"execute call {i}")
            with self.tracer.span("db.execute", call=i):
                t0 = time.perf_counter()
                verdicts = self.db.execute(call)
                dt = time.perf_counter() - t0
            sc.setJobGroup(None, None)  # clear the group for set-up jobs
        else:
            t0 = time.perf_counter()
            verdicts = self.db.execute(call)
            dt = time.perf_counter() - t0
        self.verdicts.append(verdicts)
        return {"latency_s": dt, "txns": len(call)}

    def last_verdicts(self) -> dict:
        return self.verdicts[-1]

    def check(self) -> tuple[int, int, list[str]]:
        """(attempted, failed, notes): every call's verdicts against the
        serial oracle folded call by call from the same initial state,
        then the store's final state against the oracle's."""
        from streamy_db_spark.oracle import serial_replay  # noqa: PLC0415

        state = gen.initial_state(self.shape["keyspace"])
        attempted = failed = 0
        notes = []
        for call, got in zip(self.calls, self.verdicts):
            want, state = serial_replay(call, state)
            attempted += len(call)
            bad = sum(1 for t, ok in want.items() if got.get(t) != ok)
            bad += sum(1 for t in got if t not in want)
            if bad:
                notes.append(f"{bad} verdicts differ from the serial oracle")
            failed += bad
        rows = self.db.state_df().toArrow().to_pylist()
        final = {r["key"]: r["value"] for r in rows}
        diff = sum(1 for k in state.keys() | final.keys() if state.get(k) != final.get(k))
        if diff or len(rows) != len(final):
            notes.append(f"final state differs from the serial oracle on {diff} keys")
            failed += max(1, diff)
        return attempted, min(failed, attempted), notes

    def end_to_end(self) -> dict[str, float]:
        lat = [op["latency_s"] for op in self.ops]
        return {
            "latency_ms_p50": median(lat) * 1000.0,
            "items_per_s": sum(op["txns"] for op in self.ops) / sum(lat),
        }

    def named_figures(self) -> list[tuple[str, float, str]]:
        e = self.end_to_end()
        return [("execute_ms_p50", e["latency_ms_p50"], "ms"),
                ("kv_txn_per_s", e["items_per_s"], "txn/s"),
                ("execute_calls", len(self.ops), "count")]

    # -- traced run ------------------------------------------------------

    def _install_trace(self) -> None:
        import streamy_db_spark.db as db_mod  # noqa: PLC0415
        import streamy_db_spark.engine_batch as eb  # noqa: PLC0415
        import streamy_db_spark.session as session  # noqa: PLC0415

        tr = self.tracer
        replay = db_mod.replay

        def traced_replay(*args, **kwargs):
            stats = kwargs.setdefault("stats", {})
            with tr.span("engine_batch.replay") as sp:
                out = replay(*args, **kwargs)
            sp.attrs.update(stats)
            return out

        tr.patch(db_mod, "replay", traced_replay)
        tr.wrap(eb, "checkpoint_preserving", "session.checkpoint_preserving")
        tr.wrap(eb, "release_local_checkpoints", "session.release_local_checkpoints")
        tr.wrap(session, "release_local_checkpoints", "session.release_local_checkpoints")

    def per_layer(self) -> dict[str, float]:
        n = max(1, len(self.ops))
        tr = self.tracer
        _, db_self = self.span_stats("db.execute")
        replay_d, _ = self.span_stats("engine_batch.replay")
        ckpt_d, _ = self.span_stats("session.checkpoint_preserving")
        replays = tr.named("engine_batch.replay")
        jobs = self.measured_jobs()
        per_call = [[j for j in jobs if j["group"] == f"kv-call-{i}"] for i in range(len(self.ops))]
        out = {
            "db.self_ms_p50": median(db_self) * 1000.0,
            "db.spark_jobs_per_call": median([len(c) for c in per_call]),
            "db.spark_stages_per_call": median([sum(j["stages"] for j in c) for c in per_call]),
            "db.spark_tasks_per_call": median([sum(j["tasks"] for j in c) for c in per_call]),
            "db.state_keys_end": float(self.db.state_df().count()),
            "engine_batch.replay_ms_p50": median(replay_d) * 1000.0,
            "engine_batch.rounds": sum(s.attrs.get("rounds", 0) for s in replays) / n,
            "engine_batch.tail_collapsed": sum(bool(s.attrs.get("tail_collapsed")) for s in replays) / n,
            "session.checkpoint_calls": len(ckpt_d) / n,
            "session.checkpoint_s": sum(ckpt_d) / n,
            "session.release_calls": len(tr.named("session.release_local_checkpoints")) / n,
        }
        out.update(self.common_layers())
        return out


# ------------------------------------------------------------------ stream_drain


class LandingPoller(threading.Thread):
    """Lists ``results_dir`` every 10 ms and records when each
    ``batch=<id>`` directory first shows its ``_SUCCESS`` marker, i.e.
    when the verdicts in it landed. 10 ms is far below the ~1 s a
    micro-batch takes, and a listing costs well under a millisecond."""

    INTERVAL_S = 0.01

    def __init__(self, results_dir: str):
        super().__init__(daemon=True)
        self.results_dir = results_dir
        self.landed: dict[str, float] = {}
        self._stop_evt = threading.Event()

    def sweep(self) -> None:
        try:
            entries = os.listdir(self.results_dir)
        except FileNotFoundError:
            return
        now = time.perf_counter()
        for name in entries:
            if name.startswith("batch=") and name not in self.landed and os.path.exists(
                os.path.join(self.results_dir, name, "_SUCCESS")
            ):
                self.landed[name] = now

    def run(self) -> None:
        while not self._stop_evt.wait(self.INTERVAL_S):
            self.sweep()

    def stop(self) -> None:
        self._stop_evt.set()
        self.join(timeout=5)
        self.sweep()

    def landing_by_txn(self) -> dict[str, float]:
        import pyarrow.parquet as pq  # noqa: PLC0415

        out: dict[str, float] = {}
        for name, at in self.landed.items():
            table = pq.read_table(os.path.join(self.results_dir, name), columns=["transaction_id"])
            for txn in table.column("transaction_id").to_pylist():
                out.setdefault(txn, at)
        return out


def _progress_listener_class():
    from pyspark.sql.streaming import StreamingQueryListener  # noqa: PLC0415

    class ProgressLog(StreamingQueryListener):
        """Keeps every streaming progress event of the traced drains."""

        def __init__(self):
            self.started: list[tuple[float, str]] = []
            self.progress: list[dict] = []
            self.terminated: set[str] = set()

        def onQueryStarted(self, event):
            self.started.append((time.perf_counter(), str(event.runId)))

        def onQueryProgress(self, event):
            p = event.progress
            ops = p.stateOperators or []
            self.progress.append({
                "run_id": str(p.runId),
                "stage": "txn_stage" if "ForeachBatch" in p.sink.description else "key_stage",
                "rows_in": p.numInputRows,
                "duration_ms": dict(p.durationMs or {}),
                "state_rows": sum(o.numRowsTotal for o in ops),
                "commit_ms": sum(o.commitTimeMs for o in ops),
            })

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            self.terminated.add(str(event.runId))

    return ProgressLog


def _dir_stats(path: str) -> tuple[int, int, int]:
    """(number of batch=<id> directories, number of parquet files, bytes
    of all files) under path."""
    batches = parquet = nbytes = 0
    for root, dirs, files in os.walk(path):
        batches += sum(1 for d in dirs if d.startswith("batch="))
        parquet += sum(1 for f in files if f.endswith(".parquet"))
        nbytes += sum(os.path.getsize(os.path.join(root, f)) for f in files)
    return batches, parquet, nbytes


class StreamDrain(Workload):
    """Closed batch through the continuous streaming replay: all
    ``n_txns`` requests are present when the call starts; each operation
    drains the whole log into a fresh directory. The first drain is the
    first streaming work of the process (no warm-up)."""

    name = "stream_drain"
    PATH = ("engine_stream.", "replay_loop.", "sinks.", "session.release_calls")

    def generate(self) -> None:
        s = self.shape
        self.txns = gen.stream_txns(self.seed, s["n_txns"], s["hot_keys"],
                                    s["writers_per_hot_key"])
        self.min_ops = self.max_ops = s["drains"]
        self.verdicts: list[tuple[list[dict], dict]] = []
        self.listener = None

    def setup(self, spark) -> None:
        self.spark = spark
        if self.tracer:
            self._install_trace()

    def _drain(self, i: int) -> dict:
        from streamy_db_spark.streaming.replay_loop import (  # noqa: PLC0415
            run_streaming_replay_continuous,
            with_rocksdb,
        )

        s = self.shape
        txns = self.txns
        tmp = os.path.join(self.workdir, f"drain-{i}")
        poller = LandingPoller(os.path.join(tmp, "results"))
        poller.start()
        t0 = time.perf_counter()
        try:
            with with_rocksdb(self.spark):
                verdicts = run_streaming_replay_continuous(
                    self.spark, txns, tmp,
                    timeout_s=120.0,
                    trigger_interval=s["trigger"],
                    heartbeat_interval_s=s["heartbeat_s"],
                    shuffle_partitions=s["shuffle_partitions"],
                )
            t1 = time.perf_counter()
        finally:
            poller.stop()
        self.verdicts.append((txns, verdicts))
        landed = poller.landing_by_txn()
        lat = [landed.get(t["transaction_id"], t1) - t0 for t in txns]
        op = {"wall_s": t1 - t0, "txns": len(txns), "verdict_s": lat,
              "first_landing": min(poller.landed.values(), default=t1) - t0}
        if self.tracer:
            op["result_batches"], _, res_bytes = _dir_stats(os.path.join(tmp, "results"))
            op["feedback_batches"], _, fb_bytes = _dir_stats(os.path.join(tmp, "feedback"))
            op["sink_bytes"] = res_bytes + fb_bytes
            op["heartbeats"] = sum(
                1 for f in os.listdir(os.path.join(tmp, "requests")) if f.startswith("hb_")
            )
        shutil.rmtree(tmp, ignore_errors=True)
        return op

    def operation(self, i: int) -> dict:
        if not self.tracer:
            return self._drain(i)
        with self.tracer.span("replay_loop.run_streaming_replay_continuous", drain=i):
            return self._drain(i)

    def last_verdicts(self) -> dict:
        return self.verdicts[-1][1]

    def check(self) -> tuple[int, int, list[str]]:
        from streamy_db_spark.oracle import serial_replay  # noqa: PLC0415

        attempted = failed = 0
        notes = []
        for txns, got in self.verdicts:
            want, _ = serial_replay(txns)
            attempted += len(txns)
            bad = sum(1 for t, ok in want.items() if got.get(t) != ok)
            bad += sum(1 for t in got if t not in want)
            if bad:
                notes.append(f"{bad} streamed verdicts differ from the serial oracle")
            failed += bad
        return attempted, min(failed, attempted), notes

    def end_to_end(self) -> dict[str, float]:
        """Verdict latency is the median per drain, averaged over the
        drains: a pooled median over several drains would be the slower
        drain's first-round landing."""
        per_drain = [median(op["verdict_s"]) for op in self.ops]
        return {
            "latency_ms_p50": sum(per_drain) / len(per_drain) * 1000.0,
            "items_per_s": sum(op["txns"] for op in self.ops) / sum(op["wall_s"] for op in self.ops),
        }

    def named_figures(self) -> list[tuple[str, float, str]]:
        lat = [x for op in self.ops for x in op["verdict_s"]]
        e = self.end_to_end()
        out = [("stream_txn_per_s", e["items_per_s"], "txn/s"),
               ("stream_verdict_s_p50", e["latency_ms_p50"] / 1000.0, "s")]
        p = tail_percentile(len(lat))
        if p is not None:
            out.append((f"stream_verdict_s_p{p:g}", percentile(lat, p), "s"))
        out.append(("stream_verdict_samples", len(lat), "count"))
        return out

    # -- traced run ------------------------------------------------------

    def _install_trace(self) -> None:
        import streamy_db_spark.session as session  # noqa: PLC0415
        import streamy_db_spark.streaming.replay_loop as rl  # noqa: PLC0415
        import streamy_db_spark.streaming.sinks as sinks  # noqa: PLC0415

        tr = self.tracer
        self.listener = _progress_listener_class()()
        self.spark.streams.addListener(self.listener)
        tr.wrap(rl, "_loop_dirs", "replay_loop.loop_dirs")
        tr.wrap(rl, "_collect_verdicts", "replay_loop.collect_verdicts")
        tr.wrap(rl, "_raw_result_rows", "replay_loop.poll_footers")
        tr.wrap(session, "release_local_checkpoints", "session.release_local_checkpoints")
        factory = sinks.idempotent_parquet_sink

        def traced_factory(out_dir):
            write = factory(out_dir)
            kind = os.path.basename(out_dir.rstrip("/"))

            def traced_write(batch_df, batch_id):
                with tr.span("sinks.write", sink=kind, batch=batch_id):
                    write(batch_df, batch_id)

            return traced_write

        tr.patch(sinks, "idempotent_parquet_sink", traced_factory)

    def per_layer(self) -> dict[str, float]:
        n = max(1, len(self.ops))
        tr = self.tracer
        lst = self.listener
        # let the listener bus deliver the last events: two queries per drain
        deadline = time.time() + 5
        while time.time() < deadline and len(lst.terminated) < 2 * len(self.ops):
            time.sleep(0.1)
        out: dict[str, float] = {}
        for stage in ("key_stage", "txn_stage"):
            ev = [p for p in lst.progress if p["stage"] == stage]
            trig = [p["duration_ms"].get("triggerExecution", 0) for p in ev]
            pre = f"engine_stream.{stage}."
            out[pre + "triggers"] = len(ev) / n
            out[pre + "idle_trigger_frac"] = (
                sum(1 for p in ev if p["rows_in"] == 0) / len(ev) if ev else 0.0
            )
            out[pre + "trigger_ms_p50"] = median(trig) if trig else 0.0
            out[pre + "add_batch_ms_sum"] = sum(p["duration_ms"].get("addBatch", 0) for p in ev) / n
            out[pre + "state_commit_ms_sum"] = sum(p["commit_ms"] for p in ev) / n
            out[pre + "state_rows_max"] = float(max((p["state_rows"] for p in ev), default=0))
            out[pre + "rows_in"] = sum(p["rows_in"] for p in ev) / n
        drains = tr.named("replay_loop.run_streaming_replay_continuous")
        firsts = []
        for sp in drains:
            starts = [t for t, _ in lst.started if t >= sp.start]
            if starts:
                firsts.append(min(starts) - sp.start)
        write_d, _ = self.span_stats("sinks.write")
        out.update({
            "replay_loop.setup_s": median(firsts) if firsts else 0.0,
            "replay_loop.first_verdict_s": median([op["first_landing"] for op in self.ops]),
            "replay_loop.heartbeats": sum(op["heartbeats"] for op in self.ops) / n,
            "sinks.result_batches": sum(op["result_batches"] for op in self.ops) / n,
            "sinks.feedback_batches": sum(op["feedback_batches"] for op in self.ops) / n,
            "sinks.bytes_written": sum(op["sink_bytes"] for op in self.ops) / n,
            "sinks.write_s": sum(write_d) / n,
            "session.release_calls": len(tr.named("session.release_local_checkpoints")) / n,
        })
        out.update(self.common_layers())
        return out


# ------------------------------------------------------------------ corpus_build


#: Spark actions a traced corpus build records, by class: the calls that
#: make Spark run jobs. ``localCheckpoint`` counts only when eager.
ACTIONS = {
    "DataFrame": ("count", "collect", "toArrow", "toPandas", "first", "take", "head",
                  "localCheckpoint"),
    "DataFrameWriter": ("parquet", "save"),
}

#: The build's stages, named by the ``build_corpus`` stats key (without
#: its ``rows_`` prefix) that each Spark action feeds; see ``stage_by_line``.
PIPELINE_STAGES = ("profile_columns", "exact_dedup", "near_dedup", "decontaminated",
                   "quality_kept", "mixture", "train", "shuffled", "packed",
                   "train_tokens", "files_compacted", "landed")

#: Row counts of the returned stats that the traced run reports.
PIPELINE_ROWS = ("raw", "exact_dedup", "near_dedup", "decontaminated", "quality_kept",
                 "train", "landed")


def stage_by_line(path: str, func: str = "build_corpus") -> dict[int, str]:
    """Line number → stage for every line of ``func`` in ``path``. A
    statement's stage is the stats key it assigns, or else that of the
    next statement that assigns one: the count that closes a stage
    follows the checkpoint, collect or write that does its work."""
    with open(path) as f:
        tree = ast.parse(f.read())
    fn = next(n for n in ast.walk(tree) if isinstance(n, ast.FunctionDef) and n.name == func)
    simple = sorted(
        (n for n in ast.walk(fn) if isinstance(n, ast.stmt) and not hasattr(n, "body")),
        key=lambda n: n.lineno,
    )
    out: dict[int, str] = {}
    stage = "unassigned"
    for st in reversed(simple):
        targets = st.targets if isinstance(st, ast.Assign) else []
        for t in targets:
            if (isinstance(t, ast.Subscript) and isinstance(t.value, ast.Name)
                    and t.value.id == "stats" and isinstance(t.slice, ast.Constant)):
                stage = t.slice.value.removeprefix("rows_")
        for line in range(st.lineno, st.end_lineno + 1):
            out[line] = stage
    return out


class CorpusBuild(Workload):
    """One ``build_corpus`` per operation over a seeded documents table
    with planted exact and near duplicates. The first build is the first
    Spark work of the process (no warm-up)."""

    name = "corpus_build"
    PATH = ("pipeline.", "operators.", "sources.files.")

    def generate(self) -> None:
        import pyarrow as pa  # noqa: PLC0415
        import pyarrow.parquet as pq  # noqa: PLC0415

        s = self.shape
        rows, self.pairs = gen.corpus_docs(self.seed, **gen.corpus_args(s))
        self.n_docs = len(rows)
        self.in_dir = os.path.join(self.workdir, "corpus-in")
        os.makedirs(self.in_dir, exist_ok=True)
        pq.write_table(pa.Table.from_pylist(rows), os.path.join(self.in_dir, "documents.parquet"))
        self.texts = {r["doc_id"]: r["text"] for r in rows}
        self.min_ops = self.max_ops = s["builds"]
        self.results: list[dict] = []  # per build: stats and the landed rows

    def setup(self, spark) -> None:
        self.spark = spark
        if self.tracer:
            self._install_trace()

    def operation(self, i: int) -> dict:
        from streamy_db_spark.pipeline import build_corpus  # noqa: PLC0415

        out_dir = os.path.join(self.workdir, f"corpus-out-{i}")
        t0 = time.perf_counter()
        if self.tracer:
            with self.tracer.span("pipeline.build_corpus", build=i):
                stats = build_corpus(self.spark, self.in_dir, out_dir)
        else:
            stats = build_corpus(self.spark, self.in_dir, out_dir)
        dt = time.perf_counter() - t0
        res = {"stats": stats, "landed": self._landed(out_dir)}
        if self.tracer:
            _, res["files"], nbytes = _dir_stats(out_dir)
            res["bytes"] = nbytes + _dir_stats(out_dir + ".packed")[2]
        self.results.append(res)
        shutil.rmtree(out_dir, ignore_errors=True)
        shutil.rmtree(out_dir + ".packed", ignore_errors=True)
        return {"wall_s": dt, "docs": self.n_docs}

    @staticmethod
    def _landed(out_dir: str) -> list[tuple[int, str]]:
        import pyarrow.parquet as pq  # noqa: PLC0415

        t = pq.read_table(out_dir, columns=["doc_id", "text"])
        return list(zip(t.column("doc_id").to_pylist(), t.column("text").to_pylist()))

    def corrupt(self) -> None:
        self.results[-1]["stats"]["rows_exact_dedup"] += 1  # one planted copy survives

    def removed_fracs(self, stats: dict) -> tuple[float, float]:
        """Planted exact and near copies removed, as shares of those planted."""
        exact = (stats["rows_raw"] - stats["rows_exact_dedup"]) / len(self.pairs["exact"])
        near = (stats["rows_exact_dedup"] - stats["rows_near_dedup"]) / len(self.pairs["near"])
        return exact, near

    def check(self) -> tuple[int, int, list[str]]:
        """(attempted, failed, notes) in documents: the exact-dedup stage
        removes exactly the planted exact copies, the near-dedup stage
        removes at least the floor share of the planted near copies and
        nothing else, every train row lands, and the landed table holds
        only input documents, no text twice and no planted exact pair."""
        attempted = failed = 0
        notes = []
        n_near = len(self.pairs["near"])
        floor = self.shape["near_removed_floor"]
        for res in self.results:
            st, landed = res["stats"], res["landed"]
            landed_ids = {d for d, _ in landed}
            attempted += self.n_docs
            exact_removed = st["rows_raw"] - st["rows_exact_dedup"]
            near_removed = st["rows_exact_dedup"] - st["rows_near_dedup"]
            problems = {
                "rows_raw differs from the documents written": abs(st["rows_raw"] - self.n_docs),
                "exact dedup did not remove exactly the planted copies":
                    abs(exact_removed - len(self.pairs["exact"])),
                f"near dedup removed less than {floor:.0%} of the planted copies":
                    max(0, math.ceil(floor * n_near) - near_removed),
                "near dedup removed more documents than were planted":
                    max(0, near_removed - n_near),
                "rows_landed differs from rows_train": abs(st["rows_landed"] - st["rows_train"]),
                "landed row count differs from rows_landed": abs(len(landed) - st["rows_landed"]),
                "landed documents that are not in the input":
                    sum(1 for d, t in landed if self.texts.get(d) != t),
                "landed texts that occur twice": len(landed) - len({t for _, t in landed}),
                "planted exact pairs that both landed": sum(
                    1 for a, b in self.pairs["exact"] if a in landed_ids and b in landed_ids),
            }
            for what, n in problems.items():
                if n:
                    notes.append(f"{what}: {n}")
                    failed += n
        return attempted, min(failed, attempted), notes

    def end_to_end(self) -> dict[str, float]:
        walls = [op["wall_s"] for op in self.ops]
        return {
            "latency_ms_p50": median(walls) * 1000.0,
            "items_per_s": sum(op["docs"] for op in self.ops) / sum(walls),
        }

    def named_figures(self) -> list[tuple[str, float, str]]:
        e = self.end_to_end()
        exact, near = self.removed_fracs(self.results[-1]["stats"])
        return [("corpus_docs_per_s", e["items_per_s"], "docs/s"),
                ("corpus_build_ms", e["latency_ms_p50"], "ms"),
                ("exact_dup_removed_frac", exact, "ratio"),
                ("near_dup_removed_frac", near, "ratio")]

    # -- traced run ------------------------------------------------------

    def _install_trace(self) -> None:
        from pyspark.sql import DataFrameWriter  # noqa: PLC0415
        from pyspark.sql.classic.dataframe import DataFrame  # noqa: PLC0415

        import streamy_db_spark  # noqa: PLC0415
        import streamy_db_spark.operators.dedup as dedup  # noqa: PLC0415
        import streamy_db_spark.operators.minhash as minhash  # noqa: PLC0415
        import streamy_db_spark.pipeline as pipeline  # noqa: PLC0415
        from streamy_db_spark.sources import files  # noqa: PLC0415

        tr = self.tracer
        pkg = os.path.dirname(os.path.abspath(streamy_db_spark.__file__)) + os.sep
        pipeline_file = os.path.abspath(pipeline.__file__)
        stages = stage_by_line(pipeline_file)
        busy = threading.local()

        def record(cls_name, method, orig):
            def action(*args, **kwargs):
                eager = kwargs.get("eager", args[1] if len(args) > 1 else True)
                if getattr(busy, "on", False) or (method == "localCheckpoint" and not eager):
                    return orig(*args, **kwargs)
                module, line = None, None
                frame = sys._getframe(1)
                while frame is not None:
                    path = os.path.abspath(frame.f_code.co_filename)
                    if path.startswith(pkg):
                        module = module or path[len(pkg):]
                        if path == pipeline_file:
                            line = frame.f_lineno
                    frame = frame.f_back
                busy.on = True
                try:
                    with tr.span("spark.action", method=f"{cls_name}.{method}", module=module,
                                 line=line, stage=stages.get(line)):
                        return orig(*args, **kwargs)
                finally:
                    busy.on = False

            return action

        for cls in (DataFrame, DataFrameWriter):
            for method in ACTIONS[cls.__name__]:
                tr.patch(cls, method, record(cls.__name__, method, getattr(cls, method)))
        tr.wrap(minhash, "minhash_near_dup_pairs", "operators.minhash_near_dup_pairs")
        tr.wrap(dedup, "connected_components", "operators.connected_components")
        tr.wrap(files, "write_clustered", "sources.files.write_clustered")
        tr.wrap(files, "compact_parquet", "sources.files.compact_parquet")

    def per_layer(self) -> dict[str, float]:
        n = max(1, len(self.ops))
        builds = self.tracer.named("pipeline.build_corpus")
        actions = [a for a in self.tracer.named("spark.action")
                   if any(b.start <= a.start <= b.end for b in builds)]
        in_pipeline = [a for a in actions if a.attrs["line"] is not None]
        out: dict[str, float] = {
            "pipeline.actions": len(in_pipeline) / n,
            "pipeline.driver_s": (sum(b.duration for b in builds)
                                  - sum(a.duration for a in in_pipeline)) / n,
        }
        for stage in PIPELINE_STAGES:
            out[f"pipeline.action_s.{stage}"] = sum(
                a.duration for a in in_pipeline if a.attrs["stage"] == stage) / n
        stats = self.results[-1]["stats"]
        for row in PIPELINE_ROWS:
            out[f"pipeline.rows.{row}"] = float(stats[f"rows_{row}"])
        exact, near = self.removed_fracs(stats)
        out.update({
            "operators.exact_dup_removed_frac": exact,
            "operators.near_dup_removed_frac": near,
            "operators.action_s": sum(a.duration for a in actions
                                      if (a.attrs["module"] or "").startswith("operators")) / n,
            "operators.minhash_pairs_s": sum(
                self.span_stats("operators.minhash_near_dup_pairs")[0]) / n,
            "operators.components_s": sum(
                self.span_stats("operators.connected_components")[0]) / n,
            "sources.files.write_s": sum(
                self.span_stats("sources.files.write_clustered")[0]) / n,
            "sources.files.compact_s": sum(
                self.span_stats("sources.files.compact_parquet")[0]) / n,
            "sources.files.files_compacted": float(stats["files_compacted"]),
            "sources.files.files_landed": sum(r["files"] for r in self.results) / n,
            "sources.files.bytes_landed": sum(r["bytes"] for r in self.results) / n,
        })
        out.update(self.common_layers())
        return out


WORKLOADS = {w.name: w for w in (KvInteractive, StreamDrain, CorpusBuild)}
