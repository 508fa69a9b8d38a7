"""Tests of the benchmark itself:

    python3 -m pytest streambench/tests -q

The pure tests take a second; the smoke runs start Spark once per run
(about a minute each) on the TINY shapes.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

import gen
from shapes import SHAPES, TINY
from tracing import Span, Tracer, percentile, self_times, tail_percentile
from workloads import PIPELINE_STAGES, WORKLOADS, stage_by_line

from conftest import BENCH, ROOT


# ------------------------------------------------------------------ generator


def test_generator_is_deterministic_per_seed():
    kv = SHAPES["kv_interactive"]
    args = (5, kv["txns_per_call"], kv["keyspace"], kv["zipf_s"])
    assert gen.digest(gen.kv_calls(7, *args)) == gen.digest(gen.kv_calls(7, *args))
    assert gen.digest(gen.kv_calls(7, *args)) != gen.digest(gen.kv_calls(8, *args))
    st = SHAPES["stream_drain"]
    sargs = (st["n_txns"], st["hot_keys"], st["writers_per_hot_key"])
    assert gen.stream_txns(3, *sargs) == gen.stream_txns(3, *sargs)
    assert gen.stream_txns(3, *sargs) != gen.stream_txns(4, *sargs)
    cargs = gen.corpus_args(SHAPES["corpus_build"])
    assert gen.digest(gen.corpus_docs(5, **cargs)) == gen.digest(gen.corpus_docs(5, **cargs))
    assert gen.digest(gen.corpus_docs(5, **cargs)) != gen.digest(gen.corpus_docs(6, **cargs))


def test_generated_logs_have_unique_ids_and_serial_positions():
    calls = gen.kv_calls(1, 4, 25, 1000, 0.8)
    txns = [t for c in calls for t in c]
    assert len({t["transaction_id"] for t in txns}) == len(txns)
    assert len({(t["ts"], t["kafka_partition"], t["kafka_offset"]) for t in txns}) == len(txns)
    log = gen.stream_txns(1, 200, 10, 3)
    assert len({t["transaction_id"] for t in log}) == 200
    assert len({(t["ts"], t["kafka_partition"], t["kafka_offset"]) for t in log}) == 200
    # the mix really mixes: inserts, deletes and read-only transactions occur
    assert any(not t["updates"] for t in txns)
    assert any(v is None for t in txns for _, v in t["updates"])
    assert any(all(v is None for _, v in t["asserts"]) and t["updates"] for t in txns)


def test_stream_conflicts_are_planted_exactly():
    from collections import Counter

    for seed in (1, 2, 3):
        log = gen.stream_txns(seed, 100, 12, 2)
        txns_per_key = Counter(
            k for t in log for k in {k for k, _ in t["asserts"] + t["updates"]}
        )
        writers = Counter(k for t in log for k in {k for k, _ in t["updates"]})
        shared = {k for k, n in txns_per_key.items() if n > 1}
        assert shared == {gen.key_name(i) for i in range(12)}
        assert all(writers[k] == txns_per_key[k] == 2 for k in shared)


def test_corpus_duplicates_are_planted_exactly():
    shape = SHAPES["corpus_build"]
    rows, pairs = gen.corpus_docs(2, **gen.corpus_args(shape))
    text = {r["doc_id"]: r["text"] for r in rows}
    assert len(text) == len(rows) == shape["n_base"] + shape["exact_copies"] + shape["near_copies"]
    assert len(pairs["exact"]) == shape["exact_copies"]
    assert len(pairs["near"]) == shape["near_copies"]
    planted = [d for p in pairs["exact"] + pairs["near"] for d in p]
    assert len(set(planted)) == len(planted)  # every copy has its own base
    assert all(text[a] == text[b] for a, b in pairs["exact"])
    for a, b in pairs["near"]:
        wa, wb = text[a].split(), text[b].split()
        assert len(wa) == len(wb)
        assert sum(x != y for x, y in zip(wa, wb)) == shape["edits"]
    copies = {b for _, b in pairs["exact"]}
    assert len({t for d, t in text.items() if d not in copies}) == len(rows) - len(copies)


# ---------------------------------------------------------------- percentiles


@pytest.mark.parametrize("n, want", [
    (10, None), (19, None), (20, 50.0), (39, 50.0), (40, 75.0),
    (100, 90.0), (200, 95.0), (999, 95.0), (1000, 99.0), (10_000, 99.9),
])
def test_tail_percentile_keeps_ten_samples_beyond(n, want):
    assert tail_percentile(n) == want


def test_percentile_is_nearest_rank():
    xs = list(range(1, 101))
    assert percentile(xs, 50) == 50
    assert percentile(xs, 90) == 90
    assert percentile(xs, 100) == 100
    assert percentile([3.0], 99) == 3.0


# ------------------------------------------------------------------ self time


def test_self_time_on_a_synthetic_span_tree():
    spans = [
        Span(1, "root", 0.0, 10.0, None, "r"),
        Span(2, "a", 1.0, 3.0, 1, "r"),
        Span(3, "b", 2.0, 5.0, 1, "r"),    # overlaps a: [1, 5] covered once
        Span(4, "c", 8.0, 12.0, 1, "r"),   # clipped to the parent's end
        Span(5, "b.child", 2.5, 4.0, 3, "r"),
        Span(6, "other-root", 20.0, 21.0, None, "r"),
    ]
    got = self_times(spans)
    assert got[1] == pytest.approx(10.0 - 4.0 - 2.0)
    assert got[2] == pytest.approx(2.0)
    assert got[3] == pytest.approx(3.0 - 1.5)
    assert got[4] == pytest.approx(4.0)
    assert got[5] == pytest.approx(1.5)
    assert got[6] == pytest.approx(1.0)


def test_tracer_nests_spans_and_restores_patched_functions():
    import types

    mod = types.SimpleNamespace(f=lambda x: x + 1)
    orig = mod.f
    tr = Tracer("t")
    tr.wrap(mod, "f", "mod.f")
    with tr.span("outer"):
        assert mod.f(1) == 2
    tr.uninstall()
    assert mod.f is orig
    outer, inner = tr.named("outer")[0], tr.named("mod.f")[0]
    assert inner.parent == outer.id and outer.parent is None
    assert outer.start <= inner.start <= inner.end <= outer.end


def test_stage_by_line_names_each_statement_by_the_stats_key_it_feeds(tmp_path):
    src = tmp_path / "p.py"
    src.write_text(
        "def build_corpus(docs):\n"            # 1
        "    stats = {}\n"                      # 2
        "    prof = docs.collect()\n"           # 3
        "    stats['profile'] = len(prof)\n"    # 4
        "    if docs:\n"                        # 5
        "        docs = docs.checkpoint()\n"    # 6
        "    stats['rows_kept'] = (\n"          # 7
        "        docs.count()\n"                # 8
        "    )\n"                               # 9
        "    docs.write()\n"                    # 10
        "    return stats\n"                    # 11
    )
    got = stage_by_line(str(src))
    assert [got[i] for i in (2, 3, 4, 6, 7, 8, 9)] == [
        "profile", "profile", "profile", "kept", "kept", "kept", "kept"]
    assert got[10] == got[11] == "unassigned"
    assert 5 not in got  # compound statements take their inner statements' stages


def test_every_reported_pipeline_stage_exists_in_build_corpus():
    import streamy_db_spark.pipeline as pipeline

    assert set(PIPELINE_STAGES) <= set(stage_by_line(pipeline.__file__).values())


# -------------------------------------------------------------------- checks


class _FakeFrame:
    def __init__(self, rows):
        self.rows = rows

    def toArrow(self):
        return self

    def to_pylist(self):
        return self.rows


class _FakeDB:
    def __init__(self, state):
        self.state = state

    def state_df(self):
        return _FakeFrame([{"key": k, "value": v} for k, v in self.state.items()])


def _kv_with_oracle_outputs(tmp_path):
    from streamy_db_spark.oracle import serial_replay

    wl = WORKLOADS["kv_interactive"](TINY["kv_interactive"], 11, str(tmp_path), None)
    wl.generate()
    state = gen.initial_state(wl.shape["keyspace"])
    for call in wl.calls:
        want, state = serial_replay(call, state)
        wl.verdicts.append(dict(want))
    wl.db = _FakeDB(state)
    return wl


def test_kv_check_passes_oracle_outputs_and_flags_a_corrupted_verdict(tmp_path):
    wl = _kv_with_oracle_outputs(tmp_path)
    attempted, failed, notes = wl.check()
    assert (failed, notes) == (0, []) and attempted == sum(len(c) for c in wl.calls)
    verdicts = wl.last_verdicts()
    txn = next(iter(verdicts))
    verdicts[txn] = not verdicts[txn]
    _, failed, notes = wl.check()
    assert failed == 1 and notes


def test_kv_check_flags_a_wrong_final_state(tmp_path):
    wl = _kv_with_oracle_outputs(tmp_path)
    wl.db.state["key_9999999999"] = "bogus"
    _, failed, notes = wl.check()
    assert failed == 1 and "final state" in notes[0]


def test_stream_check_flags_a_corrupted_verdict_map(tmp_path):
    from streamy_db_spark.oracle import serial_replay

    wl = WORKLOADS["stream_drain"](TINY["stream_drain"], 5, str(tmp_path), None)
    wl.generate()
    want, _ = serial_replay(wl.txns)
    wl.verdicts.append((wl.txns, dict(want)))
    assert wl.check()[1] == 0
    got = wl.last_verdicts()
    del got[next(iter(got))]  # a missing verdict is a failure too
    assert wl.check()[1] == 1


def _corpus_with_clean_outputs(tmp_path):
    """A corpus_build whose recorded build removed every planted copy and
    landed every kept document once."""
    wl = WORKLOADS["corpus_build"](TINY["corpus_build"], 4, str(tmp_path), None)
    wl.generate()
    copies = {b for _, b in wl.pairs["exact"] + wl.pairs["near"]}
    kept = [(d, t) for d, t in wl.texts.items() if d not in copies]
    n_raw, n_exact = len(wl.texts), len(wl.texts) - len(wl.pairs["exact"])
    stats = {"rows_raw": n_raw, "rows_exact_dedup": n_exact,
             "rows_near_dedup": len(kept), "rows_train": len(kept), "rows_landed": len(kept)}
    wl.results.append({"stats": stats, "landed": kept})
    return wl


def test_corpus_check_passes_clean_outputs_and_flags_a_surviving_copy(tmp_path):
    wl = _corpus_with_clean_outputs(tmp_path)
    assert wl.check() == (len(wl.texts), 0, [])
    wl.corrupt()
    _, failed, notes = wl.check()
    assert failed >= 1 and any("exact dedup" in n for n in notes)


def test_corpus_check_flags_landed_duplicates_and_a_near_dedup_shortfall(tmp_path):
    wl = _corpus_with_clean_outputs(tmp_path)
    res = wl.results[-1]
    base, copy = wl.pairs["exact"][0]
    res["landed"].append((copy, wl.texts[copy]))
    res["stats"]["rows_train"] = res["stats"]["rows_landed"] = len(res["landed"])
    _, failed, notes = wl.check()
    assert failed == 2 and any("twice" in n for n in notes) and any("both" in n for n in notes)

    wl = _corpus_with_clean_outputs(tmp_path)
    stats = wl.results[-1]["stats"]
    stats["rows_near_dedup"] = stats["rows_exact_dedup"] - 1  # 1 of 8 near copies removed
    _, failed, notes = wl.check()
    assert failed >= 6 and any("less than 80%" in n for n in notes)


# ---------------------------------------------------------------- smoke runs


#: Per-layer metrics each workload's traced run must report as non-zero.
ON_PATH = {
    "kv_interactive": ["db.self_ms_p50", "db.spark_jobs_per_call", "session.checkpoint_calls",
                       "engine_batch.replay_ms_p50"],
    "stream_drain": ["engine_stream.key_stage.triggers", "engine_stream.txn_stage.triggers",
                     "sinks.result_batches", "replay_loop.first_verdict_s"],
    "corpus_build": ["pipeline.actions", "pipeline.action_s.exact_dedup",
                     "pipeline.action_s.near_dedup", "operators.exact_dup_removed_frac",
                     "operators.near_dup_removed_frac", "operators.minhash_pairs_s",
                     "sources.files.files_compacted", "sources.files.bytes_landed"],
}


def _run(workload, *extra):
    cmd = [sys.executable, os.path.join(BENCH, "run.py"), "--workload", workload,
           "--seed", "3", "--seconds", "1", "--trace", "1",
           "--shape", json.dumps(TINY[workload]), *extra]
    return subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=240)


@pytest.mark.parametrize("workload", sorted(WORKLOADS))
def test_tiny_smoke_run_passes_its_checks(workload):
    proc = _run(workload)
    assert proc.returncode == 0, proc.stdout + proc.stderr
    res = json.loads(proc.stdout.strip().splitlines()[-1])
    assert res["correct"] is True and res["failed"] == 0 and res["attempted"] > 0
    # the worker's own figures, before run.py fills the layers off the path with 0
    with open(os.path.join(ROOT, ".streambench_work", f"{workload}-seed3-trace1.result.json")) as f:
        layers = json.load(f)["per_layer"]
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    path = tuple(WORKLOADS[workload].PATH)
    assert {m["name"] for m in spec["per_layer"] if m["name"].startswith(path)} <= set(layers)
    for name in ON_PATH[workload] + ["spark.jobs", "driver.cpu_s", "traced.latency_ms_p50"]:
        assert layers[name] > 0, name


def test_corrupted_verdict_fails_the_run():
    proc = _run("kv_interactive", "--corrupt")
    assert proc.returncode != 0
    res = json.loads(proc.stdout.strip().splitlines()[-1])
    assert res["correct"] is False and res["failed"] >= 1
