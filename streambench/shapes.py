"""Workload shapes: the sizes one benchmark run uses.

``SHAPES`` is what ``run.py`` measures; ``TINY`` is the smoke-test size
the benchmark's own tests run. METRICS.md explains how the sizes were
chosen.
"""

SHAPES = {
    "kv_interactive": {
        # one StreamyDB preloaded with `keyspace` keys; each execute call
        # submits `txns_per_call` transactions on Zipf-hot keys
        "keyspace": 100_000,
        "txns_per_call": 25,
        "zipf_s": 0.8,
        # timed calls per run, at least: with one, ten runs read 4.5-8.7 s
        "min_calls": 2,
        # generated calls: the untimed warm-up plus up to 7 timed ones,
        # over three times what a 5 s run reaches at ~5 s per call
        "max_calls": 8,
    },
    "stream_drain": {
        # one closed log drained by run_streaming_replay_continuous;
        # conflicts are planted (gen.stream_txns): `hot_keys` keys with
        # exactly `writers_per_hot_key` CAS writers each, all other keys fresh
        "n_txns": 100,
        "hot_keys": 12,
        "writers_per_hot_key": 2,
        "trigger": "100 milliseconds",
        "heartbeat_s": 0.3,
        "shuffle_partitions": 2,
        # timed drains per run, the first one cold; fixed, so the run
        # length ignores --seconds
        "drains": 1,
    },
    "corpus_build": {
        # one pipeline.build_corpus over a seeded documents table
        # (gen.corpus_docs): `n_base` random texts of `words` words over a
        # `vocab`-word lexicon, plus `exact_copies` verbatim copies and
        # `near_copies` copies with `edits` words replaced
        "n_base": 900,
        "exact_copies": 50,
        "near_copies": 50,
        "edits": 1,
        "vocab": 20_000,
        "words": [40, 90],
        "sources": 8,
        # share of the planted near copies the build must remove
        "near_removed_floor": 0.8,
        # timed builds per run, the first one cold; fixed, so the run
        # length ignores --seconds
        "builds": 1,
    },
}

TINY = {
    "kv_interactive": dict(SHAPES["kv_interactive"], keyspace=200, txns_per_call=6,
                           min_calls=1, max_calls=3),
    "stream_drain": dict(SHAPES["stream_drain"], n_txns=12, hot_keys=2),
    "corpus_build": dict(SHAPES["corpus_build"], n_base=60, exact_copies=8, near_copies=8),
}
