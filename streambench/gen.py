"""Seeded input generator for the benchmark workloads.

Pure Python, no Spark: the same ``--seed`` gives the same transactions on
every machine. The program under test only ever receives what this module
builds.

Transactions use the shape ``oracle.serial_replay`` and
``StreamyDB.execute`` both accept: ``ts``, ``kafka_partition``,
``kafka_offset``, ``transaction_id``, ``asserts`` and ``updates`` (lists of
``(key, value-or-None)``). Keys are drawn from a Zipf distribution over a
fixed keyspace whose ranks are shuffled per seed, so hot keys land on
different hash partitions from seed to seed.

The mix is the one an interactive KV client sends:

- CAS read-modify-write: assert the value the generator believes is
  current (or, sometimes, a stale one) and write a new version;
- expect-absent insert: half on fresh keys (commit), half on hot keys
  (usually abort);
- delete: assert a value, write NULL;
- read-only: asserts only.

The generator keeps a shadow copy of the state, folded with the same
commit rule the protocol uses, only to pick plausible expectations. The
benchmark's correctness check does not trust it: it re-derives every
verdict with the program's own serial oracle.

``corpus_docs`` builds the documents table of the corpus build: random
texts over a large vocabulary (so no two base documents are near each
other by chance) with planted exact copies and token-edited near copies,
each planted on its own base document.
"""

from __future__ import annotations

import argparse
import bisect
import hashlib
import itertools
import json
import random
from dataclasses import dataclass
from datetime import datetime, timedelta, timezone

BASE_TS = datetime(2024, 1, 1, tzinfo=timezone.utc)


def key_name(i: int) -> str:
    return f"key_{i:010d}"


def initial_value(i: int) -> str:
    """Value of key ``i`` in the preloaded state (the same formula the
    Spark-side state builder uses)."""
    return f"key_{i:010d}:v0"


def initial_state(keyspace: int) -> dict[str, str]:
    return {key_name(i): initial_value(i) for i in range(keyspace)}


class FreshKeys:
    """Keys no other draw returns: transactions drawing only these never
    conflict."""

    def __init__(self, first: int):
        self._next = first

    def draw(self, k: int) -> list[str]:
        self._next += k
        return [key_name(i) for i in range(self._next - k, self._next)]


class ZipfKeys:
    """Draw distinct keys with probability ∝ 1 / rank**s."""

    def __init__(self, rng: random.Random, keyspace: int, s: float):
        self._rng = rng
        self._cum = list(itertools.accumulate(1.0 / (r + 1) ** s for r in range(keyspace)))
        self._ids = list(range(keyspace))
        rng.shuffle(self._ids)

    def draw(self, k: int) -> list[str]:
        total = self._cum[-1]
        out: list[str] = []
        while len(out) < k:
            rank = bisect.bisect_left(self._cum, self._rng.random() * total)
            key = key_name(self._ids[rank])
            if key not in out:
                out.append(key)
        return out


@dataclass
class TxnMix:
    """Stateful generator of the CAS / insert / delete / read-only mix."""

    rng: random.Random
    keys: ZipfKeys
    shadow: dict[str, str]
    fresh_base: int
    p_current: float = 0.75

    def __post_init__(self) -> None:
        self._version = 0
        self._fresh = 0

    def _new_value(self, key: str) -> str:
        self._version += 1
        return f"{key}:w{self._version}"

    def _expect(self, key: str) -> str | None:
        """Current shadow value, or a stale guess."""
        if self.rng.random() < self.p_current:
            return self.shadow.get(key)
        return self.rng.choice([None, f"{key}:v0", f"{key}:w{self._version}"])

    def next(self, hot_key: str | None = None) -> tuple[list, list]:
        """One transaction's asserts and updates. ``hot_key`` forces a CAS
        read-modify-write that includes that key."""
        rng = self.rng
        r = 0.0 if hot_key else rng.random()
        if r < 0.40:  # CAS read-modify-write
            keys = self.keys.draw(rng.randint(1, 2))
            if hot_key:
                keys = [hot_key, *keys[1:]]
            asserts = [(k, self._expect(k)) for k in keys]
            updates = [(k, self._new_value(k)) for k in keys]
        elif r < 0.60:  # expect-absent insert
            if rng.random() < 0.5:
                keys = [key_name(self.fresh_base + self._fresh)]
                self._fresh += 1
            else:
                keys = self.keys.draw(1)
            asserts = [(k, None) for k in keys]
            updates = [(k, self._new_value(k)) for k in keys]
        elif r < 0.75:  # delete
            keys = self.keys.draw(1)
            asserts = [(k, self._expect(k)) for k in keys]
            updates = [(k, None) for k in keys]
        else:  # read-only
            keys = self.keys.draw(rng.randint(1, 4))
            asserts = [(k, self._expect(k)) for k in keys]
            updates = []
        return asserts, updates

    def txn(self, txn_id: str, ts: datetime, partition: int, offset: int,
            hot_key: str | None = None) -> dict:
        asserts, updates = self.next(hot_key)
        txn = {
            "ts": ts,
            "kafka_partition": partition,
            "kafka_offset": offset,
            "transaction_id": txn_id,
            "asserts": asserts,
            "updates": updates,
        }
        if all(self.shadow.get(k) == v for k, v in asserts):
            for k, v in updates:
                if v is None:
                    self.shadow.pop(k, None)
                else:
                    self.shadow[k] = v
        return txn


def kv_calls(
    seed: int, n_calls: int, txns_per_call: int, keyspace: int, zipf_s: float
) -> list[list[dict]]:
    """``n_calls`` batches for ``StreamyDB.execute`` against a store
    preloaded with ``initial_state(keyspace)``. Call ``c`` carries
    timestamps on day ``c`` so the serial order across calls is the call
    order; inside a call, partition 0 and offsets 0.. give the order."""
    rng = random.Random(seed)
    mix = TxnMix(
        rng, ZipfKeys(rng, keyspace, zipf_s), initial_state(keyspace),
        fresh_base=keyspace,
    )
    calls = []
    for c in range(n_calls):
        day = BASE_TS + timedelta(days=c)
        calls.append([
            mix.txn(f"s{seed}c{c:03d}t{i:03d}", day + timedelta(milliseconds=i), 0, i)
            for i in range(txns_per_call)
        ])
    return calls


def stream_txns(seed: int, n_txns: int, hot_keys: int, writers_per_hot_key: int) -> list[dict]:
    """One closed log for the continuous streaming replay: empty initial
    state, four Kafka partitions with dense offsets, ~3 transactions per
    timestamp (ties broken by partition and offset).

    Conflicts are planted, not drawn: every other key is fresh, and each
    of ``hot_keys`` keys is written by exactly ``writers_per_hot_key``
    CAS transactions at seeded positions. Each later writer on a hot key
    waits for the verdict of the one before it, so every seed needs the
    same number of feedback rounds (``writers_per_hot_key``) and the
    same share of transactions decides in each round."""
    if hot_keys * writers_per_hot_key > n_txns:
        raise ValueError("more planted hot-key writers than transactions")
    rng = random.Random(seed)
    mix = TxnMix(rng, FreshKeys(hot_keys), {}, fresh_base=1_000_000_000)
    writers = rng.sample(range(n_txns), hot_keys * writers_per_hot_key)
    hot = {i: key_name(j % hot_keys) for j, i in enumerate(writers)}
    return [
        mix.txn(f"s{seed}t{i:06d}", BASE_TS + timedelta(seconds=i // 3), i % 4, i // 4,
                hot.get(i))
        for i in range(n_txns)
    ]


def corpus_docs(
    seed: int, n_base: int, exact_copies: int, near_copies: int, edits: int,
    vocab: int, words: list[int], sources: int,
) -> tuple[list[dict], dict[str, list[tuple[int, int]]]]:
    """Rows of a ``documents`` table (``doc_id``, ``text``, ``lang``,
    ``source``, ``n_chars``) and the planted pairs: ``{"exact": [(base
    id, copy id), ...], "near": [...]}``. Base texts are ``words[0]`` to
    ``words[1]`` words drawn from a ``vocab``-word lexicon; a near copy
    replaces ``edits`` of its base's words. Every planted copy has its own base document,
    and doc ids are a seeded permutation, so a copy's id may be below its
    base's."""
    rng = random.Random(seed)
    lexicon = [f"w{i:05d}" for i in range(vocab)]
    texts: list[list[str]] = []
    seen: set[str] = set()
    while len(texts) < n_base:
        toks = [rng.choice(lexicon) for _ in range(rng.randint(*words))]
        if " ".join(toks) not in seen:
            seen.add(" ".join(toks))
            texts.append(toks)
    bases = rng.sample(range(n_base), exact_copies + near_copies)
    planted: list[tuple[str, int]] = []  # (kind, base index); copy index is n_base + position
    for j, b in enumerate(bases):
        toks = list(texts[b])
        kind = "exact" if j < exact_copies else "near"
        if kind == "near":
            for pos in rng.sample(range(len(toks)), edits):
                word = toks[pos]
                while word == toks[pos]:
                    word = rng.choice(lexicon)
                toks[pos] = word
        texts.append(toks)
        planted.append((kind, b))
    ids = list(range(len(texts)))
    rng.shuffle(ids)
    rows = [
        {"doc_id": ids[i], "text": " ".join(t), "lang": "en",
         "source": f"src{rng.randrange(sources)}", "n_chars": len(" ".join(t))}
        for i, t in enumerate(texts)
    ]
    pairs: dict[str, list[tuple[int, int]]] = {"exact": [], "near": []}
    for j, (kind, b) in enumerate(planted):
        pairs[kind].append((ids[b], ids[n_base + j]))
    return rows, pairs


def digest(obj) -> str:
    """Stable content hash of generated inputs (timestamps as ISO text)."""
    blob = json.dumps(obj, default=str, sort_keys=True).encode()
    return hashlib.sha256(blob).hexdigest()[:16]


def main(argv: list[str] | None = None) -> None:
    from shapes import SHAPES  # noqa: PLC0415 - script-mode import

    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--workload", choices=sorted(SHAPES), default="kv_interactive")
    args = ap.parse_args(argv)
    shape = SHAPES[args.workload]
    if args.workload == "kv_interactive":
        data = kv_calls(args.seed, shape["max_calls"], shape["txns_per_call"],
                        shape["keyspace"], shape["zipf_s"])
        n = sum(len(c) for c in data)
    elif args.workload == "corpus_build":
        data = corpus_docs(args.seed, **corpus_args(shape))
        n = len(data[0])
    else:
        data = stream_txns(args.seed, shape["n_txns"], shape["hot_keys"],
                           shape["writers_per_hot_key"])
        n = len(data)
    print(json.dumps({"workload": args.workload, "seed": args.seed,
                      "items": n, "digest": digest(data)}))


def corpus_args(shape: dict) -> dict:
    """The ``corpus_docs`` keyword arguments of a corpus_build shape."""
    return {k: shape[k] for k in ("n_base", "exact_copies", "near_copies", "edits",
                                  "vocab", "words", "sources")}


if __name__ == "__main__":
    main()
