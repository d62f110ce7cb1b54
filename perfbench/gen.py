"""Seeded input generators.

Everything a run feeds the program comes from one
``numpy.random.Generator`` seeded with ``--seed``: the same seed gives
the same files, byte for byte. Timestamps are UTC (``timestamp[us,
tz=UTC]``); a naive pyarrow timestamp would read back as
``TimestampNTZ``. File mtimes are forced to increase in write order,
because ``maxFilesPerTrigger=1`` picks files by mtime and epoch order
must follow file order.
"""

from __future__ import annotations

import os
import time

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

EVENT_SCHEMA = pa.schema(
    [
        ("event_id", pa.int64()),
        ("ts", pa.timestamp("us", tz="UTC")),
        ("user_id", pa.int64()),
        ("value", pa.float64()),
    ]
)
DOC_SCHEMA = pa.schema([("doc_id", pa.int64()), ("text", pa.string())])

#: Key of the trailing watermark-advancing events of an event-time
#: stream; its alerts are filtered out before the check.
SENTINEL_KEY = -1

_T0_US = 1_700_000_000_000_000


class FileWriter:
    """Writes one parquet file per micro-batch into ``path`` with
    strictly increasing mtimes (2 s apart, in the past)."""

    def __init__(self, path: str, n_files: int):
        os.makedirs(path, exist_ok=True)
        self.path = path
        self.n = 0
        self.base = time.time() - 2.0 * (n_files + 1)

    def write(self, table: pa.Table) -> str:
        f = os.path.join(self.path, f"part-{self.n:05d}.parquet")
        pq.write_table(table, f)
        mtime = self.base + 2.0 * self.n
        os.utime(f, (mtime, mtime))
        self.n += 1
        return f


def _values(rng: np.random.Generator, n: int) -> np.ndarray:
    """Two-decimal values around 100 with 1% spikes over every
    value rule's threshold."""
    v = rng.normal(100.0, 30.0, n)
    spike = rng.random(n) < 0.01
    v[spike] = rng.uniform(300.0, 500.0, int(spike.sum()))
    return np.round(v, 2)


def _zipf_keys(rng: np.random.Generator, n: int, n_keys: int, s: float) -> np.ndarray:
    p = 1.0 / np.arange(1, n_keys + 1, dtype=np.float64) ** s
    return rng.choice(n_keys, n, p=p / p.sum()).astype(np.int64)


def _event_table(ids, ts_us, keys, values) -> pa.Table:
    return pa.table(
        [
            pa.array(ids, pa.int64()),
            pa.array(ts_us, pa.timestamp("us", tz="UTC")),
            pa.array(keys, pa.int64()),
            pa.array(values, pa.float64()),
        ],
        schema=EVENT_SCHEMA,
    )


def detect_events(
    rng: np.random.Generator,
    shape: str,
    n_files: int,
    per_file: int,
    *,
    first_id: int = 0,
) -> list[pa.Table]:
    """One table per micro-batch, in delivery order.

    ``shape``:
      - ``hot``: ~1,500 Zipf(1.1) keys with long histories, arrival order
        (timestamps strictly increase across files);
      - ``churn``: 90% of events from keys never seen before, 10% from
        20 hot keys that fire, arrival order;
      - ``late``: ``hot``'s keys, but 20% of events are delivered up to
        3 s after their timestamp, so they land in a later file than
        their event time; always inside the 5 s watermark.
    """
    n = n_files * per_file
    ids = np.arange(first_id, first_id + n, dtype=np.int64)
    # whole, strictly increasing milliseconds: the rules' time axis is
    # epoch ms, and two events of one key in the same millisecond are
    # counted differently by the batch plan's RANGE frame (peers
    # included) and the streaming processor (earlier events only)
    if shape == "late":
        gaps_ms = rng.integers(1, 40, n)  # 20 ms mean: delays cross files
    else:
        gaps_ms = rng.integers(1, 4_000, n)  # 2 s mean: histories span hours
    ts = _T0_US + 1_000 * np.cumsum(gaps_ms)
    if shape == "churn":
        fresh = rng.random(n) < 0.9
        keys = np.where(
            fresh,
            1_000_000 + first_id + np.arange(n, dtype=np.int64),
            rng.integers(0, 20, n),
        )
    else:
        keys = _zipf_keys(rng, n, 1_500, 1.1)
    values = _values(rng, n)
    if shape != "late":
        return [
            _event_table(*(a[i : i + per_file] for a in (ids, ts, keys, values)))
            for i in range(0, n, per_file)
        ]
    delay = np.where(rng.random(n) < 0.2, rng.integers(0, 3_000_000, n), 0)
    order = np.argsort(ts + delay, kind="stable")
    out = []
    for i in range(0, n, per_file):
        sel = order[i : i + per_file]
        out.append(_event_table(ids[sel], ts[sel], keys[sel], values[sel]))
    # two sentinel files past max(ts): the first moves the watermark past
    # every real event, the second carries that watermark into effect
    t_max = int(ts.max())
    for j, off in enumerate((10_000_000, 20_000_000)):
        out.append(
            _event_table([-(j + 1)], [t_max + off], [SENTINEL_KEY], [0.0])
        )
    return out


def _vocab(rng: np.random.Generator, n_words: int) -> list[str]:
    letters = np.frombuffer(b"abcdefghijklmnopqrstuvwxyz", dtype=np.uint8)
    lens = rng.integers(3, 10, n_words)
    return [letters[rng.integers(0, 26, k)].tobytes().decode() for k in lens]


def _docs(rng: np.random.Generator, vocab: list[str], n: int) -> list[str]:
    lens = rng.integers(12, 40, n)
    picks = rng.integers(0, len(vocab), int(lens.sum()))
    out, at = [], 0
    for k in lens:
        out.append(" ".join(vocab[j] for j in picks[at : at + k]))
        at += k
    return out


def ingest_docs(
    rng: np.random.Generator,
    n_corpus: int,
    n_epochs: int,
    novel_per_epoch: int,
    plants_per_epoch: int,
) -> tuple[pa.Table, list[pa.Table]]:
    """(corpus, epochs) in the shape of the x91 ingest loop: each epoch
    holds novel docs plus exact copies, under new ids, of corpus docs
    (must be rejected by the built index) and of earlier epochs' docs
    (must be rejected by rows the loop itself appended)."""
    vocab = _vocab(rng, 4_000)
    corpus_text = _docs(rng, vocab, n_corpus)
    corpus = pa.table(
        [pa.array(np.arange(n_corpus, dtype=np.int64)), pa.array(corpus_text)],
        schema=DOC_SCHEMA,
    )
    next_id = n_corpus
    earlier: list[str] = []
    epochs = []
    for _ in range(n_epochs):
        texts = _docs(rng, vocab, novel_per_epoch)
        n_old = plants_per_epoch // 2 if earlier else 0
        texts += [corpus_text[i] for i in rng.integers(0, n_corpus, plants_per_epoch - n_old)]
        texts += [earlier[i] for i in rng.integers(0, max(len(earlier), 1), n_old)]
        earlier += texts[:novel_per_epoch]
        perm = rng.permutation(len(texts))
        ids = np.arange(next_id, next_id + len(texts), dtype=np.int64)
        next_id += len(texts)
        epochs.append(
            pa.table(
                [pa.array(ids), pa.array([texts[i] for i in perm])],
                schema=DOC_SCHEMA,
            )
        )
    return corpus, epochs


def _trigram_set(text: str) -> frozenset:
    b = text.encode("utf-8")
    return frozenset(b[i : i + 3] for i in range(len(b) - 2))


def dedup_oracle(corpus: pa.Table, epochs: list[pa.Table]) -> set[int]:
    """Accepted doc ids under threshold 1.0: a doc is rejected iff its
    distinct byte-trigram set equals that of an indexed doc (the corpus
    plus every doc accepted in an EARLIER epoch). Docs in one epoch are
    not matched against each other."""
    index = {_trigram_set(t) for t in corpus.column("text").to_pylist()}
    accepted: set[int] = set()
    for ep in epochs:
        new = [
            (i, _trigram_set(t))
            for i, t in zip(ep.column("doc_id").to_pylist(), ep.column("text").to_pylist())
        ]
        keep = [(i, s) for i, s in new if s and s not in index]
        accepted.update(i for i, _ in keep)
        index.update(s for _, s in keep)
    return accepted
