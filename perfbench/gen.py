"""Seeded input generator for the benchmark.

Owned by the benchmark on purpose: it imports nothing from
``fforma_spark``, so a change to the program cannot change what the
benchmark feeds it. Every random stream is a Philox (counter-based)
generator keyed by ``(seed, stream)``, so the same seed always gives the
same bytes and streams never share state.

Two tables, both written with pyarrow in this one process:

* ``sequences`` (FIXTURES.md section 1): ``doc_id, tokens array<int>,
  n_tok, source``. The first letter of ``doc_id`` is the regime group;
  the ``S`` group is sparse (zero-inflated). Lengths are log-normal;
  every 97th doc is a whale of 100x the median length, every 53rd sits
  at the minimum length ``3*h +- 1`` and every 41st is constant.
* ``events`` (the testdata ``events`` schema): per-user event counts are
  log-normal (skewed). Values are multiples of 0.25, so every sum of
  them is exact in a double and the tier checks can compare exactly.

The total number of points and events depends on the sizes only, not on
the seed, so seeds change the data and not the amount of work.
"""

from __future__ import annotations

import hashlib
import os
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# (group letter, seasonality, horizon), mirroring the M4 conventions
GROUPS = (
    ("H", 24, 48),
    ("D", 7, 14),
    ("W", 52, 13),
    ("M", 12, 18),
    ("Q", 4, 8),
    ("Y", 1, 6),
    ("S", 1, 8),
)
WHALE_EVERY = 97
MINLEN_EVERY = 53
CONST_EVERY = 41
WHALE_FACTOR = 100.0
LEN_SIGMA = 0.8

_STREAMS = {"lengths": 1, "values": 2, "events": 3}


def rng(seed: int, stream: str) -> np.random.Generator:
    """Counter-based generator for one named stream of one seed."""
    return np.random.Generator(
        np.random.Philox(key=[int(seed) & (2**64 - 1), _STREAMS[stream]])
    )


@dataclass
class Sequences:
    doc_id: np.ndarray  # object array of str
    lengths: np.ndarray  # int64
    offsets: np.ndarray  # int64, len(docs) + 1
    values: np.ndarray  # int32, all tokens back to back
    group: np.ndarray  # int64 index into GROUPS
    whale: np.ndarray  # bool

    def tokens(self, i: int) -> np.ndarray:
        return self.values[self.offsets[i] : self.offsets[i + 1]]


@dataclass
class Events:
    user_id: np.ndarray  # int64, rows in event_id order
    ts_us: np.ndarray  # int64 microseconds
    value: np.ndarray  # float64, multiples of 0.25

    def per_user_series(self) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
        """(user ids, run offsets, values) with each user's values in
        (ts, event_id) order: the panel ``panel_from_events`` defines."""
        event_id = np.arange(len(self.user_id))
        order = np.lexsort((event_id, self.ts_us, self.user_id))
        users, starts = np.unique(self.user_id[order], return_index=True)
        offsets = np.append(starts, len(order)).astype(np.int64)
        return users, offsets, self.value[order]


def make_sequences(seed: int, n_docs: int, median_len: int) -> Sequences:
    r = rng(seed, "lengths")
    idx = np.arange(n_docs)
    group = idx % len(GROUPS)
    horizon = np.array([g[2] for g in GROUPS])[group]
    lengths = np.rint(
        median_len * np.exp(LEN_SIGMA * r.standard_normal(n_docs))
    ).astype(np.int64)
    lengths = np.clip(lengths, 3 * horizon + 2, 20 * median_len)
    minlen = idx % MINLEN_EVERY == 1
    lengths[minlen] = 3 * horizon[minlen] + (idx[minlen] // MINLEN_EVERY) % 3 - 1
    whale = idx % WHALE_EVERY == 0
    lengths[whale] = int(WHALE_FACTOR * median_len)
    # the other docs share a fixed total (the log-normal mean), so every
    # seed gives the same number of points and the same whale sizes
    rest = ~(whale | minlen)
    lengths[rest] = fixed_total(
        lengths[rest], int(rest.sum() * median_len * np.exp(LEN_SIGMA**2 / 2)),
        3 * horizon[rest] + 2,
    )
    offsets = np.zeros(n_docs + 1, dtype=np.int64)
    np.cumsum(lengths, out=offsets[1:])

    v = rng(seed, "values")
    total = int(offsets[-1])
    doc_of = np.repeat(idx, lengths)
    pos = np.arange(total, dtype=np.int64) - offsets[:-1][doc_of]
    level = v.uniform(20.0, 500.0, n_docs)
    slope = v.normal(0.0, 1.0, n_docs) * level / (2.0 * lengths)
    amp = v.uniform(0.0, 0.3, n_docs) * level
    phase = v.uniform(0.0, 2.0 * np.pi, n_docs)
    season = np.array([g[1] for g in GROUPS], dtype=np.float64)[group]
    y = (
        level[doc_of]
        + slope[doc_of] * pos
        + amp[doc_of] * np.sin(2.0 * np.pi * pos / season[doc_of] + phase[doc_of])
        + v.normal(0.0, 1.0, total) * (0.1 * level[doc_of])
    )
    sparse = (group == len(GROUPS) - 1)[doc_of]
    zero = v.uniform(0.0, 1.0, total) < 0.6
    y = np.where(sparse, np.where(zero, 0.0, v.exponential(1.0, total) * 8.0), y)
    const = (idx % CONST_EVERY == 2)[doc_of]
    y = np.where(const, np.rint(level[doc_of]), y)
    values = np.clip(np.rint(y), 0, None).astype(np.int32)
    doc_id = np.array(
        [f"{GROUPS[g][0]}{i}" for i, g in zip(idx, group)], dtype=object
    )
    return Sequences(doc_id, lengths, offsets, values, group, whale)


def fixed_total(sizes: np.ndarray, total: int, floor) -> np.ndarray:
    """Integer sizes summing to exactly ``total``: ``floor`` each plus the
    rest shared in proportion to how far ``sizes`` exceed the floor."""
    floor = np.broadcast_to(np.asarray(floor, dtype=np.int64), sizes.shape)
    extra = np.maximum(sizes - floor, 0).astype(np.float64)
    room = total - int(floor.sum())
    if room < 0 or extra.sum() == 0:
        raise ValueError(f"cannot share {total} over {len(sizes)} sizes")
    out = floor + np.floor(extra * (room / extra.sum())).astype(np.int64)
    out[np.argmax(out)] += total - int(out.sum())
    return out


def make_events(seed: int, n_users: int, mean_events: int) -> Events:
    r = rng(seed, "events")
    counts = fixed_total(
        np.exp(1.0 * r.standard_normal(n_users)), n_users * mean_events, 1
    )
    total = int(counts.sum())
    user = np.repeat(np.arange(n_users, dtype=np.int64), counts)
    span_us = 30 * 86400 * 10**6
    ts = np.int64(1704067200 * 10**6) + r.integers(0, span_us, total)
    value = r.integers(0, 400, total).astype(np.float64) * 0.25
    order = np.argsort(ts, kind="stable")
    return Events(user[order], ts[order], value[order])


def _write_parts(table: pa.Table, path: str, n_files: int) -> int:
    os.makedirs(path, exist_ok=True)
    n = table.num_rows
    cuts = np.linspace(0, n, n_files + 1).astype(np.int64)
    for k in range(n_files):
        part = table.slice(int(cuts[k]), int(cuts[k + 1] - cuts[k]))
        pq.write_table(part, os.path.join(path, f"part-{k:04d}.parquet"))
    return n_files


def write_sequences(seqs: Sequences, path: str, n_files: int) -> int:
    tokens = pa.ListArray.from_arrays(
        pa.array(seqs.offsets.astype(np.int32)), pa.array(seqs.values)
    )
    kinds = np.array(["synth-" + g[0].lower() for g in GROUPS], dtype=object)
    source = np.where(seqs.group == len(GROUPS) - 1, "synth-sparse", kinds[seqs.group])
    table = pa.table(
        {
            "doc_id": pa.array(seqs.doc_id, pa.string()),
            "tokens": tokens,
            "n_tok": pa.array(seqs.lengths.astype(np.int32)),
            "source": pa.array(source, pa.string()),
        }
    )
    return _write_parts(table, path, n_files)


def write_events(ev: Events, path: str, n_files: int) -> int:
    n = len(ev.user_id)
    idx = pa.array(np.arange(n) % 100)
    kinds = pa.array(["view", "click", "error", "buy"] * 25)
    props = pa.array([f'{{"k": {k}}}' for k in range(100)])
    table = pa.table(
        {
            "event_id": pa.array(np.arange(n, dtype=np.int64)),
            "ts": pa.array(ev.ts_us, pa.timestamp("us")),
            "user_id": pa.array(ev.user_id),
            "event_type": kinds.take(idx),
            "value": pa.array(ev.value),
            "props": props.take(idx),
        }
    )
    return _write_parts(table, path, n_files)


def dir_digest(path: str) -> str:
    """sha256 over every file under ``path`` in name order."""
    h = hashlib.sha256()
    for root, dirs, files in sorted(os.walk(path)):
        dirs.sort()
        for name in sorted(files):
            h.update(name.encode())
            with open(os.path.join(root, name), "rb") as f:
                h.update(f.read())
    return h.hexdigest()
