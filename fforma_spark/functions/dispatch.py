"""One kernel dispatcher for the per-series Arrow fabrics.

The feature, codec and forecast ``mapInPandas`` bodies all run the same
three steps before a batched numpy kernel sees any data:

1. **pool** — coalesce the incoming Arrow batches (maxRecordsPerBatch
   is a global 4096) into bigger frames, so same-shape groups are
   taller (measured: 92% of rows land in batchable feature groups at a
   10k pool vs 56% at 2k on the bench length distribution);
2. **group** — sort the pool's rows by a shape key (length, and
   seasonality/horizon where the kernel needs them);
3. **chunk** — split each group into row blocks under an element
   budget, and stack each block into one matrix for the kernel.

Which path a group takes (batched kernel or per-row scalar twin) stays
with each fabric, decided on the whole group's height. Rows are
independent in every batched kernel, so neither pooling nor chunking
changes a single output bit.
"""

from __future__ import annotations

from collections.abc import Iterable, Iterator, Sequence

import numpy as np
import pandas as pd

#: pool up to this many rows, or this many tokens (~128 MB of float64
#: series data), whichever comes first — the token cap keeps a
#: whale-heavy pool from ballooning worker memory
POOL_ROWS = 50_000
POOL_TOKENS = 16_000_000

#: Cache block (~384 KB of float64) for kernels that vectorize over the
#: series axis n (features, codec): big enough to amortize numpy call
#: dispatch, small enough that the block and its temporaries stay
#: cache-resident. Measured on a 32-core host, 8 vs 32 workers, n=93
#: series: 50k-row blocks collapsed 32-way throughput to 0.76x of
#: 8-way (DRAM-bandwidth saturation), ~512-row blocks gave the best
#: absolute 32-way throughput (~7x unchunked) and near-linear scaling.
CACHE_ELEMS = 48_000

#: Memory cap for recurrence kernels (forecast group calls, counting
#: TSB's 7-wide beta grid, and the SES alpha-search pods): they loop
#: over n in Python with one numpy op per step across the rows, so each
#: call repeats the whole n-step loop and cache-sized blocks would
#: multiply it. This cap only bounds peak memory. Measured on a 4-core
#: host over one strictly-positive 200 x 10k group, untraced: 4-row
#: blocks 12.5-14.4 s, this cap 3.0-3.5 s, unblocked 3.0-3.7 s; traced
#: peak 516 MiB unblocked, 169 MiB under the cap; output bit-identical.
MEMORY_ELEMS = 4_000_000


def lengths(seqs: Iterable) -> np.ndarray:
    """Length of every sequence, as int64."""
    return np.fromiter((len(t) for t in seqs), dtype=np.int64)


def pooled(
    it: Iterator[pd.DataFrame], max_tokens: int | None = None
) -> Iterator[pd.DataFrame]:
    """Concatenate consecutive batches up to ``POOL_ROWS`` rows or
    ``max_tokens`` tokens (the ``tokens`` column; default
    ``POOL_TOKENS``), keeping row order.

    Empty batches are dropped; an input with no rows at all yields one
    empty frame, so the fabric still emits its (empty) schema once.
    """
    max_tokens = POOL_TOKENS if max_tokens is None else max_tokens
    buf: list[pd.DataFrame] = []
    rows = tokens = 0
    empty = None
    for pdf in it:
        if len(pdf) == 0:
            empty = pdf
            continue
        buf.append(pdf)
        rows += len(pdf)
        tokens += int(lengths(pdf["tokens"]).sum())
        if rows >= POOL_ROWS or tokens >= max_tokens:
            yield pd.concat(buf, ignore_index=True) if len(buf) > 1 else buf[0]
            buf, rows, tokens, empty = [], 0, 0, None
    if buf:
        yield pd.concat(buf, ignore_index=True) if len(buf) > 1 else buf[0]
    elif empty is not None:
        yield empty


def groups(*keys: np.ndarray) -> Iterator[tuple[tuple[int, ...], np.ndarray]]:
    """Row indices grouped by equal key tuples, first key most
    significant. Yields ``(key, idx)``; ``idx`` is ascending."""
    if len(keys[0]) == 0:
        return
    order = np.lexsort(keys[::-1])  # stable: idx stays ascending
    k = np.stack([np.asarray(key)[order] for key in keys], axis=1)
    bounds = np.flatnonzero(np.r_[True, (k[1:] != k[:-1]).any(axis=1)])
    for lo, hi in zip(bounds, np.r_[bounds[1:], len(order)]):
        yield tuple(int(v) for v in k[lo]), order[lo:hi]


def blocks(
    seqs: Sequence,
    idx: np.ndarray,
    n: int,
    budget: int,
    dtype=np.float64,
    width: int = 1,
) -> Iterator[tuple[np.ndarray, np.ndarray]]:
    """Split group ``idx`` (every ``seqs[i]`` of length ``n``) into row
    blocks of at most ``budget // (width * n)`` rows, at least one, and
    yield ``(block_idx, X)`` with ``X`` the block's rows stacked as a
    C-contiguous ``(rows, n)`` matrix. ``width`` is the kernel's widest
    per-row temporary in multiples of n."""
    step = max(1, budget // max(width * n, 1))
    for lo in range(0, len(idx), step):
        sub = idx[lo : lo + step]
        X = np.empty((len(sub), n), dtype=dtype)
        for j, i in enumerate(sub):
            X[j] = seqs[i]
        yield sub, X
