"""The pool -> group -> chunk steps shared by the Arrow kernel fabrics."""

from __future__ import annotations

import numpy as np
import pandas as pd

from fforma_spark.functions import dispatch as D


def _batch(lo: int, hi: int) -> pd.DataFrame:
    return pd.DataFrame(
        {"doc_id": [str(i) for i in range(lo, hi)],
         "tokens": [np.arange(i % 5) for i in range(lo, hi)]}
    )


def test_pooled_keeps_order_and_flushes_at_row_cap(monkeypatch):
    monkeypatch.setattr(D, "POOL_ROWS", 25)
    batches = [_batch(0, 10), _batch(10, 10), _batch(10, 30), _batch(30, 40)]
    pools = list(D.pooled(iter(batches)))
    assert [len(p) for p in pools] == [30, 10]
    ids = [d for p in pools for d in p["doc_id"]]
    assert ids == [str(i) for i in range(40)]


def test_pooled_flushes_at_token_cap(monkeypatch):
    monkeypatch.setattr(D, "POOL_TOKENS", 15)  # each batch holds 20 tokens
    pools = list(D.pooled(iter([_batch(0, 10), _batch(10, 20)])))
    assert [len(p) for p in pools] == [10, 10]


def test_pooled_all_empty_input_yields_one_empty_frame():
    pools = list(D.pooled(iter([_batch(0, 0), _batch(0, 0)])))
    assert len(pools) == 1 and len(pools[0]) == 0
    assert list(D.pooled(iter([]))) == []


def test_groups_cover_every_row_once_in_ascending_order():
    a = np.array([3, 1, 3, 1, 2, 3])
    b = np.array([0, 0, 1, 0, 0, 0])
    got = list(D.groups(a, b))
    assert [k for k, _ in got] == [(1, 0), (2, 0), (3, 0), (3, 1)]
    assert [i.tolist() for _, i in got] == [[1, 3], [4], [0, 5], [2]]
    assert list(D.groups(np.array([], dtype=np.int64))) == []


def test_blocks_respect_budget_and_stack_rows():
    seqs = [np.full(10, i) for i in range(7)]
    idx = np.array([6, 0, 3, 5, 1])
    got = list(D.blocks(seqs, idx, 10, 25))  # 2 rows of 10 per block
    assert [s.tolist() for s, _ in got] == [[6, 0], [3, 5], [1]]
    for sub, X in got:
        assert X.flags.c_contiguous and X.dtype == np.float64
        assert (X == sub[:, None]).all()
    # width scales the per-row cost; a row over budget still runs alone
    assert len(list(D.blocks(seqs, idx, 10, 25, width=7))) == 5


def test_pooled_token_cap_can_be_lowered_per_fabric():
    pools = list(D.pooled(iter([_batch(0, 10), _batch(10, 20)]), 15))
    assert [len(p) for p in pools] == [10, 10]
