"""Tests of the benchmark itself (no Spark session needed).

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import json
import os
import re

import numpy as np
import pytest

import gen
import run
import spans
import workloads

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _write(seed: int, path: str) -> str:
    s = gen.make_sequences(seed, 120, 80)
    gen.write_sequences(s, os.path.join(path, "sequences.parquet"), 3)
    e = gen.make_events(seed, 30, 20)
    gen.write_events(e, os.path.join(path, "events.parquet"), 3)
    return gen.dir_digest(path)


def test_same_seed_same_bytes_other_seed_other_bytes(tmp_path):
    a = _write(7, str(tmp_path / "a"))
    b = _write(7, str(tmp_path / "b"))
    c = _write(8, str(tmp_path / "c"))
    assert a == b
    assert a != c


def test_generator_shapes():
    s = gen.make_sequences(3, 300, 80)
    assert int(s.whale.sum()) == len(range(0, 300, gen.WHALE_EVERY))
    assert set(s.lengths[s.whale]) == {int(gen.WHALE_FACTOR * 80)}
    assert s.lengths.sum() == gen.make_sequences(4, 300, 80).lengths.sum()
    assert s.values.min() >= 0
    sparse = s.group == len(gen.GROUPS) - 1
    zeros = np.array([np.mean(s.tokens(i) == 0) for i in np.flatnonzero(sparse)])
    assert zeros.mean() > 0.4
    const = [i for i in range(300) if i % gen.CONST_EVERY == 2]
    assert all(np.ptp(s.tokens(i)) == 0 for i in const)


def test_metric_names_and_declared_layers():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    names = [m["name"] for m in spec["end_to_end"] + spec["per_layer"]]
    assert len(names) == len(set(names))
    for name in names:
        assert re.fullmatch(r"[A-Za-z0-9_.-]+", name), name
    declared = {m["name"] for m in spec["per_layer"]}
    # every span name the workloads open is a declared per-layer metric
    src = open(os.path.join(ROOT, "perfbench", "workloads.py")).read()
    opened = set(re.findall(r'tr\.(?:call|span)\("([a-z_.0-9]+)"', src))
    assert opened and {n + "_s" for n in opened} <= declared
    for key in spans.SPARK_KEYS:
        if key in ("exchanges", "codegen_stages"):
            assert f"operators.{key}" in declared
        else:
            assert f"spark.{key}" in declared


def _span(sid, parent, lo, hi, name="x", p=1):
    return {"id": sid, "name": name, "parent": parent, "pass": p, "start": lo, "end": hi}


def test_self_time_arithmetic():
    s = [
        _span(0, None, 0.0, 10.0, "pass"),
        _span(1, 0, 1.0, 4.0, "a"),
        _span(2, 0, 3.0, 6.0, "b"),  # overlaps a: union 1..6 is 5 s
        _span(3, 0, 8.0, 9.0, "c"),
        _span(4, 1, 2.0, 2.5, "d"),
    ]
    st = spans.self_times(s)
    assert st[0] == pytest.approx(10.0 - 5.0 - 1.0)
    assert st[1] == pytest.approx(3.0 - 0.5)
    assert st[2] == pytest.approx(3.0)
    assert st[4] == pytest.approx(0.5)
    metrics, rows = spans.layer_metrics(s, {}, {1})
    assert metrics["a_s"] == pytest.approx(2.5)
    assert "pass_s" not in metrics
    assert {r["layer"] for r in rows} == {"pass", "a", "b", "c", "d"}


def test_tracer_records_spans_and_disabled_tracer_records_none():
    tr = spans.Tracer(True)
    tr.pass_id = 5
    with tr.span("outer"):
        assert tr.call("inner", lambda x: x + 1, 1) == 2
    assert [(s["name"], s["parent"], s["pass"]) for s in tr.spans] == [
        ("outer", None, 5),
        ("inner", 0, 5),
    ]
    off = spans.Tracer(False)
    with off.span("outer"):
        off.call("inner", lambda: None)
    assert off.spans == []


def test_combine_picks_slowest_stage_straggler():
    a = spans.empty() | {"task_busy_s": 1.0, "slowest_stage_s": 2.0,
                         "straggler_ratio": 3.0, "attempts": 4, "retries": 1}
    b = spans.empty() | {"task_busy_s": 2.0, "slowest_stage_s": 5.0,
                         "straggler_ratio": 1.5, "attempts": 4, "retries": 0}
    c = spans.combine([a, b])
    assert c["task_busy_s"] == 3.0
    assert c["straggler_ratio"] == 1.5
    assert c["task_retry_ratio"] == pytest.approx(1 / 8)


def _oracle_summary(wl):
    return {k: dict(v) for k, v in wl.oracle.items() if k != "locf"}


class _StubSession:
    spark = None
    jvm_pid = os.getpid()

    def sample_rss(self):
        pass

    def jit_s(self):
        return 0.0


def test_corrupted_tier_counts_as_failed_pass(tmp_path, monkeypatch):
    wl = workloads.TierCascade()
    wl.n_docs, wl.n_users, wl.mean_events = 60, 10, 30
    wl.generate(11, str(tmp_path / "in"), 2)
    locf = {"rows": wl.oracle["locf"]["rows"], "vsum": wl.oracle["locf"]["vsum"], "gaps": 0}
    good = {"summary": _oracle_summary(wl), "locf": locf,
            "resumed": {n: {"resumed": True} for n, _ in workloads.SEQ_TIERS},
            "skew": {"total_tokens": int(wl.seqs.lengths.sum())}}
    assert wl.compare(good) == []
    bad = json.loads(json.dumps(good))
    bad["summary"]["t1m"]["cnt"] += 1
    assert any("t1m.cnt" in p for p in wl.compare(bad))

    class Stub(workloads.TierCascade):
        def run_pass(self, spark, inp, out, tr, pass_id):
            return {"stored_bytes": 1, **(bad if pass_id == 1 else good)}

        def check(self, spark, res):
            return self.compare(res)

    monkeypatch.setattr(run, "MIN_WARM", 2)
    stub = Stub()
    stub.__dict__.update(wl.__dict__)
    stub.warmup = 1
    passes = run.run_session(stub, _StubSession(), spans.Tracer(False), "", str(tmp_path),
                             0.0, lambda m: None)
    assert [bool(p["problems"]) for p in passes] == [False, True, False, False]
    assert [p["warmup"] for p in passes] == [False, True, False, False]


def test_bucket_oracle_matches_a_loop():
    rng = np.random.default_rng(0)
    lengths = rng.integers(1, 50, 20)
    offsets = np.concatenate([[0], np.cumsum(lengths)])
    values = rng.integers(0, 9, int(offsets[-1]))
    got = workloads._bucket_oracle(offsets, values, 7)
    rows = cnt = 0
    vmin = vmax = vfirst = vlast = 0.0
    for i in range(20):
        t = values[offsets[i]:offsets[i + 1]]
        for b in range(0, len(t), 7):
            chunk = t[b:b + 7]
            rows += 1
            cnt += len(chunk)
            vmin += chunk.min()
            vmax += chunk.max()
            vfirst += chunk[0]
            vlast += chunk[-1]
    assert got == {"rows": rows, "cnt": cnt, "vsum": float(values.sum()), "vmin": vmin,
                   "vmax": vmax, "vfirst": vfirst, "vlast": vlast}


def test_owa_of_naive2_is_one():
    y = np.array([1.0, 2.0, 3.0, 4.0])
    f = np.array([2.0, 2.0, 2.0, 2.0])
    doc = np.array([0, 0, 1, 1])
    assert workloads.owa_of(y, f, f, doc, np.array([1.0, 2.0])) == pytest.approx(1.0)


def test_stopwatch_takes_steal_out_in_proportion(monkeypatch):
    clock = {"t": 100.0, "steal": 50.0, "cpu": 10.0}
    monkeypatch.setattr(run.time, "perf_counter", lambda: clock["t"])
    monkeypatch.setattr(run, "steal_s", lambda: clock["steal"])
    monkeypatch.setattr(run, "tree_cpu_s", lambda pids: clock["cpu"])
    sw = run.Stopwatch()
    clock.update(t=110.0, steal=60.0, cpu=40.0)  # 30 CPU-s run, 10 stolen
    got = sw.read()
    assert got["wall_s"] == 10.0 and got["steal_s"] == 10.0 and got["cpu_s"] == 30.0
    assert got["own_s"] == pytest.approx(10.0 * 30 / 40)
