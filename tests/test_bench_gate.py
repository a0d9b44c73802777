"""The scaling harness: the probe-gated headline bench (bench.py
run_gated), the host probe and ladder (scripts/host_calibration.py) and
the spark-submit leg runner (scripts/bench_scaling.py).

run_gated is the headline bench's ONLY per-round performance record —
it must emit exactly one JSON result no matter which subprocess dies
under host contention:
* a crashed calibration probe reads as an out-of-band window (never an
  exception),
* a crashed bench subprocess burns one ATTEMPT (recorded + retried),
  never the whole gate.

All subprocesses are stubbed; no Spark is started.
"""
import importlib
import importlib.util
import json
import os
import types

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SCRIPTS = os.path.join(REPO, "scripts")


@pytest.fixture()
def bench_mod(monkeypatch):
    spec = importlib.util.spec_from_file_location(
        "bench_under_test", os.path.join(REPO, "bench.py")
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    monkeypatch.setattr(mod.time, "sleep", lambda *_: None)
    return mod


@pytest.fixture()
def scripts(monkeypatch):
    monkeypatch.syspath_prepend(SCRIPTS)
    return types.SimpleNamespace(
        calib=importlib.import_module("host_calibration"),
        scaling=importlib.import_module("bench_scaling"),
        ab=importlib.import_module("ab_code_windows"),
    )


def _fake_proc(returncode=0, stdout="", stderr=""):
    return types.SimpleNamespace(
        returncode=returncode, stdout=stdout, stderr=stderr
    )


def _stub_probes(monkeypatch, bench_mod, efficiencies):
    """Replace the host probe with records of the given efficiencies."""
    calib = bench_mod.host_calibration
    effs = iter(efficiencies)

    def fake_probe():
        eff = next(effs)
        return {"levels": [1, 4], "speedup": 4 * eff, "efficiency": eff,
                "in_band": calib.BAND[0] <= eff <= calib.BAND[1]}

    monkeypatch.setattr(calib, "probe", fake_probe)


def test_dead_probe_is_out_of_band_not_fatal(bench_mod, monkeypatch):
    def boom(*a, **k):
        raise OSError("calibration subprocess died")

    monkeypatch.setattr(bench_mod.host_calibration, "measure", boom)
    p = bench_mod.host_calibration.probe()
    assert p["in_band"] is False
    assert "error" in p


def test_failed_bench_attempt_retries_then_accepts(bench_mod, monkeypatch):
    """Attempt 1's bench subprocess dies; attempt 2 succeeds in-band —
    run_gated must return attempt 2's result with the failure on the
    attempts record."""
    good = {"metric": "wall", "value": 1.23, "unit": "sec"}
    calls = {"bench": 0}
    _stub_probes(monkeypatch, bench_mod, [0.93] * 4)

    def fake_run(cmd, **kw):
        calls["bench"] += 1
        if calls["bench"] == 1:
            return _fake_proc(returncode=1, stderr="spark OOM")
        return _fake_proc(stdout=json.dumps(good) + "\n")

    monkeypatch.setattr(bench_mod.subprocess, "run", fake_run)
    out = bench_mod.run_gated()
    assert out["value"] == good["value"]
    gate = out["probe_gate"]
    assert gate["in_band"] is True
    assert gate["levels"] == list(bench_mod.host_calibration.ladder())
    assert any(t.get("failed") for t in gate["attempts"])
    assert calls["bench"] == 2


def test_no_clean_window_picks_best_attempt_flagged(bench_mod, monkeypatch):
    """Every pre-probe is in-band but every post-probe is out-of-band
    (a window that degrades mid-bench, three times): run_gated must
    return the LOWEST-value attempt and flag the gate out-of-band."""
    values = iter([7.7, 5.5, 6.6])
    _stub_probes(monkeypatch, bench_mod, [0.93, 0.5] * 3)

    def fake_run(cmd, **kw):
        return _fake_proc(stdout=json.dumps(
            {"metric": "wall", "value": next(values), "unit": "sec"}
        ) + "\n")

    monkeypatch.setattr(bench_mod.subprocess, "run", fake_run)
    out = bench_mod.run_gated()
    assert out["value"] == 5.5
    gate = out["probe_gate"]
    assert gate["in_band"] is False
    assert [t["value"] for t in gate["attempts"]] == [7.7, 5.5, 6.6]


def test_all_probes_dead_still_emits_one_result(bench_mod, monkeypatch):
    """Every probe crashing = every window out-of-band: the forced
    fallback still produces a flagged result line."""
    good = {"metric": "wall", "value": 9.9, "unit": "sec"}

    def boom(*a, **k):
        raise OSError("probe dead")

    monkeypatch.setattr(bench_mod.host_calibration, "measure", boom)
    monkeypatch.setattr(
        bench_mod.subprocess, "run",
        lambda cmd, **kw: _fake_proc(stdout=json.dumps(good) + "\n"),
    )
    out = bench_mod.run_gated()
    assert out["value"] == good["value"]
    assert out["probe_gate"]["in_band"] is False


def test_ladder_follows_affinity(scripts, monkeypatch):
    for cores, want in ((4, (1, 4)), (32, (8, 32)), (1, (1, 1)), (6, (1, 6))):
        monkeypatch.setattr(
            scripts.calib.os, "sched_getaffinity",
            lambda _pid, n=cores: set(range(n)),
        )
        assert scripts.calib.ladder() == want


def test_band_is_applied_to_efficiency(scripts, monkeypatch):
    """The probe grades speedup ÷ (hi/lo), not the speedup: 3.0× at
    8→32 (efficiency 0.75) is out of band, 3.72× (0.93) is in, and a
    reading past ideal (a contended lo leg) is out."""
    monkeypatch.setattr(scripts.calib, "ladder", lambda: (8, 32))
    for wall_lo, wall_hi, speedup, in_band in (
        (3.0, 4.0, 3.0, False),
        (9.3, 10.0, 3.72, True),
        (12.0, 10.0, 4.8, False),
    ):
        monkeypatch.setattr(
            scripts.calib, "measure",
            lambda n, a=wall_lo, b=wall_hi: {"wall_sec": a if n == 8 else b},
        )
        p = scripts.calib.probe()
        assert p["levels"] == [8, 32]
        assert p["efficiency"] == round(wall_lo / wall_hi, 3)
        assert p["speedup"] == speedup
        assert p["in_band"] is in_band, p


def _capture_run(monkeypatch, module, stdout):
    seen = {}

    def fake_run(cmd, **kw):
        seen["cmd"], seen["kw"] = cmd, kw
        return _fake_proc(stdout=stdout)

    monkeypatch.setattr(module.subprocess, "run", fake_run)
    return seen


def test_leg_command_is_unchanged(scripts, monkeypatch):
    """With SPARK_GRAFT_DRIVER_MEM set, the spark-submit command is
    byte-identical to the one the leg runner built before its JVM flags
    moved to fforma_spark.session.driver_jvm_conf."""
    monkeypatch.setenv("SPARK_GRAFT_DRIVER_MEM", "6g")
    seen = _capture_run(monkeypatch, scripts.scaling, '{"value": 2.5}\n')
    leg = scripts.scaling.run_leg(
        "jobs/build_tiers.py", ["--input", "/in", "--features"], 4,
        scratch="/scratch",
    )
    assert leg["value"] == 2.5 and "_leg_wall_sec" in leg
    assert seen["cmd"] == [
        scripts.scaling._submit_bin(),
        "--master", "local[4]",
        "--conf", "spark.local.dir=/scratch/spark_local_4",
        "--driver-memory", "6g",
        "--conf", "spark.driver.extraJavaOptions="
        "-Xms6g -XX:+AlwaysPreTouch -XX:+UseParallelGC",
        "--conf", "spark.storage.memoryMapThreshold=2g",
        "--py-files", scripts.scaling.ZIP,
        os.path.join(REPO, "jobs/build_tiers.py"),
        "--input", "/in", "--features",
    ]
    assert seen["kw"]["cwd"] == REPO
    assert seen["kw"]["env"]["SPARK_GRAFT_CPUS"] == "4"


def test_code_ab_legs_use_the_leg_runner(scripts, monkeypatch):
    """ab_code_windows runs each code zip through run_leg, from outside
    the repo so the working tree cannot shadow the zip."""
    monkeypatch.setenv("SPARK_GRAFT_DRIVER_MEM", "6g")
    seen = _capture_run(monkeypatch, scripts.scaling, json.dumps(
        {"value": 3.0, "phases": {"ladder_sec": 1.0}}
    ))
    row = scripts.ab.leg("/old.zip", 2, "r4", "/seq", "/scratch", ["--compress"])
    assert row["value"] == 3.0 and row["ladder"] == 1.0
    cmd = seen["cmd"]
    assert cmd[cmd.index("--py-files") + 1] == "/old.zip"
    assert cmd[-5:] == [
        "--input", "/seq", "--output", "/scratch/ab_tiers_r4_2", "--compress"
    ]
    assert seen["kw"]["cwd"] != REPO
