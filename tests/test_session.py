"""Session factory: master resolution must honor a spark-submit
--master (cluster deployment contract, SCALE.md §1) and only fall back
to local[$SPARK_GRAFT_CPUS] for plain python processes; unset, the core
count and driver heap are sized from the host."""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

import fforma_spark.session as session
from fforma_spark.session import _default_shuffle_partitions


def test_default_shuffle_partitions_resolution():
    assert _default_shuffle_partitions("local[8]", 32) == 8
    assert _default_shuffle_partitions("local[*]", 32) == 32
    assert _default_shuffle_partitions("yarn", 16) == 16
    assert _default_shuffle_partitions("spark://host:7077", 32) == 32
    assert _default_shuffle_partitions("k8s://https://host", 12) == 12
    # local[N,maxFailures] / local[*,F] retry forms must parse too
    assert _default_shuffle_partitions("local[8,3]", 32) == 8
    assert _default_shuffle_partitions("local[*,2]", 32) == 32


_CAPTURE_CONF = """
import json, os, sys
for k, v in json.loads(sys.argv[1]).items():
    if v is None:
        os.environ.pop(k, None)
    else:
        os.environ[k] = v
from pyspark.sql import SparkSession
captured = {}
class FakeBuilder:
    def master(self, m): captured["master"] = m; return self
    def appName(self, a): return self
    def config(self, k, v=None): captured[k] = v; return self
    def getOrCreate(self): raise SystemExit(0)
import fforma_spark.session as S
S.SparkSession = type("S", (), {"builder": FakeBuilder()})
try:
    S.get_spark("probe")
except SystemExit:
    pass
captured["default_mem"] = S._default_driver_mem()
print("CONF=" + json.dumps(captured))
"""


def _captured_conf(env: dict) -> dict:
    out = subprocess.run(
        [sys.executable, "-c", _CAPTURE_CONF, json.dumps(env)],
        capture_output=True,
        text=True,
        check=True,
    )
    line = next(x for x in out.stdout.splitlines() if x.startswith("CONF="))
    return json.loads(line[len("CONF="):])


def test_get_spark_does_not_force_master_under_submit():
    """With the py4j gateway env present (how spark-submit launches
    python), get_spark must NOT inject a local master — the submitted
    one wins. Verified without a JVM: the builder's options map must
    lack spark.master in submit mode and carry local[N] otherwise."""
    submit = {"PYSPARK_GATEWAY_PORT": "59999", "PYSPARK_GATEWAY_SECRET": "x"}
    got = _captured_conf({"SPARK_GRAFT_CPUS": "7", **submit})
    assert "master" not in got, got
    got = _captured_conf({"SPARK_GRAFT_CPUS": "7", "PYSPARK_GATEWAY_PORT": None})
    assert got["master"] == "local[7]", got


def test_session_sized_from_host_when_env_unset():
    """Without SPARK_GRAFT_CPUS / SPARK_GRAFT_DRIVER_MEM the session
    takes the cores this process may use and a heap of a quarter of
    host memory; with them set, the JVM options are exactly what they
    were before host sizing existed. Verified without a JVM."""
    plain = {"PYSPARK_GATEWAY_PORT": None}
    got = _captured_conf(
        {"SPARK_GRAFT_CPUS": None, "SPARK_GRAFT_DRIVER_MEM": None, **plain}
    )
    assert got["master"] == f"local[{len(os.sched_getaffinity(0))}]"
    mem = got["default_mem"]
    assert got["spark.driver.memory"] == mem
    assert got["spark.driver.extraJavaOptions"] == (
        f"-Xms{mem} -XX:+AlwaysPreTouch -XX:+UseParallelGC"
    )
    assert 1024 <= int(mem.removesuffix("m")) <= 16384

    got = _captured_conf(
        {"SPARK_GRAFT_CPUS": "7", "SPARK_GRAFT_DRIVER_MEM": "6g", **plain}
    )
    assert got["master"] == "local[7]"
    assert got["spark.driver.memory"] == "6g"
    assert got["spark.driver.extraJavaOptions"] == (
        "-Xms6g -XX:+AlwaysPreTouch -XX:+UseParallelGC"
    )


def test_jvm_start_failure_names_the_heap():
    """A driver JVM that cannot start fails fast with an error naming
    the -Xms heap it asked for and SPARK_GRAFT_DRIVER_MEM, instead of
    PySpark's bare JAVA_GATEWAY_EXITED. An invalid size string makes the
    JVM exit before it reserves any memory."""
    env = dict(os.environ, SPARK_GRAFT_DRIVER_MEM="not-a-size",
               SPARK_GRAFT_CPUS="1")
    env.pop("PYSPARK_GATEWAY_PORT", None)
    out = subprocess.run(
        [sys.executable, "-c",
         "from fforma_spark.session import get_spark; get_spark('jvm')"],
        capture_output=True, text=True, env=env, timeout=300,
        cwd=os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    )
    assert out.returncode != 0
    last = out.stderr.strip().splitlines()[-1]
    assert last.startswith("RuntimeError:"), last
    assert "-Xmsnot-a-size" in last and "SPARK_GRAFT_DRIVER_MEM" in last


def test_ensure_parallelism_rejects_non_dataframes():
    from fforma_spark.util import ensure_parallelism

    with pytest.raises(TypeError, match="needs a DataFrame, got list"):
        ensure_parallelism([1, 2, 3])


def test_default_driver_mem_is_a_clamped_quarter(monkeypatch):
    for host_bytes, want in (
        (15 * 2**30, "3840m"),
        (2 * 2**30, "1024m"),
        (256 * 2**30, "16384m"),
    ):
        monkeypatch.setattr(session, "_host_memory_bytes", lambda b=host_bytes: b)
        assert session._default_driver_mem() == want


def test_shuffle_guard_never_clobbers_user_runtime_value(spark):
    """r4 ADVICE fix: the auto-default marker stores the value it set,
    so a user's later explicit runtime value (spark.conf.set or
    get_spark(shuffle_partitions=...)) survives subsequent
    get_spark(None) calls; only the stock default or our own last
    auto-set value is overwritten."""
    from fforma_spark.session import get_spark

    key = "spark.sql.shuffle.partitions"
    marker = "spark.fforma.autoShufflePartitions"
    saved_val = spark.conf.get(key)
    saved_marker = spark.conf.get(marker, "")
    try:
        # user sets an explicit value directly on the runtime conf
        spark.conf.set(key, "13")
        spark.conf.set(marker, "")  # no prior auto-set
        get_spark("fforma_spark_tests")
        assert spark.conf.get(key) == "13"

        # an explicit get_spark(shuffle_partitions=...) also survives
        get_spark("fforma_spark_tests", shuffle_partitions=14)
        assert spark.conf.get(key) == "14"
        get_spark("fforma_spark_tests")
        assert spark.conf.get(key) == "14"

        # this session was CREATED with an explicit shuffle_partitions
        # (context conf), so the auto-resolve branch must never fire —
        # even when the marker claims the current value was auto-set
        spark.conf.set(key, "17")
        spark.conf.set(marker, "17")
        get_spark("fforma_spark_tests")
        assert spark.conf.get(key) == "17"
    finally:
        spark.conf.set(key, saved_val)
        spark.conf.set(marker, saved_marker)
