#!/usr/bin/env python3
"""Benchmark entry point for the rollup engine.

    python3 perfbench/run.py --workload tier_cascade --seed 1 --seconds 12 --trace 0

Run from the root of a checkout. It generates the workload's inputs from
``--seed``, sizes a local Spark session from the host, and runs the
workload as a closed loop: one client, one job pass at a time, each pass
starting when the previous one has finished and been checked. The first
pass of the session is the cold pass, then come the workload's warm-up
passes (checked, not timed into ``job_s``); passes keep coming until
``--seconds`` have gone by and at least MIN_WARM warm passes ran after
the warm-up.

``--trace 0`` prints the end-to-end metrics. ``--trace 1`` runs one
untraced session and then one traced session (spans around every layer
call, Spark event log on) and prints the per-layer metrics, a per-layer
table and the tracing overhead. The last line of stdout is always one
JSON object: ``correct``, ``attempted``, ``failed`` (passes) and
``metrics``. A run record is written under ``.perfbench/`` in the
checkout. See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]

import gen  # noqa: E402
import spans  # noqa: E402

MIN_WARM = 3  # measured warm passes per run at least (of each kind when traced)
MB = 1024.0


def host_env(work: str) -> dict[str, str]:
    """Environment of the benchmark's own Spark process, from the host."""
    cpus = len(os.sched_getaffinity(0))
    with open("/proc/meminfo") as f:
        total_kb = next(int(line.split()[1]) for line in f if line.startswith("MemTotal:"))
    limit = total_kb * 1024
    try:
        with open("/sys/fs/cgroup/memory.max") as f:
            raw = f.read().strip()
        if raw != "max":
            limit = min(limit, int(raw))
    except (OSError, ValueError):
        pass
    heap_mb = max(1024, min(4096, limit // 8 // 2**20 // 256 * 256))
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    path = os.environ.get("PYTHONPATH", "")
    return {
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_GRAFT_DRIVER_MEM": f"{heap_mb}m",
        "OMP_NUM_THREADS": "1",
        "OPENBLAS_NUM_THREADS": "1",
        "MKL_NUM_THREADS": "1",
        "SPARK_LOCAL_DIRS": os.path.join(work, "local"),
        "PERFBENCH_OUTPUT_ROOT": os.path.join(work, "out"),
        "PYTHONPATH": ROOT + (os.pathsep + path if path else ""),
        "PYSPARK_PYTHON": sys.executable,
        "TMPDIR": tmp,
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData -XX:TieredStopAtLevel=1",
    }


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids.setdefault(ppid, []).append(int(d))
    return kids


def descendants(pid: int) -> list[int]:
    kids, out, todo = _children(), [], [pid]
    while todo:
        p = todo.pop()
        for c in kids.get(p, []):
            out.append(c)
            todo.append(c)
    return out


def tree_cpu_s(pids: list[int]) -> float:
    """CPU seconds (user + system, own and reaped children) of ``pids``."""
    total = 0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        total += sum(int(x) for x in fields[11:15])
    return total / os.sysconf("SC_CLK_TCK")


def steal_s() -> float:
    """CPU seconds the hypervisor has taken from the machine's CPUs."""
    with open("/proc/stat") as f:
        return int(f.readline().split()[8]) / os.sysconf("SC_CLK_TCK")


class Stopwatch:
    """Wall time of a step, and the same net of the hypervisor's steal.

    On a shared virtual machine the hypervisor runs other guests on the
    machine's CPUs and ``/proc/stat`` counts the time as steal. Steal only
    accrues on CPUs that had work to run, so the benchmark's processes ran
    ``cpu`` of the ``cpu + stolen`` CPU-seconds they were ready for, and
    ``own_s`` = wall * cpu / (cpu + stolen) is the step's time had nothing
    been stolen. Wall time, steal and CPU time are all recorded."""

    def __init__(self):
        self.t0, self.s0, self.c0 = time.perf_counter(), steal_s(), tree_cpu_s(own_tree())

    def read(self) -> dict:
        wall = time.perf_counter() - self.t0
        stolen, cpu = steal_s() - self.s0, tree_cpu_s(own_tree()) - self.c0
        own = wall * cpu / (cpu + stolen) if cpu + stolen > 0 else wall
        return {"wall_s": wall, "steal_s": stolen, "cpu_s": cpu, "own_s": own}


def own_tree() -> list[int]:
    """The benchmark process and every process it started (the JVM, the
    Python worker daemon and its workers)."""
    return [os.getpid(), *descendants(os.getpid())]


def python_peak_rss_kb(pids: list[int]) -> int:
    """Highest VmHWM among the Python processes in ``pids``."""
    peak = 0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/status") as f:
                status = f.read()
            with open(f"/proc/{pid}/cmdline", "rb") as f:
                cmd = f.read()
        except OSError:
            continue
        if b"python" not in cmd:
            continue
        for line in status.splitlines():
            if line.startswith("VmHWM:"):
                peak = max(peak, int(line.split()[1]))
    return peak


class Session:
    """The run's Spark session, set up as a user's job would set it up:
    ``get_spark`` then ``warm_python_workers``, each timed."""

    def __init__(self, work: str, traced: bool):
        from fforma_spark.session import get_spark, warm_python_workers

        conf = {
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        }
        self.event_dir = os.path.join(work, "eventlog")
        if traced:
            os.makedirs(self.event_dir, exist_ok=True)
            conf.update({
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + self.event_dir,
                "spark.eventLog.compress": "false",
            })
        sw = Stopwatch()
        self.spark = get_spark("perfbench", extra_conf=conf)
        self.jvm_start = sw.read()
        sw = Stopwatch()
        warm_python_workers(self.spark)
        self.worker_warm = sw.read()
        self.jvm_start_s = self.jvm_start["own_s"]
        self.worker_warm_s = self.worker_warm["own_s"]
        self.jvm_pid = self.spark.sparkContext._gateway.proc.pid
        self.peak_kb = 0
        jvm = self.spark.sparkContext._jvm
        self.compiler = jvm.java.lang.management.ManagementFactory.getCompilationMXBean()

    def jit_s(self) -> float:
        """CPU seconds the JVM's JIT compilers have spent so far."""
        return self.compiler.getTotalCompilationTime() / 1000.0

    def sample_rss(self) -> None:
        self.peak_kb = max(self.peak_kb, python_peak_rss_kb(descendants(self.jvm_pid)))

    def event_log(self) -> str:
        (name,) = os.listdir(self.event_dir)  # one application per run
        return os.path.join(self.event_dir, name)


def stop_spark() -> None:
    """Stop the active session, end its JVM and wait for every process
    the JVM started (the Python worker daemon and its workers)."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    if gw is None:
        return
    proc = gw.proc
    kids = descendants(proc.pid)
    try:
        if SparkContext._active_spark_context is not None:
            SparkContext._active_spark_context.stop()
        gw.shutdown()
    finally:
        SparkContext._gateway = None
        SparkContext._jvm = None
        proc.stdin.close()  # the gateway JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
        deadline = time.time() + 30
        for pid in kids:
            while os.path.exists(f"/proc/{pid}") and time.time() < deadline:
                time.sleep(0.05)
            if os.path.exists(f"/proc/{pid}"):
                try:
                    os.kill(pid, signal.SIGKILL)
                except ProcessLookupError:
                    pass


def run_session(wl, sess, tr, inp, out_root, seconds, log) -> list[dict]:
    """Closed loop of job passes in one session; returns pass records.

    Pass 0 is the cold pass and passes 1..wl.warmup are warm-up passes:
    both are checked but not part of ``job_s``. With tracing on, the
    measured passes go untraced, traced, traced, untraced, ... so that
    both kinds sample the JVM's warm-up alike and the same session gives
    both job times."""
    passes = []
    t_start = time.perf_counter()
    k = 0
    while True:
        out = os.path.join(out_root, f"pass-{k}")
        j = k - 1 - wl.warmup  # index among the measured passes
        traced = tr.enabled and j >= 0 and j % 4 in (1, 2)
        rec = {"pass": k, "cold": k == 0, "warmup": 0 < k <= wl.warmup, "traced": traced}
        ptr = tr if traced else spans.Tracer(False)
        ptr.pass_id = k
        try:
            sw, jit0 = Stopwatch(), sess.jit_s()
            with ptr.span("pass"):
                res = wl.run_pass(sess.spark, inp, out, ptr, k)
            rec.update(sw.read())
            rec["jit_s"] = sess.jit_s() - jit0
            rec["job_s"] = rec["own_s"]
            problems = wl.check(sess.spark, res)
            rec["stored_bytes"] = res["stored_bytes"]
            rec["metrics"] = wl.metrics(res)
        except Exception:  # a failed pass is counted, never fatal
            problems = [traceback.format_exc(limit=3)]
        rec["problems"] = problems
        passes.append(rec)
        sess.sample_rss()
        shutil.rmtree(out, ignore_errors=True)
        status = "ok" if not problems else "FAILED " + "; ".join(problems)[:800]
        log(f"{wl.name} pass {k}{' traced' if traced else ''}: "
            f"{rec.get('job_s', float('nan')):.3f}s {status}")
        k += 1
        warm = [p for p in passes if not p["cold"] and not p["warmup"]]
        enough = all(
            sum(p["traced"] == t for p in warm) >= MIN_WARM
            for t in ({False, True} if tr.enabled else {False})
        )
        if time.perf_counter() - t_start >= seconds and enough:
            return passes


def median_or_nan(values) -> float:
    values = list(values)
    return statistics.median(values) if values else float("nan")


def warm_job_s(passes: list[dict], traced: bool = False) -> float:
    """Median time of the measured warm passes of one kind that ran to
    the end (the cold and warm-up passes are left out)."""
    return median_or_nan(p["job_s"] for p in passes
                         if not p["cold"] and not p["warmup"]
                         and p["traced"] == traced and "job_s" in p)


def end_to_end(wl, sess, passes) -> dict:
    job_s = warm_job_s(passes)
    return {
        "setup_s": sess.jvm_start_s + sess.worker_warm_s,
        "cold_job_s": passes[0].get("job_s", float("nan")),
        "job_s": job_s,
        "points_per_s": wl.points / job_s,
        "worker_peak_rss_mb": sess.peak_kb / MB,
        "stored_bytes_per_point": median_or_nan(
            p["stored_bytes"] for p in passes if "stored_bytes" in p) / wl.points,
    }


def per_layer(spec, sess, passes, tr) -> tuple[dict, list[dict]]:
    """Per-layer metrics of the traced warm passes that passed their
    checks; every declared metric is present, 0 where a layer is idle."""
    ok = {p["pass"] for p in passes if p["traced"] and not p["cold"] and not p["problems"]}
    by_span = spans.spark_by_span(spans.read_event_log(sess.event_log()))
    layer, rows = spans.layer_metrics(tr.spans, by_span, ok)
    metrics = {m["name"]: 0.0 for m in spec["per_layer"]}
    metrics.update(layer)
    extra = [p["metrics"] for p in passes if p["pass"] in ok]
    for key in {k for e in extra for k in e}:
        metrics[key] = statistics.median(e[key] for e in extra)
    traced_job = warm_job_s(passes, traced=True)
    metrics.update({
        "session.jvm_start_s": sess.jvm_start_s,
        "session.worker_warm_s": sess.worker_warm_s,
        "trace.job_s": traced_job,
        "trace.overhead_s": traced_job - warm_job_s(passes),
    })
    return metrics, rows


def print_table(name, rows, metrics) -> None:
    cols = ["layer", "calls", "self_s"] + list(spans.SPARK_KEYS)
    print(f"per-layer table: {name} (per traced warm pass)")
    print("  ".join(cols))
    for r in rows:
        print("  ".join(r[c] if c == "layer" else f"{r[c]:.4g}" for c in cols))
    traced = metrics["trace.job_s"]
    print(f"tracing overhead: traced job_s {traced:.4f} - untraced job_s "
          f"{traced - metrics['trace.overhead_s']:.4f} = {metrics['trace.overhead_s']:.4f} s")


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "fforma_spark", "session.py")):
        print(f"perfbench: no fforma_spark package under {ROOT}; run it from "
              "the root of a checkout of the repository", file=sys.stderr)
        return 2
    import workloads

    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; choose from "
              f"{sorted(workloads.WORKLOADS)}", file=sys.stderr)
        return 2
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    # a terminated run still stops its JVM and workers (finally blocks)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    state = os.path.join(ROOT, ".perfbench")
    work = os.path.join(state, f"work-{os.getpid()}")
    env = host_env(work)
    os.environ.update(env)

    def log(msg: str) -> None:
        print(f"[perfbench] {msg}", file=sys.stderr, flush=True)

    wl = workloads.WORKLOADS[args.workload]()
    traced = bool(args.trace)
    try:
        inp = os.path.join(work, "input")
        t0 = time.perf_counter()
        stats = wl.generate(args.seed, inp, n_files=2 * int(env["SPARK_GRAFT_CPUS"]))
        stats["gen_s"] = time.perf_counter() - t0
        stats["input_sha256"] = gen.dir_digest(inp)
        log(f"inputs {stats}")
        try:
            sess = Session(work, traced)
            log(f"session set up in {sess.jvm_start_s + sess.worker_warm_s:.3f}s")
            tr = spans.Tracer(traced, sess.spark.sparkContext if traced else None)
            passes = run_session(
                wl, sess, tr, inp, env["PERFBENCH_OUTPUT_ROOT"], args.seconds, log)
        finally:
            stop_spark()
        if traced:
            metrics, rows = per_layer(spec, sess, passes, tr)
            print_table(wl.name, rows, metrics)
        else:
            metrics = end_to_end(wl, sess, passes)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    failed = sum(bool(p["problems"]) for p in passes)
    record = {
        "workload": wl.name, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "env": env, "inputs": stats,
        "jvm_start": sess.jvm_start, "worker_warm": sess.worker_warm,
        "warmup_passes": wl.warmup,
        "warm_samples": sum(
            not p["cold"] and not p["warmup"] and not p["traced"] for p in passes),
        "passes": passes, "metrics": metrics, "digests": wl.first,
    }
    if traced:
        record.update(spans=tr.spans, table=rows)
    rec_path = os.path.join(
        state, f"{wl.name}-seed{args.seed}-trace{args.trace}-{os.getpid()}.json")
    with open(rec_path, "w") as f:
        json.dump(record, f, indent=1, default=str)
    log(f"run record: {rec_path}")

    units = {m["name"]: m["unit"] for m in spec["end_to_end"] + spec["per_layer"]}
    print(json.dumps({
        "correct": failed == 0,
        "attempted": len(passes),
        "failed": failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in sorted(metrics.items())},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
