#!/usr/bin/env python
"""Benchmark harness for the fforma_spark engine.

``python bench.py --once`` executes the headline queries at
$SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1) on
$SPARK_GRAFT_BENCH_MASTER, else the session ``get_spark`` sizes from
the host (local[$SPARK_GRAFT_CPUS], else every core it may run on), and
prints ONE JSON line:

    {"metric": "...", "value": <total sec>, "unit": "sec",
     "queries": {"q1": sec, ...}, "sf": ...,
     "points_per_sec": ..., "comp_bytes_per_sec": ...}

``python bench.py`` (default) runs that in a subprocess bracketed by the
host probe (``run_gated``). Scaling across two parallelism levels is
``scripts/bench_scaling.py``.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time

REPO = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.join(REPO, "scripts"))
import host_calibration  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def _sf_of(path: str) -> float:
    base = os.path.basename(path.rstrip("/"))
    try:
        return float(base.replace("sf", ""))
    except ValueError:
        return -1.0


def run_bench(master: str | None) -> dict:
    sys.path.insert(0, REPO)
    from pyspark.sql import functions as F

    from fforma_spark.functions.compress import compressed_blocks
    from fforma_spark.functions.ensemble import softmin_weights, weighted_rollup
    from fforma_spark.functions.features import features_wide
    from fforma_spark.functions.metrics import evaluate_models
    from fforma_spark.functions.models import base_forecasts, holdout_truth
    from fforma_spark.operators.gapfill import locf_fill
    from fforma_spark.session import get_spark, warm_python_workers
    from fforma_spark.sources.tables import (
        panel_from_events,
        sequences_from_documents,
    )

    spark = get_spark("fforma_spark_bench", master=master)
    warm_python_workers(spark)
    timings: dict[str, float] = {}
    all_times: dict[str, list[float]] = {}
    counters: dict[str, float] = {}
    reps = int(os.environ.get("SPARK_GRAFT_BENCH_REPS", "3"))

    def timed(name: str, fn):
        """Best-of-N (default 3; VERDICT r3 #4): the first run absorbs
        shuffle-file/JIT warmup, later runs measure steady state; all
        rep times are reported so host noise is visible in the JSON."""
        from fforma_spark.util import best_of

        best, times, out = best_of(reps, fn)
        all_times[name] = times
        timings[name] = best
        return out

    # Warm the JVM + cache the inputs so per-query numbers measure the
    # operators, not parquet scan duplication.
    panel = panel_from_events(spark, SF_DIR).cache()
    seq = sequences_from_documents(spark, SF_DIR).cache()
    n_points = panel.count()
    tok_stats = seq.agg(
        F.sum("n_tok").alias("toks"), F.count("*").alias("docs")
    ).collect()[0]
    counters["panel_points"] = float(n_points)
    counters["total_tokens"] = float(tok_stats["toks"])
    counters["n_docs"] = float(tok_stats["docs"])

    # q1: full retention cascade T1(16) -> T2(64) -> T3(256) over the
    # events panel (counts force execution of every tier).
    def q_cascade():
        from fforma_spark.operators.rollup import rollup_from_tier, rollup_tier

        # mirror the materialized production cascade: each tier is
        # computed once and reused by the next (cache = stand-in for
        # the checkpoint write)
        t1 = rollup_tier(panel, 16).cache()
        t2 = rollup_from_tier(t1, 4).cache()
        t3 = rollup_from_tier(t2, 4)
        counters["rollup_rows"] = float(t1.count() + t2.count() + t3.count())
        t1.unpersist()
        t2.unpersist()

    timed("rollup_cascade", q_cascade)

    # q2: LOCF gap-fill over T1.
    def q_locf():
        from fforma_spark.operators.rollup import rollup_tier

        t1 = rollup_tier(panel, 16)
        counters["locf_rows"] = float(locf_fill(t1, ["vmean"]).count())

    timed("locf_gapfill", q_locf)

    # q3: T0 feature rollups (mapInPandas kernels) over sequences.
    def q_features():
        counters["feature_rows"] = float(features_wide(seq).count())

    timed("features_t0", q_features)

    # q4: compression tier — bytes processed drive comp_bytes_per_sec.
    def q_compress():
        agg = compressed_blocks(seq).agg(
            F.sum("raw_bytes").alias("rb"), F.sum("comp_bytes").alias("cb")
        ).collect()[0]
        counters["raw_bytes"] = float(agg["rb"] or 0)
        counters["comp_bytes"] = float(agg["cb"] or 0)

    timed("compress_blocks", q_compress)

    # q5: base models -> metrics -> softmin ensemble rollup (the
    # fforma pipeline spine) over sequences.
    def q_ensemble():
        fc = base_forecasts(seq, default_h=8).cache()
        truth = holdout_truth(seq, default_h=8)
        model_cols = ["naive_forec", "snaive_forec", "ses_forec"]
        ev = evaluate_models(truth, fc.select("doc_id", "pos", *model_cols), model_cols)
        loss_cols = [c.removesuffix("_forec") + "_smape" for c in model_cols]
        w = softmin_weights(ev.select("doc_id", *loss_cols), loss_cols)
        out = weighted_rollup(fc, w, model_cols, loss_cols)
        counters["ensemble_rows"] = float(out.count())
        fc.unpersist()

    timed("ensemble_rollup", q_ensemble)

    # effective execution conf, so a conf-guard interaction is
    # ruled out (or in) under the driver's own harness (VERDICT r3 #4)
    effective = {
        "master": spark.sparkContext.master,
        "shuffle_partitions": spark.conf.get("spark.sql.shuffle.partitions"),
        "default_parallelism": spark.sparkContext.defaultParallelism,
        "aqe": spark.conf.get("spark.sql.adaptive.enabled"),
        "reps": reps,
    }

    # Plan fingerprints (VERDICT r4 #2): a per-query stage/exchange
    # census + a normalized-plan hash, so a cross-round time drift can
    # be adjudicated from the JSON alone — same md5 ⇒ the plan didn't
    # change, the residual is the host; changed counts ⇒ a real plan
    # diff to explain. Built AFTER the timed section. Every key but
    # ``wscg_final`` reads the initial plan (planning only); under AQE
    # that plan prints no codegen stages, so ``wscg_final`` counts them
    # in the final AQE plan, which runs the query stages (not the
    # result stage) to exist.
    def _codegen_stages(info) -> int:
        kids = info.children()
        return int(info.nodeName().startswith("WholeStageCodegen")) + sum(
            _codegen_stages(kids.apply(i)) for i in range(kids.size())
        )

    def _plan_fp(df) -> dict:
        import hashlib
        import re

        executed = df._jdf.queryExecution().executedPlan()
        plan = executed.toString()
        norm = re.sub(r"#\d+L?", "#", plan)
        norm = re.sub(r"\d+", "N", norm)
        if executed.nodeName() == "AdaptiveSparkPlan":
            executed = executed.finalPhysicalPlan()
        info = spark._jvm.org.apache.spark.sql.execution.SparkPlanInfo
        return {
            "exchanges": plan.count("Exchange"),
            "wscg": plan.count("WholeStageCodegen"),
            "wscg_final": _codegen_stages(info.fromSparkPlan(executed)),
            "arrow_stages": (
                plan.count("ArrowEvalPython")
                + plan.count("MapInPandas")
                + plan.count("FlatMapGroupsInPandas")
            ),
            "batch_eval_python": plan.count("BatchEvalPython"),
            "md5": hashlib.md5(norm.encode()).hexdigest()[:12],
        }

    from fforma_spark.operators.rollup import rollup_from_tier, rollup_tier

    fp_t1 = rollup_tier(panel, 16)
    fc = base_forecasts(seq, default_h=8)
    truth = holdout_truth(seq, default_h=8)
    model_cols = ["naive_forec", "snaive_forec", "ses_forec"]
    ev = evaluate_models(
        truth, fc.select("doc_id", "pos", *model_cols), model_cols
    )
    loss_cols = [c.removesuffix("_forec") + "_smape" for c in model_cols]
    w = softmin_weights(ev.select("doc_id", *loss_cols), loss_cols)
    plan_fp = {
        "rollup_cascade": _plan_fp(
            rollup_from_tier(rollup_from_tier(fp_t1, 4), 4)
        ),
        "locf_gapfill": _plan_fp(locf_fill(fp_t1, ["vmean"])),
        "features_t0": _plan_fp(features_wide(seq)),
        "compress_blocks": _plan_fp(
            compressed_blocks(seq).agg(
                F.sum("raw_bytes").alias("rb"),
                F.sum("comp_bytes").alias("cb"),
            )
        ),
        "ensemble_rollup": _plan_fp(
            weighted_rollup(fc, w, model_cols, loss_cols)
        ),
    }
    spark.stop()

    total = round(sum(timings.values()), 3)
    rollup_pps = counters["panel_points"] / max(timings["rollup_cascade"], 1e-9)
    comp_bps = counters["raw_bytes"] / max(timings["compress_blocks"], 1e-9)
    return {
        "metric": "rollup+compress headline wall time (sf events/documents)",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "rep_times": all_times,
        "sf": _sf_of(SF_DIR),
        "master": effective["master"],
        "effective_conf": effective,
        "points_per_sec": round(rollup_pps, 1),
        "comp_bytes_per_sec": round(comp_bps, 1),
        "counters": counters,
        "plan_fingerprints": plan_fp,
    }


def _bench_once() -> dict | None:
    """One ``bench.py --once`` subprocess: its JSON line, or None (with
    its stderr passed on) when it died or printed no line."""
    proc = subprocess.run(
        [sys.executable, os.path.join(REPO, "bench.py"), "--once"],
        capture_output=True, text=True,
    )
    line = next(
        (ln for ln in reversed(proc.stdout.strip().splitlines())
         if ln.startswith("{")),
        None,
    )
    if proc.returncode != 0 or line is None:
        sys.stderr.write(proc.stderr[-4000:])
        return None
    return json.loads(line)


def run_gated() -> dict:
    """Probe-gated headline bench (VERDICT r4 #2): bracket each bench
    subprocess with the host probe (``host_calibration.probe``, the one
    ``bench_scaling.py --probe-gate`` uses); accept the first attempt
    whose BOTH brackets sit in the clean-window band, retrying up to
    $SPARK_GRAFT_BENCH_ATTEMPTS (default 3) times. If no attempt lands
    in a clean window, report the best-value attempt with
    ``in_band: false`` — the flags plus the per-query plan
    fingerprints make any residual drift adjudicable from the JSON
    alone."""
    attempts = int(os.environ.get("SPARK_GRAFT_BENCH_ATTEMPTS", "3"))
    tried = []
    accepted = None
    for i in range(attempts):
        pre = host_calibration.probe()
        if not pre["in_band"]:
            tried.append({"attempt": i + 1, "pre": pre, "skipped": True})
            time.sleep(30)
            continue
        result = _bench_once()
        if result is None:
            # a transiently-dead subprocess is a failed ATTEMPT, not a
            # dead bench — record it and retry; the forced fallback
            # below still raises if no attempt ever produces a line
            tried.append({"attempt": i + 1, "pre": pre, "failed": True})
            time.sleep(30)
            continue
        post = host_calibration.probe()
        tried.append({
            "attempt": i + 1,
            "pre": pre,
            "post": post,
            "value": result["value"],
            "_full": result,
        })
        if post["in_band"]:
            accepted = result
            break
    if accepted is None:
        # no clean window found — report the best attempt, flagged
        runs = [t for t in tried if "_full" in t]
        if runs:
            accepted = min(runs, key=lambda t: t["value"])["_full"]
        else:
            # every pre-probe was out of band; run once anyway so the
            # driver always gets a bench line, flag it
            accepted = _bench_once()
            if accepted is None:
                raise RuntimeError(
                    "bench subprocess produced no JSON line in any attempt"
                )
            tried.append({"attempt": "forced", "value": accepted["value"]})
    for t in tried:
        t.pop("_full", None)
    accepted["probe_gate"] = {
        "band": list(host_calibration.BAND),
        "levels": list(host_calibration.ladder()),
        "attempts": tried,
        "in_band": bool(
            tried
            and tried[-1].get("pre", {}).get("in_band")
            and tried[-1].get("post", {}).get("in_band")
        ),
    }
    return accepted


if __name__ == "__main__":
    if "--once" in sys.argv:
        master = os.environ.get("SPARK_GRAFT_BENCH_MASTER")
        print(json.dumps(run_bench(master)))
    else:
        print(json.dumps(run_gated()))
