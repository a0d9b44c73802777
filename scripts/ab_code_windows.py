"""Interleaved code-version A/B for a contended-window adjudication.

Round-5 forensics tool. When a scaling leg blows up (e.g. the tiers
compress stage reading 64 s at local[32] vs 5.6 s at local[8] inside
in-band probe brackets), the decisive question is whether a round's
code change leaks into the slow path or the host burst landed inside
the leg. This runs the SAME job alternately under two code zips
(e.g. the r4 tag's `fforma_spark` tree vs HEAD's) in one window,
fresh JVM per leg, cwd outside the repo so the tree cannot shadow
the zip.

Round-5 verdict from this tool (2026-08-18, recorded in BASELINE.md):
both zips swing together (r5: 140.4 -> 53.8 s wall; r4: 66.2 ->
72.6 s, same interleave), and r5's best rep beats r4's best rep —
the blowup is host contention bursting between the probe brackets,
not a round-5 regression.

Usage:
  git archive <old-rev> fforma_spark | (cd /tmp/abdir && tar x)
  cd /tmp/abdir && zip -qr /tmp/old.zip fforma_spark
  python scripts/ab_code_windows.py --a /tmp/old.zip --a-tag r4 \
      --b /tmp/new.zip --b-tag r5 --cpus 32 --reps 2
"""
from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys
import time

import pyspark

SUBMIT = os.path.join(os.path.dirname(pyspark.__file__), "bin", "spark-submit")
REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def leg(zip_path: str, cpus: int, tag: str, seq: str, scratch: str,
        job_args: list[str]) -> dict:
    out = f"{scratch}/ab_tiers_{tag}_{cpus}"
    subprocess.run(["rm", "-rf", out], check=False)
    env = dict(os.environ)
    env["SPARK_GRAFT_CPUS"] = str(cpus)
    sys.path.insert(0, REPO)
    from fforma_spark.session import driver_mem

    mem = driver_mem()  # the heap get_spark would size on this host
    cmd = [
        SUBMIT, "--master", f"local[{cpus}]",
        "--conf", f"spark.local.dir={scratch}/spark_ab",
        "--driver-memory", mem,
        "--conf", (f"spark.driver.extraJavaOptions=-Xms{mem} "
                   "-XX:+AlwaysPreTouch -XX:+UseParallelGC"),
        "--conf", "spark.storage.memoryMapThreshold=2g",
        "--py-files", zip_path,
        os.path.join(REPO, "jobs", "build_tiers.py"),
        "--input", seq, "--output", out, *job_args,
    ]
    t0 = time.time()
    p = subprocess.run(cmd, capture_output=True, text=True, env=env,
                       cwd="/tmp")
    wall = time.time() - t0
    line = next((ln for ln in reversed(p.stdout.strip().splitlines())
                 if ln.strip().startswith("{")), None)
    if p.returncode != 0 or line is None:
        sys.stderr.write(p.stderr[-3000:])
        raise SystemExit(f"leg failed {tag}")
    d = json.loads(line)
    row = {"tag": tag, "cpus": cpus, "wall": round(wall, 1),
           "value": d["value"],
           "ladder": d["phases"]["ladder_sec"]}
    if "compress" in d:
        row["compress"] = d["compress"]["wall_sec"]
    if "features" in d:
        row["features"] = d["features"]["wall_sec"]
    return row


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--a", required=True, help="first code zip")
    ap.add_argument("--a-tag", default="a")
    ap.add_argument("--b", required=True, help="second code zip")
    ap.add_argument("--b-tag", default="b")
    ap.add_argument("--cpus", type=int, default=32)
    ap.add_argument("--reps", type=int, default=2)
    ap.add_argument("--seq", default="/dev/shm/bench/bench_seq_1000000")
    ap.add_argument("--scratch", default="/dev/shm/bench")
    ap.add_argument("--job-args", default="--compress",
                    help="space-separated extra build_tiers args, e.g. "
                    "'--features' to A/B the feature phase")
    args = ap.parse_args()

    job_args = args.job_args.split()
    rows = []
    for rep in range(args.reps):
        for tag, z in ((args.b_tag, args.b), (args.a_tag, args.a)):
            r = leg(z, args.cpus, tag, args.seq, args.scratch, job_args)
            r["rep"] = rep + 1
            print(json.dumps(r), flush=True)
            rows.append(r)
            time.sleep(10)
    print(json.dumps({"summary": rows}))


if __name__ == "__main__":
    main()
