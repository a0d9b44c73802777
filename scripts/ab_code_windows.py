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
      --b /tmp/new.zip --b-tag r5 --reps 2
"""
from __future__ import annotations

import argparse
import json
import subprocess
import time

from bench_scaling import run_leg
from host_calibration import ladder


def leg(zip_path: str, cpus: int, tag: str, seq: str, scratch: str,
        job_args: list[str]) -> dict:
    out = f"{scratch}/ab_tiers_{tag}_{cpus}"
    subprocess.run(["rm", "-rf", out], check=False)
    # cwd outside the repo so the tree cannot shadow the zip
    d = run_leg("jobs/build_tiers.py",
                ["--input", seq, "--output", out, *job_args], cpus,
                scratch=scratch, zip_path=zip_path, cwd="/tmp")
    row = {"tag": tag, "cpus": cpus, "wall": round(d["_leg_wall_sec"], 1),
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
    ap.add_argument("--cpus", type=int, default=ladder()[1])
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
