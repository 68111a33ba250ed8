"""Tracing overhead from paired runs: the same workload and seed, untraced
and traced, each in a fresh process.

    python3 cdcperf/overhead.py --workload backfill_mor --seed 21 --seconds 4 \
        [--out cdcperf/results/traced_backfill_mor.json]

A traced run cannot measure its own overhead, so this runs ``run.py`` in
``PAIRS`` pairs and compares the timed wall times of the provenance records. Pairs
alternate which run goes first, so a machine that speeds up or slows down
during a pair does not always favour the same side. ``overhead_s`` is the
median over pairs of traced minus untraced. It prints (and with ``--out``
writes) one JSON object with every result line, every timed wall and the
differences. Run it from the repository root.
"""

from __future__ import annotations

import argparse
import glob
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PAIRS = 2


def one_run(workload: str, seed: int, seconds: float, trace: int) -> dict:
    t = time.time()
    proc = subprocess.Popen(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)],
        cwd=ROOT, stdout=subprocess.PIPE, text=True,
    )
    out, _ = proc.communicate()
    if proc.returncode != 0:
        raise SystemExit(f"{workload} trace={trace} exited with {proc.returncode}")
    pattern = f"{workload}-s{seed}-t{trace}-*-{proc.pid}.json"
    (path,) = glob.glob(os.path.join(ROOT, ".cdcperf", "records", pattern))
    with open(path) as fh:
        record = json.load(fh)
    return {
        "process_wall_s": time.time() - t,
        "timed_wall_s": record["timed_wall_s"],
        "result": json.loads(out.strip().splitlines()[-1]),
    }


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--out")
    args = ap.parse_args()
    pairs = []
    for i in range(PAIRS):
        order = (0, 1) if i % 2 == 0 else (1, 0)
        runs = {t: one_run(args.workload, args.seed, args.seconds, t) for t in order}
        pairs.append({
            "first": "untraced" if order[0] == 0 else "traced",
            "untraced": runs[0], "traced": runs[1],
            "overhead_s": runs[1]["timed_wall_s"] - runs[0]["timed_wall_s"],
        })
    rep = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "pairs": pairs,
        "overhead_s": statistics.median(p["overhead_s"] for p in pairs),
    }
    text = json.dumps(rep, indent=1)
    if args.out:
        with open(args.out, "w") as fh:
            fh.write(text + "\n")
    print(text)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
