"""Open-loop load generator for the streaming workload.

A separate, single-threaded process: it publishes staged change-log files
into the tailed source directory by atomic rename, each at its scheduled
time, and never slows down when the system under test does. It records how
late it ran (actual rename time minus scheduled time).

    python3 cdcperf/generator.py PLAN.json REPORT.json

``PLAN.json``: ``{"start": <epoch s>, "files": [[staged, dest, offset_s], ...]}``.
``REPORT.json`` (written atomically at the end):
``{"published": {dest: epoch_s}, "late_s": {dest: s}}``.
"""

from __future__ import annotations

import json
import os
import sys
import time


def main(plan_path: str, report_path: str) -> int:
    with open(plan_path) as fh:
        plan = json.load(fh)
    start = float(plan["start"])
    published: dict[str, float] = {}
    late: dict[str, float] = {}
    for staged, dest, offset in plan["files"]:
        due = start + float(offset)
        wait = due - time.time()
        if wait > 0:
            time.sleep(wait)
        os.rename(staged, dest)
        now = time.time()
        published[dest] = now
        late[dest] = now - due
    tmp = report_path + ".tmp"
    with open(tmp, "w") as fh:
        json.dump({"published": published, "late_s": late}, fh)
    os.replace(tmp, report_path)
    return 0


if __name__ == "__main__":
    raise SystemExit(main(sys.argv[1], sys.argv[2]))
