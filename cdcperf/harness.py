"""Measurement primitives shared by every workload.

Everything here is plain Python with no Spark import, so the self-tests in
``cdcperf/tests`` run in a second:

* ``median`` / ``tail`` -- the percentile rule every timing uses;
* ``Span`` / ``self_times`` -- spans with self time = duration minus the
  union of child spans;
* ``freshness`` -- per-file latency from the *scheduled* arrival;
* ``parse_event_log`` / ``attribute_jobs`` -- Spark event-log parsing and
  job-to-layer attribution;
* ``peak_rss_mb`` and ``provenance`` -- run hygiene records.
"""

from __future__ import annotations

import json
import os
import platform
import statistics
import subprocess
from dataclasses import dataclass, field
from typing import Iterable

#: the tail percentile needs at least this many samples strictly beyond it
TAIL_BEYOND = 10


def median(xs: Iterable[float]) -> float:
    xs = list(xs)
    if not xs:
        raise ValueError("median of no samples")
    return float(statistics.median(xs))


def tail(xs: Iterable[float]) -> tuple[float, float, int]:
    """Highest percentile with at least ``TAIL_BEYOND`` samples beyond it.

    Returns ``(value, percentile, n)``. On sorted samples the value at
    0-based rank ``n - 11`` has exactly ten samples above it, i.e. it is the
    ``100 * (n - 10) / n`` percentile. When that percentile would not lie
    above the median (n <= 20, which includes every n below ten) the rule
    falls back to the median and reports percentile 50.
    """
    s = sorted(xs)
    n = len(s)
    if n == 0:
        raise ValueError("tail of no samples")
    if n - TAIL_BEYOND <= n / 2:
        return median(s), 50.0, n
    return float(s[n - TAIL_BEYOND - 1]), 100.0 * (n - TAIL_BEYOND) / n, n


# ---------------------------------------------------------------- spans
@dataclass
class Span:
    name: str  # entry point, e.g. "LakeTable.merge_cdc"
    layer: str  # module name the time is charged to, e.g. "lakehouse.merge"
    start: float
    end: float = 0.0
    parent: int | None = None  # index of the enclosing span, if any
    thread: int = 0
    counts: dict = field(default_factory=dict)

    @property
    def duration(self) -> float:
        return self.end - self.start


def union_length(intervals: Iterable[tuple[float, float]]) -> float:
    """Total length covered by possibly overlapping intervals."""
    total = 0.0
    cur_lo = cur_hi = None
    for lo, hi in sorted(intervals):
        if hi <= lo:
            continue
        if cur_hi is None or lo > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = lo, hi
        else:
            cur_hi = max(cur_hi, hi)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


def self_times(spans: list[Span]) -> list[float]:
    """Per span: its duration minus the part of its interval that its child
    spans cover (children clipped to the parent, overlaps counted once)."""
    kids: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s.parent is not None:
            kids.setdefault(s.parent, []).append((s.start, s.end))
    out = []
    for i, s in enumerate(spans):
        clipped = [
            (max(lo, s.start), min(hi, s.end)) for lo, hi in kids.get(i, [])
        ]
        out.append(s.duration - union_length(clipped))
    return out


def layer_self_seconds(
    spans: list[Span], lo: float = float("-inf"), hi: float = float("inf")
) -> dict[str, float]:
    """Self time per layer, over the spans that lie inside ``[lo, hi]``
    (self times come from the whole tree, so a parent outside the region
    does not change its children's)."""
    out: dict[str, float] = {}
    for s, st in zip(spans, self_times(spans)):
        if s.start >= lo and s.end <= hi:
            out[s.layer] = out.get(s.layer, 0.0) + st
    return out


def covered_seconds(spans: list[Span], lo: float, hi: float) -> float:
    """Wall time inside ``[lo, hi]`` during which any top-level span ran."""
    return union_length(
        (max(s.start, lo), min(s.end, hi)) for s in spans if s.parent is None
    )


# ------------------------------------------------------------- freshness
def freshness(
    scheduled: dict[str, float],
    batch_files: dict[int, list[str]],
    commit_time: dict[int, float],
) -> dict[str, float]:
    """Per file: publish time of the first commit whose fence covers the
    file's batch, minus the file's *scheduled* arrival.

    Measuring from the schedule, not from when the file actually landed,
    charges a stalled system (or a late generator) for the wait it imposes
    on every file queued behind the stall. ``commit_time`` maps a fence
    (batch id) to its commit's publish time; a batch is covered by the
    earliest commit with fence >= its id. Files never covered are absent
    from the result -- the caller counts them as failed.
    """
    fences = sorted(commit_time)
    out: dict[str, float] = {}
    for b, files in batch_files.items():
        covering = [commit_time[f] for f in fences if f >= b]
        if not covering:
            continue
        t = min(covering)
        for name in files:
            if name in scheduled:
                out[name] = t - scheduled[name]
    return out


# ---------------------------------------------------- Spark job attribution
#: job-description prefix every traced wrapper sets on its thread
JOB_TAG = "cdcperf:"


@dataclass
class Job:
    job_id: int
    submit: float  # seconds (epoch)
    end: float
    layer: str | None  # from the description the wrapper set, if any
    cpu_s: float = 0.0
    run_s: float = 0.0
    gc_s: float = 0.0
    shuffle_mb: float = 0.0  # shuffle bytes written
    spill_mb: float = 0.0  # memory + disk bytes spilled
    tasks: int = 0


def attribute_jobs(jobs: list[Job], spans: list[Span]) -> list[str]:
    """Layer for each job.

    A job tagged by a wrapper's description belongs to that layer. An
    untagged job started inside an open ``cdc.apply`` span came from the
    pipelined prefetch thread (it runs the next batch's reduce while the
    apply span is open but sets no description of its own), so it falls to
    ``cdc.apply``; any other untagged job is ``session`` overhead (stream
    bookkeeping, warm-up, checks).
    """
    apply_spans = [(s.start, s.end) for s in spans if s.layer == "cdc.apply"]
    out = []
    for j in jobs:
        if j.layer:
            out.append(j.layer)
        elif any(lo <= j.submit <= hi for lo, hi in apply_spans):
            out.append("cdc.apply")
        else:
            out.append("session")
    return out


def parse_event_log(path: str) -> list[Job]:
    """Jobs with their summed task metrics from a JSON-lines Spark event log."""
    jobs: dict[int, Job] = {}
    stage_job: dict[int, int] = {}
    mb = 1024.0 * 1024.0
    with open(path) as fh:
        for line in fh:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                props = ev.get("Properties") or {}
                desc = props.get("spark.job.description") or ""
                layer = desc[len(JOB_TAG):] if desc.startswith(JOB_TAG) else None
                jid = int(ev["Job ID"])
                t = ev.get("Submission Time", 0) / 1000.0
                jobs[jid] = Job(jid, t, t, layer)
                for sid in ev.get("Stage IDs", []):
                    stage_job[int(sid)] = jid
            elif kind == "SparkListenerJobEnd":
                jid = int(ev["Job ID"])
                if jid in jobs:
                    jobs[jid].end = ev.get("Completion Time", 0) / 1000.0
            elif kind == "SparkListenerTaskEnd":
                jid = stage_job.get(int(ev.get("Stage ID", -1)))
                m = ev.get("Task Metrics")
                if jid is None or not m:
                    continue
                j = jobs[jid]
                j.tasks += 1
                j.cpu_s += m.get("Executor CPU Time", 0) / 1e9
                j.run_s += m.get("Executor Run Time", 0) / 1000.0
                j.gc_s += m.get("JVM GC Time", 0) / 1000.0
                j.spill_mb += (
                    m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
                ) / mb
                sw = m.get("Shuffle Write Metrics") or {}
                j.shuffle_mb += sw.get("Shuffle Bytes Written", 0) / mb
    return [jobs[k] for k in sorted(jobs)]


# ------------------------------------------------------------ run hygiene
def _descendants(pid: int) -> list[int]:
    out = []
    try:
        kids = open(f"/proc/{pid}/task/{pid}/children").read().split()
    except OSError:
        return out
    for k in kids:
        out.append(int(k))
        out.extend(_descendants(int(k)))
    return out


def peak_rss_mb() -> float:
    """Sum of peak resident set sizes (VmHWM) over this process and its live
    descendants -- the driver Python plus its JVM. Call it once the load
    generator has exited, so that it is not counted."""
    total_kb = 0
    for p in [os.getpid(), *_descendants(os.getpid())]:
        try:
            for line in open(f"/proc/{p}/status"):
                if line.startswith("VmHWM:"):
                    total_kb += int(line.split()[1])
        except OSError:
            continue
    return total_kb / 1024.0


def _git_commit(root: str) -> str | None:
    try:
        out = subprocess.run(
            ["git", "-C", root, "rev-parse", "HEAD"],
            capture_output=True, text=True, timeout=10,
        )
    except (OSError, subprocess.TimeoutExpired):
        return None
    return out.stdout.strip() or None if out.returncode == 0 else None


def machine() -> dict:
    mem_kb = None
    for line in open("/proc/meminfo"):
        if line.startswith("MemTotal:"):
            mem_kb = int(line.split()[1])
    shm = None
    if os.path.isdir("/dev/shm"):
        st = os.statvfs("/dev/shm")
        shm = round(st.f_blocks * st.f_frsize / 2**30, 2)
    return {
        "nproc": len(os.sched_getaffinity(0)),
        "ram_gb": round(mem_kb / 2**20, 2) if mem_kb else None,
        "dev_shm_gb": shm,
        "python": platform.python_version(),
        "platform": platform.platform(),
    }


def provenance(root: str) -> dict:
    """Machine, package versions, and the code under test."""
    from importlib.metadata import PackageNotFoundError, version

    rec = machine()
    for pkg in ("pyspark", "duckdb", "pyarrow", "numpy"):
        try:
            rec[pkg] = version(pkg)
        except PackageNotFoundError:
            rec[pkg] = None
    rec["git_commit"] = _git_commit(root)
    rec["engine_sha256"] = _tree_digest(os.path.join(root, "sql_etl_pipeline_spark"))
    return rec


def _tree_digest(path: str) -> str:
    """Digest of the engine's source files, which identifies the code under
    test where the checkout is not a git repository."""
    import hashlib

    h = hashlib.sha256()
    for dirpath, dirs, files in os.walk(path):
        dirs[:] = sorted(d for d in dirs if d != "__pycache__")
        for name in sorted(f for f in files if f.endswith(".py")):
            p = os.path.join(dirpath, name)
            h.update(os.path.relpath(p, path).encode())
            with open(p, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()
