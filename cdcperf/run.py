"""CDC engine benchmark: one workload, one seed, one fresh JVM per run.

    python3 cdcperf/run.py --workload backfill_mor --seed 1 --seconds 6 --trace 0

Workloads: ``backfill_mor``, ``stream_recent``, ``analytics``.

Run from the repository root. The last line of standard output is one JSON
object: ``{"correct", "attempted", "failed", "metrics"}``. With ``--trace 0``
the metrics are the ``end_to_end`` list of ``BENCHMARK.json``; with
``--trace 1`` they are the ``per_layer`` list, taken from spans around the
engine's entry points and from a Spark event log enabled for that run only.
Every run also writes a provenance record under ``.cdcperf/records/``.
Scratch data lives under ``.cdcperf/work-<pid>/`` and is removed on exit.
See ``cdcperf/METRICS.md`` for what each figure means.
"""

from __future__ import annotations

import argparse
import glob
import json
import os
import shutil
import sys
import tempfile
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import harness  # noqa: E402


def _session(work: str, traced: bool):
    from sql_etl_pipeline_spark.session import build_session

    n = len(os.sched_getaffinity(0))
    conf = {
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.driver.memory": "1536m",
        "spark.driver.extraJavaOptions": (
            f"-Djava.io.tmpdir={work}/tmp -XX:-UsePerfData -Xms1536m -Xmn512m"
        ),
    }
    if traced:
        os.makedirs(os.path.join(work, "eventlog"))
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + os.path.join(work, "eventlog"),
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    return build_session(f"cdcperf-{n}", master=f"local[{n}]", shuffle_partitions=n, extra_conf=conf)


def _stop(spark) -> None:
    """Stop Spark, then the JVM process itself, and wait for it."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    spark.stop()
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()  # the gateway exits when its stdin closes
        try:
            proc.wait(timeout=30)
        except Exception:  # noqa: BLE001 -- escalate to kill, then wait
            proc.kill()
            proc.wait(timeout=30)


def layer_metrics(res, spans, jobs, names: list[str]) -> dict:
    """Every per-layer metric; a layer that did not run reads 0."""
    lo, hi = res.timed
    wall = hi - lo
    out = {n: 0.0 for n in names}
    out.update({k: v for k, v in {**res.e2e, **res.layer}.items() if k in out})
    self_s = harness.layer_self_seconds(spans, lo, hi)
    for layer, key in [
        ("cdc.apply", "cdc.apply.self_s"),
        ("lakehouse.merge", "lakehouse.merge.self_s"),
        ("lakehouse.read", "lakehouse.read.self_s"),
        ("lakehouse.compact", "lakehouse.compact.s"),
        ("lakehouse.maintain", "lakehouse.maintain.refresh_s"),
        ("functions.validate", "functions.validate.s"),
        ("streaming.ingest", "streaming.ingest.self_s"),
    ]:
        out[key] = self_s.get(layer, 0.0)
    out["cdc.apply.wall_share"] = out["cdc.apply.self_s"] / wall if wall else 0.0
    jobs = [j for j in jobs if lo <= j.submit <= hi]
    layers = harness.attribute_jobs(jobs, spans)
    for pre in ("cdc.apply", "lakehouse.merge"):
        mine = [j for j, l in zip(jobs, layers) if l == pre]
        out[f"{pre}.jobs_cpu_s"] = sum(j.cpu_s for j in mine)
        out[f"{pre}.shuffle_mb"] = sum(j.shuffle_mb for j in mine)
    out["cdc.apply.spill_mb"] = sum(j.spill_mb for j, l in zip(jobs, layers) if l == "cdc.apply")
    out["analytics.shuffle_mb"] = sum(
        j.shuffle_mb for j, l in zip(jobs, layers) if l in ("analytics", "datapipe")
    )
    cpu = sum(j.cpu_s for j in jobs)
    out["cdc.apply.cpu_share"] = out["cdc.apply.jobs_cpu_s"] / cpu if cpu else 0.0
    # merge driver time: merge span time during which no merge job ran
    merge_jobs = [(j.submit, j.end) for j, l in zip(jobs, layers) if l == "lakehouse.merge"]
    out["lakehouse.merge.driver_s"] = sum(
        s.duration - harness.union_length(
            (max(a, s.start), min(b, s.end)) for a, b in merge_jobs
        )
        for s in spans if s.layer == "lakehouse.merge" and s.start >= lo and s.end <= hi
    )
    out["session.gc_s"] = sum(j.gc_s for j in jobs)
    out["session.spill_mb"] = sum(j.spill_mb for j in jobs)
    out["session.tasks"] = sum(j.tasks for j in jobs)
    covered = harness.covered_seconds(spans, lo, hi)
    out["trace.wall_s"] = wall
    out["trace.covered_s"] = covered
    out["trace.uncovered_s"] = wall - covered
    return out


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    t_proc = time.time()

    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    wanted = bench["per_layer"] if args.trace else bench["end_to_end"]

    base = os.path.join(ROOT, ".cdcperf")
    work = os.path.join(base, f"work-{os.getpid()}")
    records = os.path.join(base, "records")
    os.makedirs(os.path.join(work, "tmp"))
    # keep the driver's and the JVM's temporary files inside the checkout;
    # the launcher JVM that spark-submit starts first would otherwise write
    # its perf data under the system temp directory
    os.environ["TMPDIR"] = tempfile.tempdir = os.path.join(work, "tmp")
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    sys.path.insert(0, ROOT)
    spark = None
    try:
        import sql_etl_pipeline_spark  # noqa: F401 -- the system under test

        import workloads
        from tracing import NullTracer, Tracer

        if args.workload not in workloads.WORKLOADS:
            raise SystemExit(f"unknown workload {args.workload!r}")
        spark = _session(work, bool(args.trace))
        spark.range(1).collect()  # the JVM and the scheduler are up
        session_s = time.time() - t_proc
        tracer = Tracer(spark).install() if args.trace else NullTracer()
        ctx = workloads.Ctx(
            spark, work, args.seed, args.seconds, tracer, bool(args.trace), t_proc
        )
        try:
            res = workloads.WORKLOADS[args.workload](ctx)
        finally:
            tracer.uninstall()
        rss = harness.peak_rss_mb()
        t_stop = time.time()
        _stop(spark)
        spark = None
        stop_s = time.time() - t_stop

        record = {
            "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
            "trace": args.trace, "started": t_proc, "params": workloads.params(args.workload),
            "machine": harness.provenance(ROOT), "session_s": session_s,
            "setup_s": res.setup_s, "timed_wall_s": res.timed[1] - res.timed[0],
            "peak_rss_mb": rss, "stop_s": stop_s, "checks": res.checks, "attempted": res.attempted,
            "failed": res.failed, "e2e": res.e2e, "layer_counts": res.layer, **res.record,
        }
        if args.trace:
            logs = glob.glob(os.path.join(work, "eventlog", "*"))
            jobs = harness.parse_event_log(logs[0]) if logs else []
            names = [m["name"] for m in wanted]
            values = layer_metrics(res, tracer.spans, jobs, names)
            record["spans"] = [vars(s) for s in tracer.spans]
            record["jobs"] = [vars(j) for j in jobs]
        else:
            values = dict(res.e2e, setup_s=res.setup_s, peak_rss_mb=rss)
        record["metrics"] = values
        os.makedirs(records, exist_ok=True)
        name = f"{args.workload}-s{args.seed}-t{args.trace}-{int(t_proc)}-{os.getpid()}.json"
        with open(os.path.join(records, name), "w") as fh:
            json.dump(record, fh, indent=1, default=str)
        line = {
            "correct": res.correct,
            "attempted": int(res.attempted),
            "failed": int(res.failed),
            "metrics": {m["name"]: {"value": float(values[m["name"]]), "unit": m["unit"]} for m in wanted},
        }
    except Exception:  # noqa: BLE001 -- any failure: no result line, exit 1
        traceback.print_exc()
        return 1
    finally:
        if spark is not None:
            _stop(spark)
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(line))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
