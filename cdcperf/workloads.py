"""The three workloads. Each is ``fn(ctx) -> Result``.

Every workload stages its inputs from the seed, warms up, runs a timed
region, and only then checks its outputs. ``Result.e2e`` carries the
end-to-end figures, ``Result.layer`` the per-layer counts read from the
engine's own outputs (return dicts, snapshot log, stream progress, the
file-source checkpoint). Sizes live in the ``*_PARAMS`` dicts below; the
metrics doc explains each choice.
"""

from __future__ import annotations

import glob
import json
import os
import subprocess
import sys
import threading
import time
from dataclasses import dataclass, field
from typing import Any, Callable

import numpy as np
import pyarrow.compute as pc
import pyarrow.parquet as pq

import datagen
from harness import freshness, median, tail

BACKFILL_PARAMS = {
    "events": 300_000,
    "batches": 2,
    "n_convs": 1000,
    "max_turns": 50,
    "skew": 2.0,
    "dup_frac": 0.01,
    "ooo_frac": 0.01,
    "delete_frac": 0.001,
    "buckets": 32,
    "rows_per_file": 100_000,
    "warm_events": 10_000,
    # lookup keys cycle cold, cold, hot: the median stays inside the cold
    # cluster instead of straddling the hot/cold gap
    "hot_keys": 4,
    "cold_keys": 8,
    "scans": 3,
}

STREAM_PARAMS = {
    "history_events": 10_000,
    "rows_per_file": 500,
    "backlog_files": 12,
    "max_files_per_trigger": 12,
    "trigger": "200 milliseconds",
    # fixed offered rate of the live tail: 400 events/s, about half of the
    # 740-800 events/s backlog drain (one micro-batch of 12 files, its MV
    # refresh included) measured on a 4-CPU box; never derived per run
    "live_files_per_s": 0.8,
    "open_every": 20,
    "window": 40,
    "recent_frac": 0.85,
    "hot_convs": 200,
    "skew": 2.0,
    "max_turns": 30,
    "delete_frac": 0.001,
    "dup_frac": 0.01,
    "buckets": 8,
    "target_file_rows": 1_000,
    "compact_every": 4,
    "mv_buckets": 4,
}

ANALYTICS_PARAMS = {
    # the repository's test tables (TESTDATA.md) at scale factor 0.002
    # (lineitem about 12k rows): the queries' cost is mostly planning, codegen and
    # per-job overhead, and a small scale keeps a run inside the budget
    "scale": 0.002,
    # the six star-schema and the four datapipe headline queries
    "analytics": [
        "customer_ltv", "product_performance", "sales_trends",
        "rfm_segmentation", "market_basket_pairs", "events_sessionized",
    ],
    "datapipe": ["dedup_exact", "dedup_minhash_lsh", "text_quality", "ann_cosine_topk"],
    # report clients: each pass runs its ten queries from this many threads
    "clients": 4,
}


@dataclass
class Ctx:
    spark: Any
    work: str  # per-run scratch directory, removed at exit
    seed: int
    seconds: float
    tracer: Any  # Tracer or NullTracer
    traced: bool
    t_start: float  # process start (epoch s)


@dataclass
class Result:
    setup_s: float = 0.0
    timed: tuple[float, float] = (0.0, 0.0)
    e2e: dict[str, float] = field(default_factory=dict)
    layer: dict[str, float] = field(default_factory=dict)
    record: dict[str, Any] = field(default_factory=dict)
    attempted: int = 0
    failed: int = 0
    checks: dict[str, bool] = field(default_factory=dict)

    @property
    def correct(self) -> bool:
        return bool(self.checks) and all(self.checks.values()) and self.failed == 0


# ------------------------------------------------------------------ helpers
def noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def fingerprint(df) -> tuple:
    """Order-insensitive multiset fingerprint: row count and the sum of a
    64-bit hash of every row (summed as a decimal, so it cannot wrap)."""
    from pyspark.sql import functions as F

    cols = [F.col(c) for c in sorted(df.columns)]
    r = df.select(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.xxhash64(*cols).cast("decimal(38,0)")).alias("h"),
    ).collect()[0]
    return int(r["n"]), r["h"]


def same_rows(a, b) -> bool:
    """Multiset equality of two DataFrames with the same columns."""
    return sorted(a.columns) == sorted(b.columns) and fingerprint(a) == fingerprint(b)


def snapshots(table_path: str) -> list[dict]:
    meta = os.path.join(table_path, "_meta")
    out = []
    for name in sorted(f for f in os.listdir(meta) if f.startswith("v") and f.endswith(".json")):
        p = os.path.join(meta, name)
        with open(p) as fh:
            c = json.load(fh)
        c["_mtime"] = os.stat(p).st_mtime
        out.append(c)
    return out


def commit_log_counts(table_path: str, since_version: int) -> dict[str, float]:
    """Per-layer write counts from the table's snapshot log (versions after
    ``since_version``): files a merge rewrote, the fraction of the table's
    files each merge rewrote, bytes merges and compactions wrote, and the
    apply's events in / reduced rows out from the lineage records."""
    snaps = snapshots(table_path)
    size: dict[str, int] = {}

    def nbytes(paths) -> int:
        tot = 0
        for p in paths:
            if p not in size:
                try:
                    size[p] = os.path.getsize(os.path.join(table_path, p))
                except OSError:
                    size[p] = 0
            tot += size[p]
        return tot

    c = {
        "merges": 0, "files_rewritten": 0, "rewrite_frac_sum": 0.0, "merge_bytes": 0,
        "compacts": 0, "compact_bytes": 0, "events_in": 0, "rows_out": 0,
    }
    for prev, cur in zip(snaps, snaps[1:]):
        if cur["version"] <= since_version:
            continue
        before = {f["path"] for f in prev["files"]}
        after = {f["path"] for f in cur["files"]}
        lin = cur.get("lineage") or {}
        op = lin.get("op")
        if op == "merge_cdc":
            c["merges"] += 1
            gone = before - after
            c["files_rewritten"] += len(gone)
            c["rewrite_frac_sum"] += len(gone) / len(before) if before else 0.0
            c["merge_bytes"] += nbytes(after - before)
            c["events_in"] += int(lin.get("n_events") or 0)
            c["rows_out"] += sum(
                int(r.get("rows", 0)) for r in (lin.get("bucket_lsn_ranges") or {}).values()
            )
        elif op in ("compact", "compact_buckets"):
            c["compacts"] += 1
            c["compact_bytes"] += nbytes(after - before)
    mb = 1024.0 * 1024.0
    return {
        "cdc.apply.events_in": c["events_in"],
        "cdc.apply.rows_out": c["rows_out"],
        "cdc.apply.dedup_ratio": c["events_in"] / c["rows_out"] if c["rows_out"] else 0.0,
        "lakehouse.merge.files_rewritten": c["files_rewritten"],
        "lakehouse.merge.rewrite_frac": c["rewrite_frac_sum"] / c["merges"] if c["merges"] else 0.0,
        "lakehouse.merge.mb_written": c["merge_bytes"] / mb,
        "lakehouse.compact.count": c["compacts"],
        "lakehouse.compact.mb_rewritten": c["compact_bytes"] / mb,
    }


def data_bytes(table_path: str) -> dict[str, int]:
    """Every parquet data file under the table (nothing is vacuumed during a
    run, so this is every file ever written) with its size."""
    out = {}
    for p in glob.glob(os.path.join(table_path, "data", "**", "*.parquet"), recursive=True):
        out[p] = os.path.getsize(p)
    return out


def storage_counts(table, before: dict[str, int]) -> dict[str, float]:
    """Write amplification (data bytes written since ``before`` / final
    live bytes) and the final live table size."""
    now = data_bytes(table.path)
    written = sum(v for k, v in now.items() if k not in before)
    live = sum(os.path.getsize(os.path.join(table.path, f["path"])) for f in table.refresh().files)
    return {
        "write_amp": written / live if live else 0.0,
        "table_mb": live / (1024.0 * 1024.0),
    }


def timed_ops(ctx: Ctx, layer: str, name: str, fn: Callable, *args):
    """One client operation: its latency, its result, or its error."""
    t = time.time()
    try:
        out = ctx.tracer.span(name, layer, fn, *args)
        return time.time() - t, out, None
    except Exception as e:  # noqa: BLE001 -- a failed operation is counted, not fatal
        return time.time() - t, None, f"{type(e).__name__}: {e}"


def conv_lookup(spark, table, conv: str) -> list:
    """All live turns of one conversation through the key-range read."""
    return table.read(spark, ranges={"conv_id": (conv, conv)}).collect()


# -------------------------------------------------------------- backfill
def backfill_mor(ctx: Ctx) -> Result:
    from pyspark.sql import functions as F

    from sql_etl_pipeline_spark.cdc.apply import apply_batches_pipelined, expected_final_state
    from sql_etl_pipeline_spark.cdc.generate import TRANSCRIPT_SCHEMA
    from sql_etl_pipeline_spark.lakehouse.table import LakeTable

    P, spark, res = BACKFILL_PARAMS, ctx.spark, Result()

    t_stage = time.time()
    log_path = os.path.join(ctx.work, "log")
    tbl = datagen.zipf_log(
        ctx.seed, P["events"], n_convs=P["n_convs"], max_turns=P["max_turns"],
        skew=P["skew"], delete_frac=P["delete_frac"], dup_frac=P["dup_frac"],
        ooo_frac=P["ooo_frac"],
    )
    datagen.write_event_files(tbl, log_path, P["rows_per_file"], "log")
    res.record["stage_s"] = time.time() - t_stage
    log = spark.read.parquet(log_path)
    n_events = tbl.num_rows
    step = P["events"] / P["batches"]

    def batches(df, n):
        out = []
        for i in range(n):
            cond = F.lit(True) if i == 0 else F.col("pos") >= i * step
            if i < n - 1:
                cond = cond & (F.col("pos") < (i + 1) * step)
            out.append(df.filter(cond))
        return out

    # warm-up: the same apply on a slice, into a scratch table (the first
    # scan and lookup of the timed region stay cold; their figures are
    # medians)
    t_warm = time.time()
    warm = LakeTable.create(
        os.path.join(ctx.work, "warm"), TRANSCRIPT_SCHEMA, ["conv_id", "turn_idx"],
        num_buckets=P["buckets"], merge_mode="mor",
    )
    apply_batches_pipelined(
        warm, spark, [log.filter(F.col("pos") < P["warm_events"])], stream_id="warm"
    )
    warm_s = time.time() - t_warm

    rng = np.random.default_rng(ctx.seed)
    hot = [f"conv-{k:08d}" for k in rng.choice(10, P["hot_keys"], replace=False)]
    cold = [
        f"conv-{k:08d}"
        for k in rng.choice(np.arange(100, P["n_convs"]), P["cold_keys"], replace=False)
    ]
    keys = [k for i in range(P["hot_keys"]) for k in (cold[2 * i], cold[2 * i + 1], hot[i])]

    table = LakeTable.create(
        os.path.join(ctx.work, "table"), TRANSCRIPT_SCHEMA, ["conv_id", "turn_idx"],
        num_buckets=P["buckets"], merge_mode="mor",
    )
    res.record["warm_s"] = warm_s

    # ---------------- timed region
    t0 = time.time()
    res.setup_s = t0 - ctx.t_start
    results = apply_batches_pipelined(table, spark, batches(log, P["batches"]), stream_id="backfill")
    t_applied = time.time()
    res.attempted += len(results)
    res.failed += sum(1 for r in results if not r.get("applied"))

    scans: list[float] = []
    lookups: list[float] = []
    seen: dict[str, list] = {}
    looked_up: list[str] = []
    # the read phase lasts ``seconds``: scans at its start, middle and end,
    # lookups in between
    t_reads = time.time()
    k = 0
    for s in range(P["scans"]):
        dt, _, err = timed_ops(ctx, "lakehouse.read", "bench.scan", lambda: noop(table.read(spark)))
        res.attempted += 1
        if err:
            res.failed += 1
            res.record.setdefault("errors", []).append(err)
        else:
            scans.append(dt)
        if s == P["scans"] - 1:
            break
        t_end = t_reads + ctx.seconds * (s + 1) / (P["scans"] - 1)
        first = True  # at least one lookup between two scans
        while first or time.time() < t_end:
            first = False
            conv = keys[k % len(keys)]
            k += 1
            looked_up.append(conv)
            dt, rows, err = timed_ops(ctx, "lakehouse.read", "bench.lookup", conv_lookup, spark, table, conv)
            res.attempted += 1
            if err:
                res.failed += 1
                res.record.setdefault("errors", []).append(err)
                continue
            lookups.append(dt)
            got = sorted(tuple(r) for r in rows)
            if seen.setdefault(conv, got) != got:  # the table is static here
                res.failed += 1
    resolved_buckets = len(table.delta_depths())
    read_version = table.version
    dt, _, err = timed_ops(ctx, "lakehouse.compact", "bench.compact", table.compact, spark)
    res.attempted += 1
    res.failed += 1 if err else 0
    t1 = time.time()
    res.timed = (t0, t1)
    res.record["compact_s"] = dt
    # files each lookup read, probed on the snapshot the lookups saw
    files_per_lookup: list[int] = []
    if ctx.traced:
        snap = table.at_version(read_version)
        n_files = {
            c: len(snap.read(spark, ranges={"conv_id": (c, c)}).inputFiles()) for c in set(looked_up)
        }
        files_per_lookup = [n_files[c] for c in looked_up]

    # ---------------- checks (after the timed region)
    t_check = time.time()
    expected = expected_final_state(log).persist()
    final = table.refresh().read(spark)
    res.checks["final_equals_expected"] = same_rows(final, expected)
    exp_rows: dict[str, list] = {c: [] for c in seen}
    for r in expected.filter(F.col("conv_id").isin(list(seen))).collect():
        exp_rows[r["conv_id"]].append(tuple(r))
    res.checks["lookups_match_final_state"] = all(seen[c] == sorted(exp_rows[c]) for c in seen)
    expected.unpersist()
    res.record["check_s"] = time.time() - t_check

    lk, lk_pct, lk_n = tail(lookups)
    res.e2e = {
        "events_per_s": n_events / (t_applied - t0),
        "lookup_p50_s": median(lookups),
        "lookup_tail_s": lk,
        **storage_counts(table, {}),
    }
    res.record.update(
        events=n_events, apply_s=t_applied - t0, scan_s=scans, lookup_s=lookups,
        lookup_tail_pct=lk_pct, lookup_n=lk_n, merge_results=results,
    )
    res.layer.update(commit_log_counts(table.path, 1))
    res.layer["lakehouse.read.scan_s"] = median(scans)
    res.layer["lakehouse.read.files_per_lookup"] = (
        float(np.mean(files_per_lookup)) if files_per_lookup else 0.0
    )
    res.layer["lakehouse.read.resolved_buckets"] = resolved_buckets
    return res


# ---------------------------------------------------------------- stream
def _mv_build(df):
    from pyspark.sql import functions as F

    return df.groupBy("conv_id").agg(
        F.count("*").alias("n_turns"),
        F.sum(F.length("text")).cast("long").alias("total_chars"),
    )


def checkpoint_batches(checkpoint: str) -> dict[int, list[str]]:
    """File names each micro-batch read, from the file-source checkpoint
    (``sources/0/<batch>``: a version line, then one JSON entry per file)."""
    out: dict[int, list[str]] = {}
    for p in glob.glob(os.path.join(checkpoint, "sources", "0", "*")):
        name = os.path.basename(p)
        # every tenth batch Spark folds the earlier entries into N.compact
        if not (name.isdigit() or name.endswith(".compact")):
            continue
        with open(p) as fh:
            lines = fh.read().splitlines()[1:]
        for line in lines:
            e = json.loads(line)
            out.setdefault(int(e["batchId"]), set()).add(os.path.basename(e["path"]))
    return {b: sorted(fs) for b, fs in out.items()}


def fence_commit_times(table_path: str, stream_id: str) -> dict[int, float]:
    """Publish time of each fenced merge commit of ``stream_id``."""
    out = {}
    for c in snapshots(table_path):
        fence = (c.get("lineage") or {}).get("batch_fence") or ""
        sid, _, b = fence.rpartition(":")
        if sid == stream_id and b.isdigit():
            out[int(b)] = c["_mtime"]
    return out


class Reader(threading.Thread):
    """One closed-loop client of point and small-range lookups on the live
    table. Each result is checked for key uniqueness and range containment
    (the exact contents move under it)."""

    def __init__(self, ctx: Ctx, table_path: str, keys: list[tuple[str, int]]):
        super().__init__(name="cdcperf-reader", daemon=True)
        self.ctx, self.table_path, self.keys = ctx, table_path, keys
        self.stop_at = float("inf")
        self.latencies: list[float] = []
        self.failed = 0
        self.attempted = 0
        self.ranges: list[dict] = []  # what each lookup asked for
        self.errors: list[str] = []

    def run(self) -> None:
        from sql_etl_pipeline_spark.lakehouse.table import LakeTable

        spark = self.ctx.spark
        table = LakeTable(self.table_path)
        k = 0
        while time.time() < self.stop_at:
            conv, turn = self.keys[k % len(self.keys)]
            k += 1
            if k % 2:  # point lookup
                ranges = {"conv_id": (conv, conv), "turn_idx": (turn, turn)}
            else:  # small range: this conversation and the next three
                hi = f"conv-{int(conv[5:]) + 3:08d}"
                ranges = {"conv_id": (conv, hi)}
            self.ranges.append(ranges)
            dt, rows, err = timed_ops(
                self.ctx, "lakehouse.read", "bench.lookup",
                lambda: table.refresh().read(spark, ranges=ranges).collect(),
            )
            self.attempted += 1
            if err:
                self.failed += 1
                self.errors.append(err)
                continue
            self.latencies.append(dt)
            lo, hi = ranges["conv_id"]
            ids = [(r["conv_id"], r["turn_idx"]) for r in rows]
            bad = len(set(ids)) != len(ids) or any(not (lo <= c <= hi) for c, _ in ids)
            if "turn_idx" in ranges:
                bad = bad or len(ids) > 1 or any(t != turn for _, t in ids)
            self.failed += int(bad)


def stream_recent(ctx: Ctx) -> Result:
    from pyspark.sql.types import LongType, StringType, StructField, StructType

    from sql_etl_pipeline_spark.cdc.apply import apply_batch, expected_final_state
    from sql_etl_pipeline_spark.cdc.generate import TRANSCRIPT_SCHEMA, change_event_schema
    from sql_etl_pipeline_spark.functions.validate import transcript_rules, validate
    from sql_etl_pipeline_spark.lakehouse.maintain import refresh_summary_incremental
    from sql_etl_pipeline_spark.lakehouse.table import LakeTable
    from sql_etl_pipeline_spark.streaming.ingest import CdcStreamIngestor

    P, spark, res = STREAM_PARAMS, ctx.spark, Result()
    n_live = int(round(P["live_files_per_s"] * ctx.seconds))
    n_files = P["backlog_files"] + n_live
    n_events = P["history_events"] + n_files * P["rows_per_file"]

    t_stage = time.time()
    root = os.path.join(ctx.work, "stage")
    tbl = datagen.recent_key_log(
        ctx.seed, n_events, open_every=P["open_every"], window=P["window"],
        recent_frac=P["recent_frac"], hot_convs=P["hot_convs"], skew=P["skew"],
        max_turns=P["max_turns"], delete_frac=P["delete_frac"], dup_frac=P["dup_frac"],
    )
    hist = tbl.filter(pc.less_equal(tbl["lsn"], P["history_events"]))
    rest = tbl.filter(pc.greater(tbl["lsn"], P["history_events"]))
    st = {
        "history": datagen.write_event_files(
            hist, os.path.join(root, "history"), hist.num_rows, "h"
        ),
        "files": datagen.write_event_files(
            rest, os.path.join(root, "files"), P["rows_per_file"], "f"
        ),
        "keys": list(zip(rest["conv_id"].to_pylist(), rest["turn_idx"].to_pylist())),
    }
    res.record["stage_s"] = time.time() - t_stage
    files = st["files"][:n_files]
    backlog, live = files[: P["backlog_files"]], files[P["backlog_files"]:]
    schema = change_event_schema(with_tool=True)

    # bootstrap = warm-up: history applied (target_file_rows makes the COW
    # write key-sorted and split, i.e. clustered), the MV built; every code
    # path of the stream runs once
    t_warm = time.time()
    table = LakeTable.create(
        os.path.join(ctx.work, "table"), TRANSCRIPT_SCHEMA, ["conv_id", "turn_idx"],
        num_buckets=P["buckets"], merge_mode="cow", stats_cols=["conv_id"],
        target_file_rows=P["target_file_rows"],
    )
    hist_df = spark.read.schema(schema).parquet(*st["history"])
    validate(hist_df, transcript_rules())
    apply_batch(table, spark, hist_df, fence=("history", 0))
    mv = LakeTable.create(
        os.path.join(ctx.work, "mv"),
        StructType([
            StructField("conv_id", StringType(), False),
            StructField("n_turns", LongType(), True),
            StructField("total_chars", LongType(), True),
        ]),
        key_cols=["conv_id"], num_buckets=P["mv_buckets"],
    )
    refresh_summary_incremental(mv, spark, table.refresh(), _mv_build, ["conv_id"])
    conv_lookup(spark, table, st["keys"][0][0])
    warm_s = time.time() - t_warm
    res.record["warm_s"] = warm_s
    base_version = table.refresh().version
    bytes_before = data_bytes(table.path)

    source = os.path.join(ctx.work, "source")
    os.makedirs(source)
    for p in backlog:
        os.rename(p, os.path.join(source, os.path.basename(p)))
    ckpt = os.path.join(ctx.work, "checkpoint")
    ing = CdcStreamIngestor(
        table, source, ckpt, schema, stream_id="live",
        max_files_per_trigger=P["max_files_per_trigger"], rules=transcript_rules(),
        compact_every=P["compact_every"],
        summaries=[{"summary": mv, "build": _mv_build, "group_cols": ["conv_id"]}],
    )
    if ctx.traced:
        inner = ing._apply
        ing._apply = lambda df, b: ctx.tracer.span(
            "CdcStreamIngestor.batch", "streaming.ingest", inner, df, b
        )

    # ---------------- timed region, phase 1: drain the backlog
    backlog_rows = P["backlog_files"] * P["rows_per_file"]
    gen = None
    reader = None
    t0 = time.time()
    res.setup_s = t0 - ctx.t_start
    query = ing.start_continuous(spark, processing_time=P["trigger"])
    try:
        # drained: the micro-batches that read the backlog have finished,
        # their validation, compaction and MV refresh included
        deadline = t0 + 90
        while sum(p["numInputRows"] for p in query.recentProgress) < backlog_rows:
            if query.exception() is not None or time.time() > deadline:
                raise RuntimeError(f"backlog drain failed: {query.exception()}")
            time.sleep(0.02)
        drain = [p for p in query.recentProgress if p["numInputRows"] > 0]
        t_drained = max(
            _iso_epoch(p["timestamp"]) + p["durationMs"]["triggerExecution"] / 1000 for p in drain
        )

        # phase 2: live tail, offered by the generator process at a fixed rate
        plan_path = os.path.join(ctx.work, "plan.json")
        report_path = os.path.join(ctx.work, "gen-report.json")
        start = time.time() + 0.3
        sched = {
            os.path.basename(p): start + k / P["live_files_per_s"] for k, p in enumerate(live)
        }
        with open(plan_path, "w") as fh:
            json.dump({
                "start": start,
                "files": [
                    [p, os.path.join(source, os.path.basename(p)), k / P["live_files_per_s"]]
                    for k, p in enumerate(live)
                ],
            }, fh)
        gen = subprocess.Popen(
            [sys.executable, os.path.join(os.path.dirname(os.path.abspath(__file__)), "generator.py"),
             plan_path, report_path]
        )
        # recent keys: every 37th event of the last 3000 delivered ones
        delivered_keys = st["keys"][: n_files * P["rows_per_file"]]
        reader = Reader(ctx, table.path, delivered_keys[-3000:][::37])
        reader.stop_at = start + n_live / P["live_files_per_s"]
        reader.start()
        if gen.wait(timeout=ctx.seconds + 30) != 0:
            raise RuntimeError("generator failed")
        reader.join(timeout=30)
        query.processAllAvailable()
        t1 = time.time()
    finally:
        query.stop()
        if gen is not None and gen.poll() is None:
            gen.kill()
            gen.wait()
        if reader is not None:
            reader.stop_at = 0
            reader.join(timeout=30)
    res.timed = (t0, t1)
    with open(report_path) as fh:
        report = json.load(fh)

    # ---------------- checks
    t_check = time.time()
    delivered = spark.read.schema(schema).parquet(*st["history"], source)
    final_tbl = table.refresh()
    final = final_tbl.read(spark)
    res.checks["final_equals_expected"] = same_rows(final, expected_final_state(delivered))
    res.checks["mv_equals_rebuild"] = same_rows(
        mv.refresh().read(spark), _mv_build(final)
    )
    applied = [b for b in ing.batches if b.get("applied")]
    res.attempted += len(ing.batches) + reader.attempted
    res.failed += len(ing.batches) - len(applied) + reader.failed
    res.checks["every_file_read"] = sum(len(v) for v in checkpoint_batches(ckpt).values()) == n_files
    res.record["check_s"] = time.time() - t_check
    res.record["reader_errors"] = reader.errors[:5]
    # files a lookup reads, probed after the run on the final table for an
    # evenly spaced sample of the lookups the reader made
    files_per_lookup: list[int] = []
    if ctx.traced and reader.ranges:
        step = max(len(reader.ranges) // 20, 1)
        files_per_lookup = [
            len(final_tbl.read(spark, ranges=r).inputFiles()) for r in reader.ranges[::step]
        ]

    # ---------------- figures
    batch_files = checkpoint_batches(ckpt)
    commits = fence_commit_times(table.path, "live")
    fresh = freshness(sched, batch_files, commits)
    res.failed += len(sched) - len(fresh)
    f_tail, f_pct, f_n = tail(fresh.values())
    lk_tail, lk_pct, lk_n = tail(reader.latencies)
    progress = [p for p in query.recentProgress if p.get("numInputRows", 0) > 0]
    # the drain runs from the first micro-batch's trigger (query start-up
    # excluded) to the end of the last backlog micro-batch
    t_first = _iso_epoch(min(progress, key=lambda p: p["batchId"])["timestamp"])
    res.e2e = {
        "events_per_s": backlog_rows / (t_drained - t_first),
        "lookup_p50_s": median(reader.latencies),
        "lookup_tail_s": lk_tail,
        **storage_counts(table, bytes_before),
    }
    dur = [p.get("durationMs", {}) for p in progress]
    live_batches = {b for b, fs in batch_files.items() if any(f in sched for f in fs)}
    backlog_max = 0
    for p in progress:
        if p["batchId"] not in live_batches:
            continue
        t_start = _iso_epoch(p["timestamp"])
        done = {f for b, fs in batch_files.items() if b < p["batchId"] for f in fs}
        waiting = [f for f, t in report["published"].items()
                   if t <= t_start and os.path.basename(f) not in done]
        backlog_max = max(backlog_max, len(waiting))
    refreshes = [r for b in ing.batches for r in b.get("summary_refreshes", [])]
    res.layer.update(commit_log_counts(table.path, base_version))
    res.layer.update({
        "streaming.ingest.batches": len(ing.batches),
        "streaming.ingest.batch_p50_s": median([d.get("triggerExecution", 0) / 1000 for d in dur]),
        "streaming.ingest.plan_s": sum(
            (d.get("latestOffset", 0) + d.get("getBatch", 0) + d.get("queryPlanning", 0)) / 1000
            for d in dur
        ),
        "streaming.ingest.wal_s": sum(
            (d.get("walCommit", 0) + d.get("commitOffsets", 0)) / 1000 for d in dur
        ),
        "streaming.ingest.files_per_batch": n_files / len(batch_files),
        "streaming.ingest.backlog_files_max": backlog_max,
        "streaming.ingest.gen_late_max_s": max(report["late_s"].values()),
        "streaming.ingest.freshness_p50_s": median(fresh.values()),
        "streaming.ingest.freshness_tail_s": f_tail,
        "lakehouse.maintain.affected_groups": sum(int(r.get("affected_groups", 0)) for r in refreshes),
        "lakehouse.maintain.changed_files_read": sum(int(r.get("changed_files_read", 0)) for r in refreshes),
        "lakehouse.maintain.full_refreshes": sum(1 for r in refreshes if r.get("mode") == "full"),
        "functions.validate.calls": sum(1 for b in ing.batches if "validation" in b),
        "lakehouse.read.files_per_lookup": float(np.mean(files_per_lookup)) if files_per_lookup else 0.0,
        "lakehouse.read.resolved_buckets": len(table.delta_depths()),
    })
    res.record.update(
        drain_s=t_drained - t_first, query_start_s=t_first - t0, drain_batches=len(drain), backlog_rows=backlog_rows,
        live_files=n_live, freshness_s=sorted(fresh.values()), freshness_tail_pct=f_pct,
        freshness_n=f_n, lookup_s=reader.latencies, lookup_tail_pct=lk_pct, lookup_n=lk_n,
        gen_late_s=report["late_s"], batch_durations_ms=dur,
    )
    return res


# ------------------------------------------------------------- analytics
def analytics(ctx: Ctx) -> Result:
    from concurrent.futures import ThreadPoolExecutor

    import duckdb

    from sql_etl_pipeline_spark.analytics.queries import QUERIES as ANALYTICS
    from sql_etl_pipeline_spark.datapipe.queries import QUERIES as DATAPIPE
    from tools.check_oracles import digest  # the repo's oracle comparison

    P, spark, res = ANALYTICS_PARAMS, ctx.spark, Result()
    t_stage = time.time()
    data = os.path.join(ctx.work, "star")
    tables = datagen.star_tables(ctx.seed, data, scale=P["scale"])
    res.record["stage_s"] = time.time() - t_stage
    specs = {q: ("analytics", ANALYTICS[q]) for q in P["analytics"]}
    specs |= {q: ("datapipe", DATAPIPE[q]) for q in P["datapipe"]}
    reports = os.path.join(ctx.work, "reports")

    def run(q: str, export: bool):
        layer, spec = specs[q]

        def go():
            df = spec.fn(spark, data)
            if export:
                df.write.mode("overwrite").parquet(os.path.join(reports, q))
            else:
                noop(df)

        dt, _, err = timed_ops(ctx, layer, f"{layer}.{q}", go)
        return q, dt, err

    def one_pass(export: bool) -> tuple[float, list]:
        t = time.time()
        with ThreadPoolExecutor(P["clients"], thread_name_prefix="cdcperf-client") as ex:
            out = list(ex.map(lambda q: run(q, export), specs))
        return time.time() - t, out

    # ---------------- timed region: a cold pass (planning and codegen on a
    # fresh JVM) into the noop sink, then one warm pass that exports every
    # report as parquet
    t0 = time.time()
    res.setup_s = t0 - ctx.t_start
    cold_s, cold = one_pass(export=False)
    warm_s, warm = one_pass(export=True)
    res.timed = (t0, time.time())
    for q, _, err in cold + warm:
        res.attempted += 1
        if err:
            res.failed += 1
            res.record.setdefault("errors", []).append(f"{q}: {err}")

    # ---------------- checks: every exported report against its DuckDB oracle
    t_check = time.time()
    con = duckdb.connect()
    for name, path in tables.items():
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{path}')")
    for q, (_, spec) in specs.items():
        try:
            got = pq.read_table(os.path.join(reports, q)).to_pandas()
        except Exception as e:  # noqa: BLE001 -- a missing report fails its check
            res.record.setdefault("errors", []).append(f"{q}: {type(e).__name__}: {e}")
            res.checks[f"{q}_matches_oracle"] = False
            continue
        res.checks[f"{q}_matches_oracle"] = (
            digest(got) == digest(con.execute(spec.oracle).fetchdf())
        )
    con.close()
    res.record["check_s"] = time.time() - t_check

    live = sum(
        os.path.getsize(p)
        for p in glob.glob(os.path.join(reports, "*", "*.parquet"))
    )
    # the export writes each report once, so every report byte written is live
    res.e2e = {"write_amp": 1.0, "table_mb": live / (1024.0 * 1024.0)}
    res.layer.update({
        "analytics.cold_pass_s": cold_s,
        "analytics.suite_s": warm_s,
        **{f"{specs[q][0]}.{q}_s": dt for q, dt, _ in warm},
    })
    res.record.update(
        cold_pass_s=cold_s, suite_s=warm_s,
        cold_query_s={q: dt for q, dt, _ in cold}, warm_query_s={q: dt for q, dt, _ in warm},
    )
    return res


def _iso_epoch(ts: str) -> float:
    from datetime import datetime

    return datetime.fromisoformat(ts.replace("Z", "+00:00")).timestamp()


def params(workload: str) -> dict:
    return {
        "backfill_mor": BACKFILL_PARAMS,
        "stream_recent": STREAM_PARAMS,
        "analytics": ANALYTICS_PARAMS,
    }[workload]


WORKLOADS: dict[str, Callable[[Ctx], Result]] = {
    "backfill_mor": backfill_mor,
    "stream_recent": stream_recent,
    "analytics": analytics,
}
