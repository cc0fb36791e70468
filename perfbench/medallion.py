"""Streaming medallion workloads: Bronze files -> Silver -> Gold MERGE.

One step lands one pre-staged Bronze file in the monitored directory by an
atomic rename, then drains Silver and Gold with ``processAllAvailable``.
The loop is closed (one file in flight), so a step's wall time is the
file's freshness: landing to Gold having merged it.

Everything is driven through the program's public functions
(``generator``, ``sources``, ``pipeline``, ``sinks``, ``session``); the
per-layer numbers come from Spark's ``StreamingQuery.recentProgress``,
from wrapping ``sinks.merge_upsert_parquet`` from outside and, on a traced
run, from the query-registry keys of ``batchkeys``.
"""

from __future__ import annotations

import contextlib
import json
import os
import statistics
import time
from dataclasses import dataclass, field
from datetime import datetime, timedelta, timezone

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import functions as F

from real_time_rides_data_pipeline_spark import pipeline, sinks
from real_time_rides_data_pipeline_spark.generator import GenConfig, generate_events
from real_time_rides_data_pipeline_spark.schemas import BRONZE_SCHEMA
from real_time_rides_data_pipeline_spark.session import get_spark
from real_time_rides_data_pipeline_spark.sources.files import parquet_stream

import batchkeys
import procstat

EVENTS_PER_FILE = 1000
N_DRIVERS = 100  # the reference producer's default
SETUP_REPS = 2
#: Untimed steps before the timed loop: the first steps after set-up run
#: slowest while the JVM's JIT and Spark's code caches warm up (on 4 vCPUs
#: the first is ~15 % above the later ones, the second ~7 %). Step time keeps
#: drifting down slowly for a dozen more steps; those do not fit the run
#: budget (DESIGN.md).
PREROLL_STEPS = 2
#: Wide enough that no generated event is late, so the stream must equal
#: the batch plan (as in the streaming tests).
WATERMARK = "2 hours"
#: Gold reads every Silver file a Silver batch commits in one micro-batch.
GOLD_MAX_FILES = 10_000
#: Gold history: N_DRIVERS x hourly windows over HISTORY_DAYS, ending a day
#: before the stream's first event, so history and stream windows are
#: disjoint.
HISTORY_DAYS = 183
HISTORY_END = GenConfig().start.replace(tzinfo=timezone.utc) - timedelta(days=1)
GOLD_COLS = [
    "window_start",
    "window_end",
    "driver_id",
    "total_rides_hourly",
    "avg_fare_hourly",
    "total_suspicious_rides_hourly",
]

WORKLOADS = {"medallion_steady": False, "gold_history": True}


def _p(values: list[float], q: float) -> float:
    """Quantile ``q`` (0.5, 0.75) by linear interpolation."""
    if len(values) == 1:
        return values[0]
    cuts = statistics.quantiles(values, n=4, method="inclusive")
    return {0.5: cuts[1], 0.75: cuts[2]}[q]


def _mean(values: list[float]) -> float:
    return sum(values) / len(values) if values else 0.0


def history_table(seed: int) -> pa.Table:
    """Seeded Gold history rows with the Gold table's column types."""
    rng = np.random.default_rng(seed)
    hours = HISTORY_DAYS * 24
    first = int(HISTORY_END.timestamp()) - hours * 3600
    start_us = (first + np.repeat(np.arange(hours), N_DRIVERS) * 3600) * 10**6
    rides = rng.integers(1, 21, len(start_us))
    ts = pa.timestamp("us", tz="UTC")
    return pa.table(
        {
            "window_start": pa.array(start_us, ts),
            "window_end": pa.array(start_us + 3600 * 10**6, ts),
            "driver_id": np.tile([f"DRV{d:03d}" for d in range(1, N_DRIVERS + 1)], hours),
            "total_rides_hourly": rides,
            "avg_fare_hourly": rng.integers(5_000, 100_000, len(rides)) / 100.0,
            "total_suspicious_rides_hourly": rng.integers(0, rides + 1),
        }
    )


def _fingerprint(df) -> tuple:
    """Order-independent (row count, xor of row hashes) of ``df``."""
    row = df.select(F.xxhash64(*GOLD_COLS).alias("h")).agg(
        F.count("h"), F.bit_xor("h")
    ).first()
    return tuple(row)


class MergeTrace:
    """Wraps ``sinks.merge_upsert_parquet``: ``foreach_batch_merge`` binds
    the module attribute when the Gold query is built, so patching it
    before ``run_streaming_gold`` traces every merge without a program
    edit. Records each call's wall time and the Gold table's rows and bytes
    after it (read from parquet footers, no Spark job)."""

    def __init__(self):
        self.calls: list[dict] = []
        self._orig = sinks.merge_upsert_parquet

    def install(self) -> None:
        orig = self._orig

        def traced(spark, updates, target_path, keys):
            t0 = time.perf_counter()
            orig(spark, updates, target_path, keys)
            secs = time.perf_counter() - t0
            rows = nbytes = 0
            for name in os.listdir(target_path):
                if name.endswith(".parquet"):
                    path = os.path.join(target_path, name)
                    rows += pq.ParquetFile(path).metadata.num_rows
                    nbytes += os.path.getsize(path)
            self.calls.append({"s": secs, "rows": rows, "bytes": nbytes})

        sinks.merge_upsert_parquet = traced

    def restore(self) -> None:
        sinks.merge_upsert_parquet = self._orig


@dataclass
class Stack:
    """One set-up medallion: session, staged inputs, running queries."""

    spark: object
    root: str
    staged: list[str]
    events_per_file: list[int]
    silver: object = None
    gold: object = None
    phases: dict = field(default_factory=dict)

    @property
    def landing(self) -> str:
        return os.path.join(self.root, "bronze")

    @property
    def silver_path(self) -> str:
        return os.path.join(self.root, "silver")

    @property
    def gold_path(self) -> str:
        return os.path.join(self.root, "gold")

    @property
    def history_ref(self) -> str:
        """A copy of the seeded history, outside the Gold table."""
        return os.path.join(self.root, "history_ref.parquet")

    def land(self, i: int) -> None:
        src = self.staged[i]
        os.rename(src, os.path.join(self.landing, os.path.basename(src)))

    def step(self, i: int) -> tuple[float, float, float, float]:
        """Land file ``i`` and drain both layers; returns wall-clock start
        and end, and the Silver and Gold drain times."""
        w0 = time.time()
        t0 = time.perf_counter()
        self.land(i)
        self.silver.processAllAvailable()
        t1 = time.perf_counter()
        self.gold.processAllAvailable()
        t2 = time.perf_counter()
        return w0, time.time(), t1 - t0, t2 - t1

    def stop(self) -> None:
        for q in (self.gold, self.silver):
            if q is not None:
                q.stop()


def _stage_inputs(root: str, seed: int, n_files: int) -> tuple[list[str], list[int]]:
    """Generate the seeded event stream and write it as ``n_files``
    consecutive time slices, one parquet file each, outside the monitored
    directory."""
    events = generate_events(
        GenConfig(seed=seed, n_events=n_files * EVENTS_PER_FILE, n_drivers=N_DRIVERS)
    )
    staged_dir = os.path.join(root, "staged")
    os.makedirs(staged_dir)
    paths, sizes = [], []
    for i in range(n_files):
        part = events[i * EVENTS_PER_FILE : (i + 1) * EVENTS_PER_FILE]
        table = pa.table(
            {
                "raw_json_data": pa.array([e["json"] for e in part], pa.string()),
                "timestamp": pa.array(
                    [e["timestamp"] for e in part], pa.timestamp("us", tz="UTC")
                ),
            }
        )
        path = os.path.join(staged_dir, f"part-{i:05d}.parquet")
        pq.write_table(table, path)
        paths.append(path)
        sizes.append(len(part))
    return paths, sizes


def set_up(root: str, seed: int, n_files: int, history: bool, conf: dict) -> Stack:
    """Session start, input staging, Gold target preparation and warm-up
    (starting both queries and draining staged file 0), each timed."""
    t0 = time.perf_counter()
    spark = get_spark(app_name="perfbench", extra_conf=conf)
    t1 = time.perf_counter()
    staged, sizes = _stage_inputs(root, seed, n_files)
    stack = Stack(spark, root, staged, sizes)
    t2 = time.perf_counter()
    if history:
        table = history_table(seed)
        pq.write_table(table, stack.history_ref)
        os.makedirs(stack.gold_path)
        pq.write_table(table, os.path.join(stack.gold_path, "history.parquet"))
    t3 = time.perf_counter()
    os.makedirs(stack.landing)
    stack.silver = pipeline.run_streaming_silver(
        parquet_stream(spark, stack.landing, BRONZE_SCHEMA),
        stack.silver_path,
        os.path.join(root, "ckpt_silver"),
        trigger_seconds=None,
        watermark=WATERMARK,
    )
    stack.land(0)
    stack.silver.processAllAvailable()
    silver_schema = spark.read.parquet(stack.silver_path).schema
    stack.gold = pipeline.run_streaming_gold(
        parquet_stream(spark, stack.silver_path, silver_schema, GOLD_MAX_FILES),
        stack.gold_path,
        os.path.join(root, "ckpt_gold"),
        watermark=WATERMARK,
    )
    stack.gold.processAllAvailable()
    t4 = time.perf_counter()
    stack.phases = {
        "session_s": t1 - t0,
        "inputs_s": t2 - t1,
        "history_s": t3 - t2,
        "warmup_s": t4 - t3,
    }
    return stack


def check(stack: Stack, history: bool) -> list[str]:
    """Output checks; returns the failures (empty when correct)."""
    spark = stack.spark
    errors = []
    gold = spark.read.parquet(stack.gold_path)
    streamed = gold.filter(F.col("window_start") >= F.lit(HISTORY_END))
    expected = pipeline.batch_pipeline(spark.read.parquet(stack.landing))

    def rows(df):
        return sorted(tuple(r) for r in df.select(*GOLD_COLS).collect())

    got, want = rows(streamed), rows(expected)
    if got != want:
        errors.append(f"gold != batch_pipeline: {len(got)} vs {len(want)} rows")
    silver_n = spark.read.parquet(stack.silver_path).count()
    gold_rides = sum(r[3] for r in got)
    if gold_rides != silver_n:
        errors.append(f"sum(total_rides_hourly) {gold_rides} != silver rows {silver_n}")
    if history:
        kept = gold.filter(F.col("window_start") < F.lit(HISTORY_END))
        if _fingerprint(kept) != _fingerprint(spark.read.parquet(stack.history_ref)):
            errors.append("gold history rows changed")
    return errors


def _progress(query, since_batch: int) -> list[dict]:
    out = []
    for p in query.recentProgress:
        rec = json.loads(p.json)
        if rec["batchId"] >= since_batch:
            rec["epoch_s"] = _epoch(rec["timestamp"])
            out.append(rec)
    return out


def _epoch(iso: str) -> float:
    return datetime.strptime(iso, "%Y-%m-%dT%H:%M:%S.%fZ").replace(
        tzinfo=timezone.utc
    ).timestamp()


def _layer_metrics(prefix: str, recs: list[dict]) -> dict[str, float]:
    """Per-batch progress of one query, split into data and no-data
    batches. Phase durations are whole milliseconds, so they are reported
    as means over the batches."""
    data = [r for r in recs if r["numInputRows"] > 0]
    nodata = [r for r in recs if r["numInputRows"] == 0]

    def dur(r, *keys):
        return sum(r["durationMs"].get(k, 0) for k in keys)

    def state(r, key):
        return sum(op.get(key, 0) for op in r["stateOperators"])

    last = recs[-1] if recs else {"stateOperators": []}
    return {
        f"{prefix}.batches": len(recs),
        f"{prefix}.nodata_batches": len(nodata),
        f"{prefix}.trigger_ms": _mean([dur(r, "triggerExecution") for r in data]),
        f"{prefix}.nodata_ms": _mean([dur(r, "triggerExecution") for r in nodata]),
        f"{prefix}.source_ms": _mean([dur(r, "latestOffset", "getBatch") for r in data]),
        f"{prefix}.add_batch_ms": _mean([dur(r, "addBatch") for r in data]),
        f"{prefix}.planning_ms": _mean([dur(r, "queryPlanning") for r in data]),
        f"{prefix}.overhead_ms": _mean(
            [dur(r, "triggerExecution") - dur(r, "addBatch") for r in data]
        ),
        f"{prefix}.state_commit_ms": _mean([state(r, "commitTimeMs") for r in data]),
        f"{prefix}.state_rows": state(last, "numRowsTotal"),
        f"{prefix}.state_bytes": state(last, "memoryUsedBytes"),
        f"{prefix}.watermark_dropped": sum(
            state(r, "numRowsDroppedByWatermark") for r in recs
        ),
        f"{prefix}.rows_in": sum(r["numInputRows"] for r in recs),
    }


def trace_metrics(stack: Stack, steps: list[tuple], first_batch: tuple[int, int],
                  calls: list[dict], silver_files: int) -> dict[str, float]:
    """Per-layer numbers of the timed steps."""
    silver = _progress(stack.silver, first_batch[0])
    gold = _progress(stack.gold, first_batch[1])
    out = {}
    out.update(_layer_metrics("silver", silver))
    out.update(_layer_metrics("gold", gold))
    n_data = max(1, sum(1 for r in silver if r["numInputRows"] > 0))
    # Rows a stateful operator updates are the rows it emits: Silver rows
    # written after dedup, Gold windows handed to the MERGE.
    out["silver.rows_out"] = sum(r["stateOperators"][0]["numRowsUpdated"] for r in silver)
    out["gold.rows_updated"] = sum(r["stateOperators"][0]["numRowsUpdated"] for r in gold)
    out["silver.sink_files"] = (_parquet_files(stack.silver_path) - silver_files) / n_data
    out["gold.merge_calls"] = len(calls)
    out["gold.merge_s"] = _p([c["s"] for c in calls], 0.5) if calls else 0.0
    out["gold.table_rows"] = calls[-1]["rows"] if calls else 0
    out["gold.table_mb"] = calls[-1]["bytes"] / 2**20 if calls else 0.0
    out["gold.rewrite_rows_per_update_row"] = sum(c["rows"] for c in calls) / max(
        1, out["gold.rows_updated"]
    )

    # Blocking path per landed file: the part of its in-flight window that
    # some trigger of either query covers (a Silver no-data batch runs
    # while Gold works, so the triggers overlap and are not summed).
    spans = sorted(
        (r["epoch_s"], r["epoch_s"] + r["durationMs"]["triggerExecution"] / 1000.0)
        for r in silver + gold
    )
    triggers, rest, silver_s, gold_s = [], [], [], []
    for w0, w1, s_s, g_s in steps:
        busy, reach = 0.0, w0
        for a, b in spans:
            a, b = max(a, reach), min(b, w1)
            if b > a:
                busy += b - a
                reach = b
        triggers.append(busy)
        rest.append((w1 - w0) - busy)
        silver_s.append(s_s)
        gold_s.append(g_s)
    out["path.silver_s"] = _p(silver_s, 0.5)
    out["path.gold_s"] = _p(gold_s, 0.5)
    out["path.triggers_s"] = _p(triggers, 0.5)
    out["path.unaccounted_s"] = _p(rest, 0.5)
    return out


def run(workload: str, seed: int, seconds: float, trace: bool, workdir: str,
        conf: dict) -> dict:
    """Launch the JVM (untimed), set up ``SETUP_REPS`` times, each in a
    fresh session, measure on the last set-up and check the outputs; a
    traced run then also runs the registry keys. Returns the raw metric
    values, the check failures, the op count and diagnostics."""
    history = WORKLOADS[workload]
    # Enough staged files that the loop never runs dry at a fast step time.
    n_files = 1 + PREROLL_STEPS + int(seconds / 0.75) + 1
    merges = MergeTrace() if trace else None
    # The JVM's own start-up is Spark's cost, not the program's, and varies
    # most with host load, so it stays out of setup_s.
    t0 = time.perf_counter()
    get_spark(app_name="perfbench", extra_conf=conf).stop()
    jvm_s = time.perf_counter() - t0
    setups, stack = [], None
    try:
        for rep in range(SETUP_REPS):
            if stack is not None:
                stack.stop()
                stack.spark.stop()
            if merges is not None and rep == SETUP_REPS - 1:
                merges.install()
            root = os.path.join(workdir, f"setup{rep}")
            os.makedirs(root)
            t0 = time.perf_counter()
            stack = set_up(root, seed, n_files, history, conf)
            setups.append((time.perf_counter() - t0, stack.phases))
        result = _measure(stack, seconds, history, setups, merges)
        result["diag"]["jvm_s"] = round(jvm_s, 3)
        if trace:
            result["metrics"]["setup.jvm_s"] = jvm_s
            stack.stop()
            keys, errors = batchkeys.measure(stack.spark, workdir, seed)
            result["metrics"].update(keys)
            result["errors"] += errors
            result["attempted"] += len(batchkeys.KEYS)
        # A failed check counts every op of the run as failed.
        result["failed"] = result["attempted"] if result["errors"] else 0
        return result
    finally:
        if merges is not None:
            merges.restore()
        if stack is not None:
            stack.stop()


def _measure(stack: Stack, seconds: float, history: bool, setups: list,
             merges: MergeTrace | None) -> dict:
    """Pre-roll, timed loop, checks. ``merges`` is given on a traced run,
    which reports the per-layer metrics instead of the end-to-end ones."""
    # Staged file 0 was drained by the set-up.
    first = 1 + PREROLL_STEPS
    for i in range(1, first):
        stack.step(i)
    first_batch = (
        stack.silver.lastProgress["batchId"] + 1,
        stack.gold.lastProgress["batchId"] + 1,
    )
    silver_files = _parquet_files(stack.silver_path)
    n_merges = len(merges.calls) if merges is not None else 0
    rss = procstat.PeakRss() if merges is not None else contextlib.nullcontext()
    steps = []
    i = first
    cpu0 = procstat.tree_cpu_s()
    steal0 = procstat.host_steal()
    with rss:
        t0 = time.perf_counter()
        while i < len(stack.staged) and time.perf_counter() - t0 < seconds:
            steps.append(stack.step(i))
            i += 1
        wall = time.perf_counter() - t0
    cpu_s = procstat.tree_cpu_s() - cpu0
    steal1 = procstat.host_steal()

    t_check = time.perf_counter()
    errors = check(stack, history)
    check_s = time.perf_counter() - t_check
    fresh = [w1 - w0 for w0, w1, _, _ in steps]
    metrics = {
        "setup_s": statistics.median(t for t, _ in setups),
        "events_per_s": sum(stack.events_per_file[first:i]) / wall,
        "freshness_p50_s": _p(fresh, 0.5),
        "freshness_p75_s": _p(fresh, 0.75),
        "cpu_s": cpu_s / max(1, len(steps)),
    }
    if merges is not None:
        layer = trace_metrics(
            stack, steps, first_batch, merges.calls[n_merges:], silver_files
        )
        for name in setups[0][1]:
            layer[f"setup.{name}"] = statistics.median(p[name] for _, p in setups)
        layer["process.peak_rss_mb"] = rss.peak / 2**20
        # The same end-to-end numbers with tracing on; minus an untraced
        # run's, they give the tracing overhead.
        layer.update({f"traced.{k}": v for k, v in metrics.items()})
        metrics = layer
    return {
        "errors": errors,
        "attempted": len(steps),
        "diag": {
            "freshness_s": [round(f, 3) for f in fresh],
            "setups": [
                {"total_s": round(t, 3), **{k: round(v, 3) for k, v in p.items()}}
                for t, p in setups
            ],
            "check_s": round(check_s, 3),
            "host_steal": round(
                (steal1[0] - steal0[0]) / max(1, steal1[1] - steal0[1]), 4
            ),
        },
        "metrics": metrics,
    }


def _parquet_files(path: str) -> int:
    return sum(1 for n in os.listdir(path) if n.endswith(".parquet"))
