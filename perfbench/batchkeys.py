"""Query-registry keys on a seeded ``events`` table: the batch query path.

The three keys of the program's query registry that read only the
``events`` fixture table run once each on a table generated from the run's
seed, as ``bench.py`` runs every key: ``fn()`` (driver-side work such as
eager checkpoints, collects and loops), then a ``noop`` write that executes
the plan, then an unpersist of every persisted RDD. Per key it records both
times, the Spark jobs of both (``setJobGroup`` and the status tracker) and
the process tree's CPU-seconds. Outside the timed part each key's rows are
compared with its DuckDB oracle on the same table, using the canonical
form of the tests' oracle harness (column names sorted, rows sorted,
floats to 12 significant digits, type-strict).
"""

from __future__ import annotations

import os
import time
from datetime import datetime

import duckdb
import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from real_time_rides_data_pipeline_spark.registry import registry
from tests.oracle_harness import compare

import procstat

#: Together: the flagship hourly window aggregate, the whole medallion as
#: one batch plan (JSON parse, clean, dedup, aggregate) and the custom
#: stateful streaming operator over a two-file replay.
KEYS = ("q_window_hourly_agg", "q_pipeline_e2e", "q_stateful_running")
N_EVENTS = 20_000
N_USERS = 150
EVENT_TYPES = ("click", "view", "purchase", "signup", "error")
START = datetime(2024, 1, 1)
SPAN_DAYS = 30


def events_table(seed: int) -> pa.Table:
    """Seeded rows in the ``events`` fixture's schema and value ranges."""
    rng = np.random.default_rng(seed)
    start_us = int((START - datetime(1970, 1, 1)).total_seconds()) * 10**6
    ts = start_us + np.sort(rng.integers(0, SPAN_DAYS * 86_400 * 10**6, N_EVENTS))
    return pa.table(
        {
            "event_id": pa.array(np.arange(N_EVENTS), pa.int64()),
            "ts": pa.array(ts, pa.timestamp("us")),
            "user_id": pa.array(rng.integers(0, N_USERS, N_EVENTS), pa.int64()),
            "event_type": pa.array(rng.choice(EVENT_TYPES, N_EVENTS), pa.string()),
            "value": pa.array(rng.integers(1, 49_003, N_EVENTS) / 100.0),
            "props": pa.array(
                [f'{{"k": {k}}}' for k in rng.integers(0, 100, N_EVENTS)], pa.string()
            ),
        }
    )


def _unpersist_all(spark) -> None:
    jm = spark.sparkContext._jsc.getPersistentRDDs()
    it = jm.entrySet().iterator()
    while it.hasNext():
        it.next().getValue().unpersist(False)


def measure(spark, root: str, seed: int) -> tuple[dict[str, float], list[str]]:
    """Run ``KEYS`` on a seeded table under ``root``; returns the per-key
    metrics and the output-check failures."""
    sf_dir = os.path.join(root, "registry")
    os.makedirs(sf_dir)
    pq.write_table(events_table(seed), os.path.join(sf_dir, "events.parquet"))
    specs = registry()
    sc = spark.sparkContext
    out, errors = {}, []
    with duckdb.connect() as con:
        con.execute(
            "CREATE VIEW events AS SELECT * FROM read_parquet("
            f"'{os.path.join(sf_dir, 'events.parquet')}')"
        )
        for key in KEYS:
            spec = specs[key]
            sc.setJobGroup(key, key)
            cpu0 = procstat.tree_cpu_s()
            t0 = time.perf_counter()
            df = spec.fn(spark, sf_dir)
            t1 = time.perf_counter()
            df.write.format("noop").mode("overwrite").save()
            t2 = time.perf_counter()
            out[f"{key}.cpu_s"] = procstat.tree_cpu_s() - cpu0
            out[f"{key}.build_s"] = t1 - t0
            out[f"{key}.exec_s"] = t2 - t1
            out[f"{key}.jobs"] = len(sc.statusTracker().getJobIdsForGroup(key))
            sc.setJobGroup("check", "output checks")
            errors.extend(compare(df, con, spec.oracle, key))
            _unpersist_all(spark)
    out["registry.total_s"] = sum(out[f"{k}.build_s"] + out[f"{k}.exec_s"] for k in KEYS)
    return out, errors
