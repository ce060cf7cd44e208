"""The stream workload: an open loop landing events-shaped parquet files
into a directory the engine's file stream source reads.

The files are built at set-up and landed with ``os.replace`` on a fixed
schedule, whatever the engine's progress. Each trigger is mapped back to the
files it consumed through the cumulative ``numInputRows`` of the
query's progress reports (the source consumes files in landing order),
which gives every file's event-to-result latency: from the moment the
file was due to the end of the trigger that consumed it. After the
open loop, bursts of files land at once and the time to consume each
burst gives the rate at which the engine drains a backlog. The query is
drained with ``processAllAvailable()`` before it is stopped, and the
sink's contents are then checked against the landed rows.
"""

from __future__ import annotations

import json
import os
import statistics
import time
from dataclasses import dataclass
from datetime import datetime

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from perfbench import fixtures, measure, tracing
from perfbench.harness import SETUP_ROUNDS, Harness

TRIGGER = "200 milliseconds"  # the reference's micro-batch window
# A file not in a result this long after it was due counts as failed.
TIMEOUT_S = 20.0
USERS = 200


@dataclass(frozen=True)
class StreamSpec:
    rows_per_s: int  # the open loop's input rate
    file_interval_s: float  # one file lands per interval
    burst_files: int  # files per backlog burst
    bursts: int

    @property
    def rows_per_file(self) -> int:
        return round(self.rows_per_s * self.file_interval_s)


@dataclass
class Landing:
    path: str  # staged file
    rows: int
    first_id: int
    due: float = 0.0
    landed: float = 0.0


class Generator:
    """Builds the run's files up front and lands them on request."""

    def __init__(self, stage_dir: str, land_dir: str, spec: StreamSpec, seed: int):
        self.stage_dir, self.land_dir, self.spec = stage_dir, land_dir, spec
        self.rng = np.random.default_rng(seed)
        self.files: list[Landing] = []
        self._next_id = 0
        self._built = 0

    def build(self, n: int) -> list[Landing]:
        out = []
        for _ in range(n):
            rows = self.spec.rows_per_file
            table = fixtures.event_table(self._next_id, rows, USERS, self.rng)
            path = os.path.join(self.stage_dir, f"events-{self._built:06d}.parquet")
            pq.write_table(table, path)
            out.append(Landing(path, rows, self._next_id))
            self._next_id += rows
            self._built += 1
        return out

    def land(self, f: Landing, due: float) -> None:
        os.replace(f.path, os.path.join(self.land_dir, os.path.basename(f.path)))
        f.due, f.landed = due, time.time()
        self.files.append(f)

    def land_on_schedule(self, files: list[Landing], start: float, interval: float) -> None:
        for i, f in enumerate(files):
            due = start + (i + 1) * interval
            delay = due - time.time()
            if delay > 0:
                time.sleep(delay)
            self.land(f, due)


def _start_query(spark, land_dir: str, out_dir: str, ckpt: str):
    """The paper's pipeline: the Kafka-shaped file stream, key and value
    cast to string and ``length(value)``, into the manifest sink."""
    from pyspark.sql import functions as F

    from datafusion_streams_spark.sources.kafka import kafka_like_stream
    from datafusion_streams_spark.sources.pysink import register_manifest_sink

    spark.conf.set("spark.sql.streaming.numRecentProgressUpdates", "100000")
    register_manifest_sink(spark)
    value = F.col("value").cast("string")
    df = kafka_like_stream(spark, land_dir).select(
        F.col("key").cast("string").alias("key"),
        value.alias("value"),
        F.length(value).cast("long").alias("len_value"),
    )
    return (
        df.writeStream.format("manifest_sink")
        .option("path", out_dir)
        .option("checkpointLocation", ckpt)
        .outputMode("append")
        .trigger(processingTime=TRIGGER)
        .start()
    )


def _progress(q) -> list[dict]:
    return [json.loads(p.json) for p in q.recentProgress]


def _consumed(q) -> int:
    return sum(p.numInputRows for p in q.recentProgress)


def _wait_rows(q, rows: int, timeout_s: float) -> bool:
    deadline = time.monotonic() + timeout_s
    while _consumed(q) < rows:
        if q.exception() is not None:
            raise RuntimeError(f"stream failed: {q.exception()}")
        if time.monotonic() > deadline:
            return False
        time.sleep(0.1)
    return True


def _trigger_end(p: dict) -> float:
    start = datetime.fromisoformat(p["timestamp"].replace("Z", "+00:00")).timestamp()
    return start + p["durationMs"]["triggerExecution"] / 1000


def run(h: Harness, spec: StreamSpec, seed: int, seconds: float, traced: bool) -> dict:
    n_open = max(1, round(seconds / spec.file_interval_s))
    land_dir, out_dir = h.path("land"), h.path("out")
    gen = Generator(h.path("stage"), land_dir, spec, seed)
    t0 = time.perf_counter()
    first = gen.build(1)[0]
    open_files = gen.build(n_open)
    bursts = [gen.build(spec.burst_files) for _ in range(spec.bursts)]
    # each discarded set-up round reads its own copy of the first file
    warm_dirs = []
    for r in range(SETUP_ROUNDS - 1):
        d = h.path(f"warm{r}", "land")
        pq.write_table(pq.read_table(first.path), os.path.join(d, "events-000000.parquet"))
        warm_dirs.append(d)
    files_build_s = time.perf_counter() - t0

    state: dict = {}

    def set_up(spark, last: bool) -> None:
        r = len(h.setup_round_s)
        if last:
            gen.land(first, time.time())
            src, out, ckpt = land_dir, out_dir, h.path("ckpt")
        else:
            src, out, ckpt = warm_dirs[r], h.path(f"warm{r}", "out"), h.path(f"warm{r}", "ckpt")
        t0 = time.perf_counter()
        q = _start_query(spark, src, out, ckpt)
        state["start_s"] = time.perf_counter() - t0
        if not _wait_rows(q, first.rows, TIMEOUT_S):
            raise RuntimeError("the first trigger did not complete")
        if last:
            state["query"] = q
        else:
            q.stop()

    # A session restart would re-spawn the Python workers (about 8 s
    # here); later rounds restart only the query, as a long-lived
    # service deploying a new stream would.
    setup_s = h.setup_rounds(set_up, restart_session=False)
    q, spark = state["query"], h.spark
    tracer = tracing.Tracer() if traced else None
    if tracer:
        tracer.wrap_catalog()

    # open loop: one file per interval
    t_open = time.time()
    gen.land_on_schedule(open_files, t_open, spec.file_interval_s)
    caught_up = _wait_rows(q, sum(f.rows for f in gen.files), TIMEOUT_S)
    open_end = time.time()

    # bursts: how fast the engine drains a backlog
    burst_idx = []
    for burst in bursts:
        if not caught_up:
            break  # a stalled engine: its files count as timed out
        t_land = time.time()
        burst_idx.append(range(len(gen.files), len(gen.files) + len(burst)))
        for f in burst:
            gen.land(f, t_land)
        caught_up = _wait_rows(q, sum(f.rows for f in gen.files), TIMEOUT_S)
    if caught_up:
        # drain before stopping: stopping mid-batch kills tasks
        q.processAllAvailable()
    q.stop()
    if tracer:
        tracer.unwrap()

    progress = _progress(q)
    ends = [_trigger_end(p) for p in progress]
    file_trigger = measure.map_triggers_to_files(
        [f.rows for f in gen.files], [p["numInputRows"] for p in progress]
    )
    done_at = [ends[k] if k >= 0 else None for k in file_trigger]
    timed_out = {
        i for i, f in enumerate(gen.files) if done_at[i] is None or done_at[i] - f.due > TIMEOUT_S
    }
    lat = [done_at[i] - gen.files[i].due for i in range(1, 1 + n_open) if i not in timed_out]
    rates = [
        sum(gen.files[i].rows for i in idx) / (max(done_at[i] for i in idx) - gen.files[idx[0]].due)
        for idx in burst_idx
        if not timed_out.intersection(idx)
    ]

    from datafusion_streams_spark.sources.pysink import manifest_files

    parts = manifest_files(out_dir)
    wrong = set(check_ref_rows(pa.concat_tables([pq.read_table(p) for p in parts]) if parts else None, gen.files))
    summary = measure.latency_summary(lat) if lat else {"p50": TIMEOUT_S, "tail": TIMEOUT_S, "tail_pct": 50, "n": 0}
    result = {
        "setup_s": setup_s,
        "latency_p50_s": summary["p50"],
        "latency_tail_s": summary["tail"],
        "throughput_per_s": statistics.median(rates) if rates else 0.0,
        "attempted": len(gen.files),
        "failed": len(wrong | timed_out),
        "notes": {
            "tail_percentile": summary["tail_pct"],
            "samples": summary["n"],
            "rows_per_s": spec.rows_per_s,
            "rows_per_file": spec.rows_per_file,
            "drain_rows_per_s": [round(r, 1) for r in rates],
            "files_build_s": round(files_build_s, 3),
            "setup_rounds_s": [round(x, 3) for x in h.setup_round_s],
            "wrong_files": len(wrong),
            "timed_out_files": len(timed_out),
        },
    }
    if tracer:
        result["layers"] = _layers(h, spark, q, progress, gen, n_open, (t_open, open_end), state["start_s"])
        result["layers"]["trace.latency_p50_s"] = summary["p50"]
        result["tracer"] = tracer
    return result


def _message_id(value: str) -> int:
    try:
        return int(value.removeprefix("Message ")) if value.startswith("Message ") else -1
    except ValueError:
        return -1


def check_ref_rows(sink: pa.Table | None, files: list[Landing]) -> list[int]:
    """Every landed row must appear exactly once with ``key = 'Key <id>'``,
    ``value = 'Message <id>'`` and ``len_value = length(value)``."""
    total = sum(f.rows for f in files)
    seen = np.zeros(total, dtype=np.int64)
    bad_ids: set[int] = set()
    if sink is not None:
        for key, value, n in zip(*(sink.column(c).to_pylist() for c in ("key", "value", "len_value"))):
            eid = _message_id(value)
            if not 0 <= eid < total or key != f"Key {eid}" or n != len(value):
                bad_ids.add(eid)
                continue
            seen[eid] += 1
    starts = np.array([f.first_id for f in files])
    in_range = [e for e in bad_ids if 0 <= e < total]
    wrong = {int(i) for i in np.searchsorted(starts, in_range, side="right") - 1}
    if len(in_range) < len(bad_ids):
        wrong.add(0)  # rows that belong to no landed file
    for i, f in enumerate(files):
        if not (seen[f.first_id:f.first_id + f.rows] == 1).all():
            wrong.add(i)
    return sorted(wrong)


def _layers(h, spark, q, progress, gen, n_open, window, start_s) -> dict[str, float]:
    """Per-layer numbers over the open loop's triggers, plus the source's
    listing time in the bursts' triggers (``sources.drain_list_s``)."""

    def mean(values) -> float:
        values = list(values)
        return statistics.fmean(values) if values else 0.0

    def dur(p, key) -> float:
        return p["durationMs"].get(key, 0) / 1000

    t_open, open_end = window
    cum = np.cumsum([f.rows for f in gen.files])
    consumed, trig, starts, lag, drain = 0, [], [], [], []
    for p in progress:
        start = _trigger_end(p) - dur(p, "triggerExecution")
        if start > open_end and p["numInputRows"] > 0:
            drain.append(p)
        elif t_open <= start:
            # backlog at trigger start: files landed but not yet consumed
            landed = sum(1 for f in gen.files if f.landed <= start)
            trig.append(p)
            starts.append(start)
            lag.append(landed - int(np.searchsorted(cum, consumed, side="right")))
        consumed += p["numInputRows"]
    data = [p for p in trig if p["numInputRows"] > 0]
    busy = sum(dur(p, "triggerExecution") for p in trig)
    stats = tracing.group_stats(spark, str(q.runId), window)
    n = max(1, len(trig))
    late = sorted(f.landed - f.due for f in gen.files[1:1 + n_open])
    return {
        "session.start_s": statistics.median(h.session_start_s),
        "operators.build_s": start_s,
        "operators.exec_s": busy / n,
        "operators.driver_gap_s": max(0.0, busy - stats.busy_s) / n,
        "operators.jobs": stats.jobs / n,
        "operators.stages": stats.stages / n,
        "operators.tasks": stats.tasks / n,
        "operators.failed_tasks": stats.failed_tasks / n,
        "operators.task_run_s": stats.run_s / n,
        "operators.task_cpu_s": stats.cpu_s / n,
        "operators.task_gc_s": stats.gc_s / n,
        "operators.task_wait_s": max(0.0, stats.run_s - stats.cpu_s) / n,
        "operators.shuffle_bytes": stats.shuffle_bytes / n,
        "operators.spill_bytes": stats.spill_bytes / n,
        "operators.input_bytes": stats.input_bytes / n,
        "operators.persisted_rdds": len(spark.sparkContext._jsc.getPersistentRDDs()),
        "streaming.triggers": len(trig),
        "streaming.trigger_s": mean(dur(p, "triggerExecution") for p in data),
        "streaming.planning_s": mean(dur(p, "queryPlanning") for p in data),
        "streaming.add_batch_s": mean(dur(p, "addBatch") for p in data),
        "streaming.commit_s": mean(dur(p, "walCommit") + dur(p, "commitOffsets") for p in data),
        "streaming.busy_share": busy / max(1e-9, open_end - t_open),
        "sources.list_s": mean(dur(p, "latestOffset") + dur(p, "getBatch") for p in data),
        "sources.drain_list_s": mean(dur(p, "latestOffset") + dur(p, "getBatch") for p in drain),
        "sources.lag_files": mean(lag),
        "sources.lag_slope": measure.slope(starts, lag),
        "sources.rows_per_trigger": mean(p["numInputRows"] for p in data),
        "gen.late_s": measure.nearest_rank(late, 99),
    }
