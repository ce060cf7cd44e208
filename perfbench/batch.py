"""Batch workloads: a closed loop with one client running registered
queries back to back.

Every execution releases the engine's model memos and shared caches
first, so each one pays its model fits and cache builds, then times
``REGISTRY[q].fn`` plus running the result into Spark's ``noop``
writer (a ``count()`` would let the optimizer prune most of the plan).
Query order is permuted per pass by the seed. Before timing, one
untimed execution per query is compared with the query's DuckDB
oracle; it doubles as the warm-up.
"""

from __future__ import annotations

import os
import random
import statistics
import time
from collections import defaultdict
from dataclasses import dataclass

from perfbench import fixtures, measure, tracing
from perfbench.harness import Harness

# Fixture tables are fixed for every run, like a real dataset; the seed
# drives the query order.
DATA_SEED = 42


@dataclass(frozen=True)
class BatchSpec:
    queries: tuple[str, ...]
    scale: float


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _release(spark) -> None:
    from datafusion_streams_spark.operators import release_model_memos, release_shared_caches

    release_model_memos(spark)
    release_shared_caches(spark)


def rows_match(spark_pdf, oracle_pdf) -> bool:
    """The driver's comparison: columns sorted by name, rows compared as
    sorted stringified tuples, exact values."""
    a = spark_pdf[sorted(spark_pdf.columns)]
    b = oracle_pdf[sorted(oracle_pdf.columns)]
    if list(a.columns) != list(b.columns) or len(a) != len(b):
        return False
    rows = lambda df: sorted(map(str, df.itertuples(index=False, name=None)))  # noqa: E731
    return rows(a) == rows(b)


def check_queries(spark, names: list[str], data_dir: str) -> list[str]:
    """Run each query once against its DuckDB oracle; returns the names
    that mismatched or raised."""
    import duckdb

    from datafusion_streams_spark.catalog import TABLES
    from datafusion_streams_spark.operators import REGISTRY

    con = duckdb.connect()
    try:
        for t in TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{data_dir}/{t}.parquet'")
        bad = []
        for name in names:
            spec = REGISTRY[name]
            _release(spark)
            try:
                ok = rows_match(spec.fn(spark, data_dir).toPandas(), con.execute(spec.oracle).fetchdf())
            except Exception as e:  # a failing query is a wrong result, not a crashed run
                print(f"# {name}: {type(e).__name__}: {str(e)[:200]}")
                ok = False
            if not ok:
                bad.append(name)
        return bad
    finally:
        con.close()


def run(h: Harness, spec: BatchSpec, seed: int, seconds: float, traced: bool) -> dict:
    from datafusion_streams_spark.operators import REGISTRY

    missing = [q for q in spec.queries if REGISTRY.get(q) is None or REGISTRY[q].oracle is None]
    if missing:
        raise ValueError(f"queries without a registry entry or oracle: {missing}")
    data_dir = h.path("data")
    t0 = time.perf_counter()
    fixtures.write_tables(data_dir, spec.scale, DATA_SEED)
    fixtures_s = time.perf_counter() - t0

    def warm_up(spark, _last: bool) -> None:
        _noop(REGISTRY[spec.queries[0]].fn(spark, data_dir))

    setup_s = h.setup_rounds(warm_up, restart_session=True)
    spark = h.spark
    rng = random.Random(seed)
    names = list(spec.queries)

    t0 = time.perf_counter()
    wrong = check_queries(spark, rng.sample(names, len(names)), data_dir)
    check_s = time.perf_counter() - t0
    attempted, failed = len(names), len(wrong)

    tracer = tracing.Tracer() if traced else None
    if tracer:
        tracer.wrap_catalog()
    lat: list[float] = []
    per_op: list[dict] = []
    counts: dict[str, list[tuple[int, int]]] = defaultdict(list)
    t_start = time.perf_counter()
    passes = 0
    while True:
        for q in rng.sample(names, len(names)):
            _release(spark)
            attempted += 1
            try:
                if tracer:
                    rec = _traced_execution(spark, tracer, attempted, q, REGISTRY[q].fn, data_dir)
                    per_op.append(rec)
                    counts[q].append((rec["jobs"], rec["stages"]))
                    lat.append(rec["wall_s"])
                else:
                    t0 = time.perf_counter()
                    _noop(REGISTRY[q].fn(spark, data_dir))
                    lat.append(time.perf_counter() - t0)
            except Exception as e:  # counted in error_rate; the loop goes on
                print(f"# {q}: {type(e).__name__}: {str(e)[:200]}")
                failed += 1
        passes += 1
        # a traced run needs two warm executions per query to tell
        # whether its job and stage counts repeat
        if time.perf_counter() - t_start >= seconds and passes >= (2 if tracer else 1):
            break
    wall = time.perf_counter() - t_start
    if tracer:
        tracer.unwrap()

    summary = measure.latency_summary(lat)
    result = {
        "setup_s": setup_s,
        "latency_p50_s": summary["p50"],
        "latency_tail_s": summary["tail"],
        "throughput_per_s": len(lat) / wall,
        "attempted": attempted,
        "failed": failed,
        "notes": {
            "tail_percentile": summary["tail_pct"],
            "samples": summary["n"],
            "passes": passes,
            "timed_wall_s": round(wall, 3),
            "fixtures_s": round(fixtures_s, 3),
            "check_s": round(check_s, 3),
            "setup_rounds_s": [round(x, 3) for x in h.setup_round_s],
            "wrong_results": wrong,
        },
    }
    if tracer:
        stable = sorted(q for q, c in counts.items() if len(c) > 1 and len(set(c)) == 1)
        result["layers"] = _layers(h, per_op, len(stable), summary["p50"])
        result["notes"]["count_stable"] = stable
        result["notes"]["jobs_stages"] = {q: c for q, c in counts.items() if q not in stable}
        result["tracer"] = tracer
    return result


def _traced_execution(spark, tracer: tracing.Tracer, op: int, name: str, fn, data_dir: str) -> dict:
    sc = spark.sparkContext
    group = f"perfbench-{op}"
    sc.setJobGroup(group, name)
    tracer.op = op
    w0, t0 = time.time(), time.perf_counter()
    with tracer.span("operators.execution"):
        with tracer.span("operators.build"):
            df = fn(spark, data_dir)
        with tracer.span("operators.plan"):
            df._jdf.queryExecution().executedPlan()
        with tracer.span("operators.exec"):
            _noop(df)
    wall = time.perf_counter() - t0
    stats = tracing.group_stats(spark, group, (w0, w0 + wall))
    return {
        "wall_s": wall,
        "build_s": tracer.total("operators.build", op),
        "plan_s": tracer.total("operators.plan", op),
        "exec_s": tracer.total("operators.exec", op),
        "catalog_calls": tracer.count("catalog.call", op),
        "catalog_s": tracer.total("catalog.call", op),
        "parquet_reads": tracer.count("catalog.parquet_read", op),
        "jobs": stats.jobs,
        "stages": stats.stages,
        "tasks": stats.tasks,
        "failed_tasks": stats.failed_tasks,
        "run_s": stats.run_s,
        "cpu_s": stats.cpu_s,
        "gc_s": stats.gc_s,
        "shuffle_bytes": stats.shuffle_bytes,
        "spill_bytes": stats.spill_bytes,
        "input_bytes": stats.input_bytes,
        "driver_gap_s": max(0.0, wall - stats.busy_s),
        "persisted_rdds": len(sc._jsc.getPersistentRDDs()),
    }


def _layers(h: Harness, ops: list[dict], count_stable: int, p50: float) -> dict[str, float]:
    mean = lambda key: statistics.fmean(o[key] for o in ops) if ops else 0.0  # noqa: E731
    return {
        "session.start_s": statistics.median(h.session_start_s),
        "catalog.calls": mean("catalog_calls"),
        "catalog.s": mean("catalog_s"),
        "catalog.parquet_reads": mean("parquet_reads"),
        "operators.build_s": mean("build_s"),
        "operators.plan_s": mean("plan_s"),
        "operators.exec_s": mean("exec_s"),
        "operators.driver_gap_s": mean("driver_gap_s"),
        "operators.jobs": mean("jobs"),
        "operators.stages": mean("stages"),
        "operators.tasks": mean("tasks"),
        "operators.failed_tasks": mean("failed_tasks"),
        "operators.task_run_s": mean("run_s"),
        "operators.task_cpu_s": mean("cpu_s"),
        "operators.task_gc_s": mean("gc_s"),
        "operators.task_wait_s": max(0.0, mean("run_s") - mean("cpu_s")),
        "operators.shuffle_bytes": mean("shuffle_bytes"),
        "operators.spill_bytes": mean("spill_bytes"),
        "operators.input_bytes": mean("input_bytes"),
        "operators.persisted_rdds": max((o["persisted_rdds"] for o in ops), default=0),
        "operators.count_stable": count_stable,
        "trace.latency_p50_s": p50,
    }
