"""What the benchmark runs and reports: the workloads, their sizes and
rates, the metric units, and which end-to-end metric each per-layer
metric is expected to move. ``BENCHMARK.json`` at the repository root
lists the same workloads and metrics; ``perfbench/tests`` keeps the two
in step. The stream workload's latency limit is ``stream.TIMEOUT_S``: a
landed file not in a result that long after it was due counts as
failed."""

from __future__ import annotations

from perfbench.batch import BatchSpec
from perfbench.stream import StreamSpec

WORKLOADS: dict[str, BatchSpec | StreamSpec] = {
    # Closed loop, one client. Driver-side DataFrame build (the catalog
    # reads every fixture table), Catalyst and JVM shuffles dominate;
    # Python workers stay idle.
    "relational": BatchSpec(
        queries=(
            "ref_kafka_pipeline",
            "q1_pricing_summary",
            "q3_shipping_priority",
            "q5_local_supplier_volume",
            "q6_revenue_forecast",
            "q9_product_profit",
            "q10_returned_items",
            "q21_waiting_suppliers",
            "join_broadcast_dim",
            "agg_rollup",
            "window_topk_per_group",
        ),
        scale=0.01,
    ),
    # Open loop through the paper's operator: the Kafka-shaped file
    # stream, cast to string and length(), into the engine's
    # manifest-committing Python sink. Stateless; per-trigger costs
    # dominate.
    # The open loop lands 4000 rows/s as one file per 0.3 s, so at the
    # benchmark's run length (8 s) the landing directory stays under
    # Spark's 32-path threshold for a parallel listing job: a run whose
    # last triggers straddled it gave bimodal latencies. The bursts
    # cross it, so the listing job shows in throughput_per_s and in
    # sources.drain_list_s.
    "stream_ref": StreamSpec(rows_per_s=4000, file_interval_s=0.3, burst_files=30, bursts=2),
}

END_TO_END_UNITS = {
    "setup_s": "s",
    "latency_p50_s": "s",
    "latency_tail_s": "s",
    "throughput_per_s": "1/s",
    "peak_rss_mb": "MB",
}

# per-layer metric -> (unit, the end-to-end metric it should move, on
# which workloads)
LAYER_METRICS: dict[str, tuple[str, str, tuple[str, ...]]] = {
    "session.start_s": ("s", "setup_s", ("relational", "stream_ref")),
    "catalog.calls": ("count", "latency_p50_s", ("relational",)),
    "catalog.s": ("s", "latency_p50_s", ("relational",)),
    "catalog.parquet_reads": ("count", "latency_p50_s", ("relational",)),
    "operators.build_s": ("s", "latency_p50_s", ("relational",)),
    "operators.plan_s": ("s", "latency_p50_s", ("relational",)),
    "operators.exec_s": ("s", "latency_tail_s", ("relational",)),
    "operators.driver_gap_s": ("s", "latency_tail_s", ("relational",)),
    "operators.jobs": ("count", "latency_p50_s", ("relational",)),
    "operators.stages": ("count", "latency_p50_s", ("relational",)),
    "operators.tasks": ("count", "latency_p50_s", ("relational",)),
    "operators.failed_tasks": ("count", "failed", ("relational", "stream_ref")),
    "operators.task_run_s": ("s", "latency_tail_s", ("relational",)),
    "operators.task_cpu_s": ("s", "latency_tail_s", ("relational",)),
    "operators.task_gc_s": ("s", "latency_tail_s", ("relational",)),
    "operators.task_wait_s": ("s", "latency_tail_s", ("relational", "stream_ref")),
    "operators.shuffle_bytes": ("bytes", "latency_tail_s", ("relational",)),
    "operators.spill_bytes": ("bytes", "latency_tail_s", ("relational",)),
    "operators.input_bytes": ("bytes", "latency_tail_s", ("relational",)),
    "operators.persisted_rdds": ("count", "peak_rss_mb", ("relational",)),
    "operators.count_stable": ("count", "latency_p50_s", ("relational",)),
    "streaming.triggers": ("count", "latency_p50_s", ("stream_ref",)),
    "streaming.trigger_s": ("s", "latency_p50_s", ("stream_ref",)),
    "streaming.planning_s": ("s", "latency_p50_s", ("stream_ref",)),
    "streaming.add_batch_s": ("s", "latency_p50_s", ("stream_ref",)),
    "streaming.commit_s": ("s", "latency_p50_s", ("stream_ref",)),
    "streaming.busy_share": ("ratio", "throughput_per_s", ("stream_ref",)),
    "sources.list_s": ("s", "latency_p50_s", ("stream_ref",)),
    "sources.drain_list_s": ("s", "throughput_per_s", ("stream_ref",)),
    "sources.lag_files": ("count", "throughput_per_s", ("stream_ref",)),
    "sources.lag_slope": ("1/s", "throughput_per_s", ("stream_ref",)),
    "sources.rows_per_trigger": ("count", "throughput_per_s", ("stream_ref",)),
    "gen.late_s": ("s", "latency_p50_s", ("stream_ref",)),
    "trace.latency_p50_s": ("s", "latency_p50_s", ("relational", "stream_ref")),
}
