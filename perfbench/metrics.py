"""The benchmark's metric catalogue; BENCHMARK.json lists the same
names and units (a test keeps the two in step)."""

from __future__ import annotations

from perfbench.trace import COUNTS, LAYERS

# End to end, reported by every workload with --trace 0. What batch_s,
# p50_ms and throughput_per_s measure on each workload is in README.md.
E2E = {
    "setup_s": "s",
    "peak_rss_mb": "MB",
    "batch_s": "s",
    "p50_ms": "ms",
    "throughput_per_s": "1/s",
}

ENDPOINTS = (
    "validator_epoch_apr",
    "validator_apr_between_epochs",
    "user_income",
    "slot_withdrawals_page",
    "deth_earned_index",
    "index_apr_recent",
    "top_indexes",
)


def _layer_metrics() -> dict[str, str]:
    m = {
        "streaming.incremental.run_s": "s",
        "streaming.incremental.jobs_per_cycle": "count",
        "streaming.incremental.tasks_per_cycle": "count",
        "streaming.incremental.rows_new_per_cycle": "count",
        "plans.pipelines.index_epoch_apr.build_ms": "ms",
        "plans.pipelines.index_epoch_apr.exec_s": "s",
        "plans.pipelines.backfill_s": "s",
        "io.sinks.write_snapshot_s": "s",
        "io.sinks.files_written_per_cycle": "count",
        "io.sinks.bytes_written_per_cycle": "bytes",
        "io.sinks.stored_bytes_per_live_byte": "ratio",
        "io.sinks.read_snapshot_ms": "ms",
    }
    for ep in ENDPOINTS:
        m[f"plans.serving.{ep}.build_ms"] = "ms"
        m[f"plans.serving.{ep}.exec_ms"] = "ms"
        m[f"plans.serving.{ep}.jobs"] = "count"
        m[f"plans.serving.{ep}.tasks"] = "count"
    m.update(
        {
            "loadgen.open_p50_ms": "ms",
            "loadgen.p75_ms": "ms",
            "loadgen.late_p75_ms": "ms",
            "loadgen.backlog_max": "count",
            "loadgen.samples": "count",
            "operators.text.quality_s": "s",
            "operators.text.docs_kept": "count",
            "operators.dedup.exact_s": "s",
            "operators.dedup.lsh_s": "s",
            "operators.dedup.lsh_candidates": "count",
            "operators.dedup.verified_pairs": "count",
            "operators.dedup.lsh_useful_ratio": "ratio",
            "operators.dedup.planted_recall": "ratio",
            "operators.graph.components_s": "s",
            "caches.tracked_live_after": "count",
            "session.start_s": "s",
            "session.heap_live_peak_mb": "MB",
        }
    )
    # Per operation of the workload (median): each layer's self time and
    # the Spark work its spans submitted.
    for layer in LAYERS:
        m[f"{layer}.self_ms_per_op"] = "ms"
        for c in COUNTS:
            m[f"{layer}.{c}_per_op"] = "count"
    # The traced run's own end-to-end figures; minus the untraced run's,
    # they are the tracing overhead.
    m["trace.batch_s"] = "s"
    m["trace.p50_ms"] = "ms"
    m["trace.spans"] = "count"
    return m


LAYER = _layer_metrics()
