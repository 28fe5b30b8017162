"""Which end-to-end metric each per-layer metric should move, and on
which workload — written down before measuring, printed beside every
traced value so a change can be checked against its prediction."""

from __future__ import annotations

EXPECTED: dict[str, tuple[str, str]] = {
    "session.start_s": ("setup_s", "all"),
    "session.peak_rss_mb": ("none (memory watch)", "all"),
    "sources.load_table_ms": ("query_geomean_ms", "order_analytics"),
    "sources.decode_ms": ("pass_s", "order_stream"),
    "sources.scan_rows": ("pass_s, only through pruning", "order_analytics"),
    "plans.build_ms": ("query_geomean_ms; pass_s", "order_analytics; corpus_dedup"),
    "plans.eager_jobs": ("pass_s", "corpus_dedup"),
    "plans.leaked_cached": ("none; must not rise", "all"),
    "catalyst.plan_ms": ("query_geomean_ms", "order_analytics"),
    "sched.jobs": ("pass_s", "corpus_dedup"),
    "sched.stages": ("pass_s", "corpus_dedup"),
    "sched.tasks": ("pass_s", "corpus_dedup"),
    "exec.ms": ("pass_s", "order_analytics, corpus_dedup"),
    "exec.cpu_ms": ("pass_s", "corpus_dedup"),
    "exec.jvm_gc_ms": ("pass_s", "corpus_dedup"),
    "exec.shuffle_bytes": ("pass_s", "corpus_dedup"),
    "exec.spill_bytes": ("pass_s", "corpus_dedup"),
    "transfer.ms": ("query_geomean_ms", "order_analytics"),
    "transfer.rows": ("query_geomean_ms", "order_analytics"),
    "stream.epochs": ("none", "order_stream"),
    "stream.trigger_p50_ms": ("pass_s", "order_stream"),
    "stream.trigger_p90_ms": ("pass_s", "order_stream"),
    "stream.add_batch_ms": ("stream.trigger_p50_ms", "order_stream"),
    "stream.overhead_ms": ("stream.trigger_p50_ms", "order_stream"),
    "stream.body_ms": ("stream.trigger_p50_ms", "order_stream"),
    "stream.files_written": ("pass_s", "order_stream"),
    "stream.bytes_written": ("pass_s", "order_stream"),
    "validate.split_ms": ("pass_s", "order_stream"),
    "validate.valid_rows": ("none (must equal the seeded count)", "order_stream"),
    "validate.dlq_rows": ("none (must equal the seeded count)", "order_stream"),
    "aggregate.snapshot_ms": ("pass_s", "order_stream"),
    "aggregate.error_stats_ms": ("pass_s", "order_stream"),
    "aggregate.changelog_rows": ("pass_s", "order_stream"),
    "retry.retries": ("pass_s (must be 0)", "order_stream"),
    "host.calib_ms": ("none (drift diagnosis)", "all"),
    "host.steal_s": ("none (drift diagnosis)", "all"),
    "proc.cpu_s": ("none (drift diagnosis)", "all"),
    "trace.overhead_pct": ("none", "all"),
}


def expected(name: str) -> tuple[str, str]:
    if name.startswith("op_ms."):
        return ("query_geomean_ms; pass_s", "the op's batch workload")
    return EXPECTED.get(name, ("", ""))
