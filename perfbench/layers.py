"""The benchmark's metric lists, and the per-layer metrics of a traced
run computed from its spans, the ops' records and the Spark/JVM probes.

END_TO_END and PER_LAYER are the lists BENCHMARK.json declares. An untraced
run reports every END_TO_END metric; a traced run every PER_LAYER metric,
0 where the workload does not exercise the layer.
"""

from __future__ import annotations

import statistics

from perfbench.tracing import LAYERS, self_times

# name, unit, better
END_TO_END = [
    ("setup_s", "s", "lower"),
    ("op_geomean_s", "s", "lower"),
    ("ops_per_s", "1/s", "higher"),
]

PER_LAYER = [
    ("session.start_s", "s", "lower"),
    ("setup.inputs_s", "s", "lower"),
    ("setup.warmup_s", "s", "lower"),
    ("sources.loads_per_op", "count", "lower"),
    ("sources.load_s_per_op", "s", "lower"),
    ("plans.build_s", "s", "lower"),
    ("plans.plan_s", "s", "lower"),
    ("plans.execute_s", "s", "lower"),
    ("plans.relational.share", "ratio", "lower"),
    ("plans.pipeline.share", "ratio", "lower"),
    ("plans.consume.share", "ratio", "lower"),
    ("plans.llm.share", "ratio", "lower"),
    ("plans.gate_queries.share", "ratio", "lower"),
    ("plans.streaming_queries.share", "ratio", "lower"),
    ("operators.domain.spine_s", "s", "lower"),
    ("operators.domain.spine_tasks", "count", "lower"),
    ("plans.pipeline.wide_s", "s", "lower"),
    ("sinks.upsert_s", "s", "lower"),
    ("sinks.files_per_op", "count", "lower"),
    ("sinks.bytes_written_per_input_byte", "ratio", "lower"),
    ("streaming.engine.add_batch_s", "s", "lower"),
    ("streaming.engine.wal_commit_s", "s", "lower"),
    ("streaming.engine.commit_offsets_s", "s", "lower"),
    ("streaming.engine.query_planning_s", "s", "lower"),
    ("streaming.engine.latest_offset_s", "s", "lower"),
    ("streaming.engine.trigger_s", "s", "lower"),
    ("streaming.engine.merge_s", "s", "lower"),
    ("streaming.engine.compaction_batch_s", "s", "lower"),
    ("streaming.engine.store_bytes", "bytes", "lower"),
    ("streaming.engine.rows_per_batch", "count", "higher"),
    ("exec.jobs_per_op", "count", "lower"),
    ("exec.stages_per_op", "count", "lower"),
    ("exec.tasks_per_op", "count", "lower"),
    ("exec.failed_tasks", "count", "lower"),
    ("exec.persistent_rdds_end", "count", "lower"),
    ("jvm.gc_s", "s", "lower"),
    ("jvm.heap_peak_mb", "MiB", "lower"),
    ("python.rss_peak_mb", "MiB", "lower"),
    ("trace.overhead_ratio", "ratio", "lower"),
] + [(f"{layer}.self_s", "s", "lower") for layer in LAYERS]

_PHASES = {
    "add_batch_s": "addBatch",
    "wal_commit_s": "walCommit",
    "commit_offsets_s": "commitOffsets",
    "query_planning_s": "queryPlanning",
    "latest_offset_s": "latestOffset",
    "trigger_s": "triggerExecution",
}


def _median(xs) -> float:
    xs = list(xs)
    return float(statistics.median(xs)) if xs else 0.0


def per_layer(rounds, tracer, setup: dict, gc_s: float, heap_peak_mb: float,
              rss_peak_mb: float) -> dict:
    """``rounds`` is a list of (traced, wall seconds, ops); layer figures
    come from the traced rounds, overhead from traced vs untraced op time."""
    traced_ops = [op for traced, _, ops in rounds if traced for op in ops]
    spans = tracer.spans
    op_ids = sorted({s.op for s in spans if s.op is not None})
    n = max(1, len(op_ids))

    def per_op(name: str, field=lambda s: s.end - s.start) -> list[float]:
        """Sum of ``field`` over the spans called ``name``, per traced op."""
        sums = {op: 0.0 for op in op_ids}
        for s in spans:
            if s.name == name and s.op in sums:
                sums[s.op] += field(s)
        return list(sums.values())

    def named(name: str) -> list:
        return [s for s in spans if s.name == name]

    values = dict(setup)
    loads = named("sources.load_table")
    values["sources.loads_per_op"] = len(loads) / n
    values["sources.load_s_per_op"] = sum(s.end - s.start for s in loads) / n

    builds = [s for s in spans if s.name.startswith("plans.") and s.name.endswith(".build")]
    values["plans.build_s"] = _median(s.end - s.start for s in builds)
    values["plans.plan_s"] = _median(s.end - s.start for s in named("plans.plan"))
    values["plans.execute_s"] = _median(s.end - s.start for s in named("plans.execute"))
    total = sum(op.seconds for op in traced_ops) or 1.0
    for module in ("relational", "pipeline", "consume", "llm", "gate_queries",
                   "streaming_queries"):
        values[f"plans.{module}.share"] = sum(
            op.seconds for op in traced_ops if op.module == module) / total

    spine = per_op("operators.domain.spine")
    values["operators.domain.spine_s"] = _median(spine)
    values["operators.domain.spine_tasks"] = _median(
        per_op("operators.domain.spine", lambda s: s.attrs.get("tasks", 0)))
    values["plans.pipeline.wide_s"] = _median(per_op("plans.pipeline.wide"))

    values["sinks.upsert_s"] = _median(per_op("sinks.upsert"))
    sink_ops = [op for op in traced_ops if "files" in op.detail]
    values["sinks.files_per_op"] = _median(op.detail["files"] for op in sink_ops)
    values["sinks.bytes_written_per_input_byte"] = (
        sum(op.detail["bytes"] for op in sink_ops)
        / max(1, sum(op.detail["input_bytes"] for op in sink_ops)))

    batches = [p for p in tracer.progress if p["rows"] > 0]
    for key, phase in _PHASES.items():
        values[f"streaming.engine.{key}"] = _median(
            p["durationMs"].get(phase, 0) / 1000 for p in batches)
    merges = named("streaming.engine.store_merge")
    values["streaming.engine.merge_s"] = _median(s.end - s.start for s in merges)
    values["streaming.engine.compaction_batch_s"] = _median(
        s.end - s.start for s in merges if s.attrs["compacted"])
    values["streaming.engine.store_bytes"] = max(
        (s.attrs["store_bytes"] for s in merges), default=0)
    values["streaming.engine.rows_per_batch"] = _median(p["rows"] for p in batches)

    roots = [s for s in spans if s.layer == "bench" and s.parent is None]
    for key in ("jobs", "stages", "tasks"):
        values[f"exec.{key}_per_op"] = _median(s.attrs.get(key, 0) for s in roots)
    values["exec.failed_tasks"] = sum(s.attrs.get("failed", 0) for s in roots)
    values["exec.persistent_rdds_end"] = tracer.exec.persistent_rdds()
    values["jvm.gc_s"] = gc_s
    values["jvm.heap_peak_mb"] = heap_peak_mb
    values["python.rss_peak_mb"] = rss_peak_mb

    def op_time(traced: bool) -> float:
        """Median over the rounds of that kind of their ops' seconds."""
        return _median(sum(op.seconds for op in ops) for t, _, ops in rounds if t == traced)

    values["trace.overhead_ratio"] = op_time(True) / op_time(False)
    for layer, seconds in self_times(spans).items():
        values[f"{layer}.self_s"] = seconds / n

    units = {name: unit for name, unit, _ in PER_LAYER}
    return {name: {"value": float(values[name]), "unit": units[name]}
            for name, _, _ in PER_LAYER}
