"""Which package functions the traced run wraps, and how the spans and op
counters become the per-layer metrics.

Time metrics are the median duration of one call of the layer's span.
Count metrics are totals per unit (one batch op, one authoring session),
averaged over the traced units; the ``spark.*_per_op`` counts are per op. A layer the workload does not reach
reports 0.

Spans around lazy layers (``TransformChain.execute``, ``Catalog.read``,
``FileSource.read`` with a schema) measure plan construction only; the
Spark work they describe runs, and is timed, inside the enclosing
``ingest_bronze`` / ``run_silver`` / ``run_gold`` / ``preview`` span.
"""

from __future__ import annotations

import os
import statistics

COUNT_JOBS = frozenset({"quality.evaluate_rules"})

LAZY_NOTE = (
    "catalog.read, chain.execute and sources.read (with a schema) build plans only; "
    "their Spark work is timed inside the enclosing pipeline.*, sandbox.dry_run "
    "or audit.preview span."
)


def _rows(sp, args, kwargs, result):
    sp.attrs["rows"] = result.row_count


def targets(tracer) -> list[tuple]:
    def file_read(sp, args, kwargs, result):
        src = args[0]
        parent = tracer.spans[sp.parent_id].name if sp.parent_id is not None else None
        sp.attrs["parent"] = parent
        sp.attrs["probe"] = (parent == "pipeline.ingest_files" and src.files is None
                             and os.path.isfile(src.path))

    def dry(sp, args, kwargs, result):
        sp.attrs["ok"] = result.ok

    return [
        ("session", "get_spark", "session.get_spark", None),
        ("catalog", "Catalog.read", "catalog.read", None),
        ("catalog", "Catalog.write_meta", "catalog.write_meta", None),
        ("inference.detect", "detect_file_schema", "inference.detect_file_schema", None),
        ("inference.detect", "detect_records_schema", "inference.detect_records_schema", None),
        ("inference.schema_inference", "infer_dataframe_schema",
         "inference.infer_dataframe_schema", None),
        ("inference.schema_inference", "to_struct_type", "inference.to_struct_type", None),
        ("sources.files", "FileSource.read", "sources.read", file_read),
        ("engine.pipeline", "Pipeline.ingest_files", "pipeline.ingest_files", None),
        ("engine.pipeline", "Pipeline.ingest_bronze", "pipeline.ingest_bronze", _rows),
        ("engine.pipeline", "Pipeline.run_silver", "pipeline.run_silver", _rows),
        ("engine.pipeline", "Pipeline.run_gold", "pipeline.run_gold", _rows),
        ("engine.chain", "TransformChain.execute", "chain.execute", None),
        ("engine.chain", "TransformChain.dry_run_all", "chain.dry_run_all", None),
        ("engine.chain", "TransformChain.add_step", "chain.add_step", None),
        ("engine.chain", "TransformChain.rollback", "chain.rollback", None),
        ("engine.sandbox", "compile_transform", "sandbox.compile_transform", None),
        ("engine.sandbox", "dry_run", "sandbox.dry_run", dry),
        ("engine.validation", "validate_transform_code", "validation.validate", None),
        ("engine.quality", "evaluate_rules", "quality.evaluate_rules", None),
        ("engine.codegen", "schema_context", "codegen.schema_context", None),
        ("engine.codegen", "TransformConversation.send", "codegen.send", None),
        ("engine.codegen", "TransformConversation.run_dry_run", "codegen.run_dry_run", None),
        ("engine.codegen", "TransformConversation.confirm", "codegen.confirm", None),
        ("engine.audit", "preview", "audit.preview", None),
        ("engine.audit", "CodeAudit.save", "audit.save", None),
        ("streaming.ingest", "stream_dir_to_bronze", "streaming.stream_dir_to_bronze", None),
        ("plans.spec", "run_spec", "plans.run_spec", None),
    ]


# metric -> span whose median call duration it reports
SPAN_TIMES = {
    "inference.detect_s": "inference.detect_file_schema",
    "inference.records_detect_s": "inference.detect_records_schema",
    "pipeline.bronze_s": "pipeline.ingest_bronze",
    "pipeline.silver_s": "pipeline.run_silver",
    "pipeline.gold_s": "pipeline.run_gold",
    "catalog.read_s": "catalog.read",
    "chain.plan_s": "chain.execute",
    "chain.dry_run_all_s": "chain.dry_run_all",
    "quality.evaluate_s": "quality.evaluate_rules",
    "validation.validate_s": "validation.validate",
    "sandbox.compile_s": "sandbox.compile_transform",
    "sandbox.dry_run_s": "sandbox.dry_run",
    "codegen.schema_context_s": "codegen.schema_context",
    "codegen.send_s": "codegen.send",
    "audit.preview_s": "audit.preview",
    "streaming.trigger_s": "streaming.trigger",
    "plans.run_spec_s": "plans.run_spec",
}

# metric -> op counter summed per unit
UNIT_SUMS = [
    "inference.sample_rows", "sources.files", "sources.bytes_in",
    "catalog.bytes_written", "catalog.files_written", "catalog.versions",
    "quality.failures", "streaming.rows_committed", "streaming.retrigger_rows",
    "operators.docs_in", "operators.exact_dups", "operators.near_dups",
    "operators.survivors", "operators.survivor_ratio",
]

def per_layer(tracer, ops, setups, rss, overhead) -> tuple[dict, list[dict]]:
    """Return ``({metric: (value, unit)}, self-time table)``."""
    op_ids = {op.id for op in ops}
    n_units = len({op.unit for op in ops})
    spans = [s for s in tracer.spans if s.op_id in op_ids]
    starts, warms = setups

    def med(name: str) -> float:
        d = [s.dur for s in spans if s.name == name]
        return statistics.median(d) if d else 0.0

    def per_unit(values) -> float:
        return sum(values) / n_units

    def unit_max(key: str) -> float:
        best: dict[int, float] = {}
        for op in ops:
            if key in op.counters:
                best[op.unit] = max(best.get(op.unit, 0), op.counters[key])
        return per_unit(best.values())

    probe_by_op: dict[int, float] = {}
    for s in spans:
        if s.name == "sources.read" and s.attrs.get("probe"):
            probe_by_op[s.op_id] = probe_by_op.get(s.op_id, 0.0) + s.dur
    bytes_in = sum(op.counters.get("catalog.bytes_in", 0) for op in ops)
    written = sum(op.counters.get("catalog.bytes_written", 0) for op in ops)

    m: dict[str, tuple[float, str]] = {
        "session.start_s": (starts[0], "s"),
        "session.warmup_s": (warms[0], "s"),
        "spark.jobs_per_op": (sum(op.jobs for op in ops) / len(ops), "count"),
        "spark.stages_per_op": (sum(op.stages for op in ops) / len(ops), "count"),
        "spark.tasks_per_op": (sum(op.tasks for op in ops) / len(ops), "count"),
        "inference.files_read": (per_unit(
            1 for s in spans if s.name == "sources.read"
            and s.attrs.get("parent") == "inference.detect_file_schema"), "count"),
        "sources.probe_s": (statistics.median(probe_by_op.values()) if probe_by_op else 0.0,
                            "s"),
        "pipeline.bronze_rows": (per_unit(
            [s.attrs.get("rows", 0) for s in spans if s.name == "pipeline.ingest_bronze"]
            + [op.counters.get("pipeline.bronze_rows", 0) for op in ops]), "count"),
        "pipeline.silver_rows": (per_unit(
            s.attrs.get("rows", 0) for s in spans if s.name == "pipeline.run_silver"), "count"),
        "pipeline.gold_rows": (per_unit(
            s.attrs.get("rows", 0) for s in spans if s.name == "pipeline.run_gold"), "count"),
        "catalog.write_amp": (written / bytes_in if bytes_in else 0.0, "ratio"),
        "quality.jobs": (per_unit(
            s.attrs.get("jobs", 0) for s in spans if s.name == "quality.evaluate_rules"),
            "count"),
        "sandbox.dry_runs": (per_unit(1 for s in spans if s.name == "sandbox.dry_run"), "count"),
        "sandbox.dry_run_errors": (per_unit(
            1 for s in spans if s.name == "sandbox.dry_run" and not s.attrs.get("ok")), "count"),
        "streaming.checkpoint_files": (unit_max("streaming.checkpoint_files"), "count"),
        "process.driver_rss_mb": (rss[0], "MB"),
        "process.jvm_rss_mb": (rss[1], "MB"),
        "trace.overhead_s": (overhead, "s"),
        "trace.spans_per_op": (len(spans) / len(ops), "count"),
    }
    for metric, span in SPAN_TIMES.items():
        m[metric] = (med(span), "s")
    for key in UNIT_SUMS:
        unit = "bytes" if key.endswith("bytes_in") or key.endswith("bytes_written") else (
            "ratio" if key.endswith("ratio") else "count")
        m[key] = (per_unit(op.counters.get(key, 0) for op in ops), unit)
    return dict(sorted(m.items())), tracer.table(op_ids)


def format_table(table: list[dict]) -> str:
    lines = [f"per-layer self time (traced ops only). Note: {LAZY_NOTE}",
             f"{'span':40s} {'calls':>6s} {'total_s':>9s} {'self_s':>9s} {'median_s':>9s}"]
    for r in table:
        lines.append(f"{r['span']:40s} {r['calls']:6d} {r['total_s']:9.3f} "
                     f"{r['self_s']:9.3f} {r['median_s']:9.4f}")
    return "\n".join(lines)
