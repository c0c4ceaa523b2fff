"""Per-layer metrics of a traced run.

Layers are named after the program's modules.  Conventions:

- ``<layer>.<call>_s``: mean seconds per call of that span, measured phase
  (``session.start_s`` and ``lakehouse.append_s`` come from set-up).
- counts (``_files``, ``_bytes``, ``_pairs``, ``rows_returned``): mean per call.
- ``<layer>.driver_s`` and ``<layer>.engine.*``: per traced operation.
  ``driver_s`` is span time not covered by the span's own Spark jobs.
- ``lakehouse.versions`` / ``lakehouse.live_files``: table state at run end.

A layer the workload does not exercise reports 0.
"""

from __future__ import annotations

import os
import statistics

import tracer

ENGINE_LAYERS = ("sources", "lakehouse", "sql", "functions", "operators")
SPAN_METRICS = {
    "session.start_s": ("session.start", "setup"),
    "sources.write_s": ("sources.write", "run"),
    "sources.read_plan_s": ("sources.read_plan", "run"),
    "sources.read_exec_s": ("sources.read_exec", "run"),
    "lakehouse.append_s": ("lakehouse.append", "setup"),
    "lakehouse.merge_s": ("lakehouse.merge", "run"),
    "lakehouse.compact_s": ("lakehouse.compact", "run"),
    "lakehouse.snapshot_plan_s": ("lakehouse.snapshot_plan", "run"),
    "sql.translate_s": ("sql.translate", "run"),
    "sql.analyze_s": ("sql.analyze", "run"),
    "sql.exec_s": ("sql.exec", "run"),
    "functions.text_score_s": ("functions.text_score", "run"),
    "operators.minhash_s": ("operators.minhash", "run"),
    "operators.knn_s": ("operators.knn", "run"),
}
# count metric -> (workload counter, span whose calls it is averaged over)
COUNT_METRICS = {
    "sources.write_files": ("sources.write_files", "sources.write"),
    "sources.write_bytes": ("sources.write_bytes", "sources.write"),
    "lakehouse.merge_files_rewritten": ("lakehouse.merge_files_rewritten", "lakehouse.merge"),
    "lakehouse.compact_bytes": ("lakehouse.compact_bytes", "lakehouse.compact"),
    "sql.rows_returned": ("sql.rows_returned", "sql.exec"),
    "operators.minhash_pairs": ("operators.minhash_pairs", "operators.minhash"),
}
RATIO_METRICS = {
    # metric -> (numerator counter, denominator counters summed)
    "lakehouse.merge_rewrite_frac": (
        "lakehouse.merge_files_rewritten",
        ("lakehouse.merge_files_rewritten", "lakehouse.merge_files_kept"),
    ),
    "lakehouse.files_scanned_frac": ("lakehouse.files_scanned", ("lakehouse.files_total",)),
    "operators.minhash_recall": ("operators.minhash_planted_found", ("operators.minhash_planted",)),
}
FACT_METRICS = ("lakehouse.versions", "lakehouse.live_files", "ingest.write_amp", "ingest.space_amp")
RUN_METRICS = (
    "process.peak_rss_mb",
    "process.jit_s",
    "ops_failed_frac",
    "query.lookup_p50_s",
    "query.scan_p50_s",
    "trace.ops_per_s",
    "trace.op_p50_s",
    "trace.overhead_frac",
    "trace.unattributed_jobs",
)


def names() -> list[str]:
    """Every per-layer metric, in report order."""
    out = [*SPAN_METRICS, *COUNT_METRICS, *RATIO_METRICS, *FACT_METRICS]
    for layer in ENGINE_LAYERS:
        out.append(f"{layer}.driver_s")
        out.extend(f"{layer}.engine.{c}" for c in tracer.ENGINE_COUNTERS)
    return out + list(RUN_METRICS)


def unit_of(name: str) -> str:
    if name.endswith("_mb"):
        return "MB"
    if name.endswith("_per_s"):
        return "1/s"
    if name.endswith("_bytes"):
        return "bytes"
    if name.endswith("_s"):
        return "s"
    if name.endswith(("_frac", "_recall", "_amp")):
        return "ratio"
    return "count"


def wrap_translate(tr: tracer.Tracer) -> None:
    """Span every Trino-to-Spark translation.  ``read_sql_query`` imports the
    translator from its module at call time, so the wrapper is picked up."""
    from aws_sdk_pandas_spark import sql_dialect

    inner = sql_dialect.trino_to_spark_sql

    def trino_to_spark_sql(sql: str) -> str:
        with tr.span("sql.translate"):
            return inner(sql)

    sql_dialect.trino_to_spark_sql = trino_to_spark_sql


def per_layer(tr, event_log_dir, wl, records, facts, peak_rss_mb) -> dict[str, float]:
    spans = [s for s in tr.spans if s["end"] is not None]
    calls: dict[tuple[str, str], list[float]] = {}
    for s in spans:
        calls.setdefault((s["name"], s["phase"]), []).append(s["end"] - s["start"])
    traced = [r for r in records if r["timed"] and r["traced"]]
    untraced = [r["s"] for r in records if r["timed"] and not r["traced"]]
    n_ops = len(traced)
    out: dict[str, float] = {}
    for metric, key in SPAN_METRICS.items():
        xs = calls.get(key, [])
        out[metric] = sum(xs) / len(xs) if xs else 0.0
    c = wl.counters
    for metric, (counter, span) in COUNT_METRICS.items():
        n = len(calls.get((span, "run"), []))
        out[metric] = c.get(counter, 0.0) / n if n else 0.0
    for metric, (num, dens) in RATIO_METRICS.items():
        den = sum(c.get(d, 0.0) for d in dens)
        out[metric] = c.get(num, 0.0) / den if den else 0.0
    for metric in FACT_METRICS:
        out[metric] = float(facts.get(metric, 0.0))
    jobs = tracer.read_event_log(event_log_dir) if os.path.isdir(event_log_dir) else {}
    attributed = tracer.attribute(spans, jobs)
    for layer in ENGINE_LAYERS:
        agg = attributed["layers"].get(layer, {})
        out[f"{layer}.driver_s"] = agg.get("driver_s", 0.0) / n_ops
        for counter in tracer.ENGINE_COUNTERS:
            out[f"{layer}.engine.{counter}"] = agg.get(counter, 0.0) / n_ops
    out["process.peak_rss_mb"] = peak_rss_mb
    out["process.jit_s"] = sum(r["jit_s"] for r in traced) / n_ops
    out["ops_failed_frac"] = sum(not r["ok"] for r in records) / len(records)
    for kind in ("lookup", "scan"):
        lat = [r["s"] for r in traced if r["kind"] == kind]
        out[f"query.{kind}_p50_s"] = statistics.median(lat) if lat else 0.0
    lat = [r["s"] for r in traced]
    out["trace.ops_per_s"] = len(lat) / sum(lat)
    out["trace.op_p50_s"] = statistics.median(lat)
    out["trace.overhead_frac"] = out["trace.op_p50_s"] / statistics.median(untraced) - 1.0
    out["trace.unattributed_jobs"] = float(attributed["unattributed_jobs"])
    if list(out) != names():
        raise RuntimeError("per-layer metrics out of sync with names()")
    return out
