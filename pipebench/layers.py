"""Per-layer metrics of traced ops.

For each traced op the spans and the Spark jobs they started are folded
into per-layer counts, times and bytes; ``summarize`` averages them over
the run's traced ops. Executor work is charged to the span whose call
ran the Spark action (see spans.py).
"""

from __future__ import annotations

from collections import defaultdict

import spans as sp
import stats

# per-layer metrics in the result line: counts, bytes and shares, which
# are genuinely zero for a layer a workload does not exercise
LAYER_RESULT = [
    ("calls", "count"), ("self_share", "ratio"), ("jobs", "count"),
    ("executor_share", "ratio"), ("shuffle_bytes", "bytes"), ("spill_bytes", "bytes"),
]
SPECIFIC_RESULT = [
    ("plans.node_failed", "count"),
    ("io.bytes_written", "bytes"),
    ("io.files_written", "count"),
    ("io.input_records", "count"),
    ("io.scan_amp", "ratio"),
    ("patterns.rows_rewritten_per_changed_row", "ratio"),
    ("catalog.files_written", "count"),
    ("spark.driver_only_s", "s"),
    ("spark.jobs", "count"),
    ("spark.tasks", "count"),
    ("spark.executor_s", "s"),
    ("spark.executor_cpu_s", "s"),
    ("trace.unattributed_s", "s"),
    ("trace.overhead_ratio", "ratio"),
]
# detail lines only: seconds of layers some workloads never enter
DETAIL = [
    ("plans.load_s", "s"),
    ("plans.layer_idle_s", "s"),
    ("io.read_s", "s"),
    ("io.write_s", "s"),
    ("semantics.compile_s", "s"),
    ("semantics.exec_s", "s"),
    ("trace.self_sum_over_wall", "ratio"),
    ("trace.traced_op_p50_s", "s"),
    ("trace.untraced_op_p50_s", "s"),
    ("trace.traced_ops", "count"),
]


def result_metrics() -> list[tuple[str, str]]:
    """Every per-layer metric of the result line, as (name, unit)."""
    out = [(f"{layer}.{m}", u) for layer in sp.LAYERS for m, u in LAYER_RESULT]
    return out + SPECIFIC_RESULT


def detail_metrics() -> list[tuple[str, str]]:
    out = [(f"{layer}.{m}", "s") for layer in sp.LAYERS for m in ("self_s", "executor_s")]
    return out + DETAIL


def op_metrics(tracer, w, i: int, op_start: float, res) -> dict:
    """Fold one traced op's spans and jobs into flat metrics."""
    spans = list(tracer.spans)
    root = next(s for s in spans if s.layer == "op")
    jobs = sp.fold_jobs(w.spark.sparkContext, spans)
    selfs = sp.self_times(spans)
    m: dict[str, float] = defaultdict(float)
    rewritten = hwm_scanned = 0
    for s in spans:
        st = sp.StageStats()
        for j in s.jobs:
            st.add(jobs[j].stages)
        if s.layer == "op":
            m["trace.unattributed_s"] += selfs[s.sid]
        else:
            L = s.layer
            m[f"{L}.calls"] += 1
            m[f"{L}.self_s"] += selfs[s.sid]
            m[f"{L}.jobs"] += len(s.jobs)
            m[f"{L}.executor_s"] += st.executor_s
            m[f"{L}.shuffle_bytes"] += st.shuffle_bytes
            m[f"{L}.spill_bytes"] += st.spill_bytes
        if s.name == "load_pipeline_yaml":
            m["plans.load_s"] += s.end - s.start
        elif s.name == "read_source":
            m["io.read_s"] += selfs[s.sid]
        elif s.name.startswith("write_sink"):
            m["io.write_s"] += selfs[s.sid]
        elif s.name == "to_sql":
            m["semantics.compile_s"] += selfs[s.sid]
        elif s.layer == "semantics":
            m["semantics.exec_s"] += selfs[s.sid]
        elif s.name == "capture_hwm":
            hwm_scanned += st.input_records
        if s.layer in ("io", "patterns"):
            rewritten += st.output_records
    total = sp.StageStats()
    for j in jobs.values():
        total.add(j.stages)
    m["spark.jobs"] = len(jobs)
    m["spark.tasks"] = total.tasks
    m["spark.executor_s"] = total.executor_s
    m["spark.executor_cpu_s"] = total.executor_cpu_s
    m["io.input_records"] = total.input_records
    op_wall = root.end - root.start
    busy = sp.union_length(
        (max(j.start, root.start), min(j.end, root.end))
        for j in jobs.values() if j.end > root.start and j.start < root.end
    )
    m["spark.driver_only_s"] = op_wall - busy
    m["trace.self_sum_over_wall"] = sum(selfs.values()) / op_wall if op_wall else 0.0
    for layer in sp.LAYERS:
        m[f"{layer}.self_share"] = m[f"{layer}.self_s"] / op_wall if op_wall else 0.0
        m[f"{layer}.executor_share"] = (
            m[f"{layer}.executor_s"] / total.executor_s if total.executor_s else 0.0)
    if w.pipeline is not None:
        node_spans = [s for s in spans if s.name.startswith("node:")]
        m["plans.layer_idle_s"] = sp.layer_idle(
            node_spans, w.pipeline.graph.layers(), w.pipeline.config.max_workers)
    m["plans.node_failed"] = len(res.failed_nodes) if res is not None else 0
    m["io.files_written"], m["io.bytes_written"] = stats.files_since(
        w.out_dir, op_start, exclude=w.catalog_dir)
    if w.catalog_dir:
        m["catalog.files_written"] = stats.files_since(w.catalog_dir, op_start)[0]
    if w.hwm_rows(i):
        m["io.scan_amp"] = hwm_scanned / w.hwm_rows(i)
    if w.changed_rows(i):
        m["patterns.rows_rewritten_per_changed_row"] = rewritten / w.changed_rows(i)
    return dict(m)


def summarize(run) -> tuple[dict, dict]:
    """Per-op means over the traced ops: (result metrics, detail metrics),
    each mapping name -> (value, unit)."""
    n = len(run.layer_ops)
    mean = lambda k: sum(op.get(k, 0.0) for op in run.layer_ops) / n if n else 0.0  # noqa: E731
    traced, untraced = stats.median(run.traced_lat), stats.median(run.untraced_lat)
    extra = {
        "trace.overhead_ratio": traced / untraced if untraced else 0.0,
        "trace.traced_op_p50_s": traced,
        "trace.untraced_op_p50_s": untraced,
        "trace.traced_ops": n,
    }
    value = lambda k: extra[k] if k in extra else mean(k)  # noqa: E731
    result = {k: (value(k), u) for k, u in result_metrics()}
    detail = {k: (value(k), u) for k, u in detail_metrics()}
    return result, detail
