"""Per-layer metrics from a traced run's spans and op records.

Every value is per traced op unless its name says otherwise; a layer a
workload never enters reports 0.  ``perfbench/README.md`` names the
end-to-end metric and workload each one should move.
"""

from __future__ import annotations

import statistics

#: end-to-end metrics in the result line of an untraced run
END_TO_END = ["setup_s", "op_p50_s", "op_tail_s", "ops_per_s"]

#: per-layer metric -> unit, in the result line of a traced run
PER_LAYER = {
    "sources.ingest_s": "s",
    "pipeline.process_upload_s": "s",
    "pipeline.report_s": "s",
    "pipeline.views_s": "s",
    "warehouse.self_s": "s",
    "warehouse.calls": "count",
    "warehouse.bytes_written": "bytes",
    "warehouse.files_written": "count",
    "fsio.calls": "count",
    "fsio.self_s": "s",
    "plans.build_s": "s",
    "plans.py4j_calls_per_build": "count",
    "plans.execute_s": "s",
    "spark.eager_jobs_per_build": "count",
    "spark.jobs_per_op": "count",
    "spark.stages_per_op": "count",
    "spark.tasks_per_op": "count",
    "py4j.calls_per_op": "count",
    "span_dedup.fold_s": "s",
    "similarity.index_append_s": "s",
    "curation.fold_self_s": "s",
    "index.bytes_written": "bytes",
    "index.files_written": "count",
    "session.jvm_peak_rss_mb": "MB",
    "session.py_peak_rss_mb": "MB",
    "view_p50_s": "s",
    "stored_bytes_per_input_byte": "ratio",
    "trace.unexplained_s": "s",
    "trace.overhead_s": "s",
}

# span name -> metric of its outermost total time per op
_DURATIONS = {
    "sources.ingest": "sources.ingest_s",
    "pipeline.process_upload": "pipeline.process_upload_s",
    "pipeline.report": "pipeline.report_s",
    "pipeline.views": "pipeline.views_s",
    "plans.build": "plans.build_s",
    "plans.execute": "plans.execute_s",
    "span_dedup.fold": "span_dedup.fold_s",
    "similarity.index_append": "similarity.index_append_s",
}


def layer_metrics(tracer, records, ops, storage, n_all_ops, jvm_rss, py_rss, e2e) -> dict:
    spans = tracer.spans
    own = tracer.self_times()
    traced_ops = [op for _, tr, op in ops if tr]
    untraced_ops = [op for _, tr, op in ops if not tr]
    n = max(len(traced_ops), 1)
    values = {k: 0.0 for k in PER_LAYER}

    def outermost(idx: int) -> bool:
        name, p = spans[idx].name, spans[idx].parent
        while p >= 0:
            if spans[p].name == name:
                return False
            p = spans[p].parent
        return True

    builds = 0
    build_py4j = 0
    children: dict[int, float] = {}
    for idx, s in enumerate(spans):
        dur = s.end - s.start
        if s.parent >= 0:
            children[s.parent] = children.get(s.parent, 0.0) + dur
        top = outermost(idx)
        if s.name in _DURATIONS and top:
            values[_DURATIONS[s.name]] += dur
        if s.name == "plans.build":
            builds += 1
            build_py4j += s.py4j
        elif s.name == "warehouse":
            values["warehouse.self_s"] += own[idx]
            values["warehouse.calls"] += top
        elif s.name == "fsio":
            values["fsio.self_s"] += own[idx]
            values["fsio.calls"] += top
        elif s.name == "curation.fold":
            values["curation.fold_self_s"] += own[idx]
        elif s.name == "op":
            values["py4j.calls_per_op"] += s.py4j - records.get(s.op, {}).get("py4j_group", 0)
    for key in (
        *_DURATIONS.values(), "warehouse.self_s", "warehouse.calls", "fsio.self_s",
        "fsio.calls", "curation.fold_self_s", "py4j.calls_per_op",
    ):
        values[key] /= n
    op_spans = [i for i, s in enumerate(spans) if s.name == "op"]
    if op_spans:
        values["trace.unexplained_s"] = statistics.mean(
            (spans[i].end - spans[i].start) - children.get(i, 0.0) for i in op_spans
        )
    if builds:
        values["plans.py4j_calls_per_build"] = build_py4j / builds
        values["spark.eager_jobs_per_build"] = (
            sum(r.get("eager_jobs", 0) for r in records.values()) / builds
        )
    if records:
        for key, field in (("jobs", "spark.jobs_per_op"), ("stages", "spark.stages_per_op"),
                           ("tasks", "spark.tasks_per_op")):
            values[field] = sum(r.get(key, 0) for r in records.values()) / len(records)
    for layer, ((n_bytes, n_files), _) in storage.items():
        values[f"{layer}.bytes_written"] = n_bytes / max(n_all_ops, 1)
        values[f"{layer}.files_written"] = n_files / max(n_all_ops, 1)
    values["session.jvm_peak_rss_mb"] = jvm_rss
    values["session.py_peak_rss_mb"] = py_rss
    values["view_p50_s"] = e2e["view_p50_s"][0]
    values["stored_bytes_per_input_byte"] = e2e["stored_bytes_per_input_byte"][0]
    tr = [op.latency for op in traced_ops if op.ok]
    un = [op.latency for op in untraced_ops if op.ok]
    if tr and un:
        values["trace.overhead_s"] = statistics.median(tr) - statistics.median(un)
    return {k: {"value": float(values[k]), "unit": u} for k, u in PER_LAYER.items()}
