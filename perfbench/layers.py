"""Per-layer metrics of a traced run, from spans and Spark's event log.

Times are per call of the layer (self time where the layer has child
spans) unless the name says otherwise; ``spark.*`` counters are per
operation (a request for write_mix, a pass for landing_etl). A layer
that a workload does not reach reads 0.
"""

from __future__ import annotations

import json
import os
import statistics

from spans import read_event_log, self_times

#: name -> (unit, better)
PER_LAYER = {
    "http_api.serialize_s": ("s", "lower"),
    "http_api.encode_s": ("s", "lower"),
    "http_api.response_bytes": ("B", "lower"),
    "spark.result_bytes": ("B", "lower"),
    "influxql.run_s": ("s", "lower"),
    "catalyst.analysis_ms": ("ms", "lower"),
    "catalyst.optimization_ms": ("ms", "lower"),
    "catalyst.planning_ms": ("ms", "lower"),
    "users.authorize_s": ("s", "lower"),
    "sinks.load_tables_s": ("s", "lower"),
    "influxql.repeat_text_share": ("ratio", "higher"),
    "sinks.files_scanned": ("count", "lower"),
    "spark.input_bytes": ("B", "lower"),
    "spark.executor_cpu_s": ("s", "lower"),
    "spark.tasks": ("count", "lower"),
    "line_protocol.parse_s": ("s", "lower"),
    "spark.jobs_per_write": ("count", "lower"),
    "sinks.append_s": ("s", "lower"),
    "subscriptions.forward_s": ("s", "lower"),
    "http_api.handle_write_s": ("s", "lower"),
    "sinks.files_written": ("count", "lower"),
    "sinks.visible_files_end": ("count", "lower"),
    "ingest.pass_s": ("s", "lower"),
    "ingest.micro_batches": ("count", "lower"),
    "ingest.add_batch_ms": ("ms", "lower"),
    "ingest.query_planning_ms": ("ms", "lower"),
    "ingest.wal_commit_ms": ("ms", "lower"),
    "residential.parse_s": ("s", "lower"),
    "sinks.route_s": ("s", "lower"),
    "sinks.moves_s": ("s", "lower"),
    "ingest.files_archived": ("count", "higher"),
    "ingest.files_quarantined": ("count", "higher"),
    "spark.gc_s": ("s", "lower"),
    "spark.spill_bytes": ("B", "lower"),
    "spark.shuffle_write_bytes": ("B", "lower"),
    "server.jvm_peak_rss_mb": ("MB", "lower"),
}


def _mean(xs) -> float:
    xs = list(xs)
    return statistics.fmean(xs) if xs else 0.0


def _load(inputs: dict) -> tuple[list[dict], list[dict]]:
    with open(inputs["spans"]) as fh:
        spans = json.load(fh)
    return spans, read_event_log(inputs["event_log"])


def _in_window(spans, window, name_prefix: str) -> list[dict]:
    lo, hi = window
    return [s for s in spans if s["name"].startswith(name_prefix) and lo <= s["start"] <= hi]


def _per_call(spans, window, name, selfs=None) -> float:
    picked = _in_window(spans, window, name)
    if selfs is None:
        return _mean(s["end"] - s["start"] for s in picked if s["name"] == name)
    return _mean(selfs[s["id"]] for s in picked if s["name"] == name)


def _spark_totals(jobs: list[dict], n_ops: int) -> dict:
    def per_op(key):
        return sum(j[key] for j in jobs) / n_ops if n_ops else 0.0

    return {
        "spark.result_bytes": per_op("result_bytes"),
        "spark.input_bytes": per_op("input_bytes"),
        "spark.executor_cpu_s": per_op("executor_cpu_s"),
        "spark.tasks": per_op("tasks"),
        "spark.gc_s": per_op("gc_s"),
        "spark.spill_bytes": per_op("spill_bytes"),
        "spark.shuffle_write_bytes": per_op("shuffle_write_bytes"),
    }


def _overlap(a0, a1, b0, b1) -> float:
    return max(0.0, min(a1, b1) - max(a0, b0))


def write_mix(inputs: dict, detail: dict, root: str) -> tuple[dict, dict]:
    spans, jobs = _load(inputs)
    window = inputs["window"]
    selfs = self_times(spans)
    by_trace: dict[int, list[dict]] = {}
    for s in spans:
        by_trace.setdefault(s["trace"], []).append(s)
    roots = _in_window(spans, window, "request.")
    q_roots = [r for r in roots if r.get("path") == "/query"]
    w_roots = [r for r in roots if r.get("path") == "/write"]
    jobs_of = {}
    for j in jobs:
        jobs_of.setdefault(j["group"], []).append(j)

    def kids(r, name):
        return [s for s in by_trace[r["trace"]] if s["name"] == name]

    encode, serialize = [], []
    for r in q_roots:
        handler = sum(s["end"] - s["start"] for s in by_trace[r["trace"]]
                      if s["parent"] == r["id"] and s["name"].startswith("handler."))
        encode.append(r["end"] - r["start"] - handler)
        ser = kids(r, "http_api.serialize")
        spark_in_ser = sum(
            _overlap(s["start"], s["end"], j["submit"], j["complete"] or j["submit"])
            for s in ser for j in jobs_of.get(f"req-{r['id']}", []))
        serialize.append(sum(s["end"] - s["start"] for s in ser) - spark_in_ser)
    frames = [s for r in q_roots for s in kids(r, "frame") if "frame_error" not in s]
    q_jobs = [j for r in q_roots for j in jobs_of.get(f"req-{r['id']}", [])]
    w_jobs = [j for r in w_roots for j in jobs_of.get(f"req-{r['id']}", [])]
    out = dict.fromkeys(PER_LAYER, 0.0)
    out.update(_spark_totals(q_jobs + w_jobs, len(q_roots) + len(w_roots)))
    out.update({
        "http_api.serialize_s": _mean(serialize),
        "http_api.encode_s": _mean(encode),
        "http_api.response_bytes": _mean(o.resp.nbytes for o in inputs["reads"] if o.resp),
        "spark.result_bytes": sum(j["result_bytes"] for j in q_jobs) / max(len(q_roots), 1),
        "influxql.run_s": _per_call(spans, window, "influxql.run", selfs),
        "catalyst.analysis_ms": _mean(f["analysis_ms"] for f in frames),
        "catalyst.optimization_ms": _mean(f["optimization_ms"] for f in frames),
        "catalyst.planning_ms": _mean(f["planning_ms"] for f in frames),
        "users.authorize_s": _per_call(spans, window, "users.authorize"),
        "sinks.load_tables_s": _per_call(spans, window, "sinks.load_tables"),
        "influxql.repeat_text_share": inputs["repeat_text_share"],
        "sinks.files_scanned": _mean(f["files_scanned"] for f in frames),
        "spark.input_bytes": sum(j["input_bytes"] for j in q_jobs) / max(len(q_roots), 1),
        "spark.executor_cpu_s": sum(j["executor_cpu_s"] for j in q_jobs) / max(len(q_roots), 1),
        "spark.tasks": sum(j["tasks"] for j in q_jobs) / max(len(q_roots), 1),
        "line_protocol.parse_s": _mean(
            sum(s["end"] - s["start"] for s in kids(r, "line_protocol.parse")) for r in w_roots),
        "spark.jobs_per_write": _mean(len(jobs_of.get(f"req-{r['id']}", [])) for r in w_roots),
        "sinks.append_s": _per_call(spans, window, "sinks.append"),
        "subscriptions.forward_s": _per_call(spans, window, "subscriptions.forward"),
        "http_api.handle_write_s": _per_call(spans, window, "handler.write", selfs),
        "sinks.files_written": inputs["files_written"],
        "sinks.visible_files_end": _table_file_count(root, inputs["tables"]),
        "server.jvm_peak_rss_mb": detail["jvm_peak_rss_mb"],
    })
    sites: dict[str, int] = {}
    for j in w_jobs:
        site = j["site"].split(" at ")[0]
        sites[site] = sites.get(site, 0) + 1
    extra = {"write_job_sites": {k: v / max(len(w_roots), 1) for k, v in sorted(sites.items())},
             "traced_requests": {"query": len(q_roots), "write": len(w_roots)}}
    return out, extra


def _table_file_count(root: str, tables: str) -> int:
    import sys

    if root not in sys.path:
        sys.path.insert(0, root)
    from ciws_server_spark.sources import sinks

    return sinks.table_file_count(tables, "campus_flow")


def landing_etl(inputs: dict, detail: dict, root: str) -> tuple[dict, dict]:
    spans, jobs = _load(inputs)
    window = inputs["window"]
    lo, hi = window
    passes = inputs["passes"]
    first, last = inputs["batches"]
    progress = []
    if os.path.exists(inputs["progress"]):
        with open(inputs["progress"]) as fh:
            progress = [json.loads(line) for line in fh]
    durations = [p["durationMs"] for p in progress if first <= p["batchId"] <= last]
    in_window = [j for j in jobs if lo <= j["submit"] <= hi]
    out = dict.fromkeys(PER_LAYER, 0.0)
    out.update(_spark_totals(in_window, len(passes)))
    out.update({
        "ingest.pass_s": _per_call(spans, window, "ingest.pass"),
        "ingest.micro_batches": (last - first + 1) / max(len(passes), 1),
        "ingest.add_batch_ms": _mean(d.get("addBatch", 0.0) for d in durations),
        "ingest.query_planning_ms": _mean(d.get("queryPlanning", 0.0) for d in durations),
        "ingest.wal_commit_ms": _mean(d.get("walCommit", 0.0) for d in durations),
        "residential.parse_s": _per_call(spans, window, "residential.parse"),
        "sinks.route_s": _per_call(spans, window, "sinks.route"),
        "sinks.moves_s": _per_call(spans, window, "sinks.moves"),
        "ingest.files_archived": sum(p["archived"] for p in passes),
        "ingest.files_quarantined": sum(p["quarantined"] for p in passes),
        "server.jvm_peak_rss_mb": detail["jvm_peak_rss_mb"],
    })
    return out, {"traced_passes": len(passes), "progress_records": len(durations)}


def analyze(workload: str, inputs: dict, detail: dict, root: str) -> tuple[dict, dict]:
    fn = {"write_mix": write_mix, "landing_etl": landing_etl}[workload]
    if not os.path.exists(inputs["spans"]):
        raise RuntimeError(f"no spans were written to {inputs['spans']}")
    return fn(inputs, detail, root)
