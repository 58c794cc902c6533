"""Metric catalog: every metric the benchmark prints, with its unit,
and the per-layer metrics of a traced run.

``BENCHMARK.json`` lists the same names; a test keeps them equal.
Every workload prints every metric. A per-layer metric of a layer the
workload does not call reads 0.
"""

from __future__ import annotations

# Times are CPU seconds (user + system) of the driver Python process,
# its JVM and the JVM's Python workers. On the shared 4-core VM the
# benchmark was tuned on, wall-clock times of the same pass moved by up
# to 2x between runs minutes apart while CPU seconds moved far less.
# Wall-clock pass and operation times are in every run record.
END_TO_END = {
    "setup_s": "s",          # get_session
    "job_cpu_s": "s",        # the timed passes
    "driver_peak_mb": "MB",  # VmHWM of the driver Python process after them
}


def end_to_end(record: dict) -> dict[str, float]:
    """The end-to-end metrics from an untraced run's record."""
    return {"setup_s": record["setup_cpu_s"], "job_cpu_s": record["job_cpu_s"],
            "driver_peak_mb": record["driver_peak_mb"]}


QUERY_MODULES = ("queries_relational", "queries_algorithms", "queries_llm_similarity",
                 "queries_llm_text", "queries_llm_dedup", "queries_llm_pipeline")

# Layers that start Spark jobs, in the order their counters are printed.
SPARK_LAYERS = ("sources.tables", "sources.sinks", "operators.outliers",
                "operators.clustering", "operators.textstats", "operators.dedup",
                "operators.components", "streaming.frequent_stream") + QUERY_MODULES
LAYERS = ("session", "apps") + SPARK_LAYERS + ("operators.frequent",)

# Named per-layer metrics: name -> (unit, end-to-end metric it should
# move, workload it moves it on).
NAMED = {
    "session.get_session_s": ("s", "setup_s", "both"),
    "sources.tables.read_points_csv_s": ("s", "job_cpu_s", "apps"),
    "sources.tables.load_table_calls": ("count", "job_cpu_s", "query_mix"),
    "sources.tables.load_table_s": ("s", "job_cpu_s", "query_mix"),
    "operators.outliers.exact_s": ("s", "job_cpu_s", "apps"),
    "operators.outliers.approx_s": ("s", "job_cpu_s", "apps"),
    "operators.clustering.coreset_s": ("s", "job_cpu_s", "apps"),
    "operators.clustering.fft_s": ("s", "job_cpu_s", "apps"),
    "operators.clustering.radius_s": ("s", "job_cpu_s", "apps"),
    "operators.textstats.quality_s": ("s", "job_cpu_s", "apps"),
    "operators.textstats.chunk_s": ("s", "job_cpu_s", "apps"),
    "operators.dedup.minhash_s": ("s", "job_cpu_s", "apps"),
    "operators.dedup.candidate_pairs": ("count", "job_cpu_s", "apps"),
    "operators.dedup.pair_precision": ("ratio", "job_cpu_s", "apps"),
    "operators.dedup.dup_recall": ("ratio", "job_cpu_s", "apps"),
    "operators.components.cc_s": ("s", "job_cpu_s", "apps"),
    "operators.components.jobs": ("count", "job_cpu_s", "apps"),
    "sources.sinks.write_s": ("s", "job_cpu_s", "apps"),
    "sources.sinks.bytes_written": ("bytes", "job_cpu_s", "apps"),
    "streaming.frequent_stream.process_batch_s": ("s", "job_cpu_s", "apps"),
    "streaming.frequent_stream.engine_s": ("s", "job_cpu_s", "apps"),
    "streaming.frequent_stream.batches": ("count", "job_cpu_s", "apps"),
    "operators.frequent.sampler_s": ("s", "job_cpu_s", "apps"),
    "operators.frequent.sticky_recall": ("ratio", "job_cpu_s", "apps"),
}
for _m in QUERY_MODULES:
    NAMED[f"{_m}.build_s"] = ("s", "job_cpu_s", "query_mix")
    NAMED[f"{_m}.action_s"] = ("s", "job_cpu_s", "query_mix")
    NAMED[f"{_m}.jobs"] = ("count", "job_cpu_s", "query_mix")

_COUNTER_UNITS = {"tasks": "count", "executor_cpu_s": "s", "gc_s": "s",
                  "shuffle_write_bytes": "bytes"}
TRACE = {
    "trace.traced_job_s": "s",     # wall time of the traced pass
    "trace.overhead_s": "s",       # the tracer's own bookkeeping in that pass
    "trace.span_total_s": "s",     # top-level span time of the traced pass
    "trace.span_gap_s": "s",       # traced_job_s - span_total_s
}


def per_layer_units() -> dict[str, str]:
    """Every per-layer metric name -> unit, in print order."""
    out = {k: v[0] for k, v in NAMED.items()}
    out.update({f"{layer}.self_s": "s" for layer in LAYERS})
    for layer in SPARK_LAYERS:
        out.update({f"{layer}.{c}": _COUNTER_UNITS[c] for c in _COUNTER_UNITS})
    out["spark.spill_bytes"] = "bytes"
    out.update(TRACE)
    return out


def per_layer_metrics(named: dict[str, float], spans: list[dict],
                      counters: dict[int, dict[str, float]], self_s: dict[int, float],
                      traced_job_s: float, overhead_s: float) -> dict:
    """Assemble the traced run's metrics: ``named`` (from the
    workload), self times and event-log counters summed per layer, and
    the tracing figures."""
    vals = dict.fromkeys(per_layer_units(), 0.0)
    vals.update(named)
    for s in spans:
        key = f"{s['layer']}.self_s"
        if key in vals:
            vals[key] += self_s[s["id"]]
        if s["layer"] == "session" and s["name"] == "get_session":
            vals["session.get_session_s"] = s["t1"] - s["t0"]
        c = counters.get(s["id"])
        if c is None:
            continue
        vals["spark.spill_bytes"] += c["spill_bytes"]
        if s["layer"] in SPARK_LAYERS:
            for k in _COUNTER_UNITS:
                vals[f"{s['layer']}.{k}"] += c[k]
    top = sum(s["t1"] - s["t0"] for s in spans
              if s["parent"] is None and s["layer"] != "session")
    vals.update({"trace.traced_job_s": traced_job_s,
                 "trace.overhead_s": overhead_s,
                 "trace.span_total_s": top,
                 "trace.span_gap_s": traced_job_s - top})
    units = per_layer_units()
    return {k: {"value": vals[k], "unit": units[k]} for k in units}
