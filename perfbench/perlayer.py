"""Per-layer metrics of the traced run.

The traced run repeats one pass with a :class:`tracing.Tracer` on, then
runs the workload's layer probes (listing, directory reads, plain scans,
single-thread codec, metadata decode build). Every per-layer name of
``BENCHMARK.json`` is emitted on every workload; a layer the workload
does not exercise reads 0.
"""

from __future__ import annotations

import statistics

OPERATOR_FIELDS = ("exec_s", "source_scans", "jobs", "executor_cpu_s",
                   "pyworker_cpu_s", "shuffle_write_bytes")
LLM_FIELDS = ("exec_s", "jobs", "shuffle_write_bytes")
SPARK_FIELDS = ("executor_run_s", "executor_cpu_s", "pyworker_cpu_s",
                "gc_s", "spill_bytes", "shuffle_write_bytes")


def traced_metrics(spark, wl, runner, calls, pass_s: float, n_passes: int,
                   peaks, start_s: float, cold_s: float,
                   names: "list[str]") -> "tuple[dict, object]":
    """One traced pass plus the layer probes -> (a value for each of
    ``names``, the tracer holding the spans)."""
    import tracing as tr

    m = dict.fromkeys(names, 0.0)
    tracer = tr.Tracer(spark, True)
    runner.tracer = tracer
    tracer.pass_id = 1
    with tracer.span("pass"):
        # timed like the untraced passes: the sum of the call latencies
        traced_s, _, _ = runner.run_pass(calls)
    tracer.pass_id = 2
    m.update(wl.layer_probes(spark, tracer, runner))

    cores = spark.sparkContext.defaultParallelism
    call_spans = [s for s in tracer.spans
                  if s.get("call") and s["pass_id"] == 1]
    probe_spans = [s for s in tracer.spans
                   if s.get("call") and s["pass_id"] == 2]
    for sp in call_spans + probe_spans:
        name, exec_s = sp["call"], sp["end"] - sp["start"]
        if sp["layer"] == "operators":
            for f in OPERATOR_FIELDS:
                m[f"operators.{name}.{f}"] = (
                    exec_s if f == "exec_s" else tracer.total(sp, f))
        elif sp["layer"] == "llm":
            for f in LLM_FIELDS:
                m[f"llm.{name}.{f}"] = (
                    exec_s if f == "exec_s" else tracer.total(sp, f))
        elif name == "write_record_table":
            m["sources.write_record_table_s"] = exec_s
            m["sources.write_record_table.source_scans"] = tracer.total(
                sp, "source_scans")
    for f in SPARK_FIELDS:
        m[f"spark.{f}"] = sum(tracer.total(sp, f) for sp in call_spans)
    m["spark.busy_frac"] = m["spark.executor_run_s"] / (traced_s * cores)

    m["session.start_s"] = start_s
    m["session.cold_pass_s"] = cold_s
    m["trace.overhead_frac"] = traced_s / pass_s - 1
    m["peak_rss_mib"] = statistics.median(peaks) / 2 ** 20
    m["query.samples"] = n_passes * len(calls)
    m["query.passes"] = n_passes
    m.update(wl.throughput(pass_s))
    m["failed_frac"] = runner.failed / max(runner.attempted, 1)
    return m, tracer
