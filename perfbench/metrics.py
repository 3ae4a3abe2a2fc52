"""Metric names, units and how each is read from the harness report.

End-to-end metrics (``--trace 0``), one value per run:
  setup_s       the run's one set-up, from JVM launch until Engine.session,
                Engine.tuneForEstate and the warm-up are done
  cold_s        wall of the first pass in the fresh JVM
  warm_s        median wall of the measured warm passes: those that start
                in the second half of the --seconds warm phase (at least
                three). Passes keep getting faster for tens of seconds as
                the JIT catches up, at a pace that differs between JVMs, so
                the passes right after the cold one are run but not measured
  rows_per_s    input rows of one pass / warm_s (readings on sensor_etl,
                estate rows on the query workloads)
  live_heap_mb  heap in use after a full GC at the end of the run

Per-layer metrics (``--trace 1``) are medians over the traced ones of the
measured warm passes, except the ``streaming.*`` and ``*cold*`` ones, which
come from the cold pass (the only pass in which streams ingest and artifacts
are built).
"""
import statistics

WORKLOADS = ("sensor_etl", "stream_replay")

END_TO_END = {
    "setup_s": "s",
    "cold_s": "s",
    "warm_s": "s",
    "rows_per_s": "rows/s",
    "live_heap_mb": "MB",
}

# layer metric -> unit; the layer is the prefix before the first dot
PER_LAYER = {
    "engine.session_s": "s",
    "engine.tune_s": "s",
    "engine.sweep_s": "s",
    "engine.pinned_rdds": "count",
    "engine.storage_mb": "MB",
    "queries.build_s": "s",
    "queries.build_self_s": "s",
    "queries.build_jobs": "count",
    "queries.build_task_s": "s",
    "queries.cold_build_s": "s",
    "queries.cold_build_self_s": "s",
    "queries.cold_build_jobs": "count",
    "queries.failed": "count",
    "plans.plan_s": "s",
    "plans.exchanges": "count",
    "plans.smj": "count",
    "plans.shj": "count",
    "plans.bhj": "count",
    "exec.run_s": "s",
    "exec.jobs": "count",
    "exec.stages": "count",
    "exec.tasks": "count",
    "exec.task_s": "s",
    "exec.core_util": "ratio",
    "exec.skew": "ratio",
    "exec.shuffle_write_mb": "MB",
    "exec.shuffle_read_mb": "MB",
    "exec.spill_mb": "MB",
    "exec.peak_exec_mb": "MB",
    "exec.gc_s": "s",
    "exec.task_failures": "count",
    "sources.input_mb": "MB",
    "sources.input_rows": "count",
    "ops.pins_added": "count",
    "ops.cold_pins_added": "count",
    "streaming.batches": "count",
    "streaming.jobs_per_batch": "count",
    "streaming.batch_s": "s",
    "streaming.batch_max_s": "s",
    "streaming.add_batch_s": "s",
    "streaming.wal_commit_s": "s",
    "streaming.state_commit_s": "s",
    "streaming.state_rows": "count",
    "etl.write_s": "s",
    "etl.output_mb": "MB",
    "etl.windows": "count",
    "etl.kept_ratio": "ratio",
    "trace.overhead_s": "s",
    "trace.span_residual_s": "s",
}

UNITS = {**END_TO_END, **PER_LAYER}

# pass-0 layer counters reported under a cold name
COLD = {
    "queries.cold_build_s": "queries.build_s",
    "queries.cold_build_self_s": "queries.build_self_s",
    "queries.cold_build_jobs": "queries.build_jobs",
    "ops.cold_pins_added": "ops.pins_added",
}


def _median(xs):
    return statistics.median(xs) if xs else 0.0


# computed by per_layer from the report as a whole, not from a pass's layers
WHOLE_RUN = ("engine.session_s", "engine.tune_s", "engine.pinned_rdds", "engine.storage_mb",
             "queries.failed", "etl.kept_ratio", "trace.overhead_s", "trace.span_residual_s")


def end_to_end(report, input_rows):
    passes = report["passes"]
    warm = _median([p["wall_s"] for p in passes if p["measured"]])
    return {
        "setup_s": report["setup"]["total_s"],
        "cold_s": passes[0]["wall_s"],
        "warm_s": warm,
        "rows_per_s": input_rows / warm,
        "live_heap_mb": report["live_heap_mb"],
    }


def per_layer(report, failed, input_rows):
    passes = report["passes"]
    cold = passes[0]["layers"]
    traced = [p for p in passes if p["measured"] and p["traced"]]
    untraced = [p for p in passes if p["measured"] and not p["traced"]]
    out = {}
    for name in PER_LAYER:
        if name in COLD:
            out[name] = cold[COLD[name]]
        elif name.startswith("streaming."):
            out[name] = cold[name]
        elif name not in WHOLE_RUN:
            out[name] = _median([p["layers"][name] for p in traced])
    readings_kept = _median([p["layers"]["etl.readings_kept"] for p in traced])
    out.update({
        "engine.session_s": report["setup"]["session_s"],
        "engine.tune_s": report["setup"]["tune_s"],
        "engine.pinned_rdds": passes[-1]["pinned"],
        "engine.storage_mb": _median([p["storage_mb"] for p in traced]),
        "queries.failed": failed,
        "etl.kept_ratio": readings_kept / input_rows if report["workload"] == "sensor_etl" else 0.0,
        "trace.overhead_s": _median([p["wall_s"] for p in traced])
        - _median([p["wall_s"] for p in untraced]),
        "trace.span_residual_s": max(p["layers"]["trace.span_residual_s"]
                                     for p in [passes[0]] + traced),
    })
    return {k: out[k] for k in PER_LAYER}
