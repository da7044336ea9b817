"""The traced run's per-layer table.

Set-up layers come from the run's one set-up. Pass layers are per pass,
medians over the traced passes; ``stream.drain_*`` come from the one drain
in the set-up's warm-up pass. ``nats_source.*`` come from driver-side
calls into the replay transport and batch reader, in seconds per 100k
messages. ``memory.*`` are the run's peak PSS, of the whole process tree
and of the JVM alone. A layer a workload does not exercise reads 0.
``self.<span>_s`` is a span's duration minus the part its child spans
cover, per pass.
"""

from __future__ import annotations

import statistics

#: (name, unit) of every per-layer metric, in report order
METRICS = [
    ("session.start_s", "s"), ("queries.import_s", "s"),
    ("data.prep_s", "s"), ("warm_pass_s", "s"),
    ("queries.build_s", "s"), ("queries.exec_s", "s"),
    ("spark.jobs", "count"), ("spark.stages", "count"), ("spark.tasks", "count"),
    ("spark.job_idle_s", "s"), ("spark.executor_run_s", "s"), ("spark.executor_cpu_s", "s"),
    ("spark.gc_s", "s"), ("spark.shuffle_read_bytes", "bytes"),
    ("spark.shuffle_write_bytes", "bytes"), ("spark.spill_bytes", "bytes"),
    ("spark.input_records", "count"), ("spark.rows_read_per_row_out", "ratio"),
    ("spark.persisted_rdds_left", "count"), ("python.eval_s", "s"),
    ("python.bytes_returned", "bytes"),
    ("nats_source.stream_info_s", "s"), ("nats_source.partitions_s", "s"),
    ("nats_source.fetch_new_s", "s"), ("nats_source.fetch_repeat_s", "s"),
    ("nats_source.filter_arrow_s", "s"), ("nats_source.json_extract_s", "s"),
    ("stream.triggers", "count"), ("stream.input_rows_per_trigger", "rows"),
    ("stream.latest_offset_ms", "ms"), ("stream.get_batch_ms", "ms"),
    ("stream.query_planning_ms", "ms"), ("stream.add_batch_ms", "ms"),
    ("stream.wal_commit_ms", "ms"), ("stream.state_rows", "count"),
    ("stream.state_bytes", "bytes"), ("stream.state_commit_ms", "ms"),
    ("stream.drain_s", "s"), ("stream.drain_triggers", "count"),
    ("stream.drain_rows_per_trigger", "rows"),
    ("sinks.files_written", "count"), ("sinks.bytes_written", "bytes"),
    ("sinks.write_amp", "ratio"), ("sinks.files_per_msg", "ratio"),
    ("msgs_per_s", "1/s"), ("memory.peak_rss_mb", "MB"), ("memory.peak_jvm_mb", "MB"),
    ("self.pass_s", "s"), ("self.op_s", "s"), ("self.queries.build_s", "s"),
    ("self.queries.exec_s", "s"), ("self.spark.job_s", "s"), ("self.connector.read_s", "s"),
    ("self.stream.drain_s", "s"), ("self.stream.tail_s", "s"), ("self.stream.trigger_s", "s"),
    ("trace.spans", "count"), ("trace.overhead_s", "s"),
]
_SETUP = ("session.start_s", "queries.import_s", "data.prep_s", "warm_pass_s")


def table(run, checked, plain: list[dict], traced: list[dict], extra: dict[str, float]) -> dict[str, tuple[float, str]]:
    vals: dict[str, float] = {
        # the stream drain runs once per run, in the checked warm pass
        k: v for k, v in checked.layer.items() if k.startswith("stream.drain")
    }
    for key in _SETUP:
        vals[key] = run.setup_rec[key]
    vals.update(extra)

    def per_pass(fn) -> float:
        return statistics.median(fn(p) for p in traced)

    layer_keys = {k for p in traced for k in p["bench"].layer}
    for key in layer_keys:
        vals[key] = per_pass(lambda p: p["bench"].layer.get(key, 0.0))

    def rows_out(p) -> float:
        return p["bench"].layer.get("rows_out") or sum(o.msgs for o in p["ops"])

    vals["spark.rows_read_per_row_out"] = per_pass(
        lambda p: p["bench"].layer.get("spark.input_records", 0.0) / max(1.0, rows_out(p))
    )
    vals["msgs_per_s"] = per_pass(lambda p: sum(o.msgs for o in p["ops"]) / p["wall"])
    selfs = [run.tracer.self_times(run.tracer.descendants(p["span"])) for p in traced]
    for name, _unit in METRICS:
        if name.startswith("self."):
            span = name[len("self."):-len("_s")]
            vals[name] = statistics.median(s.get(span, 0.0) for s in selfs)
    vals["trace.spans"] = float(len(run.tracer.spans))
    vals["trace.overhead_s"] = per_pass(lambda p: p["wall"]) - statistics.median(
        p["wall"] for p in plain
    )
    return {name: (float(vals.get(name, 0.0)), unit) for name, unit in METRICS}
