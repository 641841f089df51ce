"""Which engine functions the traced run wraps, and what each wrapper
records. Layers are named after the repository's modules.

Eager layers (they run Spark actions or touch files) are timed by their
span. Lazy layers (they only compose a DataFrame) are timed by a probe
(``Tracer.probe``): output materialized alone minus input materialized
alone. Counters are summed over the run; ``run.py`` divides them by the
number of operations.
"""

from __future__ import annotations

from pathlib import Path

from spans import Span, Tracer

SPATIAL = ("operators.spatial.buddy_s", "operators.spatial.sct_s")
# end-to-end metrics taken once per run, before or across both phases
UNTRACEABLE = ("setup_s", "peak_rss_mb")


def _files_since(root: Path, since: float) -> tuple[int, int]:
    n = size = 0
    for f in root.rglob("*.parquet"):
        st = f.stat()
        if st.st_mtime >= since:
            n += 1
            size += st.st_size
    return n, size


def install(tracer: Tracer) -> None:
    """Wrap the engine's module attributes; ``tracer.restore()`` undoes
    every wrapper."""
    from pyspark.sql import functions as F

    import rove_spark.operators.gorilla as gorilla
    import rove_spark.operators.rollup as rollup
    import rove_spark.operators.spatial as spatial
    import rove_spark.plans.engine as engine
    import rove_spark.streaming.ingest as ingest
    from rove_spark.plans.checkpoint import CheckpointManifest
    from rove_spark.service import RoveService
    from rove_spark.sources.switch import DataSwitch
    from rove_spark.sources.tables import PartitionedTable

    Engine = engine.Engine
    tracer.patch(Engine, "run_job", "plans.engine.run_job")
    tracer.patch(Engine, "query_range", "plans.engine.query_range")
    tracer.patch(Engine, "ingest_late", "plans.engine.ingest_late")

    def checks_probe(span: Span, out, args, kwargs):
        # spatial checks composed inside this pipeline probed themselves
        # already; their self time is not the window checks'
        spatial_s = sum(tracer.counters[(span.op, k)] for k in SPATIAL)
        t = tracer.probe("operators.checks.pipeline_s", out, args[1])
        spatial_s = sum(tracer.counters[(span.op, k)] for k in SPATIAL) - spatial_s
        tracer.add("operators.checks.exec_s", max(0.0, t - spatial_s))
        return out

    tracer.patch(Engine, "run_pipeline", "operators.checks", after=checks_probe)

    build_tiers = engine.build_tiers

    def tiers_probe(span: Span, out, args, kwargs):
        # the probe recomputes the cascade unpersisted, so it neither fills
        # nor depends on the 1m cache the engine's own writes use
        plain = build_tiers(*args, **{**kwargs, "persist": False})
        tracer.probe("operators.rollup.build_tiers_s", plain["1d"], args[0])
        return out

    tracer.patch(engine, "build_tiers", "operators.rollup.build_tiers", after=tiers_probe)

    def encode_probe(span: Span, out, args, kwargs):
        tracer.probe("operators.gorilla.encode_s", out, args[0])
        return out

    tracer.patch(gorilla, "compress_series", "operators.gorilla.encode", after=encode_probe)

    def decode_probe(span: Span, out, args, kwargs):
        tracer.probe("operators.gorilla.decode_s", out, args[0])
        return out

    tracer.patch(gorilla, "decompress_series", "operators.gorilla.decode", after=decode_probe)

    def cold_source_hook(span: Span, src, args, kwargs):
        def traced_src(time_spec=None, space_spec=None):
            out = src(time_spec, space_spec)
            if time_spec is not None:
                used = (~F.col("is_gap")) & F.col("ts").between(
                    F.lit(time_spec.start), F.lit(time_spec.end)
                )
                with tracer.span("operators.gorilla.points.probe", probe=True):
                    row = out.agg(
                        F.count(F.lit(1)).alias("n"),
                        F.sum(used.cast("long")).alias("used"),
                    ).first()
                tracer.add("operators.gorilla.points_decoded", row["n"])
                tracer.add("operators.gorilla.points_used", row["used"] or 0)
            return out

        traced_src.spec_aware = True
        return traced_src

    tracer.patch(rollup, "cold_source", "operators.rollup.cold_source", after=cold_source_hook)
    tracer.patch(rollup, "retention_compact", "operators.rollup.retention_compact")
    tracer.patch(rollup, "refresh_tier_increment", "operators.rollup.refresh_increment")
    tracer.patch(ingest, "refresh_tier_increment", "operators.rollup.refresh_increment")

    def read_tier_hook(span: Span, out, args, kwargs):
        inc = args[2] if len(args) > 2 else kwargs.get("inc_table")
        days = kwargs.get("days")
        if inc is not None and hasattr(inc, "path") and Path(inc.path).is_dir():
            dirs = [Path(inc.path) / f"day={d}" for d in days] if days is not None else [
                p for p in Path(inc.path).glob("day=*")
            ]
            batches = {b.name for d in dirs if d.is_dir() for b in d.glob("batch=*")}
            tracer.add("operators.rollup.increment_batches_read", len(batches))
        return out

    tracer.patch(rollup, "read_tier", "operators.rollup.read_tier", after=read_tier_hook)

    def write_hook(span: Span, out, args, kwargs):
        n, size = _files_since(Path(args[0].path), span.start - 1.0)
        tracer.add("sources.tables.files_written", n)
        tracer.add("sources.tables.bytes_written", size)
        return out

    tracer.patch(PartitionedTable, "overwrite_partitions", "sources.tables.write", after=write_hook)
    tracer.patch(PartitionedTable, "append", "sources.tables.write", after=write_hook)

    def manifest_hook(span: Span, out, args, kwargs):
        path = Path(args[0].path)
        if path.is_file():
            tracer.add("plans.checkpoint.manifest_bytes_seen", path.stat().st_size)
            tracer.add("plans.checkpoint.manifest_reads", 1)
        return out

    tracer.patch(CheckpointManifest, "done_partitions", "plans.checkpoint.manifest", after=manifest_hook)
    tracer.patch(CheckpointManifest, "mark_done", "plans.checkpoint.manifest", after=manifest_hook)

    def spatial_probe(counter):
        def hook(span: Span, out, args, kwargs):
            tracer.probe(counter, out, args[0])
            return out

        return hook

    tracer.patch(spatial, "buddy_check", "operators.spatial.buddy_check",
                 after=spatial_probe("operators.spatial.buddy_s"))
    tracer.patch(spatial, "sct", "operators.spatial.sct", after=spatial_probe("operators.spatial.sct_s"))

    def fetch_probe(span: Span, out, args, kwargs):
        tracer.probe("sources.switch.fetch_s", out)
        return out

    tracer.patch(DataSwitch, "fetch", "sources.switch.fetch", after=fetch_probe)

    validate = RoveService.validate

    def traced_validate(self, request):
        with tracer.span("service.validate"):
            yield from validate(self, request)

    tracer.replace(RoveService, "validate", traced_validate)

    make_fn = ingest.make_tier_ingest_fn

    def traced_make_fn(*args, **kwargs):
        fn = make_fn(*args, **kwargs)

        def traced_fn(batch_df, epoch_id):
            with tracer.span("epoch", op=True, epoch=epoch_id):
                fn(batch_df, epoch_id)

        return traced_fn

    tracer.replace(ingest, "make_tier_ingest_fn", traced_make_fn)


# ----------------------------------------------------------- metrics --

OPS = ("run_job", "query_range", "epoch", "validate")
OP_METRICS = {
    "tasks": "count",
    "executor_cpu_s": "s",
    "gc_s": "s",
    "shuffle_bytes": "B",
    "spill_bytes": "B",
    "driver_gap_s": "s",
    "core_busy_frac": "ratio",
}
LAYER_METRICS = {
    "plans.engine.run_job.rescan_s": "s",
    "plans.engine.run_job.jobs": "count",
    "plans.checkpoint.manifest_s": "s",
    "plans.checkpoint.manifest_bytes": "B",
    "operators.checks.exec_s": "s",
    "operators.rollup.build_tiers_s": "s",
    "sources.tables.write_s": "s",
    "sources.tables.files_written": "count",
    "sources.tables.bytes_written": "B",
    "sources.tables.store_bytes_per_turn": "B",
    "operators.gorilla.encode_s": "s",
    "operators.gorilla.bytes_per_point": "B",
    "operators.gorilla.decode_s": "s",
    "operators.gorilla.points_decoded_per_point_used": "ratio",
    "plans.engine.query_range.plan_s": "s",
    "plans.engine.query_range.jobs": "count",
    "operators.rollup.rows_examined_per_row_out": "ratio",
    "operators.rollup.increment_batches_read": "count",
    "sources.tables.files_read_per_query": "count",
    "operators.rollup.refresh_increment_s": "s",
    "streaming.ingest.add_batch_s": "s",
    "streaming.ingest.trigger_overhead_s": "s",
    "streaming.ingest.manifest_snapshots": "count",
    "operators.spatial.buddy_s": "s",
    "operators.spatial.sct_s": "s",
    "operators.spatial.python_bytes": "B",
    "operators.spatial.task_skew": "ratio",
    "sources.switch.fetch_s": "s",
    "service.marshal_s": "s",
    "service.response_bytes": "B",
    "session.start_s": "s",
    "session.warmup_s": "s",
}


def per_layer_units(end_to_end: dict[str, str]) -> dict[str, str]:
    """Every per-layer metric name with its unit, in report order."""
    units = dict(LAYER_METRICS)
    for op in OPS:
        for m, u in OP_METRICS.items():
            units[f"{op}.{m}"] = u
    for name, unit in end_to_end.items():
        if name not in UNTRACEABLE:
            units[f"trace.overhead.{name}"] = unit
    return units


def summarize(tracer: Tracer, log, op: str, cores: int, samples: list[dict]) -> dict:
    """Per-layer values over the ``op`` operations of a traced phase.
    Times and counts are per operation; a layer these operations never
    reach reads 0."""
    import eventlog

    from stats import percentile

    ops = tracer.ops(op)
    n = max(1, len(ops))
    groups = {o.span_id: tracer.groups_of_op(o) for o in ops}
    all_groups = set().union(*groups.values()) if groups else set()
    totals = [
        eventlog.op_totals(log, groups[o.span_id], o.start, o.end, cores, tracer.probe_time(o))
        for o in ops
    ]
    out: dict[str, float] = {}
    for m in OP_METRICS:
        out[f"{op}.{m}"] = sum(t[m] for t in totals) / n
    jobs = sum(t["jobs"] for t in totals) / n

    def per_op(counter: str) -> float:
        return tracer.counter(counter, ops) / n

    def busy(span_name: str) -> float:
        return tracer.busy(span_name, ops) / n

    if op == "run_job":
        out["plans.engine.run_job.rescan_s"] = (
            eventlog.job_seconds(log, all_groups, "rove_spark/plans/engine.py") / n
        )
        out["plans.engine.run_job.jobs"] = jobs
    if op == "query_range":
        out["plans.engine.query_range.plan_s"] = busy("plans.engine.query_range")
        out["plans.engine.query_range.jobs"] = jobs
        rows_out = sum(s.get("rows_out", 0) for s in samples)
        out["operators.rollup.rows_examined_per_row_out"] = (
            sum(t["input_records"] for t in totals) / max(1, rows_out)
        )
        out["sources.tables.files_read_per_query"] = (
            sum(t["number of files read"] for t in totals) / n
        )
    out["plans.checkpoint.manifest_s"] = busy("plans.checkpoint.manifest")
    reads = tracer.counter("plans.checkpoint.manifest_reads", ops)
    if reads:
        out["plans.checkpoint.manifest_bytes"] = (
            tracer.counter("plans.checkpoint.manifest_bytes_seen", ops) / reads
        )
    out["sources.tables.write_s"] = busy("sources.tables.write")
    out["operators.rollup.refresh_increment_s"] = busy("operators.rollup.refresh_increment")
    for name in (
        "operators.checks.exec_s", "operators.rollup.build_tiers_s",
        "sources.tables.files_written", "sources.tables.bytes_written",
        "operators.gorilla.encode_s", "operators.gorilla.decode_s",
        "operators.rollup.increment_batches_read", "operators.spatial.buddy_s",
        "operators.spatial.sct_s", "sources.switch.fetch_s",
    ):
        out[name] = per_op(name)
    decoded = tracer.counter("operators.gorilla.points_decoded", ops)
    if decoded:
        # a sliver can hold no point at all: then every decoded point is waste
        used = tracer.counter("operators.gorilla.points_used", ops)
        out["operators.gorilla.points_decoded_per_point_used"] = decoded / max(1.0, used)
    if op == "validate":
        out["operators.spatial.python_bytes"] = sum(
            t["data sent to Python workers"] + t["data returned from Python workers"]
            for t in totals
        ) / n
        skews = eventlog.stage_skew(log, all_groups, "data sent to Python workers")
        out["operators.spatial.task_skew"] = percentile(skews, 50) if skews else 0.0
        # marshal: from the op's last Spark job ending to the last chunk read
        gaps = []
        for o, s in zip(ops, samples):
            ends = [j.end for j in log.jobs_in(groups[o.span_id]) if j.end is not None]
            if ends:
                gaps.append(max(0.0, s["done_at"] - max(ends)))
        out["service.marshal_s"] = sum(gaps) / max(1, len(gaps))
    return out
