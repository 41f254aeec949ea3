"""Per-layer metrics of a traced run.

:func:`instrument` wraps public functions of the engine's modules so
each call records a span named after its layer. :func:`per_layer`
turns the spans, the per-op Spark job metrics and the per-commit
directory diffs into the metrics ``BENCHMARK.json`` lists under
``per_layer``.

A layer's time in one op is the sum of the self times of its spans in
that op; a time metric is the median of that sum over the traced ops
(set-up jobs included) that touched the layer. Spark metrics are
medians over the traced ops of the window. Commit metrics are medians
per commit over every write of the run; ``txlog.checkpoints`` is
their total.
"""

from __future__ import annotations

from collections import defaultdict

from etlbench.harness import Result
from etlbench.stats import gmean, median
from etlbench.trace import Tracer, clipped, union_length

TIME_LAYERS = (
    "config.load", "etl.source_view", "etl.hooks", "etl.operate", "etl.clean",
    "txlog.read_resolve", "txlog.optimize", "txlog.vacuum",
    "ivm.refresh", "recon.run", "query.build", "query.collect",
)
SPARK_FIELDS = ("executor_run_s", "executor_cpu_s", "input_bytes",
                "shuffle_read_bytes", "shuffle_write_bytes")

PER_LAYER = (
    *(f"{layer}_s" for layer in TIME_LAYERS),
    "txlog.live_files",
    "txlog.log_files_per_commit", "txlog.data_files_per_commit",
    "txlog.data_bytes_per_commit", "txlog.files_removed_per_commit",
    "txlog.checkpoints",
    "spark.jobs_per_op", "spark.stages_per_op", "spark.tasks_per_op",
    *(f"spark.{f}" for f in SPARK_FIELDS),
    "spark.driver_only_s",
    "trace.overhead_ratio", "trace.op_gmean_s",
)


def instrument(tracer: Tracer) -> None:
    """Record a span around every call into the traced functions."""
    from x_spark.operators import ivm, recon
    from x_spark.plans import config, etl
    from x_spark.sources import txlog

    tracer.wrap(etl, "load_yaml_config", "config.load")
    tracer.wrap(recon, "load_yaml_config", "config.load")
    tracer.wrap(config.JobConfig, "from_dict", "config.load")
    tracer.wrap(etl.BaseETLJob, "step_03_create_source_view", "etl.source_view")
    for step in ("step_01_source_pre_sql", "step_04_source_post_sql",
                 "step_05_target_pre_sql", "step_07_target_post_sql"):
        tracer.wrap(etl.BaseETLJob, step, "etl.hooks")
    tracer.wrap(etl.BaseETLJob, "step_08_clean", "etl.clean")
    for cls in _subclasses(etl.BaseETLJob):
        if "step_06_operate" in cls.__dict__:
            tracer.wrap(cls, "step_06_operate", "etl.operate")
    tracer.wrap(txlog.TxLogDataSource, "read", "txlog.read_resolve")
    tracer.wrap(txlog.TxLogDataSource, "optimize", "txlog.optimize")
    tracer.wrap(txlog.TxLogDataSource, "vacuum", "txlog.vacuum")
    tracer.wrap(ivm.AggregateView, "refresh", "ivm.refresh")

    resolve = txlog.resolve_snapshot

    def counted_resolve(*args, **kwargs):
        snap = resolve(*args, **kwargs)
        if snap is not None:
            tracer.count("txlog.live_files", len(snap.files))
        return snap

    txlog.resolve_snapshot = counted_resolve


def _subclasses(cls) -> list[type]:
    out = []
    for sub in cls.__subclasses__():
        out += [sub, *_subclasses(sub)]
    return out


def layer_times(tracer: Tracer) -> dict[str, list[float]]:
    """Layer -> per-op sums of self time, one entry per op that
    touched the layer."""
    per_op: dict[tuple[str, str], float] = defaultdict(float)
    for span, own in tracer.self_times():
        if span.name in TIME_LAYERS:
            per_op[(span.name, span.op_id)] += own
    out: dict[str, list[float]] = defaultdict(list)
    for (layer, _), total in per_op.items():
        out[layer].append(total)
    return out


def driver_only_s(res: Result) -> float:
    """Op wall time not covered by any of its Spark jobs."""
    spans = clipped(res.jobs.job_spans, res.start, res.end)
    return (res.end - res.start) - union_length(spans)


def overhead_ratio(window: list[Result]) -> float:
    """Traced op time over the same time less the tracer's own
    bookkeeping inside the ops."""
    busy = sum(r.seconds for r in window)
    return busy / (busy - sum(r.trace_s for r in window))


def per_layer(tracer: Tracer, results: list[Result], window: list[Result]) -> dict:
    metrics: dict[str, float] = {}
    times = layer_times(tracer)
    for layer in TIME_LAYERS:
        metrics[f"{layer}_s"] = median(times.get(layer, [0.0]))
    metrics["txlog.live_files"] = median(tracer.counts.get("txlog.live_files", [0]))

    # directory diffs sit outside the op timer, so every write counts
    commits = [r.commit for r in results if r.commit is not None and r.commit.commits]
    for name, field in (("log_files", "log_files"), ("data_files", "data_files"),
                        ("data_bytes", "data_bytes"), ("files_removed", "files_removed")):
        metrics[f"txlog.{name}_per_commit"] = median(
            [getattr(c, field) / c.commits for c in commits] or [0])
    metrics["txlog.checkpoints"] = sum(c.checkpoints for c in commits)

    probed = [r for r in window if r.jobs is not None]
    for name in ("jobs", "stages", "tasks"):
        metrics[f"spark.{name}_per_op"] = median([getattr(r.jobs, name) for r in probed] or [0])
    for f in SPARK_FIELDS:
        metrics[f"spark.{f}"] = median([getattr(r.jobs, f) for r in probed] or [0])
    metrics["spark.driver_only_s"] = median([driver_only_s(r) for r in probed] or [0.0])
    metrics["trace.overhead_ratio"] = overhead_ratio(window)
    metrics["trace.op_gmean_s"] = gmean(r.seconds for r in window)
    return metrics


def per_kind_jobs(window: list[Result]) -> dict[str, tuple[float, float, int]]:
    """Op kind -> (median Spark jobs, median tasks, traced ops)."""
    out = {}
    for kind in sorted({r.kind for r in window}):
        probed = [r for r in window if r.kind == kind and r.jobs is not None]
        if probed:
            out[kind] = (median([r.jobs.jobs for r in probed]),
                         median([r.jobs.tasks for r in probed]), len(probed))
    return out

