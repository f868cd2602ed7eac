"""The traced run: per-layer metrics of the exception engine.

Layers are named by module.  Spans wrap calls into each module's public
functions from outside the package; sizes, row counts and Python time come
from the executed plans (``probes.plan_nodes``); time inside the kernel
comes from the UDF perf profiler.  An untraced routed op runs just before
the traced one, so ``trace.overhead_frac`` shows what tracing costs.
"""

from __future__ import annotations

import json
import os
import statistics

from pyspark.sql import functions as F

import ops
import probes
from fluent_plugin_detect_exceptions_spark.operators.coalesce import coalesce_partials
from fluent_plugin_detect_exceptions_spark.operators.segmenter import segment
from fluent_plugin_detect_exceptions_spark.plans.pipeline import detect_exceptions, slim_split

PROFILER = "spark.sql.pyspark.udf.profiler"
KERNEL_FUNCS = {
    "classify.s": ("classify.py", "classify_encoded"),
    "fsm.scan_s": ("fsm.py", "scan"),
    "fsm.subset_sync_s": ("fsm.py", "subset_sync"),
}


def noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def traced_run(spark, wl, loop, args) -> dict:
    tr = probes.Tracer(spark)
    untraced = loop.one("routed")
    spark.conf.set(PROFILER, "perf")
    probes.clear_profiles(spark)
    routed = loop.one("routed", layer=tr.span)
    prof = probes.profile_cumulative(spark, KERNEL_FUNCS)
    spark.conf.unset(PROFILER)
    counts = loop.one("counts", layer=tr.span)
    loop.one("stream")  # the first stream op of the JVM runs cold
    with probes.PssSampler() as mem:
        stream = loop.one("stream", layer=tr.span)
    if untraced is None or routed is None or counts is None or stream is None:
        return {}  # the failures are in loop.failures
    cfg = routed[1]["cfg"]
    isolated = isolate_layers(spark, wl, cfg, tr)

    m = {}
    m.update(routed_metrics(spark, wl, tr, routed[1], prof))
    m.update(counts_metrics(spark, tr))
    m.update(isolated)
    m["coalesce.s"] = (tr.last("coalesce.noop").seconds - tr.last("segmenter.stage").seconds, "s")
    m["route.write_s"] = (
        tr.last("route.run_bucket").seconds - tr.last("pipeline.routed_noop").seconds, "s")
    m.update(stream_metrics(wl, stream[1]))
    m["stream_pipeline.rows_per_s"] = (wl.stream_rows / stream[0], "rows/s")
    m["pipeline.peak_pss_mb"] = (mem.peak_mb, "MB")
    m["trace.overhead_frac"] = (tr.last("op.routed").seconds / untraced[0] - 1, "ratio")
    save(tr, m, wl, args)
    return m


def routed_metrics(spark, wl, tr, info, prof) -> dict:
    op = tr.last("op.routed")
    plans = {e: probes.plan_nodes(spark, e) for e in tr.executions_under(op)}
    bucket = set(tr.executions_under(tr.last("route.run_bucket")))
    every = [n for nodes in plans.values() for n in nodes.values()]

    def total(name, metric):
        return sum(n.metrics.get(metric, 0.0) for n in every if n.name.startswith(name))

    # the routed write: the run_bucket execution holding the segmentation stage
    write = next(nodes for e, nodes in plans.items()
                 if e in bucket and any(n.name == "MapInArrow" for n in nodes.values()))
    stage = next(n for n in write.values() if n.name == "MapInArrow")
    below = probes.descendants(write, stage.id)
    above = {n.id for n in write.values() if stage.id in probes.descendants(write, n.id)}
    exchanges = [n for n in write.values() if n.name == "Exchange"]
    # the exchange nearest the stage on each side
    shuffle1 = max((n for n in exchanges if n.id in below),
                   key=lambda n: len(probes.descendants(write, n.id)))
    shuffle2 = min((n for n in exchanges if n.id in above),
                   key=lambda n: len(probes.descendants(write, n.id)))
    rejoin = [n for n in exchanges if n.id not in below and n.id not in above]
    n_routed = sum(info["sink_counts"].values())
    python_s = total("MapInArrow", "time to run Python workers")
    return {
        "transcripts.bytes_read": (total("Scan parquet", "size of files read"), "bytes"),
        "segmenter.prepass_s": (tr.last("segmenter.prepass").seconds, "s"),
        "segmenter.fallback_convs": (len(info["fallback_convs"] or ()), "count"),
        "segmenter.warmup_dup_ratio": (
            shuffle1.metrics.get("shuffle records written", 0.0) / wl.n_rows, "ratio"),
        "segmenter.shuffle1_bytes": (shuffle1.metrics.get("shuffle bytes written", 0.0), "bytes"),
        "segmenter.arrow_in_bytes": (stage.metrics.get("data sent to Python workers", 0.0), "bytes"),
        "segmenter.arrow_out_bytes": (
            stage.metrics.get("data returned from Python workers", 0.0), "bytes"),
        "segmenter.python_s": (python_s, "s"),
        "segmenter.python_init_s": (total("MapInArrow", "time to initialize Python workers"), "s"),
        "classify.s": (prof["classify.s"], "s"),
        "classify.share": (prof["classify.s"] / python_s if python_s else 0.0, "ratio"),
        "classify.distinct_ratio": (wl.props["distinct_ratio"], "ratio"),
        "fsm.scan_s": (prof["fsm.scan_s"], "s"),
        "fsm.subset_sync_s": (prof["fsm.subset_sync_s"], "s"),
        "coalesce.shuffle2_bytes": (shuffle2.metrics.get("shuffle bytes written", 0.0), "bytes"),
        "coalesce.partials_per_record": (
            stage.metrics.get("number of output rows", 0.0) / n_routed, "ratio"),
        "pipeline.rejoin_shuffle_bytes": (
            sum(n.metrics.get("shuffle bytes written", 0.0) for n in rejoin), "bytes"),
        "pipeline.broadcast_bytes": (total("BroadcastExchange", "data size"), "bytes"),
        "pipeline.routed_uncovered_s": (tr.uncovered_s(op), "s"),
        "route.bytes_written": (
            sum(n.metrics.get("written output", 0.0)
                for e in bucket for n in plans[e].values()), "bytes"),
    }


def counts_metrics(spark, tr) -> dict:
    """The counts plan is the last execution of the counts op; earlier ones
    are the max-turn gate and the pre-pass that ``segment()`` runs itself."""
    last = probes.plan_nodes(spark, tr.executions_under(tr.last("op.counts"))[-1])
    stage = [n for n in last.values() if n.name == "MapInArrow"]
    return {
        "route.counts_exchanges": (sum(n.name == "Exchange" for n in last.values()), "count"),
        "segmenter.counts_arrow_out_bytes": (
            sum(n.metrics.get("data returned from Python workers", 0.0) for n in stage), "bytes"),
    }


def isolate_layers(spark, wl, cfg, tr) -> dict:
    """Each layer's plan run alone into a noop sink, with the routed op's
    resolved config (pre-pass result included), plus the per-task row
    counts of the segmentation stage output."""
    src = spark.read.parquet(wl.table_dir)
    msg = cfg.resolve_message_field(src.columns)
    stage_df, _ride = slim_split(src, cfg, msg)
    tr.span("segmenter.stage", lambda: noop(segment(stage_df, cfg, ops.RULES)))
    tr.span("coalesce.noop",
            lambda: noop(coalesce_partials(segment(stage_df, cfg, ops.RULES), cfg, msg)))
    tr.span("pipeline.routed_noop", lambda: noop(detect_exceptions(src, cfg)))
    parts = tr.span("segmenter.partition_rows", lambda: (
        segment(stage_df, cfg, ops.RULES)
        .groupBy(F.spark_partition_id().alias("p"))
        .agg(F.sum("n_part").alias("rows"),
             F.sum((~F.col("sync_ok")).cast("long")).alias("unsynced"))
        .collect()))
    rows = [r["rows"] for r in parts]
    return {
        "segmenter.stage_s": (tr.last("segmenter.stage").seconds, "s"),
        "segmenter.unsynced_parts": (sum(r["unsynced"] for r in parts), "count"),
        "segmenter.task_rows_skew": (max(rows) / statistics.median(rows), "ratio"),
        "pipeline.routed_noop_s": (tr.last("pipeline.routed_noop").seconds, "s"),
    }


def stream_metrics(wl, progress) -> dict:
    def p50(key_fn):
        return statistics.median(key_fn(p) for p in progress) / 1000

    ops_ = [so for p in progress for so in p.get("stateOperators") or []]
    return {
        "stream_pipeline.batch_p50_s": (p50(lambda p: p["durationMs"]["triggerExecution"]), "s"),
        "stream_pipeline.add_batch_p50_s": (p50(lambda p: p["durationMs"]["addBatch"]), "s"),
        "stream_pipeline.overhead_p50_s": (p50(lambda p: sum(
            p["durationMs"].get(k, 0)
            for k in ("queryPlanning", "getBatch", "walCommit", "commitOffsets"))), "s"),
        "stream_pipeline.state_rows_max": (max(so["numRowsTotal"] for so in ops_), "count"),
        "stream_pipeline.state_bytes_max": (max(so["memoryUsedBytes"] for so in ops_), "bytes"),
        "stream_pipeline.rows_per_group_batch_max": (wl.props["rows_per_group_batch_max"], "count"),
        "stream_pipeline.segments_per_group_batch_max": (
            wl.props["segments_per_group_batch_max"], "count"),
    }


def save(tr, metrics, wl, args) -> None:
    """Spans and metrics of the traced run, written once at the end."""
    out = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                       ".perfbench_out")
    os.makedirs(out, exist_ok=True)
    path = os.path.join(out, f"trace_{wl.name}_{args.seed}.json")
    with open(path, "w") as f:
        json.dump({"workload": wl.name, "seed": args.seed, "props": wl.props,
                   "spans": tr.as_dicts(),
                   "metrics": {k: v for k, (v, _u) in metrics.items()}}, f, indent=1)
