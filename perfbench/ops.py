"""Session builder and the three operations of the benchmark.

Every op drives the engine through its public functions only and returns
``(seconds, outputs)``; ``check_*`` compares the outputs with the
oracle-derived expected values of the workload.
"""

from __future__ import annotations

import dataclasses
import json
import os
import shutil
import time

import pyarrow.compute as pc
import pyarrow.parquet as pq
from pyspark.sql import SparkSession, functions as F

from fluent_plugin_detect_exceptions_spark import job
from fluent_plugin_detect_exceptions_spark.config import PipelineConfig
from fluent_plugin_detect_exceptions_spark.operators.route import detect_sink_counts
from fluent_plugin_detect_exceptions_spark.rules import compile_rules
from fluent_plugin_detect_exceptions_spark.streaming.stream_pipeline import (
    detect_exceptions_stream,
)

#: ``bench.py``'s chunking config with ``assume_*`` left at their defaults,
#: so the max-turn gate and both pre-pass halves run as real work
CFG = PipelineConfig(remove_tag_prefix="conv", chunk_size=16_384, warmup=2_048)
RULES = compile_rules(CFG.languages)
SINKS = job.SINKS
SCHEMA = "conv_id string, turn_idx int, role string, text string, tool string, ts timestamp"


def cpus() -> int:
    return len(os.sched_getaffinity(0))


def task_slots() -> int:
    """Spark's task threads: one core fewer than the machine has.  Each
    task of a Python stage keeps a JVM thread and a Python worker busy, and
    the driver, the JIT compiler and the garbage collector need a core too;
    at ``local[nproc]`` on 4 cores the routed op ran about 17% slower than at
    ``local[3]``."""
    return max(1, cpus() - 1)


def batch_partitions() -> int:
    return max(16, cpus())


def driver_memory() -> str:
    """A quarter of this machine's RAM, capped at ``bench.py``'s 16g: the
    machine is shared, and the inputs here are far smaller than 16g."""
    with open("/proc/meminfo") as f:
        kb = next(int(line.split()[1]) for line in f if line.startswith("MemTotal:"))
    return f"{max(1, min(16, kb // (4 << 20)))}g"


def build_spark(work: str) -> SparkSession:
    """``bench.py``'s session settings at ``local[task_slots()]``, with
    Spark's directories inside ``work`` (the caller points temporary files
    there), and no console progress bar."""
    return (
        SparkSession.builder.master(f"local[{task_slots()}]")
        .appName("detect-exceptions-perfbench")
        .config("spark.sql.warehouse.dir", os.path.join(work, "warehouse"))
        .config("spark.local.dir", os.path.join(work, "spark-local"))
        .config("spark.sql.shuffle.partitions", str(batch_partitions()))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.driver.memory", driver_memory())
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.files.maxPartitionBytes", "64m")
        .config("spark.sql.parquet.aggregatePushdown", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "262144")
        .config("spark.sql.sources.bucketing.autoBucketedScan.enabled", "false")
        .getOrCreate()
    )


def stop_spark(spark) -> None:
    """Stop the session, then the JVM it launched, and wait for the JVM to
    exit (it stops its Python workers on the way)."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        gateway.shutdown()
        proc.stdin.close()
        proc.wait(timeout=60)


def routed(spark, wl, out_dir: str, layer=None):
    """``job.main`` for one bucket: the pre-pass, then ``run_bucket``, which
    writes routed records partitioned by sink, lineage and metrics.
    ``layer(name, fn)`` wraps each call into the package (tracing)."""
    layer = layer or (lambda name, fn: fn())
    t0 = time.perf_counter()
    src = spark.read.parquet(wl.table_dir)
    pre = layer("segmenter.prepass", lambda: job.run_prepass(src, CFG, RULES))
    fb = pre["fallback_convs"]
    if fb is None:
        cfg = dataclasses.replace(CFG, chunk_size=0)
    else:
        cfg = dataclasses.replace(
            CFG, known_fallback_convs=tuple(fb), assume_long_convs=True
        )
    info = layer("route.run_bucket", lambda: job.run_bucket(spark, src, cfg, RULES, out_dir, 0))
    return time.perf_counter() - t0, dict(info, fallback_convs=fb, cfg=cfg)


def counts(spark, wl, layer=None):
    """The monitoring consumer: per-sink record counts, nothing written."""
    layer = layer or (lambda name, fn: fn())
    t0 = time.perf_counter()
    src = spark.read.parquet(wl.table_dir)
    rows = layer("route.detect_sink_counts", lambda: detect_sink_counts(src, CFG).collect())
    return time.perf_counter() - t0, {r["sink"]: r["n"] for r in rows}


def stream(spark, wl, ckpt_dir: str, layer=None):
    """Replay the slice files through ``detect_exceptions_stream`` into a
    noop sink, one file per micro-batch.  Per-sink counts and ``n_lines``
    ride the query as observed metrics.  Returns (seconds, progress dicts)."""
    layer = layer or (lambda name, fn: fn())
    t0 = time.perf_counter()
    src = (
        spark.readStream.schema(SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(wl.slices_dir)
    )
    out = detect_exceptions_stream(src, CFG).observe(
        "perfbench",
        *[F.sum((F.col("sink") == s).cast("long")).alias(s) for s in SINKS],
        F.sum("n_lines").alias("n_lines"),
    )
    # one state partition per task slot, so every micro-batch runs as one
    # wave; the query keeps the conf it started with
    spark.conf.set("spark.sql.shuffle.partitions", str(task_slots()))
    try:
        q = (
            out.writeStream.format("noop").outputMode("append")
            .option("checkpointLocation", ckpt_dir)
            .trigger(availableNow=True)
            .start()
        )
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", str(batch_partitions()))
    try:
        layer("stream_pipeline.query", q.awaitTermination)
    finally:
        q.stop()
    dt = time.perf_counter() - t0
    return dt, [json.loads(p.json) for p in q.recentProgress]


def stream_outputs(progress) -> tuple[dict, int]:
    sinks, n_lines = {}, 0
    for p in progress:
        m = (p.get("observedMetrics") or {}).get("perfbench")
        if not m:
            continue
        for s in SINKS:
            sinks[s] = sinks.get(s, 0) + int(m.get(s) or 0)
        n_lines += int(m.get("n_lines") or 0)
    return {s: n for s, n in sinks.items() if n}, n_lines


def routed_n_lines(out_dir: str) -> int:
    """Total ``n_lines`` of the routed records written under ``out_dir``,
    read with pyarrow in the driver rather than by another Spark job."""
    col = pq.read_table(f"{out_dir}/routed", columns=["n_lines"]).column("n_lines")
    return pc.sum(col).as_py() or 0


def check(name: str, got_sinks: dict, want, got_n_lines=None) -> list[str]:
    """Mismatches between an op's outputs and the expected values."""
    errs = []
    if got_sinks != want.sinks:
        errs.append(f"{name}: sink counts {got_sinks} != expected {want.sinks}")
    if got_n_lines is not None and got_n_lines != want.n_lines:
        errs.append(f"{name}: n_lines {got_n_lines} != expected {want.n_lines}")
    return errs


def remove(path: str) -> None:
    shutil.rmtree(path, ignore_errors=True)
