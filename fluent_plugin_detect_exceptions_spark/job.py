"""spark-submit entry point: resumable detect-exceptions batch job.

Usage (cluster):

    python scripts/make_pyfiles.py   # -> dist/fluent_plugin_detect_exceptions_spark.zip
    spark-submit \\
        --py-files dist/fluent_plugin_detect_exceptions_spark.zip \\
        scripts/run_job.py \\
        --input s3://bucket/transcripts/ --output s3://bucket/routed/ \\
        --checkpoint-dir /mnt/shared/_ckpt --buckets 64 --languages all

or locally:

    python -m fluent_plugin_detect_exceptions_spark.job \\
        --input /tmp/transcripts.parquet --output /tmp/routed --buckets 4

Processes the conversation key space bucket by bucket (checkpoint.py);
each bucket writes routed records fanned out by sink, per-sink counts, input
lineage and per-partition metrics, then appends a manifest entry.  Re-running
the same command resumes after the last durable bucket.  The driver writes
the manifest with local file I/O, so the checkpoint dir is a local path or a
``file:`` URI (an object-store ``--output`` needs an explicit
``--checkpoint-dir``).
"""

from __future__ import annotations

import argparse
import time
import uuid
from concurrent.futures import ThreadPoolExecutor

from pyspark import inheritable_thread_target
from pyspark.sql import Observation, SparkSession, functions as F

from .checkpoint import BucketManifest, bucket_of, config_fingerprint
from .config import PipelineConfig
from .metrics import input_lineage, observed, write_run_metadata
from .operators.segmenter import chunk_gate, resolve_chunk_plan, run_verified, segment
from .plans.pipeline import routed_records, slim_split
from .rules import FAMILIES, compile_rules
from .sources.transcripts import read_transcripts

#: the sink namespace is closed (per-language + pass-through), so per-sink
#: counts can ride the write as observed metrics instead of a second job
SINKS = tuple(f"lang_{fam}" for fam in FAMILIES) + ("passthrough",)


def parse_args(argv=None) -> argparse.Namespace:
    p = argparse.ArgumentParser(description="detect-exceptions batch pipeline")
    p.add_argument("--input", required=True, help="parquet path or Iceberg table")
    p.add_argument("--output", required=True)
    p.add_argument("--checkpoint-dir", default=None,
                   help="manifest dir, a local path or file: URI "
                        "(default <output>/_checkpoint)")
    p.add_argument("--buckets", type=int, default=16)
    p.add_argument("--languages", default="all", help="comma-separated")
    p.add_argument("--message", default="text")
    p.add_argument("--stream", default=None)
    p.add_argument("--remove-tag-prefix", default=None)
    p.add_argument("--max-lines", type=int, default=1000)
    p.add_argument("--max-bytes", type=int, default=0)
    p.add_argument("--multiline-flush-interval", type=float, default=None)
    p.add_argument("--force-line-breaks", action="store_true")
    p.add_argument("--chunk-size", type=int, default=1 << 17)
    p.add_argument("--warmup", type=int, default=4096)
    p.add_argument("--assume-long-convs", action="store_true",
                   help="skip the max-turn gate job (input is known to hold "
                        "chunk_size-plus conversations)")
    p.add_argument("--assume-dense-turns", action="store_true",
                   help="turn_idx is dense per (conv[, stream]): skip the "
                        "occupancy half of the sync pre-pass")
    return p.parse_args(argv)


def build_config(args: argparse.Namespace) -> PipelineConfig:
    return PipelineConfig(
        remove_tag_prefix=args.remove_tag_prefix,
        message=args.message,
        multiline_flush_interval=args.multiline_flush_interval,
        languages=tuple(x for x in args.languages.split(",") if x),
        force_line_breaks=args.force_line_breaks,
        max_lines=args.max_lines,
        max_bytes=args.max_bytes,
        stream=args.stream,
        chunk_size=args.chunk_size,
        warmup=args.warmup,
        assume_long_convs=args.assume_long_convs,
        assume_dense_turns=args.assume_dense_turns,
    )


def run_prepass(src, cfg, rules) -> dict:
    """Global plan-time work, once per run: the max-turn gate alone
    (``segmenter.chunk_gate``).  ``fallback_convs`` is None meaning
    "chunking off", else the known list (``known_fallback_convs``, or
    empty).  The fallback pre-pass is not run here: each ``run_bucket``
    verifies its chunk scans and runs it only after a chunk fails to sync.
    ``rules`` is unused; it stays in the signature for existing callers."""
    return {"fallback_convs": chunk_gate(src, cfg)}


def run_bucket(spark, df, cfg, rules, out_dir: str, bucket: int,
               prepass_src=None) -> dict:
    """One source scan per bucket: segmentation metrics and per-sink counts
    ride the routed write as observed metrics (CollectMetricsExec — computed
    in-plan, exactly-once even under task retries), instead of re-running the
    classify+FSM stage or re-reading the written parquet.  The only extra
    pass is input lineage, a 2-column footer-light scan (column pruning)
    that runs once, beside the routed write.  An exception from either
    write propagates.

    The write runs under ``segmenter.run_verified``: its observed
    ``parts_unsynced`` is the check, and only when a chunk failed to sync
    does the fallback pre-pass run, over ``prepass_src`` (default ``df``),
    and the write repeat (overwriting ``routed/bucket=N``) on the repaired
    plan.  The result and the bucket's metrics row carry ``fallback_convs``
    (the length of the list the records were computed with) and ``reruns``
    (0 or 1); the result also carries ``cfg``, the config with that list
    settled, which ``main`` passes on to the remaining buckets.  A bucket
    with no rows writes no record and reads every metric as 0."""
    t0 = time.perf_counter()
    msg_field = cfg.resolve_message_field(df.columns)

    def write(settled):
        stage_df, ride = slim_split(df, settled, msg_field)
        seg_obs = Observation(f"seg_metrics_{bucket}")
        seg = segment(stage_df, settled, rules).observe(
            seg_obs,
            F.coalesce(F.sum("n_part"), F.lit(0)).alias("rows_emitted"),
            F.count(F.lit(1)).alias("segments_started"),
            F.count_if(~F.col("sync_ok")).alias("parts_unsynced"),
        )
        sink_obs = Observation(f"sink_counts_{bucket}")
        routed = routed_records(seg, ride, settled, msg_field).observe(
            sink_obs, *[F.count_if(F.col("sink") == s).alias(s) for s in SINKS]
        )
        routed.write.mode("overwrite").partitionBy("sink").parquet(
            f"{out_dir}/routed/bucket={bucket}"
        )
        metrics = observed(seg_obs, ("rows_emitted", "segments_started", "parts_unsynced"))
        return (observed(sink_obs, SINKS), metrics), metrics["parts_unsynced"]

    # lineage: separate narrow pass (needs per-input-file grouping, which an
    # observation cannot express); column-pruned to the conv and order
    # columns.  It runs on a second driver thread beside the routed write;
    # the wrapper carries the job group, local properties and tags over.
    lineage = input_lineage(df, cfg.conv_col, cfg.order_col).write.mode("overwrite")
    write_lineage = inheritable_thread_target(spark)(
        lambda: lineage.parquet(f"{out_dir}/lineage/bucket={bucket}")
    )
    with ThreadPoolExecutor(1) as pool:
        lineage_done = pool.submit(write_lineage)
        try:
            (sinks, metrics), fallback, reruns = run_verified(
                df, cfg, rules, msg_field, write, prepass_src
            )
        finally:
            lineage_done.result()
    counts = {s: int(n) for s, n in sinks.items() if n}
    n_routed = sum(counts.values())
    n_fallback = len(fallback or ())
    # one row of literals: a JVM-only plan, where createDataFrame would
    # round-trip the row through a Python worker
    row = dict(metrics, bucket=bucket, rows_out=n_routed, fallback_convs=n_fallback,
               reruns=reruns)
    spark.range(1, numPartitions=1).select(
        *[F.lit(row[k]).cast("long").alias(k) for k in sorted(row)]
    ).write.mode("overwrite").parquet(f"{out_dir}/metrics/bucket={bucket}")
    return {
        "rows_out": n_routed,
        "sink_counts": counts,
        "metrics": metrics,
        "fallback_convs": n_fallback,
        "reruns": reruns,
        "cfg": resolve_chunk_plan(cfg, fallback),
        "seconds": round(time.perf_counter() - t0, 3),
    }


def main(argv=None) -> None:
    args = parse_args(argv)
    # refuses a non-local checkpoint dir before any Spark work
    manifest = BucketManifest(args.checkpoint_dir or f"{args.output}/_checkpoint")
    spark = (
        SparkSession.builder.appName("detect-exceptions")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.aggregatePushdown", "true")
        .getOrCreate()
    )
    cfg = build_config(args)
    rules = compile_rules(cfg.languages)
    # refuse to resume across a --buckets or config change (ADVICE r1):
    # bucket ids are only comparable under the same partitioning + semantics
    fp = config_fingerprint(cfg, args.buckets)
    done = manifest.completed(fingerprint=fp)
    run_id = uuid.uuid4().hex[:12]

    src = read_transcripts(spark, args.input)

    # plan-time work ONCE per run, not once per bucket: the max-turn gate is
    # a global property of the input.  The fallback pre-pass is not run up
    # front: each bucket's write verifies its chunk scans, so input that
    # syncs never pays for it.  The first bucket that fails to sync repairs
    # itself with a pre-pass over the whole input, and the remaining buckets
    # chunk with that list, so one run pays at most one failed bucket write
    # and one pre-pass; a resumed run pays them again, once.
    cfg_run = resolve_chunk_plan(cfg, run_prepass(src, cfg, rules)["fallback_convs"])

    whole, src = src, src.withColumn("__bucket", bucket_of(cfg.conv_col, args.buckets))

    totals: dict[str, int] = {}
    for b in range(args.buckets):
        if b in done:
            continue
        info = run_bucket(
            spark, src.filter(F.col("__bucket") == b).drop("__bucket"),
            cfg_run, rules, args.output, b, prepass_src=whole,
        )
        cfg_run = info.pop("cfg")
        manifest.mark_done(b, dict(info, run_id=run_id), fingerprint=fp)
        for k, v in info["sink_counts"].items():
            totals[k] = totals.get(k, 0) + v

    # over every completed bucket, also those of an earlier invocation: a
    # repair's list covers the whole input, so the longest list any bucket
    # was computed with is the input's fallback count
    entries = manifest.completed(fingerprint=fp).values()
    write_run_metadata(
        manifest.path, run_id,
        {"buckets": args.buckets, "resumed_from": len(done), "sink_totals": totals,
         "n_fallback_convs": max((e.get("fallback_convs", 0) for e in entries), default=0),
         "reruns": sum(e.get("reruns", 0) for e in entries)},
    )
    print({"run_id": run_id, "completed_buckets": args.buckets, "sink_totals": totals})
    spark.stop()


if __name__ == "__main__":
    main()
