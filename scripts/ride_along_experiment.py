"""VERDICT r2 item 7 experiment: do ride-along columns (role/tool/ts) cost
enough through shuffle #1 + both Arrow transfers to justify dropping them
before the scan stage and re-joining first-row fields after coalesce?

Two variants over the same bench-shaped input, producing identical routed
records:

* **A (current)**: ride-alongs flow through the repartition exchange, the
  mapInArrow stage and the partials exchange; first-row fields come from the
  packed min_by.
* **B (slim+rejoin)**: the stage sees only (conv, turn, text); first-row
  fields are fetched afterwards by joining records back to the original
  table on (conv_id, first_turn_idx) — an extra shuffle of the narrow
  non-text columns plus the records.

Measures wall time (noop write — full computation, no sink cost) and
per-stage shuffle write bytes via the UI REST API; equality of outputs is
asserted with an order-insensitive checksum.  Result recorded in BASELINE.md
either way (keep if shuffle-#1 bytes drop >20% AND wall time improves).

Usage: SPARK_GRAFT_BENCH_SCALE=16 python scripts/ride_along_experiment.py
"""

from __future__ import annotations

import dataclasses
import json
import os
import sys
import tempfile
import time
import urllib.request

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def rest(path: str):
    with urllib.request.urlopen(f"http://localhost:4040/api/v1{path}") as r:
        return json.loads(r.read())


def stage_stats() -> dict:
    app = rest("/applications")[0]["id"]
    out = {}
    for s in rest(f"/applications/{app}/stages?status=COMPLETE"):
        out[(s["stageId"], s["attemptId"])] = {
            "name": s["name"].split("\n")[0][:60],
            "write_mb": round(s.get("shuffleWriteBytes", 0) / 1e6, 1),
            "read_mb": round(s.get("shuffleReadBytes", 0) / 1e6, 1),
            "cpu_s": round(s.get("executorRunTime", 0) / 1e3, 1),
        }
    return out


def main() -> None:
    from pyspark.sql import SparkSession, functions as F

    from fluent_plugin_detect_exceptions_spark.config import PipelineConfig
    from fluent_plugin_detect_exceptions_spark.operators.coalesce import (
        coalesce_partials,
    )
    from fluent_plugin_detect_exceptions_spark.operators.segmenter import (
        find_fallback_convs,
        segment,
    )
    from fluent_plugin_detect_exceptions_spark.rules import compile_rules
    from fluent_plugin_detect_exceptions_spark.sources.transcripts import (
        skewed_tail,
        synth_transcripts,
    )

    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    scale = float(os.environ.get("SPARK_GRAFT_BENCH_SCALE", "16"))
    reps = int(os.environ.get("SPARK_GRAFT_BENCH_REPS", "2"))
    spark = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName("ride-along-experiment")
        .config("spark.sql.shuffle.partitions", str(max(16, 4 * cpus)))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "true")  # REST API for shuffle bytes
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"))
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.files.maxPartitionBytes", "64m")
        .config("spark.local.dir", "/dev/shm/spark-local")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    sf = 0.1
    n_convs = max(200, int(sf * scale * 120_000))
    tmp = tempfile.mkdtemp(prefix="ride_along_")
    tpath = f"{tmp}/transcripts.parquet"
    (
        synth_transcripts(spark, n_convs, repeats=2)
        .unionByName(skewed_tail(spark, max(2, int(sf * scale * 40)), 50_000))
        .repartition(max(8, 2 * cpus), "conv_id")
        .sortWithinPartitions("conv_id", "turn_idx")
        .write.mode("overwrite")
        .parquet(tpath)
    )
    df = spark.read.parquet(tpath)
    n_turns = df.count()

    cfg0 = PipelineConfig(
        remove_tag_prefix="conv", chunk_size=16_384, warmup=2_048,
        assume_long_convs=True,
    )
    rules = compile_rules(cfg0.languages)
    fb = find_fallback_convs(df, cfg0, rules, "text")
    cfg = dataclasses.replace(cfg0, known_fallback_convs=tuple(fb))

    def variant_a():
        seg = segment(df, cfg, rules)
        return coalesce_partials(seg, cfg, "text")

    def variant_b():
        slim = df.select("conv_id", "turn_idx", "text")
        rec = coalesce_partials(segment(slim, cfg, rules), cfg, "text")
        ride = df.select(
            "conv_id", F.col("turn_idx").alias("first_turn_idx"), "role",
            "tool", "ts",
        )
        return rec.join(ride, ["conv_id", "first_turn_idx"], "left")

    # clustered layout (conv-bucketed table, shuffle #1 elided): the ride
    # columns travel through the stage; the slim rewrite is off there
    spark.sql("DROP TABLE IF EXISTS ride_bucketed")
    spark.conf.set("spark.sql.sources.bucketing.autoBucketedScan.enabled", "false")
    (
        df.write.mode("overwrite").format("parquet")
        .option("path", f"{tmp}/bucketed")
        .bucketBy(64, "conv_id").sortBy("conv_id", "turn_idx")
        .saveAsTable("ride_bucketed")
    )
    bucketed = spark.table("ride_bucketed")
    cfg_c = dataclasses.replace(cfg, input_clustered=True)

    def variant_c():
        return coalesce_partials(segment(bucketed, cfg_c, rules), cfg_c, "text")

    def checksum(rec):
        return rec.agg(
            F.count(F.lit(1)), F.sum(F.crc32(F.col("text").cast("binary"))),
            F.sum("first_turn_idx"), F.sum(F.crc32(F.col("role").cast("binary"))),
            F.sum(F.unix_timestamp("ts")), F.sum("n_lines"),
        ).first()

    a_sum, b_sum = checksum(variant_a()), checksum(variant_b())
    assert tuple(a_sum) == tuple(b_sum), (tuple(a_sum), tuple(b_sum))
    assert tuple(a_sum) == tuple(checksum(variant_c()))

    results = {}
    for name, fn in (
        ("A_ride_along", variant_a),
        ("B_slim_rejoin", variant_b),
        ("C_clustered_ride", variant_c),
    ):
        best, stages = None, None
        for _ in range(reps):
            before = set(stage_stats())
            t0 = time.perf_counter()
            fn().write.format("noop").mode("overwrite").save()
            dt = time.perf_counter() - t0
            after = stage_stats()
            new = {k: v for k, v in after.items() if k not in before}
            if best is None or dt < best:
                best, stages = dt, new
        results[name] = {
            "sec": round(best, 3),
            "stages": sorted(stages.values(), key=lambda s: -s["write_mb"]),
        }

    out = {
        "turns": n_turns,
        "n_fallback": len(fb),
        "reps": reps,
        "cpus": cpus,
        **results,
    }
    print(json.dumps(out, indent=2))
    spark.stop()


if __name__ == "__main__":
    main()
