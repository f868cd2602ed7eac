"""Capture .explain('formatted') for every benched query into
plans/r06/<query>_<tag>.txt (tag = before/after).  Plan shape is
scale-independent, so this runs at sf0.1 regardless of the bench sf.

Usage: PYTHONPATH=. python scripts/capture_plans.py <tag> [query ...]
"""

from __future__ import annotations

import os
import sys
import tempfile

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def main() -> None:
    tag = sys.argv[1] if len(sys.argv) > 1 else "before"
    only = set(sys.argv[2:])
    outdir = os.path.join(REPO, "plans", "r06")
    os.makedirs(outdir, exist_ok=True)

    from pyspark.sql import functions as F

    from bench import build_spark
    from fluent_plugin_detect_exceptions_spark.config import PipelineConfig
    from fluent_plugin_detect_exceptions_spark.functions import text as T
    from fluent_plugin_detect_exceptions_spark.functions.pii import pii_scrub
    from fluent_plugin_detect_exceptions_spark.operators.dedup import (
        lsh_candidate_buckets,
    )
    from fluent_plugin_detect_exceptions_spark.operators.pack import pack_sequences
    from pyspark.sql import Observation

    from fluent_plugin_detect_exceptions_spark.operators.route import (
        counts_query,
        sink_counts,
    )
    from fluent_plugin_detect_exceptions_spark.operators.segmenter import (
        chunk_gate,
        resolve_chunk_plan,
    )
    from fluent_plugin_detect_exceptions_spark.operators.similarity import cosine_topk
    from fluent_plugin_detect_exceptions_spark.plans.pipeline import detect_exceptions
    from fluent_plugin_detect_exceptions_spark.sources.transcripts import (
        skewed_tail,
        synth_transcripts,
    )

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1").rstrip("/")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    spark = build_spark(cpus)
    spark.sparkContext.setLogLevel("ERROR")

    tmp = tempfile.mkdtemp(prefix="plans_transcripts_")
    base = synth_transcripts(spark, 1200, repeats=2)
    tail = skewed_tail(spark, 2, 50_000)
    (
        base.unionByName(tail)
        .repartition(max(8, 2 * cpus), "conv_id")
        .sortWithinPartitions("conv_id", "turn_idx")
        .write.mode("overwrite")
        .parquet(f"{tmp}/transcripts.parquet")
    )
    transcripts = spark.read.parquet(f"{tmp}/transcripts.parquet")
    spark.sql("DROP TABLE IF EXISTS bench_bucketed")
    (
        transcripts.write.mode("overwrite").format("parquet")
        .option("path", f"{tmp}/bucketed")
        .bucketBy(64, "conv_id").sortBy("conv_id", "turn_idx")
        .saveAsTable("bench_bucketed")
    )
    bucketed = spark.table("bench_bucketed")

    cfg = PipelineConfig(
        remove_tag_prefix="conv", chunk_size=16_384, warmup=2_048,
        assume_long_convs=True, assume_dense_turns=True,
    )
    cfg_b = PipelineConfig(
        remove_tag_prefix="conv", chunk_size=16_384, warmup=2_048,
        assume_long_convs=True, assume_dense_turns=True, input_clustered=True,
    )
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    qv = [float(x) for x in emb.filter(F.col("vec_id") == 0).first()["embedding"]]

    plans = {
        "exception_pipeline": lambda: sink_counts(detect_exceptions(transcripts, cfg)),
        "exception_pipeline_bucketed": lambda: sink_counts(
            detect_exceptions(bucketed, cfg_b)
        ),
        # detect_sink_counts is an action; this is the query it collects
        "sink_counts_fast": lambda: counts_query(
            transcripts, resolve_chunk_plan(cfg, chunk_gate(transcripts, cfg)),
            Observation("counts_unsynced"),
        ),
        "dedup_exact": lambda: docs.groupBy(F.md5("text")).count(),
        "minhash_lsh": lambda: lsh_candidate_buckets(docs),
        "text_analysis": lambda: docs.select(
            "doc_id",
            T.token_count(F.col("text")).alias("tok"),
            T.lang_id(F.col("text")).alias("lang"),
            T.fingerprint(F.col("text")).alias("fp"),
        ),
        "embedding_topk": lambda: cosine_topk(emb, qv, 10),
        "pack_sequences": lambda: pack_sequences(docs, budget=1024, n_shards=cpus),
        "pii_scrub": lambda: pii_scrub(docs),
    }
    for name, fn in plans.items():
        if only and name not in only:
            continue
        df = fn()
        txt = df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"
        )
        path = os.path.join(outdir, f"{name}_{tag}.txt")
        with open(path, "w") as f:
            f.write(txt)
        print("wrote", path)
    spark.stop()
    import shutil

    shutil.rmtree(tmp, ignore_errors=True)


if __name__ == "__main__":
    main()
