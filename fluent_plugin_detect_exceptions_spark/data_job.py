"""Resumable corpus-preparation batch job: ``prepare_training_data`` over
a documents table, with bucket-manifest checkpointing.

Two phases, because dedup gates are GLOBAL (near-dup pairs cross any
partitioning of the corpus — a per-bucket dedup would silently keep
cross-bucket duplicates):

1. **Gate phase** (runs once, checkpointed): compute the keep-id sets that
   need a global view — exact-dedup representatives, connected-components
   near-dedup keeps, decontamination survivors, repetition passers — and
   write them as one narrow (doc_id) parquet.  Ids are orders of magnitude
   smaller than the corpus; this is the only full-corpus pass.
2. **Materialization phase** (resumable per bucket): for each doc-id hash
   bucket, semi-join the gate set, apply the per-row gates (quality,
   sampling — pure functions of the row), and write
   ``out/bucket=K/part-*.parquet``; append a manifest entry.  A restart
   skips completed buckets and NEVER recomputes the gate phase (same
   config + input fingerprint → replayed from the checkpoint).

Usage:

    python -m fluent_plugin_detect_exceptions_spark.data_job \\
        --input /data/documents.parquet --output /data/prepared \\
        --eval /data/benchmarks.parquet --buckets 16 \\
        --rate src0=1000 --rate src1=250 --default-rate 500
"""

from __future__ import annotations

import argparse
from dataclasses import dataclass, field

from pyspark.sql import SparkSession, functions as F

from .checkpoint import (
    BucketManifest,
    config_fingerprint,
    prepass_fingerprint,
)
from .functions.text import quality_stats
from .operators.sample import stratified_sample

GATE_PHASE = -1  # manifest key for the global gate phase


def doc_bucket_of(id_col: str, n_buckets: int):
    """crc32 bucket over the STRING form of the id — checkpoint.bucket_of's
    binary cast is string-only under ANSI mode; the string round-trip is
    just as stable across Spark versions/JVMs."""
    return F.pmod(
        F.crc32(F.col(id_col).cast("string").cast("binary")), F.lit(n_buckets)
    ).cast("int")


@dataclass(frozen=True)
class DataJobConfig:
    threshold_millis: int = 500
    max_bucket: int = 16
    decont_min_shared: int = 10
    rates_millis: tuple = ()  # sorted (source, millis) pairs
    default_millis: int = 1000
    min_chars: int = 100
    min_tokens: int = 20
    punct_ratio_x: int = 5
    top2gram_ratio_x: int = 4
    id_col: str = "doc_id"
    text_col: str = "text"
    stratum_col: str = "source"


def parse_args(argv=None) -> argparse.Namespace:
    p = argparse.ArgumentParser(description="corpus preparation pipeline")
    p.add_argument("--input", required=True, help="documents parquet path")
    p.add_argument("--eval", default=None, help="eval/benchmark corpus parquet")
    p.add_argument("--output", required=True)
    p.add_argument("--checkpoint-dir", default=None)
    p.add_argument("--buckets", type=int, default=16)
    p.add_argument("--threshold-millis", type=int, default=500)
    p.add_argument("--max-bucket", type=int, default=16)
    p.add_argument("--decont-min-shared", type=int, default=10)
    p.add_argument("--rate", action="append", default=[],
                   help="source=millis (repeatable)")
    p.add_argument("--default-rate", type=int, default=1000)
    p.add_argument("--min-chars", type=int, default=100)
    p.add_argument("--min-tokens", type=int, default=20)
    return p.parse_args(argv)


def build_config(args: argparse.Namespace) -> DataJobConfig:
    rates = []
    for r in args.rate:
        src, _, millis = r.partition("=")
        rates.append((src, int(millis)))
    return DataJobConfig(
        threshold_millis=args.threshold_millis,
        max_bucket=args.max_bucket,
        decont_min_shared=args.decont_min_shared,
        rates_millis=tuple(sorted(rates)),
        default_millis=args.default_rate,
        min_chars=args.min_chars,
        min_tokens=args.min_tokens,
    )


def compute_gate_ids(docs, eval_df, cfg: DataJobConfig):
    """The GLOBAL gates reduced to one keep-id DataFrame (narrow bigint
    column): exact-dedup representative ∩ CC near-dedup keep ∩
    decontamination survivor ∩ repetition passer.  Per-row gates (quality,
    sampling) stay out — they recompute for free per bucket."""
    from .functions.text import repetition_stats_df
    from .operators.dedup import (
        decontaminate,
        exact_dedup_groups,
        jaccard_pairs,
        jaccard_rep_pairs,
        near_dedup_cc,
    )

    ic, tc = cfg.id_col, cfg.text_col
    keep = exact_dedup_groups(docs, tc, ic).select(F.col("keep_id").alias(ic))
    p1 = jaccard_pairs(
        docs, tc, ic, cfg.threshold_millis, max_bucket=cfg.max_bucket
    ).select("id_a", "id_b")
    p2 = jaccard_rep_pairs(
        docs, tc, ic, cfg.threshold_millis, max_bucket=cfg.max_bucket
    ).select("id_a", "id_b")
    cc = near_dedup_cc(docs.select(ic), p1.unionByName(p2).distinct(), ic)
    keep = keep.join(cc, ic, "left_semi")
    if eval_df is not None:
        clean = decontaminate(
            docs.select(ic, tc), eval_df, tc, ic,
            min_shared=cfg.decont_min_shared,
        ).select(ic)
        keep = keep.join(clean, ic, "left_semi")
    rep = repetition_stats_df(docs, tc, ic).filter(
        F.col("top_2gram_n") * cfg.top2gram_ratio_x
        <= F.greatest("n_2grams", F.lit(1))
    ).select(ic)
    return keep.join(rep, ic, "left_semi")


def row_gates(df, cfg: DataJobConfig):
    """The per-row gates — pure functions of the row, applied inside each
    bucket's scan (no global state)."""
    stats = quality_stats(F.col(cfg.text_col))
    out = df.filter(
        (stats["n_chars"] >= cfg.min_chars)
        & (stats["n_tokens"] >= cfg.min_tokens)
        & (stats["n_punct"] * cfg.punct_ratio_x <= stats["n_tokens"])
    )
    if cfg.rates_millis or cfg.default_millis != 1000:
        out = stratified_sample(
            out, dict(cfg.rates_millis), cfg.default_millis,
            stratum_col=cfg.stratum_col, id_col=cfg.id_col,
        )
    return out


def _hadoop_path(spark, path: str):
    """``(FileSystem, Path)`` for ``path`` through the session's Hadoop FS."""
    p = spark.sparkContext._jvm.org.apache.hadoop.fs.Path(path)
    return p.getFileSystem(spark.sparkContext._jsc.hadoopConfiguration()), p


def run(
    spark: SparkSession,
    input_path: str,
    output: str,
    eval_path: str | None = None,
    buckets: int = 16,
    cfg: DataJobConfig = DataJobConfig(),
    checkpoint_dir: str | None = None,
) -> None:
    """The job body, session-agnostic (the CLI ``main`` wraps it; the
    driver's correctness gate calls it directly against the gate session —
    VERDICT r4 item 2)."""
    ckpt_dir = checkpoint_dir or f"{output}/_checkpoint"
    manifest = BucketManifest(ckpt_dir)
    fp = config_fingerprint(cfg, buckets)

    docs = spark.read.parquet(input_path)
    eval_df = spark.read.parquet(eval_path) if eval_path else None
    input_fp = prepass_fingerprint(fp, input_path, docs)

    done = manifest.completed(fp)
    gates_path = f"{output}/_gates/keep_ids"
    gate_entry = done.get(GATE_PHASE)
    if gate_entry is not None and gate_entry.get("input_fp") != input_fp:
        from .checkpoint import ManifestMismatch

        # recomputing gates over changed input while skipping "done"
        # buckets would mix snapshots — refuse loudly instead
        raise ManifestMismatch(
            f"input snapshot changed since checkpoint {ckpt_dir} was "
            f"written (file set/size/mtime digest moved); start a clean "
            f"checkpoint dir or restore the original input"
        )
    if gate_entry is not None:
        # a crash mid-migration (or a lost _gates dir) can leave GATE_PHASE
        # marked done with gates_path missing or unreadable; recompute the
        # gate phase instead of crashing on every resume (ADVICE r5)
        try:
            spark.read.parquet(gates_path).schema
        except Exception:
            gate_entry = None
            # the crashed migration's copies are stale once the gates are
            # recomputed; nothing else ever deletes them (best-effort)
            from py4j.protocol import Py4JJavaError

            for leftover in ("keep_ids_old", "keep_ids_migrated"):
                fs, path = _hadoop_path(spark, f"{output}/_gates/{leftover}")
                try:
                    fs.delete(path, True)
                except Py4JJavaError:
                    pass
    if gate_entry is None:
        keep = compute_gate_ids(docs, eval_df, cfg)
        # partition the checkpointed keep ids BY DOC BUCKET (VERDICT r4
        # item 6): phase 2 reads only its own bucket's ids via partition
        # pruning, so the per-bucket semi join stays local-sized even when
        # the global keep set outgrows a broadcast
        keep.withColumn(
            "doc_bucket", doc_bucket_of(cfg.id_col, buckets)
        ).write.mode("overwrite").partitionBy("doc_bucket").parquet(gates_path)
        n_keep = spark.read.parquet(gates_path).count()
        manifest.mark_done(
            GATE_PHASE, {"phase": "gates", "n_keep": n_keep, "input_fp": input_fp},
            fp,
        )
        done = manifest.completed(fp)
    elif "doc_bucket" not in spark.read.parquet(gates_path).columns:
        # checkpoint written by the pre-r5 UNPARTITIONED gates layout:
        # migrate in place — gate ids are deterministic, so rewriting the
        # same id set with the doc_bucket partition column is exact and
        # avoids both a crash (phase 2 filters on doc_bucket) and a gate
        # recompute (code-review r5)
        old_ids = spark.read.parquet(gates_path).select(cfg.id_col)
        migrated = f"{output}/_gates/keep_ids_migrated"
        old_ids.withColumn(
            "doc_bucket", doc_bucket_of(cfg.id_col, buckets)
        ).write.mode("overwrite").partitionBy("doc_bucket").parquet(migrated)
        # swap directories via the Hadoop FS (cannot overwrite a path
        # while a plan is reading it; a rename is also cheaper than a
        # second rewrite)
        fs, dst = _hadoop_path(spark, gates_path)
        _, src = _hadoop_path(spark, migrated)
        _, aside = _hadoop_path(spark, f"{output}/_gates/keep_ids_old")
        # crash-safe swap (ADVICE r5): rename the old dir aside, rename the
        # migrated dir into place (both return-checked), then delete the old
        # dir.  A crash between the renames leaves gates_path missing, which
        # the unreadable-gates fallback above recovers by recomputing.
        fs.delete(aside, True)  # leftover from a prior crashed migration
        if not fs.rename(dst, aside):
            raise IOError(f"gates migration: renaming {gates_path} aside failed")
        if not fs.rename(src, dst):
            fs.rename(aside, dst)  # best-effort restore of the old layout
            raise IOError(
                f"gates migration: renaming {migrated} into place failed"
            )
        fs.delete(aside, True)

    bucket = doc_bucket_of(cfg.id_col, buckets)
    for k in range(buckets):
        if k in done:
            continue
        # partition-pruned slice of the gates parquet (PartitionFilters on
        # doc_bucket — plan-asserted in tests/test_job.py)
        keep_k = (
            spark.read.parquet(gates_path)
            .filter(F.col("doc_bucket") == k)
            .select(cfg.id_col)
        )
        part = docs.filter(bucket == k).join(keep_k, cfg.id_col, "left_semi")
        out = row_gates(part, cfg)
        out.write.mode("overwrite").parquet(f"{output}/bucket={k}")
        n = spark.read.parquet(f"{output}/bucket={k}").count()
        manifest.mark_done(k, {"rows": n}, fp)


def main(argv=None) -> None:
    args = parse_args(argv)
    cfg = build_config(args)
    spark = SparkSession.builder.appName("prepare-training-data").getOrCreate()
    run(
        spark,
        args.input,
        args.output,
        eval_path=args.eval,
        buckets=args.buckets,
        cfg=cfg,
        checkpoint_dir=args.checkpoint_dir,
    )
    spark.stop()


if __name__ == "__main__":
    main()
