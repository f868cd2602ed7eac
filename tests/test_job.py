"""Resumable bucketed job: manifest skip semantics, outputs, lineage and
metrics tables."""

from __future__ import annotations

import glob
import json
import os

import pytest
from pyspark.sql import functions as F

from fluent_plugin_detect_exceptions_spark import job as jobmod
from fluent_plugin_detect_exceptions_spark.checkpoint import BucketManifest
from fluent_plugin_detect_exceptions_spark.config import PipelineConfig
from fluent_plugin_detect_exceptions_spark.plans.pipeline import detect_exceptions
from fluent_plugin_detect_exceptions_spark.rules import compile_rules
from fluent_plugin_detect_exceptions_spark.sources.transcripts import synth_transcripts


def test_job_end_to_end_and_resume(spark, tmp_path, monkeypatch):
    src = str(tmp_path / "transcripts.parquet")
    out = str(tmp_path / "out")
    synth_transcripts(spark, 12, repeats=1).write.mode("overwrite").parquet(src)

    # avoid job.main building its own session
    monkeypatch.setattr(
        "pyspark.sql.SparkSession.Builder.getOrCreate", lambda self: spark
    )
    stopped = []
    monkeypatch.setattr(type(spark), "stop", lambda self: stopped.append(1))

    argv = [
        "--input", src, "--output", out, "--buckets", "3",
        "--remove-tag-prefix", "conv",
    ]
    jobmod.main(argv)
    manifest = BucketManifest(f"{out}/_checkpoint")
    done = manifest.completed()
    assert sorted(done) == [0, 1, 2]

    routed = spark.read.parquet(f"{out}/routed")
    direct = detect_exceptions(
        spark.read.parquet(src), PipelineConfig(remove_tag_prefix="conv")
    )
    assert routed.count() == direct.count()
    got_counts = {
        r["sink"]: r["n"]
        for r in routed.groupBy("sink").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    want_counts = {
        r["sink"]: r["n"]
        for r in direct.groupBy("sink").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    assert got_counts == want_counts

    # lineage + metrics tables exist and reconcile
    lineage = spark.read.parquet(f"{out}/lineage")
    assert lineage.agg(F.sum("n_rows")).first()[0] == spark.read.parquet(src).count()
    metrics = spark.read.parquet(f"{out}/metrics")
    assert metrics.agg(F.sum("rows_emitted")).first()[0] >= routed.count()

    # resume: simulate a crash that lost bucket 2's manifest entry
    lines = open(f"{out}/_checkpoint/manifest.jsonl").read().strip().splitlines()
    entries = [json.loads(x) for x in lines]
    with open(f"{out}/_checkpoint/manifest.jsonl", "w") as f:
        for e in entries:
            if e["bucket"] != 2:
                f.write(json.dumps(e) + "\n")
    jobmod.main(argv)  # reprocesses only bucket 2
    done2 = BucketManifest(f"{out}/_checkpoint").completed()
    assert sorted(done2) == [0, 1, 2]
    routed2 = spark.read.parquet(f"{out}/routed")
    assert routed2.count() == direct.count()

    # resume under a different --buckets or config must refuse (ADVICE r1):
    # old bucket ids under a new partitioning would drop/duplicate convs
    import pytest

    from fluent_plugin_detect_exceptions_spark.checkpoint import ManifestMismatch

    with pytest.raises(ManifestMismatch):
        jobmod.main(["--input", src, "--output", out, "--buckets", "5",
                     "--remove-tag-prefix", "conv"])
    with pytest.raises(ManifestMismatch):
        jobmod.main(argv + ["--max-lines", "7"])


def test_resume_over_synced_input_runs_no_prepass(spark, tmp_path, monkeypatch):
    """The job runs the max-turn gate up front and the fallback pre-pass only
    after a chunk fails to sync, so it persists no pre-pass result: a run
    plus a partial resume over chunked input whose chunk scans all
    synchronize make no pre-pass call and write no ``prepass.json``, the
    run metadata reports no fallback conversation and no re-run, and the
    routed records match ``detect_exceptions``."""
    from fluent_plugin_detect_exceptions_spark.operators import segmenter
    from fluent_plugin_detect_exceptions_spark.sources.transcripts import skewed_tail

    src = str(tmp_path / "t.parquet")
    out = str(tmp_path / "out3")
    # six conversations, so both buckets hold some
    skewed_tail(spark, 6, 400).write.mode("overwrite").parquet(src)
    monkeypatch.setattr(
        "pyspark.sql.SparkSession.Builder.getOrCreate", lambda self: spark
    )
    monkeypatch.setattr(type(spark), "stop", lambda self: None)
    calls = []
    real = segmenter.find_fallback_convs
    monkeypatch.setattr(
        segmenter, "find_fallback_convs", lambda *a: calls.append(1) or real(*a)
    )

    argv = ["--input", src, "--output", out, "--buckets", "2",
            "--chunk-size", "64", "--warmup", "32"]
    jobmod.main(argv)
    # partial resume: drop bucket 1's manifest entry — only it reruns
    lines = open(f"{out}/_checkpoint/manifest.jsonl").read().strip().splitlines()
    assert [json.loads(ln)["reruns"] for ln in lines] == [0, 0]
    with open(f"{out}/_checkpoint/manifest.jsonl", "w") as f:
        for ln in lines:
            if json.loads(ln)["bucket"] != 1:
                f.write(ln + "\n")
    jobmod.main(argv)
    assert calls == []
    assert not os.path.exists(f"{out}/_checkpoint/prepass.json")
    runs = [json.load(open(p)) for p in glob.glob(f"{out}/_checkpoint/*.json")]
    assert [(r["n_fallback_convs"], r["reruns"]) for r in runs] == [(0, 0)] * 2
    routed = spark.read.parquet(f"{out}/routed")
    direct = detect_exceptions(
        spark.read.parquet(src), PipelineConfig(chunk_size=64, warmup=32)
    )
    assert routed.count() == direct.count()
    assert routed.filter(~F.col("sync_ok")).count() == 0


def test_one_repair_covers_every_bucket(spark, tmp_path, monkeypatch):
    """Wall-to-wall-trace conversations in every bucket fail to sync.  The
    first bucket to fail repairs itself with a pre-pass over the whole
    input and later buckets chunk with its list, so a run makes one
    pre-pass call and one re-run.  A resume starts without the list and
    repairs once more.  The run metadata counts over every completed bucket,
    earlier invocations included, and the routed records equal the
    whole-conversation scan."""
    from fluent_plugin_detect_exceptions_spark.operators import segmenter

    from .test_pipeline_spark import _count_calls, _pure_trace_rows, _record_rows

    # crc32 buckets of 3: pure.0/pure.1 -> 0, pure.3 -> 1, the rest -> 2
    rows = [dict(r, conv_id=f"pure.{c}") for c in range(6) for r in _pure_trace_rows()]
    src = str(tmp_path / "pure.parquet")
    out = str(tmp_path / "out_pure")
    (spark.createDataFrame(rows).withColumn("ts", F.timestamp_seconds("ts"))
     .write.mode("overwrite").parquet(src))
    monkeypatch.setattr(
        "pyspark.sql.SparkSession.Builder.getOrCreate", lambda self: spark
    )
    monkeypatch.setattr(type(spark), "stop", lambda self: None)
    finds = _count_calls(monkeypatch, segmenter, "find_fallback_convs")

    argv = ["--input", src, "--output", out, "--buckets", "3",
            "--chunk-size", "32", "--warmup", "16"]
    jobmod.main(argv)
    entries = {e["bucket"]: e for e in BucketManifest(f"{out}/_checkpoint").completed().values()}
    assert [(entries[b]["reruns"], entries[b]["fallback_convs"]) for b in range(3)] == [
        (1, 6), (0, 6), (0, 6)
    ]
    assert [len(f) for f in finds] == [6]
    # resume without bucket 2: it fails to sync again and repairs itself
    lines = open(f"{out}/_checkpoint/manifest.jsonl").read().strip().splitlines()
    with open(f"{out}/_checkpoint/manifest.jsonl", "w") as f:
        f.writelines(ln + "\n" for ln in lines if json.loads(ln)["bucket"] != 2)
    jobmod.main(argv)
    assert [len(f) for f in finds] == [6, 6]
    runs = sorted(
        (json.load(open(p)) for p in glob.glob(f"{out}/_checkpoint/*.json")),
        key=lambda r: r["resumed_from"],
    )
    assert [(r["n_fallback_convs"], r["reruns"]) for r in runs] == [(6, 1), (6, 2)]
    whole = detect_exceptions(spark.read.parquet(src), PipelineConfig(chunk_size=0))
    got = _record_rows(spark.read.parquet(f"{out}/routed"))
    assert got == _record_rows(whole) and all(r[-1] for r in got)


def test_job_with_an_empty_bucket(spark, tmp_path, monkeypatch):
    """A bucket no conversation hashes to (all four skew conversations land
    in bucket 1 of 2) is written as empty, with zero metrics, and the run
    completes."""
    from fluent_plugin_detect_exceptions_spark.sources.transcripts import skewed_tail

    src = str(tmp_path / "skew4.parquet")
    out = str(tmp_path / "out_empty")
    skewed_tail(spark, 4, 400).write.mode("overwrite").parquet(src)
    monkeypatch.setattr(
        "pyspark.sql.SparkSession.Builder.getOrCreate", lambda self: spark
    )
    monkeypatch.setattr(type(spark), "stop", lambda self: None)
    jobmod.main(["--input", src, "--output", out, "--buckets", "2",
                 "--chunk-size", "64", "--warmup", "32"])
    done = BucketManifest(f"{out}/_checkpoint").completed()
    assert sorted(done) == [0, 1]
    assert (done[0]["rows_out"], done[0]["sink_counts"]) == (0, {})
    assert set(done[0]["metrics"].values()) == {0}
    direct = detect_exceptions(
        spark.read.parquet(src), PipelineConfig(chunk_size=64, warmup=32)
    )
    assert spark.read.parquet(f"{out}/routed").count() == direct.count() > 0


def test_job_with_stream_and_limits(spark, tmp_path, monkeypatch):
    """Non-default configs through the spark-submit entry point: stream
    demux + max_lines, bucketed resume machinery and observed metrics all
    compose with the hoisted pre-pass."""
    src = str(tmp_path / "t.parquet")
    out = str(tmp_path / "out2")
    synth_transcripts(spark, 9, repeats=1).write.mode("overwrite").parquet(src)
    monkeypatch.setattr(
        "pyspark.sql.SparkSession.Builder.getOrCreate", lambda self: spark
    )
    monkeypatch.setattr(type(spark), "stop", lambda self: None)
    jobmod.main([
        "--input", src, "--output", out, "--buckets", "2",
        "--stream", "tool", "--max-lines", "4", "--chunk-size", "64",
        "--warmup", "16",
    ])
    routed = spark.read.parquet(f"{out}/routed")
    direct = detect_exceptions(
        spark.read.parquet(src),
        PipelineConfig(stream="tool", max_lines=4, chunk_size=64, warmup=16),
    )
    got = sorted(
        (r["conv_id"], r["tool"], r["first_turn_idx"], r["text"], r["n_lines"])
        for r in routed.collect()
    )
    want = sorted(
        (r["conv_id"], r["tool"], r["first_turn_idx"], r["text"], r["n_lines"])
        for r in direct.collect()
    )
    assert got == want and len(got) > 0
    metrics = spark.read.parquet(f"{out}/metrics")
    assert metrics.count() == 2  # one row per bucket

def test_run_bucket_on_renamed_key_columns(spark, tmp_path):
    """run_bucket with non-default conversation and order column names:
    the routed records equal detect_exceptions', and the lineage table
    reads the configured columns."""
    src = str(tmp_path / "renamed.parquet")
    out = str(tmp_path / "out_renamed")
    (
        synth_transcripts(spark, 8, repeats=1)
        .withColumnRenamed("conv_id", "session")
        .withColumnRenamed("turn_idx", "seq")
        .write.mode("overwrite").parquet(src)
    )
    df = spark.read.parquet(src)
    cfg = PipelineConfig(conv_col="session", order_col="seq", chunk_size=32, warmup=8)
    info = jobmod.run_bucket(spark, df, cfg, compile_rules(cfg.languages), out, 0)

    routed = spark.read.parquet(f"{out}/routed")
    direct = detect_exceptions(df, cfg)
    cols = ["session", "first_turn_idx", "text", "n_lines", "sink"]
    got = sorted(tuple(r) for r in routed.select(*cols).collect())
    assert got == sorted(tuple(r) for r in direct.select(*cols).collect())
    assert info["rows_out"] == len(got) > 0

    lineage = spark.read.parquet(f"{out}/lineage/bucket=0")
    want = df.agg(F.count(F.lit(1)), F.min("seq"), F.max("seq")).first()
    have = lineage.agg(F.sum("n_rows"), F.min("min_turn"), F.max("max_turn")).first()
    assert tuple(have) == tuple(want)
    assert lineage.agg(F.max("approx_convs")).first()[0] > 0


def test_run_bucket_refuses_duplicate_order_key(spark, tmp_path):
    """The batch job refuses a duplicated input row with the default
    config, naming the key, and leaves no routed or metrics parquet file
    behind."""
    from .test_pipeline_spark import DUPLICATE_KEY, with_duplicate_row

    dup = with_duplicate_row(synth_transcripts(spark, 5, 1))
    cfg = PipelineConfig()
    out = str(tmp_path / "out_dup")
    with pytest.raises(Exception, match=DUPLICATE_KEY):
        jobmod.run_bucket(spark, dup, cfg, compile_rules(cfg.languages), out, 0)
    for d in ("routed", "metrics"):
        assert not glob.glob(f"{out}/{d}/**/*.parquet", recursive=True), d


def test_negative_chunk_size_or_warmup_rejected():
    """A negative chunk_size or warmup would scan rows in the wrong chunks
    without flagging them; the config refuses it, also from the CLI."""
    with pytest.raises(ValueError, match=">= 0"):
        PipelineConfig(chunk_size=-5, warmup=-10)
    with pytest.raises(ValueError, match=">= 0"):
        PipelineConfig(warmup=-1)
    args = jobmod.parse_args(
        ["--input", "in", "--output", "out", "--chunk-size", "-5", "--warmup", "-10"]
    )
    with pytest.raises(ValueError, match=">= 0"):
        jobmod.build_config(args)


def test_checkpoint_dir_must_be_local(tmp_path, monkeypatch):
    """The manifest and run metadata are written with local file I/O: a
    plain path and a file: URI work, and any other scheme is refused
    instead of landing in a relative directory named after the URI."""
    from fluent_plugin_detect_exceptions_spark.metrics import write_run_metadata

    monkeypatch.chdir(tmp_path)
    for bad in ("s3://bucket/routed/_checkpoint", "hdfs://nn/ckpt", "file://host/ckpt"):
        with pytest.raises(ValueError, match="--checkpoint-dir"):
            BucketManifest(bad)
        with pytest.raises(ValueError, match="--checkpoint-dir"):
            write_run_metadata(bad, "run", {})
    assert os.listdir(tmp_path) == []

    for i, uri in enumerate((f"file://{tmp_path}/ck0", f"file:{tmp_path}/ck1",
                             f"file://localhost{tmp_path}/ck2")):
        BucketManifest(uri).mark_done(i, {"rows_out": 1})
        assert BucketManifest(str(tmp_path / f"ck{i}")).completed().keys() == {i}
    write_run_metadata(f"file://{tmp_path}/ck0", "run", {})
    assert (tmp_path / "ck0" / "run.json").exists()

    # job.main refuses the default <output>/_checkpoint of an object-store
    # output before it starts any Spark work
    def no_session(self):
        raise AssertionError("job.main built a session before checking --checkpoint-dir")

    monkeypatch.setattr("pyspark.sql.SparkSession.Builder.getOrCreate", no_session)
    with pytest.raises(ValueError, match="--checkpoint-dir"):
        jobmod.main(["--input", "in", "--output", "s3://bucket/routed"])
    with pytest.raises(ValueError, match="--checkpoint-dir"):
        jobmod.main(["--input", "in", "--output", str(tmp_path / "o"),
                     "--checkpoint-dir", "s3://bucket/_ckpt"])


def test_lineage_failure_fails_the_bucket(spark, tmp_path, monkeypatch):
    """The lineage write runs beside the routed write; when it fails,
    run_bucket raises, and job.main writes no manifest entry for that
    bucket (the buckets before it stay done)."""
    src = str(tmp_path / "t.parquet")
    out = str(tmp_path / "out_fail")
    synth_transcripts(spark, 8, repeats=1).write.mode("overwrite").parquet(src)
    real = jobmod.input_lineage
    calls = []

    @F.udf("long")
    def boom(n):
        raise RuntimeError("lineage write failed")

    def failing_lineage(df, conv_col, order_col, fail_on=1):
        calls.append(1)
        lineage = real(df, conv_col, order_col)
        if len(calls) < fail_on:
            return lineage
        return lineage.withColumn("n_rows", boom("n_rows"))

    monkeypatch.setattr(jobmod, "input_lineage", failing_lineage)
    cfg = PipelineConfig()
    with pytest.raises(Exception, match="lineage write failed"):
        jobmod.run_bucket(spark, spark.read.parquet(src), cfg,
                          compile_rules(cfg.languages), out, 0)

    calls.clear()
    monkeypatch.setattr(
        jobmod, "input_lineage",
        lambda df, c, o: failing_lineage(df, c, o, fail_on=2),
    )
    monkeypatch.setattr(
        "pyspark.sql.SparkSession.Builder.getOrCreate", lambda self: spark
    )
    monkeypatch.setattr(type(spark), "stop", lambda self: None)
    with pytest.raises(Exception, match="lineage write failed"):
        jobmod.main(["--input", src, "--output", out, "--buckets", "2"])
    assert sorted(BucketManifest(f"{out}/_checkpoint").completed()) == [0]


def test_prepass_fingerprint_tracks_content_not_just_names(spark, tmp_path):
    """ADVICE r3: an in-place overwrite that keeps the same file NAMES must
    still invalidate the pre-pass fingerprint (size/mtime are part of the
    digest), so a stale fallback list cannot be silently replayed."""
    import os
    import time

    from fluent_plugin_detect_exceptions_spark.checkpoint import (
        prepass_fingerprint,
    )

    src = str(tmp_path / "fp.parquet")
    synth_transcripts(spark, 4, repeats=1).coalesce(1).write.mode(
        "overwrite"
    ).parquet(src)
    df = spark.read.parquet(src)
    fp1 = prepass_fingerprint("cfg", src, df)
    assert fp1 == prepass_fingerprint("cfg", src, spark.read.parquet(src))

    # overwrite every data file in place with identical names
    names = sorted(
        f for f in os.listdir(src) if f.endswith(".parquet")
    )
    tmp2 = str(tmp_path / "fp2.parquet")
    synth_transcripts(spark, 5, repeats=1).coalesce(1).write.mode(
        "overwrite"
    ).parquet(tmp2)
    names2 = sorted(f for f in os.listdir(tmp2) if f.endswith(".parquet"))
    time.sleep(0.01)
    for old, new in zip(names, names2):
        os.replace(os.path.join(tmp2, new), os.path.join(src, old))
    for crc in os.listdir(src):  # stale RawLocalFS checksum sidecars
        if crc.endswith(".crc"):
            os.remove(os.path.join(src, crc))
    fp2 = prepass_fingerprint("cfg", src, spark.read.parquet(src))
    assert fp2 != fp1


def test_data_job_end_to_end_and_resume(spark, tmp_path, monkeypatch):
    """Corpus-prep job: two-phase checkpointing — global gate ids computed
    ONCE, buckets resumable, output equal to prepare_training_data run
    directly; a dropped bucket reruns without recomputing gates; a changed
    input snapshot refuses to resume."""
    import fluent_plugin_detect_exceptions_spark.data_job as dj
    from fluent_plugin_detect_exceptions_spark.plans.training_data import (
        prepare_training_data,
    )

    src = str(tmp_path / "docs.parquet")
    out = str(tmp_path / "prepared")
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    docs.write.mode("overwrite").parquet(src)
    monkeypatch.setattr(
        "pyspark.sql.SparkSession.Builder.getOrCreate", lambda self: spark
    )
    monkeypatch.setattr(type(spark), "stop", lambda self: None)
    gate_calls = []
    orig_gates = dj.compute_gate_ids

    def counting_gates(*a, **k):
        gate_calls.append(1)
        return orig_gates(*a, **k)

    monkeypatch.setattr(dj, "compute_gate_ids", counting_gates)

    argv = ["--input", src, "--output", out, "--buckets", "4",
            "--rate", "src0=1000", "--rate", "src1=250", "--default-rate", "500"]
    dj.main(argv)
    assert gate_calls == [1]
    got = {r["doc_id"] for r in spark.read.parquet(out + "/bucket=*").collect()}
    direct = prepare_training_data(
        spark.read.parquet(src),
        threshold_millis=500, max_bucket=16,
        rates_millis={"src0": 1000, "src1": 250}, default_millis=500,
    )
    want = {r["doc_id"] for r in direct.collect()}
    assert got == want and got

    # drop bucket 2 -> only that bucket reruns; gates replayed, not rebuilt
    lines = open(f"{out}/_checkpoint/manifest.jsonl").read().strip().splitlines()
    with open(f"{out}/_checkpoint/manifest.jsonl", "w") as f:
        for ln in lines:
            if json.loads(ln)["bucket"] != 2:
                f.write(ln + "\n")
    dj.main(argv)
    assert gate_calls == [1]
    got2 = {r["doc_id"] for r in spark.read.parquet(out + "/bucket=*").collect()}
    assert got2 == want

    # changed input snapshot -> refuse to resume over stale buckets
    import pytest

    docs.limit(50).write.mode("overwrite").parquet(src)
    from fluent_plugin_detect_exceptions_spark.checkpoint import ManifestMismatch

    with pytest.raises(ManifestMismatch, match="snapshot changed"):
        dj.main(argv)


def test_data_job_gates_parquet_partition_pruned(spark, tmp_path):
    """VERDICT r4 item 6: the checkpointed keep-id parquet is partitioned
    by doc_bucket, so each bucket's semi join reads ONLY its own slice
    (PartitionFilters at plan time) instead of scanning/broadcasting the
    full keep set."""
    from pyspark.sql import functions as F

    import fluent_plugin_detect_exceptions_spark.data_job as dj

    out = str(tmp_path / "prep")
    dj.run(
        spark, "/root/testdata/sf0.001/documents.parquet", out, buckets=4
    )
    gates = spark.read.parquet(f"{out}/_gates/keep_ids")
    assert "doc_bucket" in gates.columns
    plan = (
        gates.filter(F.col("doc_bucket") == 2)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    pf = [ln for ln in plan.splitlines() if "PartitionFilters" in ln]
    assert pf and any("doc_bucket" in ln and "= 2" in ln for ln in pf)
    # and the job output equals the direct composition (run() path, no CLI)
    from fluent_plugin_detect_exceptions_spark.plans.training_data import (
        prepare_training_data,
    )

    got = {r["doc_id"] for r in spark.read.parquet(f"{out}/bucket=*").collect()}
    want = {
        r["doc_id"]
        for r in prepare_training_data(
            spark.read.parquet("/root/testdata/sf0.001/documents.parquet"),
            threshold_millis=500, max_bucket=16,
        ).collect()
    }
    assert got == want and got


def test_data_job_migrates_unpartitioned_gates_checkpoint(spark, tmp_path):
    """Code-review r5: a checkpoint whose gate phase was written by the
    pre-r5 UNPARTITIONED gates layout must migrate in place on resume
    (gate ids are deterministic) instead of crashing on the missing
    doc_bucket column — and without recomputing the gate phase."""
    import json as _json

    import fluent_plugin_detect_exceptions_spark.data_job as dj

    out = str(tmp_path / "prep")
    src = "/root/testdata/sf0.001/documents.parquet"
    dj.run(spark, src, out, buckets=4)
    gates_path = f"{out}/_gates/keep_ids"

    # rewrite the gates checkpoint in the OLD unpartitioned layout
    old_ids = spark.read.parquet(gates_path).select("doc_id")
    tmp_old = str(tmp_path / "old_gates")
    old_ids.write.mode("overwrite").parquet(tmp_old)
    import shutil

    shutil.rmtree(gates_path)
    shutil.copytree(tmp_old, gates_path)
    assert "doc_bucket" not in spark.read.parquet(gates_path).columns

    # drop one bucket from the manifest so the resume has work to do
    man = f"{out}/_checkpoint/manifest.jsonl"
    lines = open(man).read().strip().splitlines()
    with open(man, "w") as f:
        for ln in lines:
            if _json.loads(ln)["bucket"] != 2:
                f.write(ln + "\n")
    before = {r["doc_id"] for r in spark.read.parquet(f"{out}/bucket=*").collect()}

    gate_calls = []
    orig = dj.compute_gate_ids
    dj.compute_gate_ids = lambda *a, **k: (gate_calls.append(1), orig(*a, **k))[1]
    try:
        dj.run(spark, src, out, buckets=4)
    finally:
        dj.compute_gate_ids = orig
    assert not gate_calls  # migrated, not recomputed
    assert "doc_bucket" in spark.read.parquet(gates_path).columns
    after = {r["doc_id"] for r in spark.read.parquet(f"{out}/bucket=*").collect()}
    assert after == before


def test_data_job_recovery_drops_stale_migration_copies(spark, tmp_path):
    """A migration that crashed between its renames leaves gates_path
    missing next to keep_ids_old / keep_ids_migrated.  The resume recomputes
    the gate phase and deletes both stale copies."""
    import os
    import shutil

    import fluent_plugin_detect_exceptions_spark.data_job as dj
    from tests.test_entry_queries import SF_DIR

    out = str(tmp_path / "prep")
    src = os.path.join(os.path.dirname(SF_DIR), "sf0.001", "documents.parquet")
    dj.run(spark, src, out, buckets=4)
    gates_path = f"{out}/_gates/keep_ids"
    before = {r["doc_id"] for r in spark.read.parquet(f"{out}/bucket=*").collect()}
    for leftover in ("keep_ids_old", "keep_ids_migrated"):
        shutil.copytree(gates_path, f"{out}/_gates/{leftover}")
    shutil.rmtree(gates_path)

    gate_calls = []
    orig = dj.compute_gate_ids
    dj.compute_gate_ids = lambda *a, **k: (gate_calls.append(1), orig(*a, **k))[1]
    try:
        dj.run(spark, src, out, buckets=4)
    finally:
        dj.compute_gate_ids = orig
    assert gate_calls == [1]
    assert sorted(os.listdir(f"{out}/_gates")) == ["keep_ids"]
    assert "doc_bucket" in spark.read.parquet(gates_path).columns
    after = {r["doc_id"] for r in spark.read.parquet(f"{out}/bucket=*").collect()}
    assert after == before
