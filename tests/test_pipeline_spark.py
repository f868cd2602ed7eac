"""End-to-end Spark pipeline vs the pure-Python oracle on deterministic
synthetic transcripts — routed-row equality (per-turn text equality under
stable (conv_id, first_turn_idx) ordering) and per-sink aggregate counts.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from fluent_plugin_detect_exceptions_spark import fixtures as fx
from fluent_plugin_detect_exceptions_spark.config import PipelineConfig
from fluent_plugin_detect_exceptions_spark.oracle import Accumulator
from fluent_plugin_detect_exceptions_spark.plans.pipeline import (
    detect_exceptions,
    detect_with_counts,
)
from fluent_plugin_detect_exceptions_spark.sources.transcripts import (
    BASE_EPOCH,
    local_rows,
    synth_transcripts,
)


def oracle_routed(rows_by_key, cfg: PipelineConfig):
    """Run the oracle accumulator per logical stream; return the comparable
    row set."""
    out = []
    for _, rows in rows_by_key.items():
        acc = Accumulator(
            "text",
            cfg.languages,
            force_line_breaks=cfg.force_line_breaks,
            max_lines=cfg.max_lines,
            max_bytes=cfg.max_bytes,
            flush_interval=cfg.multiline_flush_interval,
        )
        for r in sorted(rows, key=lambda x: x["turn_idx"]):
            acc.push(r["ts"], dict(r))
        acc.force_flush()
        for e in acc.out:
            rec = e.record
            out.append(
                (
                    rec["conv_id"],
                    rec["turn_idx"],
                    rec["role"],
                    rec["tool"],
                    e.ts,
                    rec["text"],
                    e.lang,
                    e.n_lines,
                )
            )
    return sorted(out)


def group_rows(rows, cfg: PipelineConfig):
    by_key = {}
    for r in rows:
        key = (r["conv_id"], r[cfg.stream]) if cfg.stream else r["conv_id"]
        by_key.setdefault(key, []).append(r)
    return by_key


def spark_routed(df, cfg: PipelineConfig):
    return routed_rows(detect_exceptions(df, cfg))


def routed_rows(routed):
    assert routed.filter(~F.col("sync_ok")).count() == 0
    got = routed.select(
        "conv_id",
        "first_turn_idx",
        "role",
        "tool",
        F.unix_timestamp("ts").alias("ts"),
        "text",
        "lang",
        "n_lines",
    ).collect()
    return sorted(tuple(r) for r in got)


def assert_pipeline_matches(spark, cfg, n_convs=20, repeats=1):
    df = synth_transcripts(spark, n_convs, repeats)
    rows = local_rows(n_convs, repeats)
    assert spark_routed(df, cfg) == oracle_routed(group_rows(rows, cfg), cfg)


def test_flagship_default_config(spark):
    assert_pipeline_matches(spark, PipelineConfig(), n_convs=20, repeats=2)


def test_chunked_equals_unchunked(spark):
    df = synth_transcripts(spark, 12, repeats=3)
    base = spark_routed(df, PipelineConfig(chunk_size=0))
    for chunk_size, warmup in ((64, 16), (32, 8), (128, 64)):
        cfg = PipelineConfig(chunk_size=chunk_size, warmup=warmup)
        assert spark_routed(df, cfg) == base, (chunk_size, warmup)
    # latency knobs: skipping the max-turn gate and replaying a previously
    # discovered fallback list (manifest scenario) must not change results
    from fluent_plugin_detect_exceptions_spark.operators.segmenter import (
        find_fallback_convs,
    )
    from fluent_plugin_detect_exceptions_spark.rules import compile_rules

    probe = PipelineConfig(chunk_size=64, warmup=16)
    fallback = find_fallback_convs(df, probe, compile_rules(probe.languages), "text")
    cfg = PipelineConfig(
        chunk_size=64, warmup=16, assume_long_convs=True,
        known_fallback_convs=tuple(fallback),
    )
    assert spark_routed(df, cfg) == base
    rows = local_rows(12, 3)
    cfg = PipelineConfig()
    assert base == oracle_routed(group_rows(rows, cfg), cfg)


@pytest.mark.parametrize("languages", [("java",), ("python", "go"), ("ruby",)])
def test_language_subsets(spark, languages):
    assert_pipeline_matches(spark, PipelineConfig(languages=languages), n_convs=10)


def test_max_lines(spark):
    assert_pipeline_matches(spark, PipelineConfig(max_lines=2), n_convs=10)
    assert_pipeline_matches(spark, PipelineConfig(max_lines=3, chunk_size=32, warmup=16), n_convs=10)


def test_max_bytes(spark):
    assert_pipeline_matches(spark, PipelineConfig(max_bytes=len(fx.JAVA_EXC_PART1)), n_convs=10)


def test_force_line_breaks(spark):
    # feed without trailing newlines; force_line_breaks reconstructs them
    rows = [
        {
            "conv_id": "c0",
            "turn_idx": i,
            "role": "user",
            "text": line.rstrip("\n"),
            "tool": "t",
            "ts": BASE_EPOCH + i,
        }
        for i, line in enumerate(fx.lines(fx.PLUGIN_JAVA_EXC))
    ]
    df = spark.createDataFrame(rows).withColumn("ts", F.timestamp_seconds("ts"))
    cfg = PipelineConfig(force_line_breaks=True)
    got = spark_routed(df, cfg)
    assert got == oracle_routed(group_rows(rows, cfg), cfg)
    assert got[0][5] == fx.PLUGIN_JAVA_EXC.rstrip("\n")


def test_timeout_gap_split(spark):
    lines = fx.lines(fx.PLUGIN_JAVA_EXC) + ["  at x\n", "  at y\n"]
    ts = [BASE_EPOCH + i for i in range(5)] + [BASE_EPOCH + 20, BASE_EPOCH + 21]
    rows = [
        {"conv_id": "c0", "turn_idx": i, "role": "user", "text": line, "tool": "t", "ts": ts[i]}
        for i, line in enumerate(lines)
    ]
    df = spark.createDataFrame(rows).withColumn("ts", F.timestamp_seconds("ts"))
    cfg = PipelineConfig(multiline_flush_interval=1)
    got = spark_routed(df, cfg)
    assert got == oracle_routed(group_rows(rows, cfg), cfg)
    assert len(got) == 3  # JAVA_EXC combined + two singles
    nosplit = spark_routed(df, PipelineConfig())
    assert len(nosplit) == 1


def test_separate_streams(spark):
    # interleaved java/python streams demuxed by the tool column
    # (test_out_detect_exceptions.rb:328-351)
    ja, py = fx.lines(fx.PLUGIN_JAVA_EXC), fx.lines(fx.PLUGIN_PYTHON_EXC)
    seq = (
        [("java", ja[0])]
        + [("python", line) for line in py[0:2]]
        + [("java", line) for line in ja[1:]]
        + [("java", line) for line in ja]
        + [("python", line) for line in py[2:]]
        + [("java", "something else")]
    )
    rows = [
        {"conv_id": "c0", "turn_idx": i, "role": "user", "text": line, "tool": stream,
         "ts": BASE_EPOCH + i}
        for i, (stream, line) in enumerate(seq)
    ]
    df = spark.createDataFrame(rows).withColumn("ts", F.timestamp_seconds("ts"))
    cfg = PipelineConfig(stream="tool")
    got = spark_routed(df, cfg)
    assert got == oracle_routed(group_rows(rows, cfg), cfg)
    texts = [g[5] for g in got]
    assert texts.count(fx.PLUGIN_JAVA_EXC) == 2
    assert fx.PLUGIN_PYTHON_EXC in texts


def test_separate_streams_chunked_equals_unchunked(spark):
    """Salted chunking with a stream column (VERDICT r1 #5): a long
    dual-stream conversation must chunk-scan per (conv, stream, chunk) and
    match both the unchunked plan and the oracle — previously a streamed
    conversation disabled chunking entirely and serialized into one task."""
    ja, py = fx.lines(fx.PLUGIN_JAVA_EXC), fx.lines(fx.PLUGIN_PYTHON_EXC)
    cyc0 = ja + ["no exception t0\n"]
    cyc1 = py + ["plain line t1\n", "another plain t1\n"]
    rows = []
    for i in range(600):
        if i % 2 == 0:
            stream, line = "t0", cyc0[(i // 2) % len(cyc0)]
        else:
            stream, line = "t1", cyc1[(i // 2) % len(cyc1)]
        rows.append(
            {"conv_id": "c0", "turn_idx": i, "role": "user", "text": line,
             "tool": stream, "ts": BASE_EPOCH + i}
        )
    df = spark.createDataFrame(rows).withColumn("ts", F.timestamp_seconds("ts"))
    chunked = PipelineConfig(stream="tool", chunk_size=64, warmup=16)
    unchunked = PipelineConfig(stream="tool", chunk_size=0)
    got = spark_routed(df, chunked)
    assert got == spark_routed(df, unchunked)
    assert got == oracle_routed(group_rows(rows, chunked), chunked)
    texts = [g[5] for g in got]
    assert fx.PLUGIN_JAVA_EXC in texts and fx.PLUGIN_PYTHON_EXC in texts


def test_sink_counts_and_tag_rewrite(spark):
    df = synth_transcripts(spark, 10, repeats=1)
    cfg = PipelineConfig(remove_tag_prefix="conv")
    routed, counts = detect_with_counts(df, cfg)
    routed = routed.cache()
    tags = routed.select("out_tag").distinct().collect()
    assert all("." not in t["out_tag"] and not t["out_tag"].startswith("conv") for t in tags)
    cnt = {r["sink"]: r["n"] for r in counts.collect()}
    # scenario library guarantees all families appear across 10 convs
    rows = local_rows(10, 1)
    want = {}
    for (_, _, _, _, _, _, lang, _n) in oracle_routed(group_rows(rows, cfg), cfg):
        sink = f"lang_{lang}" if lang else "passthrough"
        want[sink] = want.get(sink, 0) + 1
    assert cnt == want
    routed.unpersist()


def test_wrong_message_field_passthrough(spark):
    # configured-but-missing message field: every record passes through
    df = synth_transcripts(spark, 4, repeats=1)
    cfg = PipelineConfig(message="doesnotexist")
    routed = detect_exceptions(df, cfg)
    assert routed.count() == df.count()
    assert routed.filter(F.col("lang").isNotNull()).count() == 0


def test_field_learning(spark):
    # message='' probes DEFAULT_FIELDS then 'text' (plan-time learning)
    df = synth_transcripts(spark, 4, repeats=1)
    cfg = PipelineConfig(message="")
    rows = local_rows(4, 1)
    assert spark_routed(df, cfg) == oracle_routed(group_rows(rows, PipelineConfig()), PipelineConfig())


def _pure_trace_rows():
    """One conversation of wall-to-wall Java traces: no warm-up of it holds
    a synchronization point."""
    return [
        {"conv_id": "pure", "turn_idx": i, "role": "u", "text": t, "tool": "t",
         "ts": BASE_EPOCH + i}
        for i, t in enumerate(fx.lines(fx.JAVA_EXC) * 30)
    ]


def test_pure_trace_conv_falls_back_and_stays_exact(spark):
    # wall-to-wall Java traces, no plain lines: no sync point exists, the
    # pre-pass must route the conversation to whole-conv processing and the
    # result must still match the oracle
    from fluent_plugin_detect_exceptions_spark.operators.segmenter import (
        find_fallback_convs,
    )
    from fluent_plugin_detect_exceptions_spark.rules import compile_rules

    rows = _pure_trace_rows()
    df = spark.createDataFrame(rows).withColumn("ts", F.timestamp_seconds("ts"))
    cfg = PipelineConfig(chunk_size=32, warmup=16)
    fb = find_fallback_convs(df, cfg, compile_rules(cfg.languages), "text")
    assert fb == ["pure"]
    got = spark_routed(df, cfg)
    assert got == oracle_routed(group_rows(rows, cfg), cfg)
    assert len(got) == 30  # each repeated trace start_trace-splits


def test_skew_tail_chunks_without_fallback(spark):
    # the bench skew shape (traces + a plain line) must synchronize: salted
    # chunking stays active and matches the unchunked result
    from fluent_plugin_detect_exceptions_spark.operators.segmenter import (
        find_fallback_convs,
    )
    from fluent_plugin_detect_exceptions_spark.rules import compile_rules
    from fluent_plugin_detect_exceptions_spark.sources.transcripts import skewed_tail

    df = skewed_tail(spark, 2, 400)
    cfg = PipelineConfig(chunk_size=64, warmup=32)
    fb = find_fallback_convs(df, cfg, compile_rules(cfg.languages), "text")
    assert fb == []
    assert spark_routed(df, cfg) == spark_routed(df, PipelineConfig(chunk_size=0))


def test_input_clustered_bucketed_table_elides_shuffle(spark, tmp_path):
    """input_clustered over a conv_id-bucketed table: shuffle #1 disappears
    (no Exchange below the scan stage) and results are identical — the plain-
    parquet analogue of Iceberg SPJ."""
    import io
    from contextlib import redirect_stdout

    df = synth_transcripts(spark, 12, repeats=2)
    spark.conf.set("spark.sql.sources.bucketing.autoBucketedScan.enabled", "false")
    try:
        (df.write.mode("overwrite").format("parquet")
           .option("path", str(tmp_path / "bt"))
           .bucketBy(4, "conv_id").sortBy("conv_id", "turn_idx")
           .saveAsTable("bucketed_transcripts"))
        tbl = spark.table("bucketed_transcripts")
        base = spark_routed(df, PipelineConfig())
        clustered_cfg = PipelineConfig(input_clustered=True)
        got = spark_routed(tbl, clustered_cfg)
        assert got == base
        plan_df = detect_exceptions(tbl, clustered_cfg)
        buf = io.StringIO()
        with redirect_stdout(buf):
            plan_df.explain("formatted")
        plan = buf.getvalue()
        # tree is printed top-down: operators BELOW MapInArrow (between it
        # and the scan) must contain no Exchange — shuffle #1 is gone
        tree = plan.split("\n\n")[0].splitlines()
        mi = next(i for i, ln in enumerate(tree) if "MapInArrow" in ln)
        below = "\n".join(tree[mi + 1 :])
        assert "Exchange" not in below, below
        assert "Scan" in below
        assert "SelectedBucketsCount" in plan or "Bucketed: true" in plan
    finally:
        spark.conf.set("spark.sql.sources.bucketing.autoBucketedScan.enabled", "true")
        spark.sql("DROP TABLE IF EXISTS bucketed_transcripts")


def test_arrow_stage_equals_oracle(spark):
    """The mapInArrow stage must be row-identical to the pure-Python oracle
    across chunking, limits, FLB, gap and stream-demux configs."""
    df = synth_transcripts(spark, 12, repeats=2)
    rows = local_rows(12, 2)
    for kw in (
        dict(),
        dict(chunk_size=64, warmup=16),
        dict(max_lines=3),
        dict(max_bytes=120),
        dict(force_line_breaks=True),
        dict(multiline_flush_interval=5.0),
        dict(stream="tool", chunk_size=64, warmup=16),
    ):
        cfg = PipelineConfig(**kw)
        assert spark_routed(df, cfg) == oracle_routed(group_rows(rows, cfg), cfg), kw


def test_slim_stage_equals_ride_through(spark):
    """VERDICT r2 item 7 (measured keep): dropping ride-along columns before
    the scan stage and re-joining first-row fields after coalesce (the slim
    rewrite ``detect_exceptions`` applies) must be row-identical to riding
    them through the stage, across config shapes — including nil messages
    (pass-through records join their own turn's fields)."""
    from fluent_plugin_detect_exceptions_spark.operators.coalesce import (
        coalesce_partials,
    )
    from fluent_plugin_detect_exceptions_spark.operators.route import (
        with_out_tag,
        with_sink,
    )
    from fluent_plugin_detect_exceptions_spark.operators.segmenter import segment
    from fluent_plugin_detect_exceptions_spark.plans.pipeline import slim_split

    extra = [
        {"conv_id": "niltest", "turn_idx": i, "role": "u", "tool": "t",
         "ts": BASE_EPOCH + i, "text": t}
        for i, t in enumerate(
            [fx.lines(fx.JAVA_EXC)[0], fx.lines(fx.JAVA_EXC)[1], None,
             "plain\n", None]
        )
    ]
    df = synth_transcripts(spark, 12, repeats=2).unionByName(
        spark.createDataFrame(extra).withColumn("ts", F.timestamp_seconds("ts"))
        .select(*synth_transcripts(spark, 1, 1).columns)
    )
    for kw in (
        dict(),
        dict(chunk_size=64, warmup=16),
        dict(max_lines=3),
        dict(force_line_breaks=True),
        dict(multiline_flush_interval=5.0),
        dict(stream="tool", chunk_size=64, warmup=16),
    ):
        cfg = PipelineConfig(**kw)
        assert slim_split(df, cfg, "text")[1] is not None, kw
        ride_through = with_sink(
            with_out_tag(coalesce_partials(segment(df, cfg), cfg, "text"), cfg)
        )
        assert spark_routed(df, cfg) == routed_rows(ride_through), kw


def test_fused_sink_counts_matches_full_path(spark):
    """The 2-exchange counts fast path (route.fused_sink_counts) must equal
    sink_counts over the full pipeline for every config shape, including
    dropped/pass-through nil messages and chunk-spanning segments."""
    from fluent_plugin_detect_exceptions_spark.operators.route import (
        detect_sink_counts,
        sink_counts,
    )

    extra = [
        {"conv_id": "niltest", "turn_idx": i, "role": "u", "tool": "t",
         "ts": BASE_EPOCH + i, "text": t}
        for i, t in enumerate(
            [fx.lines(fx.JAVA_EXC)[0], fx.lines(fx.JAVA_EXC)[1], None,
             "plain\n", None]
        )
    ]
    df = synth_transcripts(spark, 15, repeats=2).unionByName(
        spark.createDataFrame(extra).withColumn("ts", F.timestamp_seconds("ts"))
        .select(*synth_transcripts(spark, 1, 1).columns)
    )
    for kw in (
        dict(),
        dict(chunk_size=64, warmup=16),
        dict(max_lines=3),
        dict(max_bytes=120),
        dict(force_line_breaks=True),
        dict(multiline_flush_interval=5.0),
        dict(stream="tool", chunk_size=64, warmup=16),
    ):
        cfg = PipelineConfig(**kw)
        fast = {r["sink"]: r["n"] for r in detect_sink_counts(df, cfg).collect()}
        full = {
            r["sink"]: r["n"]
            for r in sink_counts(detect_exceptions(df, cfg)).collect()
        }
        assert fast == full, (kw, fast, full)


def _simple_plan(plan_df) -> str:
    import io
    from contextlib import redirect_stdout

    buf = io.StringIO()
    with redirect_stdout(buf):
        plan_df.explain(mode="simple")
    return buf.getvalue()


def _executed_plans(spark, action):
    """Run ``action``; returns its result and, per SQL execution it started,
    the (name, description) of every node of the executed plan, read from
    Spark's SQL status store as ``perfbench/probes.plan_nodes`` reads it."""
    store = spark._jsparkSession.sharedState().statusStore()
    bus = spark.sparkContext._jsc.sc().listenerBus()
    as_java = spark._jvm.scala.jdk.javaapi.CollectionConverters.asJava

    def recent():
        n = int(store.executionsCount())
        return [e.executionId() for e in as_java(store.executionsList(max(0, n - 50), 50))]

    bus.waitUntilEmpty()
    before = max(recent(), default=-1)
    out = action()
    bus.waitUntilEmpty()
    plans = [
        [(n.name(), n.desc()) for n in as_java(store.planGraph(e).allNodes())]
        for e in recent() if e > before
    ]
    return out, plans


def _counts_query_plan(plans) -> str:
    """The one executed plan holding the scan stage: the counts query."""
    scans = [p for p in plans if any(name == "MapInArrow" for name, _ in p)]
    assert len(scans) == 1, plans
    return "\n".join(desc for _, desc in scans[0])


def _assert_local_counts(counts) -> None:
    """``detect_sink_counts`` returns its rows as a local relation with the
    non-null ``sink string, n bigint`` schema."""
    from fluent_plugin_detect_exceptions_spark.operators.route import COUNTS_SCHEMA

    assert _simple_plan(counts).split("\n")[1].startswith("LocalTableScan"), _simple_plan(counts)
    assert counts.schema == COUNTS_SCHEMA
    assert [f.nullable for f in counts.schema] == [False, False]


def test_fused_sink_counts_plan_elides_stitch_exchange(spark):
    """VERDICT r2 item 5 / ADVICE r3: the counts query ``detect_sink_counts``
    runs must NOT contain the segment-stitching exchange — no hash
    partitioning on seg_start_turn and no SortMergeJoin/rejoin machinery —
    while it does hold the tiny per-sink exchange.  Asserting the specific
    ABSENT exchange (not an exact total-exchange count) so AQE re-planning
    or rendering changes across Spark versions can't flake the test.  The
    plan is the executed one: the returned DataFrame is a local relation."""
    from fluent_plugin_detect_exceptions_spark.operators.route import (
        detect_sink_counts,
    )

    df = synth_transcripts(spark, 10, 1)
    counts, plans = _executed_plans(spark, lambda: detect_sink_counts(df, PipelineConfig()))
    plan = _counts_query_plan(plans)
    exchanges = [ln for ln in plan.splitlines() if "Exchange hashpartitioning" in ln]
    assert any("sink" in ln for ln in exchanges), plan
    assert not [ln for ln in exchanges if "seg_start_turn" in ln], plan
    assert "SortMergeJoin" not in plan, plan
    _assert_local_counts(counts)


def test_unchunked_segment_has_no_chunk_columns(spark):
    """Input that is not chunked reaches the scan stage without chunk_id /
    __warmup columns — none cross the Arrow boundary and the grouping
    exchange keys on the conversation alone — both when chunking is off
    (chunk_size=0) and when every conversation stays below chunk_size."""
    from fluent_plugin_detect_exceptions_spark.operators.segmenter import segment

    df = synth_transcripts(spark, 6, 1)
    short = PipelineConfig()
    assert df.agg(F.max("turn_idx")).first()[0] < short.chunk_size
    for cfg in (PipelineConfig(chunk_size=0), short):
        plan = _simple_plan(segment(df, cfg))
        assert "chunk_id" not in plan and "__warmup" not in plan, plan
    # the same input chunked does carry them
    assert "chunk_id" in _simple_plan(segment(df, PipelineConfig(chunk_size=8, warmup=2)))


def test_detect_with_counts_counts_leg_is_fast_path(spark):
    """VERDICT r3 item 6: detect_with_counts' counts leg uses the fused
    fast path even though the slim rewrite is on — the counts query it runs
    at call time has no seg_start_turn exchange and no ride-table rejoin —
    while the routed leg still carries the full plan, and the two legs
    agree."""
    from fluent_plugin_detect_exceptions_spark.operators.route import sink_counts

    df = synth_transcripts(spark, 12, 1)
    cfg = PipelineConfig()
    (routed, counts), plans = _executed_plans(spark, lambda: detect_with_counts(df, cfg))
    cplan = _counts_query_plan(plans)
    stitch = [
        ln
        for ln in cplan.splitlines()
        if "Exchange hashpartitioning" in ln and "seg_start_turn" in ln
    ]
    assert not stitch, cplan
    assert "first_turn_idx" not in cplan, cplan  # no slim rejoin on counts
    assert "Exchange hashpartitioning" in cplan, cplan
    _assert_local_counts(counts)
    fast = {r["sink"]: r["n"] for r in counts.collect()}
    full = {r["sink"]: r["n"] for r in sink_counts(routed).collect()}
    assert fast == full


def _hole_and_cont_rows():
    hole_rows = [
        {"conv_id": "hole", "turn_idx": i, "role": "u", "text": t, "tool": "t",
         "ts": BASE_EPOCH + i}
        for i, t in enumerate(fx.lines(fx.JAVA_EXC))
    ] + [
        {"conv_id": "hole", "turn_idx": 100, "role": "u", "text": "plain\n",
         "tool": "t", "ts": BASE_EPOCH + 100}
    ]
    cont_rows = [
        {"conv_id": "cont", "turn_idx": i, "role": "u", "text": "line %d\n" % i,
         "tool": "t", "ts": BASE_EPOCH + i}
        for i in range(131)
    ]
    return hole_rows + cont_rows


def test_turn_hole_spanning_chunk_boundary_routes_to_fallback(spark):
    """ADVICE r2: a turn_idx hole wider than `warmup` across a chunk boundary
    leaves the warm-up zone EMPTY — no zone rows means the conversation is
    invisible to the zone-sync check.  The occupancy half of the pre-pass
    must route it to whole-conversation fallback, so output is CORRECT and
    fully synced (spark_routed asserts no sync_ok=False rows) instead of
    split-and-flagged.  The continuous conversation stays chunk-scanned."""
    from fluent_plugin_detect_exceptions_spark.operators.segmenter import (
        find_fallback_convs,
    )
    from fluent_plugin_detect_exceptions_spark.rules import compile_rules

    df = spark.createDataFrame(_hole_and_cont_rows()).withColumn(
        "ts", F.timestamp_seconds("ts")
    )
    cfg = PipelineConfig(chunk_size=64, warmup=8)
    fb = find_fallback_convs(df, cfg, compile_rules(cfg.languages), "text")
    assert fb == ["hole"]
    assert spark_routed(df, cfg) == spark_routed(df, PipelineConfig(chunk_size=0))
    # the assume_dense_turns contract knob skips the occupancy half — on a
    # (contract-violating) holey input the conv is then NOT discovered
    dense_cfg = PipelineConfig(chunk_size=64, warmup=8, assume_dense_turns=True)
    assert find_fallback_convs(df, dense_cfg, compile_rules(cfg.languages), "text") == []


def test_turn_hole_defensive_flag_without_prepass(spark):
    """Defense-in-depth kept from r1: if an (incorrect) externally supplied
    fallback list bypasses the pre-pass, the scan stage still never reports
    an unverifiable chunk scan as synced — the empty-warm-up group carries
    sync_ok=False."""
    df = spark.createDataFrame(_hole_and_cont_rows()).withColumn(
        "ts", F.timestamp_seconds("ts")
    )
    cfg = PipelineConfig(chunk_size=64, warmup=8, assume_long_convs=True,
                         known_fallback_convs=())
    routed = detect_exceptions(df, cfg)
    flagged = routed.filter(~F.col("sync_ok")).collect()
    assert {r["conv_id"] for r in flagged} == {"hole"}
    assert all(r["first_turn_idx"] >= 100 for r in flagged)
    cont = sorted(
        (r["first_turn_idx"], r["text"]) for r in routed.filter(F.col("conv_id") == "cont").collect()
    )
    assert len(cont) == 131 and all(t == "line %d\n" % ft for ft, t in cont)


def _sparse_stream_rows():
    """Stream 'a' of conversation 'c' holds one Java trace interrupted by a
    turn hole across the chunk boundary at 64; stream 'b' is dense."""
    trace = fx.lines(fx.JAVA_EXC)
    return [
        {"conv_id": "c", "turn_idx": 30 + i, "role": "u", "tool": "a",
         "text": t, "ts": BASE_EPOCH + 30 + i}
        for i, t in enumerate(trace[:3])
    ] + [
        {"conv_id": "c", "turn_idx": 100 + i, "role": "u", "tool": "a",
         "text": t, "ts": BASE_EPOCH + 100 + i}
        for i, t in enumerate(trace[3:])
    ] + [
        {"conv_id": "c", "turn_idx": i, "role": "u", "tool": "b",
         "text": "line %d\n" % i, "ts": BASE_EPOCH + i}
        for i in range(131)
    ]


def test_sparse_stream_empty_zone_routes_to_fallback(spark):
    """ADVICE r2 exact scenario: with a stream column active, a sparse
    stream whose warm-up zone at a chunk boundary is empty (a single trace
    interrupted by a >warmup turn hole) while another stream is dense.  The
    pre-pass must detect the expected-but-empty zone PER STREAM and fall
    back, producing the same single stitched trace as the unchunked run."""
    from fluent_plugin_detect_exceptions_spark.operators.segmenter import (
        find_fallback_convs,
    )
    from fluent_plugin_detect_exceptions_spark.rules import compile_rules

    trace = fx.lines(fx.JAVA_EXC)
    df = spark.createDataFrame(_sparse_stream_rows()).withColumn("ts", F.timestamp_seconds("ts"))
    cfg = PipelineConfig(stream="tool", chunk_size=64, warmup=8)
    fb = find_fallback_convs(df, cfg, compile_rules(cfg.languages), "text")
    assert fb == ["c"]
    got = spark_routed(df, cfg)
    assert got == spark_routed(df, PipelineConfig(stream="tool", chunk_size=0))
    # the interrupted trace coalesces into ONE record spanning the hole
    trace_recs = [r for r in got if r[5] and r[5].startswith(trace[0][:20])]
    assert len(trace_recs) == 1 and trace_recs[0][7] == 6  # n_lines


def _nil_tail_rows():
    """Java trace lines at turns 0-31, then two nil messages at 32-33: with
    chunk_size=32 the nil rows are the only rows chunk 1 holds of its own,
    and its warm-up (turns 16-31) has no synchronization point."""
    lines = (fx.lines(fx.JAVA_EXC) * 6)[:32] + [None, None]
    return [
        {"conv_id": "niltail", "turn_idx": i, "role": "u", "text": t, "tool": "t",
         "ts": BASE_EPOCH + i}
        for i, t in enumerate(lines)
    ]


#: inputs whose chunk scans cannot all prove their entry state, with the
#: config that chunks them
UNSYNCED_INPUTS = {
    "pure_trace": (_pure_trace_rows, dict(chunk_size=32, warmup=16)),
    "turn_hole": (_hole_and_cont_rows, dict(chunk_size=64, warmup=8)),
    "sparse_stream": (_sparse_stream_rows, dict(stream="tool", chunk_size=64, warmup=8)),
    "nil_tail": (_nil_tail_rows, dict(chunk_size=32, warmup=16)),
}


def _count_calls(monkeypatch, module, name) -> list:
    """Wrap ``module.name``; the returned list collects each call's result."""
    results = []
    real = getattr(module, name)

    def wrapped(*a):
        results.append(real(*a))
        return results[-1]

    monkeypatch.setattr(module, name, wrapped)
    return results


def _record_rows(routed) -> list[tuple]:
    cols = ["conv_id", "tool", "first_turn_idx", "text", "n_lines", "lang", "sink", "sync_ok"]
    return sorted(tuple(r) for r in routed.select(*cols).collect())


def _sink_map(counts) -> dict:
    return {r["sink"]: r["n"] for r in counts.collect()}


@pytest.mark.parametrize("name", sorted(UNSYNCED_INPUTS))
def test_unsynced_chunks_are_repaired(spark, tmp_path, monkeypatch, name):
    """The eager consumers chunk on the max-turn gate alone, so
    ``run_prepass`` lists no fallback conversation and the settled plan
    carries a stale, empty ``known_fallback_convs``.  Their chunk scans
    verify themselves: ``run_bucket`` and ``detect_sink_counts`` each run
    the pre-pass once, re-run once, and return exactly the
    whole-conversation result, with no ``sync_ok=False`` record."""
    from fluent_plugin_detect_exceptions_spark import job
    from fluent_plugin_detect_exceptions_spark.operators import segmenter
    from fluent_plugin_detect_exceptions_spark.operators.route import (
        detect_sink_counts,
        sink_counts,
    )
    from fluent_plugin_detect_exceptions_spark.rules import compile_rules

    rows, kw = UNSYNCED_INPUTS[name]
    df = spark.createDataFrame(rows()).withColumn("ts", F.timestamp_seconds("ts"))
    cfg = PipelineConfig(**kw)
    rules = compile_rules(cfg.languages)
    assert job.run_prepass(df, cfg, rules) == {"fallback_convs": []}
    stale = segmenter.resolve_chunk_plan(cfg, [])
    assert stale == PipelineConfig(**kw, assume_long_convs=True, known_fallback_convs=())
    whole = detect_exceptions(df, PipelineConfig(**dict(kw, chunk_size=0)))
    want = _record_rows(whole)
    assert all(r[-1] for r in want)

    finds = _count_calls(monkeypatch, segmenter, "find_fallback_convs")
    verified = _count_calls(monkeypatch, segmenter, "run_verified")
    info = job.run_bucket(spark, df, stale, rules, str(tmp_path), 0)
    assert (len(finds), info["reruns"], info["fallback_convs"]) == (1, 1, 1)
    assert _record_rows(spark.read.parquet(f"{tmp_path}/routed/bucket=0")) == want

    counts = detect_sink_counts(df, stale)
    assert (len(finds), [v[2] for v in verified]) == (2, [1])
    assert _sink_map(counts) == _sink_map(sink_counts(whole))


def test_synced_chunks_skip_the_prepass(spark, tmp_path, monkeypatch):
    """Input whose chunk scans all synchronize stays chunked, and neither
    eager consumer runs the pre-pass or re-runs."""
    from fluent_plugin_detect_exceptions_spark import job
    from fluent_plugin_detect_exceptions_spark.operators import segmenter
    from fluent_plugin_detect_exceptions_spark.operators.route import (
        detect_sink_counts,
        sink_counts,
    )
    from fluent_plugin_detect_exceptions_spark.rules import compile_rules
    from fluent_plugin_detect_exceptions_spark.sources.transcripts import skewed_tail

    df = skewed_tail(spark, 2, 400)
    cfg = PipelineConfig(chunk_size=64, warmup=32)
    rules = compile_rules(cfg.languages)
    finds = _count_calls(monkeypatch, segmenter, "find_fallback_convs")
    verified = _count_calls(monkeypatch, segmenter, "run_verified")
    fb = job.run_prepass(df, cfg, rules)["fallback_convs"]
    info = job.run_bucket(spark, df, segmenter.resolve_chunk_plan(cfg, fb), rules,
                          str(tmp_path), 0)
    counts = detect_sink_counts(df, cfg)
    assert (len(finds), info["reruns"], [v[1:] for v in verified]) == (0, 0, [([], 0)])
    whole = detect_exceptions(df, PipelineConfig(chunk_size=0))
    assert _record_rows(spark.read.parquet(f"{tmp_path}/routed/bucket=0")) == _record_rows(whole)
    assert _sink_map(counts) == _sink_map(sink_counts(whole))


@pytest.mark.parametrize("assume_long", [False, True])
def test_eager_consumers_on_input_without_rows(spark, tmp_path, assume_long):
    """Input with no rows, whose observed plan the optimizer prunes as
    empty: the counts consumers return no row and ``run_bucket`` writes no
    record and reads every metric as 0, whether the gate turns chunking
    off or ``assume_long_convs`` keeps it on."""
    from fluent_plugin_detect_exceptions_spark import job
    from fluent_plugin_detect_exceptions_spark.operators.route import detect_sink_counts
    from fluent_plugin_detect_exceptions_spark.rules import compile_rules
    from fluent_plugin_detect_exceptions_spark.sources.transcripts import skewed_tail

    df = skewed_tail(spark, 2, 400).filter(F.lit(False))
    cfg = PipelineConfig(chunk_size=64, warmup=32, assume_long_convs=assume_long)
    counts = detect_sink_counts(df, cfg)
    _assert_local_counts(counts)
    assert counts.collect() == []
    assert [x.collect() for x in detect_with_counts(df, cfg)] == [[], []]
    info = job.run_bucket(spark, df, cfg, compile_rules(cfg.languages), str(tmp_path), 0)
    assert (info["rows_out"], info["reruns"], set(info["metrics"].values())) == (0, 0, {0})


def test_repair_that_adds_nothing_keeps_the_flagged_result(spark, monkeypatch):
    """Under a violated ``assume_dense_turns`` the pre-pass skips its
    occupancy half, so the repair of the turn-hole input finds no
    conversation to add: the counts consumer keeps its flagged result,
    equal to the lazy path's, without re-running."""
    from fluent_plugin_detect_exceptions_spark.operators import segmenter
    from fluent_plugin_detect_exceptions_spark.operators.route import (
        detect_sink_counts,
        sink_counts,
    )

    df = spark.createDataFrame(_hole_and_cont_rows()).withColumn(
        "ts", F.timestamp_seconds("ts")
    )
    cfg = PipelineConfig(chunk_size=64, warmup=8, assume_dense_turns=True)
    flagged = detect_exceptions(df, cfg)
    assert flagged.filter(~F.col("sync_ok")).count() > 0
    finds = _count_calls(monkeypatch, segmenter, "find_fallback_convs")
    verified = _count_calls(monkeypatch, segmenter, "run_verified")
    counts = detect_sink_counts(df, cfg)
    assert (finds, [v[1:] for v in verified]) == ([[]], [([], 0)])
    assert _sink_map(counts) == _sink_map(sink_counts(flagged))


def test_sparse_turn_idx(spark):
    # turn numbering with holes (input_hint promises dense, but the engine
    # must not corrupt ordering if upstream deletes turns)
    lines = fx.lines(fx.JAVA_EXC) + fx.lines(fx.ARBITRARY_TEXT)
    rows = [
        {"conv_id": "c0", "turn_idx": 3 * i + 7, "role": "u", "text": t,
         "tool": "t", "ts": BASE_EPOCH + i}
        for i, t in enumerate(lines)
    ]
    df = spark.createDataFrame(rows).withColumn("ts", F.timestamp_seconds("ts"))
    for cfg in (PipelineConfig(), PipelineConfig(chunk_size=8, warmup=4)):
        got = spark_routed(df, cfg)
        texts = [g[5] for g in got]
        assert fx.JAVA_EXC in texts
        assert len(got) == 1 + len(fx.lines(fx.ARBITRARY_TEXT))

def with_duplicate_row(df):
    """``df`` plus a second copy of its (conv.000000, turn 0) row."""
    first = (F.col("conv_id") == "conv.000000") & (F.col("turn_idx") == 0)
    return df.unionByName(df.filter(first))


#: what a duplicated (conv.000000, turn 0) input row raises with
DUPLICATE_KEY = r"\('conv.000000',\) has turn 0 more than once"


def test_duplicate_order_key_raises(spark):
    """One replayed input row used to merge with its twin into one 2-line
    segment whose record the slim rejoin then doubled (30 records, n_lines
    summing to 163 for 161 rows, while the counts path counted 29).  With
    the default config the scan stage refuses the duplicate in both the
    routed and the counts plan and names the key; clean input passes."""
    from fluent_plugin_detect_exceptions_spark.operators.route import detect_sink_counts

    df = synth_transcripts(spark, 5, 1)
    cfg = PipelineConfig()
    assert sum(r["n_lines"] for r in detect_exceptions(df, cfg).collect()) == df.count()
    dup = with_duplicate_row(df)
    # detect_sink_counts is an action: it raises at call time
    for run in (detect_exceptions, detect_sink_counts):
        with pytest.raises(Exception, match=DUPLICATE_KEY):
            run(dup, cfg).collect()


def test_detect_with_counts_settles_chunk_plan_once(spark, monkeypatch):
    """On chunked input both legs of ``detect_with_counts`` share one chunk
    plan: the pre-pass runs once, not once per leg."""
    from fluent_plugin_detect_exceptions_spark.operators import segmenter
    from fluent_plugin_detect_exceptions_spark.operators.route import sink_counts

    calls = []
    real = segmenter.find_fallback_convs
    monkeypatch.setattr(
        segmenter, "find_fallback_convs", lambda *a: calls.append(1) or real(*a)
    )
    df = synth_transcripts(spark, 5, 2)
    routed, counts = detect_with_counts(df, PipelineConfig(chunk_size=16, warmup=4))
    assert len(calls) == 1
    full = {r["sink"]: r["n"] for r in sink_counts(routed).collect()}
    assert {r["sink"]: r["n"] for r in counts.collect()} == full


def test_counts_fast_path_emits_no_text(spark):
    """r6: the counts-only fast path asks the fused stage for text-free
    partials (emit_text=False) — combined text must not cross the Arrow
    boundary when nobody reads it.  Counts equality vs the full path is
    covered by test_fused_sink_counts_matches_full_path."""
    from fluent_plugin_detect_exceptions_spark.operators.segmenter import segment

    df = synth_transcripts(spark, 6, 1)
    cfg = PipelineConfig()
    partials = segment(df.select(*cfg.scan_columns(df.columns)), cfg, emit_text=False)
    assert "text_part" not in partials.columns
    # and the default keeps it
    full = segment(df.select(*cfg.scan_columns(df.columns)), cfg)
    assert "text_part" in full.columns


def _stitch_exchanges(plan: str) -> list[str]:
    return [
        ln for ln in plan.splitlines()
        if "Exchange hashpartitioning" in ln and "seg_start_turn" in ln
    ]


def _edge_rows(spark, df):
    """``df`` plus a conversation with nil messages and one whose trace is
    interrupted by event-time gaps of 20 s."""
    java = fx.lines(fx.JAVA_EXC)
    texts = [java[0], java[1], None, "plain\n", None]
    extra = [
        {"conv_id": "niltest", "turn_idx": i, "role": "u", "tool": "t",
         "ts": BASE_EPOCH + i, "text": t}
        for i, t in enumerate(texts)
    ] + [
        {"conv_id": "gaps", "turn_idx": i, "role": "u", "tool": "t",
         "ts": BASE_EPOCH + 20 * (i // 3), "text": t}
        for i, t in enumerate(java)
    ]
    return df.unionByName(
        spark.createDataFrame(extra).withColumn("ts", F.timestamp_seconds("ts"))
        .select(*df.columns)
    )


def test_unchunked_coalesce_projection_equals_aggregate(spark):
    """With chunk_size=0 every segment is one partial and coalesce_partials
    is a projection.  It must equal the stitch aggregate row for row, with
    the same column names and types.  The aggregate reference is the
    unresolved default config on the same short input: the max-turn gate
    leaves it unchunked, but its chunk_size is still > 0, so it aggregates."""
    from fluent_plugin_detect_exceptions_spark.operators.coalesce import (
        coalesce_partials,
    )
    from fluent_plugin_detect_exceptions_spark.operators.segmenter import segment

    base = _edge_rows(spark, synth_transcripts(spark, 12, repeats=2))
    as_message = base.withColumnRenamed("text", "message")
    for frame, kw in (
        (base, dict()),
        (base, dict(stream="tool")),
        (as_message, dict(message="")),
        (base, dict(message="absent")),
        (base, dict(force_line_breaks=True)),
        (base, dict(max_lines=3)),
        (base, dict(multiline_flush_interval=5.0)),
    ):
        proj_cfg, agg_cfg = PipelineConfig(chunk_size=0, **kw), PipelineConfig(**kw)
        msg = agg_cfg.resolve_message_field(frame.columns)
        proj = coalesce_partials(segment(frame, proj_cfg), proj_cfg, msg)
        agg = coalesce_partials(segment(frame, agg_cfg), agg_cfg, msg)
        assert "Aggregate" not in _simple_plan(proj), kw
        assert "Aggregate" in _simple_plan(agg), kw
        assert [(f.name, f.dataType) for f in proj.schema] == [
            (f.name, f.dataType) for f in agg.schema
        ], kw
        got = sorted((tuple(r) for r in proj.collect()), key=repr)
        assert got == sorted((tuple(r) for r in agg.collect()), key=repr), kw
        assert len(got) > 0


def test_unchunked_routed_plan_has_no_stitch(spark):
    """detect_exceptions resolves the chunk plan once: unchunked input
    (chunk_size=0, or the default config when no conversation reaches
    chunk_size) has no seg_start_turn exchange and no stitch aggregate,
    while chunked input keeps both."""
    df = synth_transcripts(spark, 12, repeats=3)
    assert df.agg(F.max("turn_idx")).first()[0] >= 64
    for cfg in (PipelineConfig(chunk_size=0), PipelineConfig()):
        plan = _simple_plan(detect_exceptions(df, cfg))
        assert not _stitch_exchanges(plan), plan
        assert "ObjectHashAggregate" not in plan, plan
    plan = _simple_plan(detect_exceptions(df, PipelineConfig(chunk_size=64, warmup=16)))
    assert _stitch_exchanges(plan), plan
    assert "ObjectHashAggregate" in plan, plan


def test_resolve_chunk_plan():
    """``resolve_chunk_plan`` settles a chunk plan into the config, and
    ``chunk_plan`` then answers from the config without a Spark job."""
    import dataclasses

    from fluent_plugin_detect_exceptions_spark.operators.segmenter import (
        MAX_FALLBACK_CONVS,
        chunk_plan,
        resolve_chunk_plan,
    )

    cfg = PipelineConfig(chunk_size=64, warmup=16)
    assert resolve_chunk_plan(cfg, None) == dataclasses.replace(cfg, chunk_size=0)
    for fb in ([], ["c1", "c7"], [f"c{i}" for i in range(MAX_FALLBACK_CONVS)]):
        got = resolve_chunk_plan(cfg, fb)
        assert got == dataclasses.replace(
            cfg, known_fallback_convs=tuple(fb), assume_long_convs=True
        )
    over = [f"c{i}" for i in range(MAX_FALLBACK_CONVS + 1)]
    assert resolve_chunk_plan(cfg, over) == dataclasses.replace(cfg, chunk_size=0)

    class NoJobs:
        """Stands in for a DataFrame; any Spark work fails the test."""
        columns = ["conv_id", "turn_idx", "text"]

        def __getattr__(self, name):
            raise AssertionError(f"chunk_plan started Spark work: {name}")

    rules = None  # never reached: no pre-pass runs on a resolved config
    assert chunk_plan(NoJobs(), resolve_chunk_plan(cfg, None), rules, "text") is None
    assert chunk_plan(NoJobs(), resolve_chunk_plan(cfg, ["c1"]), rules, "text") == ["c1"]
