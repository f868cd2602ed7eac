"""Structured Streaming variant: micro-batched execution through
applyInPandasWithState must equal the batch pipeline on the same rows."""

from __future__ import annotations

import os
import time

import numpy as np
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F
from pyspark.sql.types import (
    IntegerType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

from fluent_plugin_detect_exceptions_spark.config import PipelineConfig
from fluent_plugin_detect_exceptions_spark.operators.route import detect_sink_counts
from fluent_plugin_detect_exceptions_spark.plans.pipeline import detect_exceptions
from fluent_plugin_detect_exceptions_spark.rules import FAMILIES
from fluent_plugin_detect_exceptions_spark.sources.transcripts import synth_transcripts
from fluent_plugin_detect_exceptions_spark.streaming.stream_pipeline import (
    detect_exceptions_stream,
    make_state_func,
)

from .test_fsm import LINE_POOL as FSM_LINES
from .test_fused_stage_diff import conv_rows, oracle_records

#: the transcripts schema, for driving the state function without Spark
SCHEMA = StructType(
    [
        StructField("conv_id", StringType()),
        StructField("turn_idx", IntegerType()),
        StructField("role", StringType()),
        StructField("text", StringType()),
        StructField("tool", StringType()),
        StructField("ts", TimestampType()),
    ]
)


def run_stream(spark, src_dir, ckpt, cfg, schema):
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)  # force multiple micro-batches
        .parquet(src_dir)
    )
    out = detect_exceptions_stream(stream, cfg)
    q = (
        out.writeStream.format("memory")
        .queryName("routed_stream")
        .outputMode("append")
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    # with a processing-time flush interval Spark schedules no-data batches
    # forever, so the query never terminates: stop it at its first no-data
    # batch, which availableNow runs only after all the input
    try:
        deadline = time.monotonic() + 300
        while q.isActive and time.monotonic() < deadline:
            if any(p.numInputRows == 0 for p in q.recentProgress):
                break
            time.sleep(0.2)
    finally:
        q.stop()
    assert q.exception() is None, q.exception()
    return spark.sql("select * from routed_stream")


def _write_turn_sliced(df, src: str, n_slices: int, slice_width: int) -> None:
    """One file per turn range, with strictly increasing mtimes so the file
    stream delivers them in turn order: open traces genuinely span
    micro-batches (ADVICE r1: a conv-hash split never exercises the
    ScanCarry/open-segment path)."""
    import glob
    import time as _t

    for i in range(n_slices):
        lo, hi = i * slice_width, (i + 1) * slice_width
        cond = (F.col("turn_idx") >= lo) & (F.col("turn_idx") < hi)
        if i == n_slices - 1:
            cond = F.col("turn_idx") >= lo
        df.filter(cond).coalesce(1).write.mode("overwrite").parquet(f"{src}/part={i}")
        now = _t.time() + i  # monotone mtimes, second granularity
        for p in glob.glob(f"{src}/part={i}/*.parquet"):
            os.utime(p, (now, now))


def test_streaming_equals_batch(spark, tmp_path):
    df = synth_transcripts(spark, 8, repeats=2)
    src = str(tmp_path / "src")
    # split by turn ranges so open traces span micro-batch boundaries
    # (maxFilesPerTrigger=1 → one turn-slice per micro-batch)
    max_turn = df.agg(F.max("turn_idx")).first()[0]
    _write_turn_sliced(df, src, 4, (int(max_turn) // 4) + 1)
    full = spark.read.parquet(f"{src}/part=*")
    assert full.count() == df.count()

    cfg = PipelineConfig()
    got_df = run_stream(spark, f"{src}/part=*", str(tmp_path / "ckpt"), cfg, df.schema)
    got = sorted(
        (r["conv_id"], r["first_turn_idx"], r["text"], r["lang"], r["n_lines"], r["sink"])
        for r in got_df.collect()
    )
    batch = detect_exceptions(full, cfg)
    want = sorted(
        (r["conv_id"], r["first_turn_idx"], r["text"], r["lang"], r["n_lines"], r["sink"])
        for r in batch.select(
            "conv_id", "first_turn_idx", "text", "lang", "n_lines", "sink"
        ).collect()
    )
    # the stream never sees end-of-input, so segments still open at the end
    # remain in state; everything else must match exactly
    open_tail = [w for w in want if w not in got]
    assert all(g in want for g in got)
    last_turn = {}
    for w in want:
        last_turn[w[0]] = max(last_turn.get(w[0], -1), w[1])
    assert all(w[1] == last_turn[w[0]] for w in open_tail), open_tail
    assert len(got) + len(open_tail) == len(want)


def test_streaming_carried_segment_closed_by_next_batch(spark, tmp_path):
    """Regression (ADVICE r1, high): a trace open at a micro-batch boundary
    whose NEXT batch starts with a segment-starting row (plain line) must be
    emitted, not silently dropped."""
    rows = [
        ("c1", 0, "user", "java.lang.RuntimeException: boom\n", "t0", 1000),
        ("c1", 1, "assistant", "\tat com.example.Foo.bar(Foo.java:1)\n", "t0", 1001),
        ("c1", 2, "user", "a plain line\n", "t0", 1002),
    ]
    df = spark.createDataFrame(
        rows, "conv_id string, turn_idx int, role string, text string, tool string, ts long"
    ).withColumn("ts", F.timestamp_seconds("ts"))
    src = str(tmp_path / "src")
    _write_turn_sliced(df, src, 2, 2)  # file 0: turns 0-1 (open trace), file 1: turn 2
    got_df = run_stream(spark, f"{src}/part=*", str(tmp_path / "ckpt"), PipelineConfig(), df.schema)
    got = {r["first_turn_idx"]: (r["text"], r["n_lines"], r["sink"]) for r in got_df.collect()}
    assert got[0] == (
        "java.lang.RuntimeException: boom\n\tat com.example.Foo.bar(Foo.java:1)\n",
        2,
        "lang_java",
    )
    assert got[2] == ("a plain line\n", 1, "passthrough")


def test_streaming_within_single_batch_exact(spark, tmp_path):
    # single micro-batch: output must be exactly the closed segments of batch
    df = synth_transcripts(spark, 4, repeats=1)
    src = str(tmp_path / "one")
    df.coalesce(1).write.mode("overwrite").parquet(src)
    cfg = PipelineConfig()
    got_df = run_stream(spark, src, str(tmp_path / "ckpt1"), cfg, df.schema)
    got = {(r["conv_id"], r["first_turn_idx"]): (r["text"], r["n_lines"]) for r in got_df.collect()}
    batch = detect_exceptions(spark.read.parquet(src), cfg)
    want = {
        (r["conv_id"], r["first_turn_idx"]): (r["text"], r["n_lines"])
        for r in batch.collect()
    }
    for k, v in got.items():
        assert want[k] == v


def test_fractional_second_gap_stream_equals_batch(spark, tmp_path):
    """Code-review r3 regression: the streaming gap predicate compares
    microseconds like the batch path — a 5.2 s gap with interval 5 must
    split the trace in BOTH engines (second-truncated stream timestamps saw
    only 5 and kept one record)."""
    rows = [
        ("c", 0, "u", "java.lang.RuntimeException: boom\n", "t", 1000.0),
        ("c", 1, "u", "\tat com.example.A.a(A.java:1)\n", "t", 1002.0),
        ("c", 2, "u", "\tat com.example.B.b(B.java:2)\n", "t", 1007.2),  # +5.2s
        ("c", 3, "u", "a plain line\n", "t", 1008.0),
    ]
    schema = "conv_id string, turn_idx int, role string, text string, tool string, ts double"
    df = spark.createDataFrame(rows, schema).withColumn("ts", F.timestamp_seconds("ts"))
    src = str(tmp_path / "one")
    df.coalesce(1).write.mode("overwrite").parquet(src)
    cfg = PipelineConfig(multiline_flush_interval=5)
    got_df = run_stream(spark, src, str(tmp_path / "ckpt"), cfg, df.schema)
    got = sorted(
        (r["first_turn_idx"], r["n_lines"], r["sink"]) for r in got_df.collect()
    )
    batch = sorted(
        (r["first_turn_idx"], r["n_lines"], r["sink"])
        for r in detect_exceptions(spark.read.parquet(src), cfg).collect()
    )
    # the gap splits the trace at turn 2 in both engines: [0-1], [2], [3]
    assert got == batch, (got, batch)
    assert len(got) == 3 and got[0] == (0, 2, "lang_java"), got


def test_event_time_timeout_subsecond_interval_behind_watermark(spark, tmp_path):
    """Code-review r3 regression: with a SUB-SECOND flush interval and the
    watermark already advanced by another conversation, the naive timeout
    timestamp (second-truncated event time + interval) lands at/below the
    watermark and Spark kills the query with IllegalArgumentException.  The
    clamp must instead schedule the flush for the next batch and emit the
    idle trace."""
    import glob
    import time as _t

    base = 1_700_000_000
    # f1: conv b far ahead drives the watermark; f2: conv a's open trace
    # arrives with event times far BEHIND the watermark; f3 fires timeouts
    f1 = [("b", 0, "u", "plain b\n", "t", float(base + 100))]
    f2 = [("a", 0, "u", "java.lang.RuntimeException: boom\n", "t", base + 0.25),
          ("a", 1, "u", "\tat com.example.Foo.bar(Foo.java:1)\n", "t", base + 0.5)]
    f3 = [("c", 0, "u", "plain c\n", "t", float(base + 200))]
    schema = "conv_id string, turn_idx int, role string, text string, tool string, ts double"
    src = str(tmp_path / "src")
    for i, rows in enumerate((f1, f2, f3)):
        df = spark.createDataFrame(rows, schema).withColumn(
            "ts", F.timestamp_seconds("ts")
        )
        df.coalesce(1).write.mode("overwrite").parquet(f"{src}/part={i}")
        now = _t.time() + i
        for p in glob.glob(f"{src}/part={i}/*.parquet"):
            os.utime(p, (now, now))

    full_schema = spark.read.parquet(f"{src}/part=0").schema
    stream = (
        spark.readStream.schema(full_schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{src}/part=*")
    )
    out = detect_exceptions_stream(
        stream, PipelineConfig(multiline_flush_interval=0.4), event_time=True
    )
    q = (
        out.writeStream.format("memory").queryName("subsec_stream")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True).start()
    )
    q.awaitTermination(300)  # would raise StreamingQueryException pre-fix
    assert q.exception() is None
    got = {(r["conv_id"], r["first_turn_idx"]): (r["n_lines"], r["sink"])
           for r in spark.sql("select * from subsec_stream").collect()}
    assert got[("a", 0)] == (2, "lang_java")  # idle trace flushed by timeout
    assert got[("b", 0)] == (1, "passthrough")


def test_event_window_stream_with_watermark_drops_late_data(spark, tmp_path):
    """Built-in streaming path (brief: 'watermarks + windowed aggs for late
    data'): tumbling 1h windows close as the watermark (30 min) passes their
    end and emit exactly once in append mode; a row arriving after its
    window's watermark has passed is dropped from the aggregate."""
    import glob
    import time as _t

    from fluent_plugin_detect_exceptions_spark.streaming.event_windows import (
        event_window_counts,
    )

    H0 = 1_700_000_000 - (1_700_000_000 % 3600)  # aligned hour start
    f1 = [(1, "a", H0 + 60, 1.0), (2, "a", H0 + 120, 2.5), (3, "b", H0 + 300, 1.0)]
    f2 = [(4, "a", H0 + 2 * 3600 + 60, 3.0)]
    f3 = [(6, "a", H0 + 4 * 3600, 1.0)]  # advances watermark, closes H0+2h
    # LATE row in its own final batch: the watermark the late-row filter
    # sees lags the data by one micro-batch, so by now it is provably past
    # H0's window end regardless of that lag
    f4 = [(5, "b", H0 + 600, 9.9)]
    schema = "event_id long, event_type string, ts long, value double"
    src = str(tmp_path / "ev")
    for i, rows in enumerate((f1, f2, f3, f4)):
        df = spark.createDataFrame(rows, schema).withColumn(
            "ts", F.timestamp_seconds("ts")
        )
        df.coalesce(1).write.mode("overwrite").parquet(f"{src}/part={i}")
        now = _t.time() + i
        for p in glob.glob(f"{src}/part={i}/*.parquet"):
            os.utime(p, (now, now))

    full_schema = spark.read.parquet(f"{src}/part=0").schema
    stream = (
        spark.readStream.schema(full_schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{src}/part=*")
    )
    q = (
        event_window_counts(stream, window="1 hour", watermark="30 minutes")
        .writeStream.format("memory").queryName("ev_windows").outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True).start()
    )
    q.awaitTermination(300)
    got = {
        (r["w_start"], r["event_type"]): (r["n"], r["sum_cents"])
        for r in spark.sql("select * from ev_windows").collect()
    }
    # H0 window closed and emitted; the late 'b' row (arrived after the
    # watermark passed H0's end) is NOT counted
    assert got[(H0, "a")] == (2, 350)
    assert got[(H0, "b")] == (1, 100)
    # H0+2h closed once the watermark passed its end (driven by f3)
    assert got[(H0 + 2 * 3600, "a")] == (1, 300)
    # the H0+4h window cannot have closed (nothing advances the watermark
    # past its end) — append mode must not have emitted it
    assert (H0 + 4 * 3600, "a") not in got
    assert len(got) == 3, got


class _FakeState:
    """Minimal GroupState stand-in for driving the state function directly."""

    def __init__(self):
        self.exists = False
        self.hasTimedOut = False
        self._v = None

    @property
    def get(self):
        return self._v

    def update(self, v):
        self._v = v
        self.exists = True

    def remove(self):
        self._v = None
        self.exists = False

    def setTimeoutDuration(self, ms):
        pass

    def setTimeoutTimestamp(self, ms):
        pass


def test_streaming_emit_scales_linearly():
    """VERDICT r2: a giant trace inside ONE micro-batch must not go
    quadratic in the per-segment emit (''.join over the slice, not
    seg_msgs += t per row).  4x the rows must cost well under 16x the time
    (asserting < 10x leaves headroom for noise)."""
    import time

    import pandas as pd

    cfg = PipelineConfig(max_lines=0)
    func = make_state_func(cfg, SCHEMA)

    def run(n):
        rows = (
            [{"conv_id": "c", "turn_idx": 0, "role": "u", "tool": "t",
              "ts": pd.Timestamp(1_700_000_000, unit="s"),
              "text": "java.lang.RuntimeException: boom\n"}]
            + [{"conv_id": "c", "turn_idx": i + 1, "role": "u", "tool": "t",
                "ts": pd.Timestamp(1_700_000_000 + i, unit="s"),
                "text": "\tat com.example.Foo.bar(Foo.java:%d)\n" % i}
               for i in range(n)]
            + [{"conv_id": "c", "turn_idx": n + 1, "role": "u", "tool": "t",
                "ts": pd.Timestamp(1_700_000_500, unit="s"), "text": "plain\n"}]
        )
        pdf = pd.DataFrame(rows)
        best = None
        for _ in range(3):
            state = _FakeState()
            t0 = time.perf_counter()
            out = pd.concat(list(func(("c",), [pdf], state)), ignore_index=True)
            dt = time.perf_counter() - t0
            best = dt if best is None else min(best, dt)
        assert out["n_part"].max() == n + 1  # the whole trace, one record
        return best

    t10 = run(10_000)
    t40 = run(40_000)
    assert t40 < 10 * max(t10, 1e-4), (t10, t40)


def test_state_func_rejects_duplicate_turn():
    """A turn that appears twice in one group's micro-batch raises in the
    state function, as in the batch stage."""
    import pandas as pd

    func = make_state_func(PipelineConfig(), SCHEMA)
    pdf = pd.DataFrame(
        {"conv_id": "c", "turn_idx": [0, 1, 1, 2], "role": "u", "text": "plain\n",
         "tool": "t", "ts": pd.Timestamp(1_700_000_000, unit="s")}
    )
    with pytest.raises(ValueError, match=r"\('c',\) has turn 1 more than once"):
        list(func(("c",), [pdf], _FakeState()))


def _java_trace_batches(*turn_lists):
    """One Java trace's lines, one micro-batch per list of turns."""
    import pandas as pd

    from fluent_plugin_detect_exceptions_spark import fixtures as fx

    lines = fx.lines(fx.JAVA_EXC)
    return [
        pd.DataFrame(
            {"conv_id": "c", "turn_idx": turns, "role": "u",
             "text": [lines[t] for t in turns], "tool": "t",
             "ts": pd.Timestamp(1_700_000_000, unit="s")}
        )
        for turns in turn_lists
    ]


def test_state_func_rejects_turn_replayed_across_batches():
    """A turn replayed in a later micro-batch of the same group (an
    at-least-once source re-delivering a row) raises, naming the key and the
    turn, instead of merging into the carried segment; the same trace
    delivered without the replay still emits its one 6-line record."""
    func = make_state_func(PipelineConfig(), SCHEMA)
    first, replay = _java_trace_batches([0, 1, 2], [2, 3, 4, 5])
    state = _FakeState()
    assert _state_func_records(func, ("c",), [first], state) == []
    with pytest.raises(ValueError, match=r"\('c',\) has turn 2 at or below turn 2"):
        _state_func_records(func, ("c",), [replay], state)

    state = _FakeState()
    got = _state_func_records(func, ("c",), _java_trace_batches([0, 1, 2], [3, 4, 5]), state)
    assert got == []  # the trace is still open
    state.hasTimedOut = True
    import pandas as pd

    from fluent_plugin_detect_exceptions_spark import fixtures as fx

    flushed = _state_func_records(func, ("c",), [pd.DataFrame()], state)
    assert [(r[0], r[2], r[4]) for r in flushed] == [(0, fx.JAVA_EXC, 6)]


def _state_func_records(func, key, batches, state) -> list[tuple]:
    """Drive ``func`` over one group's micro-batches; the emitted partials,
    each a whole record, as (first_turn_idx, role, text, lang, n_lines)."""
    return [
        (r["seg_start_turn"], r["role"], r["text_part"],
         FAMILIES[r["lang_id"]] if r["lang_id"] >= 0 else None, r["n_part"])
        for pdf in batches
        for recs in func(key, [pdf], state)
        for r in recs.to_dict("records")
    ]


@settings(max_examples=60, deadline=None)
@given(
    runs=st.lists(
        st.tuples(st.integers(0, len(FSM_LINES) - 1), st.integers(1, 8)),
        min_size=1, max_size=12,
    ),
    cuts=st.lists(st.integers(1, 95), max_size=5),
    max_lines=st.sampled_from([0, 3, 1000]),
    max_bytes=st.sampled_from([0, 200]),
    flb=st.booleans(),
    gap=st.booleans(),
    with_stream=st.booleans(),
)
def test_state_func_carry_equals_oracle(runs, cuts, max_lines, max_bytes, flb, gap, with_stream):
    """The state function, called per group and micro-batch with
    ``_FakeState``, emits ``oracle.Accumulator``'s records per stream at
    random cut points: the carry (FSM state, open segment, last event time)
    makes the cuts invisible.  The lines are runs of consecutive pool lines,
    so traces span the cuts.  The record still open after the last cut is
    excluded, and a timeout call then emits exactly that record."""
    import pandas as pd

    cfg = PipelineConfig(
        max_lines=max_lines,
        max_bytes=max_bytes,
        force_line_breaks=flb,
        multiline_flush_interval=2.0 if gap else None,
        stream="tool" if with_stream else None,
    )
    func = make_state_func(cfg, SCHEMA)
    rows = conv_rows([[line for i, n in runs for line in FSM_LINES[i : i + n]]], with_stream)
    bounds = [0, *sorted({c for c in cuts if c < len(rows)}), len(rows)]
    if gap:
        # a 4 s gap before every other cut too: a flush on a batch's first
        # row is measured against the carried event time
        for j in bounds[1:-1:2]:
            for r in rows[j:]:
                r["ts"] += 3
    want = oracle_records(rows, cfg)
    rng = np.random.RandomState(len(rows))
    for key, recs in want.items():
        batches = []
        for lo, hi in zip(bounds[:-1], bounds[1:]):
            sub = [r for r in rows[lo:hi] if tuple(r[k] for k in cfg.group_keys()) == key]
            if sub:  # Spark calls the function only for groups with data
                pdf = pd.DataFrame([sub[i] for i in rng.permutation(len(sub))])
                pdf["ts"] = pd.to_datetime(pdf["ts"], unit="s")
                batches.append(pdf)
        state = _FakeState()
        got = _state_func_records(func, key, batches, state)
        still_open = state.get[2]
        assert sorted(got) == (recs[:-1] if still_open else recs)
        state.hasTimedOut = True
        flushed = _state_func_records(func, key, [pd.DataFrame()], state)
        assert flushed == (recs[-1:] if still_open else [])
        assert not state.exists


def test_state_func_many_segments_scales_linearly():
    """One group of single-line records, each its own segment: the state
    function must not loop over segments per row (that cost rows ×
    segments).  4× the rows must cost < 6× the time.  The lines repeat, as
    log lines do, so classifying distinct lines does not drown the
    per-segment cost."""
    import time

    import pandas as pd

    func = make_state_func(PipelineConfig(), SCHEMA)

    def run(n):
        pdf = pd.DataFrame(
            {
                "conv_id": "c",
                "turn_idx": np.arange(n),
                "role": "u",
                "text": [f"plain line {i % 100}\n" for i in range(n)],
                "tool": "t",
                "ts": pd.Timestamp(1_700_000_000, unit="s"),
            }
        )
        best = None
        for _ in range(3):
            t0 = time.perf_counter()
            out = pd.concat(list(func(("c",), [pdf], _FakeState())), ignore_index=True)
            dt = time.perf_counter() - t0
            best = dt if best is None else min(best, dt)
        assert len(out) == n and (out["n_part"] == 1).all()
        return best

    t32 = run(32_000)
    t128 = run(128_000)
    assert t128 < 6 * t32, (t32, t128)


def test_stream_rejects_what_batch_rejects(spark, tmp_path):
    """The stream and the counts path validate their input schema with the
    batch path's check: a flush interval without the event-time column, a
    missing order column and a missing stream column raise the same
    ValueError on every entry point."""
    from fluent_plugin_detect_exceptions_spark.operators.segmenter import segment

    schema = "conv_id string, turn_idx int, text string"
    stream = spark.readStream.schema(schema).parquet(str(tmp_path))
    batch = spark.createDataFrame([], schema)
    for cfg, match in (
        (PipelineConfig(multiline_flush_interval=5), "requires the event-time column 'ts'"),
        (PipelineConfig(order_col="seq"), "lacks 'conv_id'/'seq'"),
        (PipelineConfig(stream="tool"), "lacks 'conv_id'/'turn_idx'/'tool'"),
    ):
        with pytest.raises(ValueError, match=match):
            detect_exceptions_stream(stream, cfg)
        with pytest.raises(ValueError, match=match):
            segment(batch, cfg)
        with pytest.raises(ValueError, match=match):
            detect_sink_counts(batch, cfg)


def _ride_model(df):
    return df.withColumn("model", F.concat(F.lit("m"), (F.col("turn_idx") % 5).cast("string")))


def _message_column(df):
    return df.withColumnRenamed("text", "message")


def _strip_newlines(df):
    return df.withColumn("text", F.regexp_replace("text", "\n$", ""))


def _gappy_ts(df):
    # every seventh turn comes 7 s after its predecessor, past a 5 s interval
    return df.withColumn(
        "ts", F.timestamp_seconds(F.col("ts").cast("long") + F.expr("6 * (turn_idx div 7)"))
    )


@pytest.mark.parametrize(
    "cfg, prepare",
    [
        pytest.param(PipelineConfig(stream="tool"), None, id="stream_demux"),
        pytest.param(PipelineConfig(remove_tag_prefix="conv"), None, id="tag_prefix"),
        pytest.param(PipelineConfig(), _ride_model, id="ride_column"),
        pytest.param(PipelineConfig(message=""), _message_column, id="field_learning"),
        pytest.param(PipelineConfig(force_line_breaks=True), _strip_newlines, id="force_line_breaks"),
        pytest.param(PipelineConfig(max_lines=3), None, id="max_lines"),
        pytest.param(PipelineConfig(multiline_flush_interval=5), _gappy_ts, id="flush_interval"),
        pytest.param(PipelineConfig(message="absent"), None, id="no_message_field"),
    ],
)
def test_streaming_equals_batch_on_config(spark, tmp_path, cfg, prepare):
    """On turn-sliced micro-batches, every record the stream emits equals a
    batch ``detect_exceptions`` record on every column (same names and
    types), and every batch record the stream did not emit is the last
    record of its (conv[, stream]): the segment still open in state."""
    from collections import Counter

    df = synth_transcripts(spark, 8, repeats=2)  # tools rotate within a conversation
    if prepare is not None:
        df = prepare(df)
    src = str(tmp_path / "src")
    max_turn = df.agg(F.max("turn_idx")).first()[0]
    _write_turn_sliced(df, src, 4, (int(max_turn) // 4) + 1)
    full = spark.read.schema(df.schema).parquet(f"{src}/part=*")

    got_df = run_stream(spark, f"{src}/part=*", str(tmp_path / "ckpt"), cfg, df.schema)
    batch = detect_exceptions(full, cfg)
    assert {f.name: f.dataType for f in got_df.schema} == {
        f.name: f.dataType for f in batch.schema
    }

    def records(frame):
        return Counter(tuple(sorted(r.asDict().items())) for r in frame.collect())

    got, want = records(got_df), records(batch)
    assert got and not (got - want), got - want
    keys = cfg.group_keys()
    last_turn = {}
    for rec in want:
        d = dict(rec)
        k = tuple(d[x] for x in keys)
        last_turn[k] = max(last_turn.get(k, -1), d["first_turn_idx"])
    for rec in (want - got).elements():
        d = dict(rec)
        assert d["first_turn_idx"] == last_turn[tuple(d[x] for x in keys)], d


def test_event_time_timeout_flush(spark, tmp_path):
    """Event-time watermark variant: an open trace flushes once OTHER
    events advance the watermark past its last event + interval — replay-
    deterministic, unlike the wall-clock timeout."""
    base = 1_700_000_000
    f1 = [("a", 0, "u", "java.lang.RuntimeException: boom\n", "t", base),
          ("a", 1, "u", "\tat com.example.Foo.bar(Foo.java:1)\n", "t", base + 1)]
    f2 = [("b", 0, "u", "plain line\n", "t", base + 100)]   # advances watermark
    f3 = [("c", 0, "u", "another plain\n", "t", base + 200)]  # batch that fires timeouts
    schema = "conv_id string, turn_idx int, role string, text string, tool string, ts long"
    src = str(tmp_path / "src")
    import glob
    import time as _t

    for i, rows in enumerate((f1, f2, f3)):
        df = spark.createDataFrame(rows, schema).withColumn("ts", F.timestamp_seconds("ts"))
        df.coalesce(1).write.mode("overwrite").parquet(f"{src}/part={i}")
        now = _t.time() + i
        for p in glob.glob(f"{src}/part={i}/*.parquet"):
            os.utime(p, (now, now))

    full_schema = spark.read.parquet(f"{src}/part=0").schema
    stream = (
        spark.readStream.schema(full_schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{src}/part=*")
    )
    from fluent_plugin_detect_exceptions_spark.streaming.stream_pipeline import (
        detect_exceptions_stream as des,
    )

    from fluent_plugin_detect_exceptions_spark.streaming.stream_pipeline import (
        make_state_metrics_listener,
    )

    listener = make_state_metrics_listener()
    spark.streams.addListener(listener)
    out = des(stream, PipelineConfig(multiline_flush_interval=5), event_time=True)
    q = (
        out.writeStream.format("memory").queryName("et_stream").outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True).start()
    )
    q.awaitTermination(300)
    got = {(r["conv_id"], r["first_turn_idx"]): (r["n_lines"], r["sink"])
           for r in spark.sql("select * from et_stream").collect()}
    # conv a's open 2-line trace was flushed by the advancing watermark
    assert got[("a", 0)] == (2, "lang_java")
    assert got[("b", 0)] == (1, "passthrough")

    # state observability (VERDICT r2): per-batch state rows/bytes are
    # exposed via StreamingQueryProgress; state stays bounded by the number
    # of conversations and the timeout REMOVES the flushed conv's entry
    from fluent_plugin_detect_exceptions_spark.streaming.stream_pipeline import (
        state_metrics,
    )

    sm = state_metrics(q)
    assert sm, "no state metrics in recentProgress"
    assert all(m["state_rows"] <= 3 for m in sm), sm
    assert sum(m["rows_removed"] or 0 for m in sm) >= 1, sm
    assert any((m["state_bytes"] or 0) > 0 for m in sm), sm

    # the listener variant captures every batch of THIS query (the listener
    # is session-global, so filter by query id; delivery is async: poll on
    # the subset condition itself, not on counts that foreign queries'
    # events can satisfy)
    import time as _time

    want_batches = {m["batch"] for m in sm}
    try:
        for _ in range(60):
            lm = listener.metrics(query_id=q.id)
            if want_batches <= {m["batch"] for m in lm}:
                break
            _time.sleep(0.25)
        lm = listener.metrics(query_id=q.id)
        assert want_batches <= {m["batch"] for m in lm}, (want_batches, lm)
    finally:
        spark.streams.removeListener(listener)


def _write_ordered_files(spark, tmp_path, name, batches, schema):
    """One parquet file per batch with monotone mtimes (file-order = arrival
    order under maxFilesPerTrigger=1)."""
    import glob
    import time as _t

    src = str(tmp_path / name)
    for i, rows in enumerate(batches):
        spark.createDataFrame(rows, schema).withColumn(
            "ts", F.timestamp_seconds("ts")
        ).coalesce(1).write.mode("overwrite").parquet(f"{src}/part={i}")
        now = _t.time() + i
        for p in glob.glob(f"{src}/part={i}/*.parquet"):
            os.utime(p, (now, now))
    return src


def test_streaming_exact_dedup_and_watermark_eviction(spark, tmp_path):
    """streaming_exact_dedup: first arrival per digest emits, duplicates
    within the watermark horizon are dropped (stream output == batch
    exact_dedup when arrival order == id order), and a duplicate arriving
    AFTER state eviction re-emits — the documented bounded-state trade."""
    from fluent_plugin_detect_exceptions_spark.operators.dedup import exact_dedup
    from fluent_plugin_detect_exceptions_spark.streaming.dedup_stream import (
        streaming_exact_dedup,
    )

    texts = ["alpha body", "beta body", "gamma body"]
    # duplicates arrive in a LATER micro-batch than their originals: within
    # one micro-batch dropDuplicates keeps an arbitrary partition-order row,
    # so only cross-batch arrival order is deterministic
    # ts start at 10: an event AT the initial watermark (0) is dropped as
    # late before the dedup state is even consulted
    b1 = [(i, texts[i], 10 + i) for i in range(3)]          # ts 10..12
    b1b = [(i + 3, texts[i], 13 + i) for i in range(3)]     # ts 13..15 dups
    b2 = [(10, "delta advancer", 200)]                      # watermark -> 195
    # state eviction runs at END of batch: b2b's batch starts with the
    # advanced watermark and evicts the ts-10..15 entries when it commits,
    # so the re-arriving duplicate must come one batch LATER again
    b2b = [(12, "epsilon advancer", 202)]
    b3 = [(11, texts[0], 203)]                              # evicted: re-emits
    schema = "doc_id long, text string, ts long"
    src = _write_ordered_files(
        spark, tmp_path, "dedup_src", [b1, b1b, b2, b2b, b3], schema
    )

    stream = (
        spark.readStream.schema("doc_id long, text string, ts timestamp")
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q = (
        streaming_exact_dedup(stream, watermark="5 seconds")
        .writeStream.format("memory").queryName("dedup_stream")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt_dedup"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    got = {
        (r["doc_id"], r["text"]) for r in spark.sql("select * from dedup_stream").collect()
    }
    # within-horizon dedup: ids 0,1,2 kept, 3,4,5 (same texts) dropped —
    # and arrival order == id order here, so stream == batch exact_dedup
    within = {x for x in got if x[0] <= 5}
    batch_df = spark.createDataFrame(b1 + b1b, schema)
    batch_keep = {
        (r["doc_id"], r["text"]) for r in exact_dedup(batch_df).collect()
    }
    assert within == batch_keep == {(0, texts[0]), (1, texts[1]), (2, texts[2])}
    assert (10, "delta advancer") in got
    # post-eviction duplicate re-emitted (bounded state, not exactness)
    assert (11, texts[0]) in got


def test_streaming_minhash_bands_equals_batch(spark, tmp_path):
    """Signature stages are stateless maps: the batch band operator runs on
    a stream unchanged and emits exactly the batch assignments."""
    from fluent_plugin_detect_exceptions_spark.operators.dedup import minhash_bands
    from fluent_plugin_detect_exceptions_spark.streaming.dedup_stream import (
        streaming_minhash_bands,
    )

    rows = [(i, f"document number {i % 4} with shared body text") for i in range(12)]
    schema = "doc_id long, text string"
    df = spark.createDataFrame(rows, schema)
    src = str(tmp_path / "bands_src")
    df.repartition(3).write.mode("overwrite").parquet(src)
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q = (
        streaming_minhash_bands(stream)
        .writeStream.format("memory").queryName("bands_stream")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt_bands"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    got = sorted(
        tuple(r) for r in spark.sql("select * from bands_stream").collect()
    )
    want = sorted(tuple(r) for r in minhash_bands(df).collect())
    assert got == want
