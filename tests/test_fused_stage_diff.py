"""Hypothesis differential of the Arrow scan stage
(``_scan_partition_fused_arrow``) against the pure-Python oracle
(``oracle.Accumulator``), called directly (no Spark session): randomized line
mixes incl. nulls, limits, FLB, timeout gaps and stream demux, on the
whole-conversation layout and on the chunked (warm-up) layout."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pyarrow as pa
import pytest
from hypothesis import example, given, settings
from hypothesis import strategies as st

from fluent_plugin_detect_exceptions_spark import fixtures as fx
from fluent_plugin_detect_exceptions_spark.config import PipelineConfig
from fluent_plugin_detect_exceptions_spark.functions.classify import classify
from fluent_plugin_detect_exceptions_spark.operators import fsm
from fluent_plugin_detect_exceptions_spark.operators.segmenter import (
    _scan_partition_fused_arrow,
)
from fluent_plugin_detect_exceptions_spark.oracle import Accumulator
from fluent_plugin_detect_exceptions_spark.rules import FAMILIES, compile_rules

LINE_POOL = (
    fx.lines(fx.JAVA_EXC)
    + fx.lines(fx.PYTHON_EXC)
    + fx.lines(fx.GO_EXC)
    + fx.lines(fx.ARBITRARY_TEXT)
    + ["", "\n", "x" * 300 + "\n", None]
)

RULES = compile_rules(("all",))
BASE_TS = 1_700_000_000


def conv_rows(texts_by_conv, with_stream):
    """One row per (conversation, turn).  Every fifth turn comes 3 s after
    its predecessor instead of 1 s, so a 2 s flush interval fires."""
    return [
        {
            "conv_id": f"c{c}",
            "turn_idx": t,
            "role": "u" if t % 2 == 0 else "a",
            "text": text,
            "tool": f"t{t % 2}" if with_stream else "t0",
            "ts": BASE_TS + t + 2 * (t // 5),
        }
        for c, texts in enumerate(texts_by_conv)
        for t, text in enumerate(texts)
    ]


def stage_table(rows, chunk=0, warmup=0):
    """The scan stage's input partition for ``rows``: whole conversations
    (``chunk=0``: chunk 0, no warm-up rows — the pre-pass fallback route) or
    the chunk/warm-up rows ``segmenter._with_chunks`` derives, in shuffled
    order."""
    out = []
    for r in rows:
        t = r["turn_idx"]
        ch = t // chunk if chunk else 0
        out.append(dict(r, chunk_id=ch, __warmup=False))
        if chunk and t % chunk >= chunk - warmup:
            out.append(dict(r, chunk_id=ch + 1, __warmup=True))
    order = np.random.RandomState(len(out)).permutation(len(out))
    pdf = pd.DataFrame([out[i] for i in order])
    pdf["ts"] = pd.to_datetime(pdf["ts"], unit="s")
    return pa.Table.from_pandas(pdf, preserve_index=False)


def oracle_records(rows, cfg):
    """Accumulator output per logical stream (conv[, stream])."""
    by_key = {}
    for r in rows:
        by_key.setdefault(tuple(r[k] for k in cfg.group_keys()), []).append(r)
    out = {}
    for key, rs in by_key.items():
        acc = Accumulator(
            "text", cfg.languages,
            force_line_breaks=cfg.force_line_breaks,
            max_lines=cfg.max_lines,
            max_bytes=cfg.max_bytes,
            flush_interval=cfg.multiline_flush_interval,
        )
        for r in sorted(rs, key=lambda x: x["turn_idx"]):
            acc.push(r["ts"], dict(r))
        acc.force_flush()
        out[key] = sorted(
            (e.record["turn_idx"], e.record["role"], e.record["text"], e.lang, e.n_lines)
            for e in acc.out
        )
    return out


def stitched_records(partials: pa.Table, cfg):
    """``coalesce.coalesce_partials`` in plain Python: stitch the partials
    per (conv[, stream], seg_start_turn) in ``part_min_turn`` order.
    Returns (records per logical stream, streams with an unsynced partial)."""
    segs, unsynced = {}, set()
    for p in partials.to_pylist():
        key = tuple(p[k] for k in cfg.group_keys())
        segs.setdefault((key, p["seg_start_turn"]), []).append(p)
        if not p["sync_ok"]:
            unsynced.add(key)
    out = {}
    for (key, sst), ps in segs.items():
        ps.sort(key=lambda p: p["part_min_turn"])
        first = ps[0]
        n = sum(p["n_part"] for p in ps)
        text = (
            first["text_part"] if n == 1
            else "".join(p["text_part"] for p in ps if p["text_part"] is not None)
        )
        lang = FAMILIES[first["lang_id"]] if first["lang_id"] >= 0 else None
        out.setdefault(key, []).append((sst, first["role"], text, lang, n))
    return {k: sorted(v) for k, v in out.items()}, unsynced


def run_stage(rows, cfg, chunk=0, warmup=0):
    tbl = stage_table(rows, chunk, warmup)
    return stitched_records(_scan_partition_fused_arrow(tbl, cfg, RULES, "text")[0], cfg)


@settings(max_examples=60, deadline=None)
@given(
    idxs=st.lists(st.integers(0, len(LINE_POOL) - 1), min_size=1, max_size=60),
    chunk=st.sampled_from([8, 16, 64]),
    max_lines=st.sampled_from([0, 3, 1000]),
    max_bytes=st.sampled_from([0, 120]),
    flb=st.booleans(),
    gap=st.booleans(),
    with_stream=st.booleans(),
)
# force_line_breaks on a segment-first line without a newline (""): the
# prepend must apply to non-first members only
@example(idxs=[65, 69, 0, 1], chunk=64, max_lines=1000, max_bytes=0,
         flb=True, gap=False, with_stream=False)
def test_arrow_stage_equals_oracle_randomized(
    idxs, chunk, max_lines, max_bytes, flb, gap, with_stream
):
    cfg = PipelineConfig(
        chunk_size=chunk,
        warmup=max(1, chunk // 4),
        max_lines=max_lines,
        max_bytes=max_bytes,
        force_line_breaks=flb,
        multiline_flush_interval=2.0 if gap else None,
        stream="tool" if with_stream else None,
    )
    rows = conv_rows(
        [[LINE_POOL[(i + c) % len(LINE_POOL)] for i in idxs] for c in range(2)],
        with_stream,
    )
    want = oracle_records(rows, cfg)

    # whole conversations: exact, and every partial synced
    got, unsynced = run_stage(rows, cfg)
    assert not unsynced
    assert got == want

    # chunked: a stream whose warm-ups all synchronized is exact; any other
    # difference must be flagged sync_ok=False (the pre-pass routes such
    # conversations whole)
    got, unsynced = run_stage(rows, cfg, chunk, cfg.warmup)
    for key, recs in want.items():
        if got.get(key) != recs:
            assert key in unsynced, key
    assert set(got) <= set(want)


def test_arrow_stage_sync_point_before_warmup_end():
    """The warm-up synchronizes at its 2nd of 4 rows; the two warm-up rows
    after the sync point are scanned (they open a Java trace) but belong to
    the previous chunk, so they must not be emitted again."""
    plain = fx.lines(fx.ARBITRARY_TEXT)
    texts = [plain[i % len(plain)] for i in range(14)] + fx.lines(fx.JAVA_EXC)[:6] + plain
    cfg = PipelineConfig(chunk_size=16, warmup=4)
    warmup_lines = texts[12:16]
    cls, g_tab, _ = classify(pd.Series(warmup_lines, dtype=object), RULES)
    assert fsm.subset_sync(cls, g_tab) == 1

    rows = conv_rows([texts], with_stream=False)
    got, unsynced = run_stage(rows, cfg, cfg.chunk_size, cfg.warmup)
    assert not unsynced
    assert got == oracle_records(rows, cfg)


def test_arrow_stage_rejects_null_order_column():
    """A null turn_idx would cast to an undefined int64 and silently corrupt
    the group sort; the Arrow stage refuses it instead."""
    cfg = PipelineConfig(chunk_size=8, warmup=2)
    tbl = stage_table(conv_rows([[LINE_POOL[i] for i in range(4)]], False), 8, 2)
    turns = tbl.column("turn_idx").to_pylist()
    turns[1] = None
    tbl = tbl.set_column(
        tbl.schema.get_field_index("turn_idx"), "turn_idx", pa.array(turns, pa.int64())
    )
    with pytest.raises(ValueError, match="turn_idx"):
        _scan_partition_fused_arrow(tbl, cfg, RULES, "text")[0]


def test_arrow_stage_rejects_duplicate_turn_whole_conversation():
    """Two rows of one conversation with the same turn would merge into one
    segment named by that turn; the stage refuses them and names the key."""
    rows = conv_rows([[LINE_POOL[i] for i in range(6)]], False)
    rows.append(dict(rows[2]))
    with pytest.raises(ValueError, match=r"\(conv_id\) = \('c0',\) has turn 2 more than once"):
        run_stage(rows, PipelineConfig())


def test_arrow_stage_rejects_duplicate_turn_chunked():
    """On the chunked layout a duplicated turn raises too, while the warm-up
    copies of boundary rows (same turn, next chunk) do not: the same table
    without the duplicate scans exactly."""
    cfg = PipelineConfig(chunk_size=8, warmup=2)
    plain = fx.lines(fx.ARBITRARY_TEXT)
    texts = [plain[i % 4] for i in range(9)] + fx.lines(fx.JAVA_EXC)[:5] + plain * 4
    rows = conv_rows([texts], False)
    got, unsynced = run_stage(rows, cfg, cfg.chunk_size, cfg.warmup)
    assert got == oracle_records(rows, cfg) and not unsynced
    # turn 15 sits in chunk 1's boundary zone, so it is also a warm-up row
    # of chunk 2
    with pytest.raises(ValueError, match=r"\('c0',\) has turn 15 more than once"):
        run_stage(rows + [dict(rows[15])], cfg, cfg.chunk_size, cfg.warmup)


def test_arrow_stage_accepts_same_turn_in_two_streams():
    """Under ``stream=`` the order key is (conv, stream, turn): the same turn
    in two stream values is two rows of two groups, not a duplicate."""
    rows = conv_rows([[LINE_POOL[i] for i in range(8)]], False)
    rows += [dict(r, tool="t1") for r in rows]
    cfg = PipelineConfig(stream="tool")
    got, unsynced = run_stage(rows, cfg)
    assert got == oracle_records(rows, cfg) and not unsynced
    with pytest.raises(ValueError, match="more than once"):
        run_stage(rows, PipelineConfig())
