"""Hypothesis differential of the two fused scan-stage implementations —
Arrow (_scan_partition_fused_arrow) vs pandas (_scan_partition_fused) —
called directly (no Spark session): randomized line mixes incl. nulls,
chunk/warm-up layouts, limits, FLB and stream demux must agree exactly."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pyarrow as pa
from hypothesis import given, settings
from hypothesis import strategies as st

from fluent_plugin_detect_exceptions_spark import fixtures as fx
from fluent_plugin_detect_exceptions_spark.config import PipelineConfig
from fluent_plugin_detect_exceptions_spark.operators.segmenter import (
    _scan_partition_fused,
    _scan_partition_fused_arrow,
)
from fluent_plugin_detect_exceptions_spark.rules import compile_rules

LINE_POOL = (
    fx.lines(fx.JAVA_EXC)
    + fx.lines(fx.PYTHON_EXC)
    + fx.lines(fx.GO_EXC)
    + fx.lines(fx.ARBITRARY_TEXT)
    + ["", "\n", "x" * 300 + "\n", None]
)

RULES = compile_rules(("all",))


def build_partition(idxs, n_convs, chunk, warmup, with_stream):
    """Rows for n_convs conversations playing the idx sequence, with local
    chunk/warm-up derivation mirroring _with_chunks, in shuffled order."""
    rows = []
    for c in range(n_convs):
        for t, i in enumerate(idxs):
            text = LINE_POOL[(i + c) % len(LINE_POOL)]
            base = {
                "conv_id": f"c{c}",
                "turn_idx": t,
                "role": "u" if t % 2 == 0 else "a",
                "text": text,
                "tool": f"t{t % 2}" if with_stream else "t0",
                "ts": 1_700_000_000 + t,
            }
            ch = t // chunk
            rows.append(dict(base, chunk_id=ch, __warmup=False))
            if t % chunk >= chunk - warmup:
                rows.append(dict(base, chunk_id=ch + 1, __warmup=True))
    rng = np.random.RandomState(len(rows))
    order = rng.permutation(len(rows))
    pdf = pd.DataFrame([rows[i] for i in order])
    return pdf


def normalize(df: pd.DataFrame) -> list[tuple]:
    cols = sorted(df.columns)
    out = []
    for _, r in df.iterrows():
        out.append(tuple(None if pd.isna(r[c]) else r[c] for c in cols))
    return sorted(out, key=lambda t: tuple((v is None, str(v)) for v in t))


@settings(max_examples=40, deadline=None)
@given(
    idxs=st.lists(st.integers(0, len(LINE_POOL) - 1), min_size=1, max_size=60),
    chunk=st.sampled_from([8, 16, 64]),
    max_lines=st.sampled_from([0, 3, 1000]),
    max_bytes=st.sampled_from([0, 120]),
    flb=st.booleans(),
    gap=st.booleans(),
    with_stream=st.booleans(),
)
def test_arrow_stage_equals_pandas_stage_randomized(
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
    pdf = build_partition(idxs, n_convs=2, chunk=chunk, warmup=cfg.warmup,
                          with_stream=with_stream)
    pdf["ts"] = pd.to_datetime(pdf["ts"], unit="s")
    # the pandas stage consumes a pre-sorted partition (segmenter.run sorts);
    # the arrow stage sorts internally and takes the shuffled table as-is
    codes, _ = pd.factorize(pdf["conv_id"])
    keys = [pdf["turn_idx"].to_numpy(), pdf["chunk_id"].to_numpy()]
    if with_stream:
        scodes, _ = pd.factorize(pdf["tool"])
        keys.insert(1, scodes)
    order = np.lexsort(tuple(keys) + (codes,))
    sorted_pdf = pdf.take(order).reset_index(drop=True)
    pandas_out = _scan_partition_fused(sorted_pdf, cfg, RULES, "text")
    tbl = pa.Table.from_pandas(pdf, preserve_index=False)
    arrow_out = _scan_partition_fused_arrow(tbl, cfg, RULES, "text").to_pandas()
    assert normalize(pandas_out) == normalize(arrow_out)


def test_arrow_stage_rejects_null_order_column():
    """A null turn_idx would cast to an undefined int64 and silently corrupt
    the group sort; the Arrow stage refuses it instead."""
    import pytest

    cfg = PipelineConfig(chunk_size=8, warmup=2)
    pdf = build_partition([0, 1, 2, 3], n_convs=1, chunk=8, warmup=2, with_stream=False)
    pdf["ts"] = pd.to_datetime(pdf["ts"], unit="s")
    tbl = pa.Table.from_pandas(pdf, preserve_index=False)
    turns = tbl.column("turn_idx").to_pylist()
    turns[1] = None
    tbl = tbl.set_column(
        tbl.schema.get_field_index("turn_idx"), "turn_idx", pa.array(turns, pa.int64())
    )
    with pytest.raises(ValueError, match="turn_idx"):
        _scan_partition_fused_arrow(tbl, cfg, RULES, "text")
