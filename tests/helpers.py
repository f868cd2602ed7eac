"""Shared test helpers: run the numpy scan core over plain line lists and
materialize grouped records the way the Spark agg stage does, so results can
be compared 1:1 with the pure-Python oracle."""

from __future__ import annotations

import numpy as np
import pandas as pd

from fluent_plugin_detect_exceptions_spark.functions.classify import classify
from fluent_plugin_detect_exceptions_spark.operators import fsm
from fluent_plugin_detect_exceptions_spark.rules import STATE_FAMILY, STATES, compile_rules


def scan_lines(
    lines,
    languages=("all",),
    ts=None,
    flush_interval=None,
    **scan_kw,
):
    """lines: list of str|None.  Returns (ScanResult, rules)."""
    rules = compile_rules(languages)
    s = pd.Series(lines, dtype=object)
    cls, g_tab, b_tab = classify(s, rules)
    rawlen = np.array([len(x) if x is not None else 0 for x in lines], dtype=np.int64)
    has_nl = np.array([("\n" in x) if x is not None else False for x in lines], dtype=bool)
    gap = np.zeros(len(lines), dtype=bool)
    if flush_interval is not None and ts is not None:
        t = np.asarray(ts, dtype=np.float64)
        gap[1:] = (t[1:] - t[:-1]) > flush_interval
    return fsm.scan(cls, g_tab, b_tab, rawlen, has_nl, gap, **scan_kw), rules


def grouped_records(lines, res, ts=None, force_line_breaks=False):
    """Reassemble emitted records from a ScanResult exactly like the Spark
    coalesce stage: per segment, 1 message → original record; ≥2 → ordered
    separator-less join (with force_line_breaks prepend); dropped nil rows
    excluded.  Returns list of (ts, text, lang, n_lines)."""
    n = len(lines)
    seg = np.cumsum(res.seg_start)
    out = []
    for sid in np.unique(seg):
        idxs = [i for i in np.flatnonzero(seg == sid) if res.emit[i]]
        if not idxs:
            continue
        first = idxs[0]
        msgs = [lines[i] for i in idxs if lines[i] is not None]
        state = STATES[res.state_after[first]]
        lang = STATE_FAMILY.get(state)
        t = ts[first] if ts is not None else 0
        if len(msgs) <= 1:
            out.append((t, lines[first], lang, 1))
        else:
            parts = []
            for k, m in enumerate(msgs):
                if force_line_breaks and k > 0 and "\n" not in m:
                    parts.append("\n" + m)
                else:
                    parts.append(m)
            out.append((t, "".join(parts), lang, len(msgs)))
    return out
