"""Differential tests: the vectorized FSM-as-scan core vs the pure-Python
oracle, over every reference scenario plus randomized inputs (hypothesis).
"""

from __future__ import annotations

import numpy as np
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from fluent_plugin_detect_exceptions_spark import fixtures as fx
from fluent_plugin_detect_exceptions_spark.oracle import Accumulator, Detector
from fluent_plugin_detect_exceptions_spark.operators import fsm

from .helpers import grouped_records, scan_lines


def oracle_records(lines, languages=("all",), ts=None, **kw):
    acc = Accumulator("text", languages, **kw)
    for i, line in enumerate(lines):
        rec = {"text": line} if line is not None else {"other": 1}
        acc.push(ts[i] if ts is not None else 0, rec)
    acc.force_flush()
    return [(e.ts, e.record.get("text"), e.lang, e.n_lines) for e in acc.out]


def assert_matches_oracle(lines, languages=("all",), ts=None, flush_interval=None,
                          force_line_breaks=False, max_lines=0, max_bytes=0):
    res, _ = scan_lines(
        lines, languages, ts=ts, flush_interval=flush_interval,
        force_line_breaks=force_line_breaks, max_lines=max_lines, max_bytes=max_bytes,
    )
    got = grouped_records(lines, res, ts=ts, force_line_breaks=force_line_breaks)
    want = oracle_records(
        lines, languages, ts=ts, flush_interval=flush_interval,
        force_line_breaks=force_line_breaks, max_lines=max_lines, max_bytes=max_bytes,
    )
    assert got == want


ALL_FIXTURE_NAMES = list(fx.DETECTOR_FIXTURES)


@pytest.mark.parametrize("name", ALL_FIXTURE_NAMES)
def test_statuses_match_detector(name):
    lines = fx.lines(fx.DETECTOR_FIXTURES[name])
    # twice back to back, with noise before/between/after (ref protocol)
    seq = ["noise\n"] + lines + ["noise\n"] + lines + lines + ["noise\n"]
    res, rules = scan_lines(seq)
    det = Detector(rules=rules)
    expected = [det.update(line) for line in seq]
    assert res.status.tolist() == expected


@pytest.mark.parametrize("name", ALL_FIXTURE_NAMES)
def test_grouping_matches_oracle(name):
    lines = fx.lines(fx.DETECTOR_FIXTURES[name])
    seq = lines + fx.lines(fx.ARBITRARY_TEXT) + lines + lines
    assert_matches_oracle(seq)


@pytest.mark.parametrize(
    "languages,inputs",
    [
        (("all",), [fx.JAVA_EXC, fx.ARBITRARY_TEXT, fx.PYTHON_EXC, fx.GO_EXC]),
        (("go",), [fx.JAVA_EXC, fx.ARBITRARY_TEXT, fx.GO_EXC]),
        (("python",), [fx.JAVA_EXC, fx.PYTHON_EXC, fx.GO_EXC]),
        (("ruby",), [fx.JAVA_EXC, fx.PYTHON_EXC, fx.GO_EXC]),
        (("python", "java"), [fx.PLUGIN_ARBITRARY_TEXT + "\n", fx.PLUGIN_JAVA_EXC, fx.PLUGIN_PYTHON_EXC]),
    ],
)
def test_language_subsets(languages, inputs):
    seq = [line for m in inputs for line in fx.lines(m)]
    assert_matches_oracle(seq, languages)


def test_max_lines_limits():
    seq = fx.lines(fx.JAVA_EXC)
    for max_lines in (1, 2, 3, 4, 5, 6, 100):
        assert_matches_oracle(seq * 3, max_lines=max_lines)


def test_max_bytes_limits():
    part1 = len(fx.JAVA_EXC_PART1)
    first_p2 = len(fx.lines(fx.JAVA_EXC_PART2)[0])
    for max_bytes in (1, 10, part1, part1 + first_p2 - 1, part1 + first_p2, 10_000):
        assert_matches_oracle(fx.lines(fx.JAVA_EXC) * 3, max_bytes=max_bytes)


def test_max_lines_e2e_redetection():
    seq = fx.lines(fx.PLUGIN_PYTHON_EXC) + fx.lines(fx.PLUGIN_JAVA_EXC)
    assert_matches_oracle(seq, max_lines=2)


def test_timeout_gap():
    lines = fx.lines(fx.PLUGIN_JAVA_EXC) + ["  at x\n", "  at y\n"]
    ts = [1000 + i for i in range(5)] + [1010, 1011]
    assert_matches_oracle(lines, ts=ts, flush_interval=1)
    # no interval -> no split
    assert_matches_oracle(lines, ts=ts)


def test_nil_messages():
    lines = [None, "plain\n"] + fx.lines(fx.PLUGIN_JAVA_EXC)[:2] + [None, "tail\n", None]
    assert_matches_oracle(lines)


def test_force_line_breaks_stripped_lines():
    lines = [line.rstrip("\n") for line in fx.lines(fx.PLUGIN_JAVA_EXC)]
    assert_matches_oracle(lines, force_line_breaks=True)
    assert_matches_oracle(lines, force_line_breaks=False)


def test_window_boundaries(monkeypatch):
    # force tiny scan windows so carries and cross-window forced resets are hit
    monkeypatch.setattr(fsm, "WINDOW", 4)
    seq = (fx.lines(fx.JAVA_EXC) + fx.lines(fx.ARBITRARY_TEXT)) * 5
    assert_matches_oracle(seq)
    assert_matches_oracle(seq, max_lines=3)
    assert_matches_oracle(seq, max_bytes=len(fx.JAVA_EXC_PART1))
    monkeypatch.setattr(fsm, "WINDOW", 1)
    assert_matches_oracle(fx.lines(fx.JAVA_EXC), max_lines=2)


# --- randomized differential test -----------------------------------------

LINE_POOL = (
    fx.lines(fx.JAVA_EXC)
    + fx.lines(fx.PYTHON_EXC)
    + fx.lines(fx.PHP_ON_GAE_EXC)
    + fx.lines(fx.GO_SIGNAL_EXC)
    + fx.lines(fx.RUBY_EXC)[:3]
    + fx.lines(fx.DART_ERR)[:4]
    + ["plain text\n", "\n", "  indented\n", None, "Error\n", "panic: x\n"]
)


@settings(max_examples=60, deadline=None)
@given(
    idxs=st.lists(st.integers(0, len(LINE_POOL) - 1), min_size=1, max_size=120),
    max_lines=st.sampled_from([0, 1, 2, 3, 5, 1000]),
    max_bytes=st.sampled_from([0, 1, 40, 200, 10_000]),
    flb=st.booleans(),
    gaps=st.booleans(),
    languages=st.sampled_from([("all",), ("java",), ("python", "go"), ("ruby", "php", "dart")]),
)
def test_randomized_vs_oracle(idxs, max_lines, max_bytes, flb, gaps, languages):
    lines = [LINE_POOL[i] for i in idxs]
    rng = np.random.RandomState(len(idxs) * 31 + max_lines)
    if gaps:
        deltas = rng.choice([1, 1, 1, 5], size=len(lines))
        ts = np.cumsum(deltas).tolist()
        interval = 2
    else:
        ts = list(range(len(lines)))
        interval = None
    assert_matches_oracle(
        lines, languages, ts=ts, flush_interval=interval,
        force_line_breaks=flb, max_lines=max_lines, max_bytes=max_bytes,
    )


@settings(max_examples=25, deadline=None)
@given(
    idxs=st.lists(st.integers(0, len(LINE_POOL) - 1), min_size=2, max_size=80),
    cuts=st.lists(st.integers(1, 79), max_size=4),
    max_lines=st.sampled_from([0, 3, 1000]),
    max_bytes=st.sampled_from([0, 200]),
)
def test_carry_chaining_equals_single_scan(idxs, cuts, max_lines, max_bytes):
    """Scanning in arbitrary slices with carried state == one scan (the
    streaming micro-batch invariant)."""
    from tests.helpers import scan_lines
    from fluent_plugin_detect_exceptions_spark.functions.classify import classify
    from fluent_plugin_detect_exceptions_spark.rules import compile_rules
    import pandas as pd

    lines = [LINE_POOL[i] for i in idxs if LINE_POOL[i] is not None]
    if not lines:
        return
    full, _ = scan_lines(lines, max_lines=max_lines, max_bytes=max_bytes)

    rules = compile_rules(("all",))
    cls, g_tab, b_tab = classify(pd.Series(lines, dtype=object), rules)
    rawlen = np.array([len(x) for x in lines], dtype=np.int64)
    has_nl = np.array(["\n" in x for x in lines], dtype=bool)
    bounds = sorted({c % len(lines) for c in cuts if 0 < c % len(lines) < len(lines)})
    pieces = []
    carry = None
    prev = 0
    for b in bounds + [len(lines)]:
        if b <= prev:
            continue
        sl = slice(prev, b)
        r = fsm.scan(
            cls[sl], g_tab, b_tab, rawlen[sl], has_nl[sl],
            np.zeros(b - prev, dtype=bool),
            max_lines=max_lines, max_bytes=max_bytes, entry_carry=carry,
        )
        carry = r.carry
        pieces.append(r)
        prev = b
    got_status = np.concatenate([p.status for p in pieces])
    got_flags = np.concatenate([p.seg_start for p in pieces])
    got_emit = np.concatenate([p.emit for p in pieces])
    assert got_status.tolist() == full.status.tolist()
    assert got_flags.tolist() == full.seg_start.tolist()
    assert got_emit.tolist() == full.emit.tolist()


def _compose_scan(gw: np.ndarray) -> np.ndarray:
    """Inclusive prefix composition: out[i, s] = state after rows 0..i given
    entry state s.  Hillis–Steele doubling, O(|S|·log n) vectorized steps —
    the reference ``fsm._trajectory`` is checked against."""
    p = gw.copy()
    step = 1
    n = len(p)
    while step < n:
        p[step:] = np.take_along_axis(p[step:], p[:-step].astype(np.intp), axis=1)
        step *= 2
    return p


def test_trajectory_matches_prefix_composition():
    """r6: the scan's hot loop evaluates the single known-entry trajectory
    (block tree reduction + lockstep walk) instead of the full Hillis-Steele
    prefix composition — the two must be bit-identical for every window
    size, block alignment and entry state."""
    rng = np.random.default_rng(7)
    for w in [0, 1, 5, 127, 128, 129, 1000, 8192, 10000]:
        for n_states in [3, 27]:
            gw = rng.integers(0, n_states, size=(w, n_states)).astype(np.int8)
            for entry in range(min(n_states, 4)):
                want = (
                    _compose_scan(gw)[:, entry]
                    if w
                    else np.empty(0, np.int8)
                )
                got = fsm._trajectory(gw, entry)
                assert np.array_equal(want, got), (w, n_states, entry)
