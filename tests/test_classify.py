"""RE2 ≡ Python ``re``: the Arrow classifier's per-pattern masks equal
``rules.compiled[j].search`` for every pattern of the ``all`` rule set, and
its per-line transition tables equal the ones that mask implies.

``rules.to_re2`` is exact on ASCII lines only; non-ASCII dictionary entries
take the ``re`` fallback, so both halves are exercised."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc
from hypothesis import given, settings
from hypothesis import strategies as st

from fluent_plugin_detect_exceptions_spark import fixtures as fx
from fluent_plugin_detect_exceptions_spark.functions.classify import (
    NIL_CLS,
    classify,
    classify_encoded,
    encode,
    match_bits,
)
from fluent_plugin_detect_exceptions_spark.rules import N_STATES, START, compile_rules
from tests.test_fused_stage_diff import LINE_POOL

RULES = compile_rules(("all",))

FIXTURE_LINES = sorted(
    {
        ln
        for name, v in vars(fx).items()
        if name.isupper() and isinstance(v, str)
        for ln in fx.lines(v) + [v]
    }
)

NON_ASCII = ["épanic: x\n", "#٣ x(y)\n", "\xa0thrown in \n", "x ", "panic: ü\n",
             "#1　a(b)\n", "Traceback (most recent call last):\u0085"]

# one template per ASCII-sensitive construct of the catalogue: \s (bare and
# in [^\s.:] classes), \d, \b and $-before-newline
CONTEXTS = [
    "{c}thrown in \n", "{c}", "{c}\n", "\n{c}", "\r{c}\n", "x{c}\n",
    "#1{c}x(y)\n", "#{c}", "goroutine {c} [x]:\n", "\t... {c} more\n",
    "{c}panic: x\n", "x{c}panic: x\n", "panic:{c}\n",
    "a{c}b.c(\n", "a.b{c}c(\n", "x{c}y: z\n", "x.y{c}: z\n",
    "Traceback (most recent call last):{c}", "Traceback (most recent call last):\n{c}",
    "Error (x):{c}", "'a':b{c}", "  {c}", "{c}  \n",
]
ASCII_CONTEXT_LINES = [t.format(c=chr(i)) for t in CONTEXTS for i in range(128)]


def python_masks(lines) -> np.ndarray:
    return np.array(
        [[line is not None and bool(rx.search(line)) for rx in RULES.compiled] for line in lines],
        dtype=bool,
    ).reshape(len(lines), RULES.n_patterns)


def python_tables(mask):
    """(G, B) rows for one line, straight from the rule order."""
    def first(s):
        return next((to for pid, to in RULES.by_state[s] if mask[pid]), -1)

    to1 = [first(s) for s in range(N_STATES)]
    retry = START if to1[START] < 0 else to1[START]
    return [t if t >= 0 else retry for t in to1], [t >= 0 for t in to1]


def assert_equivalent(lines):
    arr = pa.array(lines, pa.string())
    want = python_masks(lines)
    bits = match_bits(arr, RULES)
    got = ((bits[:, None] >> np.arange(RULES.n_patterns, dtype=np.uint64)) & np.uint64(1)).astype(bool)
    for j, pat in enumerate(RULES.patterns):
        bad = [lines[i] for i in np.flatnonzero(got[:, j] != want[:, j])]
        assert not bad, f"pattern {pat!r} disagrees with re on {bad[:5]!r}"

    codes, uniques = encode(arr)
    cls, g_tab, b_tab = classify_encoded(codes, uniques, RULES)
    for i, line in enumerate(lines):
        if line is None:
            assert cls[i] == NIL_CLS
            continue
        g, b = python_tables(want[i])
        assert g_tab[cls[i]].tolist() == g, line
        assert b_tab[cls[i]].tolist() == b, line


def test_fixture_catalogue():
    assert_equivalent(FIXTURE_LINES)


def test_fused_stage_line_pool():
    assert_equivalent(list(LINE_POOL))


def test_ascii_characters_in_every_context():
    assert_equivalent(ASCII_CONTEXT_LINES)


def test_non_ascii_lines_take_the_re_fallback():
    assert not any(pc.string_is_ascii(pa.array(NON_ASCII)).to_pylist())
    assert_equivalent(NON_ASCII + ["panic: x\n", "#3 x(y)\n"])


def test_classify_wrapper_nulls_and_all_null_batch():
    cls, g_tab, b_tab = classify(pd.Series(["panic: x\n", None, np.nan, "panic: x\n"], dtype=object), RULES)
    assert cls[1] == cls[2] == NIL_CLS and cls[0] == cls[3] >= 0
    cls, g_tab, b_tab = classify(pd.Series([None, None], dtype=object), RULES)
    assert (cls == NIL_CLS).all() and g_tab.shape == (1, N_STATES)


_FRAGMENTS = sorted({ln for ln in FIXTURE_LINES if len(ln) < 80} | {
    "Traceback (most recent call last):", "panic: ", "goroutine 1 [running]:",
    "Stack trace:", "#0 ", "thrown in ", "created by ", "Unhandled exception:",
    "--- End of inner exception stack trace ---", "Caused by:", "... 3 more",
    ".rb:12:in `", "Error (x):", "<asynchronous suspension>", "'a':b", "^",
})
_EDGE = "\t\n\x0b\x0c\r \x1c\x1d\x1e\x1f\x00\x7f.:()[]#_-$^'`09aZ\xa0 ٣é\x85"


@settings(max_examples=200, deadline=None)
@given(
    st.lists(
        st.lists(
            st.one_of(st.sampled_from(_FRAGMENTS), st.text(alphabet=_EDGE, max_size=4)),
            max_size=5,
        ).map("".join),
        min_size=1,
        max_size=30,
    )
)
def test_hypothesis_line_pool(lines):
    assert_equivalent(lines)
