"""Vectorized per-line multi-pattern classification (SURVEY.md O5).

The reference tries each regex of the current FSM state per line
(exception_detector.rb:236-245).  Here classification is *context-free* and
runs once per DISTINCT line: callers hand over the Arrow dictionary of a
dictionary-encoded text column, and each pattern of the rule set (53 under
``languages=all``; at most 64) is one Arrow C++ RE2
``match_substring_regex`` pass over that dictionary (unanchored search ≡
Ruby ``=~``).  ``rules.to_re2`` makes RE2 agree with Python ``re`` on ASCII
lines; the few non-ASCII dictionary entries, where the engines' Unicode
classes differ, are matched with the compiled ``re`` patterns instead.

Each line's matches pack into one ``uint64`` bitmask (bit ``j`` = pattern
``j``), and the distinct masks are interned with an integer ``np.unique``.
Each distinct mask then yields one row of the dense transition tables

* ``G[k, s]`` — state after a line of mask-class ``k`` arrives in state ``s``
  (including the reset-and-retry fallback of exception_detector.rb:206-212);
* ``B[k, s]`` — whether the *first* transition matched (``trace_seen_before``).

The tables for all distinct masks are built together, one numpy pass per
rule, so no per-mask cache is needed.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc

from ..rules import N_STATES, START, CompiledRules

NIL_CLS = -1  # mask class of null/absent messages


def encode(arr: pa.Array) -> tuple[np.ndarray, pa.Array]:
    """Dictionary-encode a string array: ``(codes, dictionary)`` with int64
    codes, -1 for nulls."""
    enc = pc.dictionary_encode(arr)
    return enc.indices.fill_null(-1).to_numpy(zero_copy_only=False).astype(np.int64), enc.dictionary


def match_bits(lines: pa.Array, rules: CompiledRules) -> np.ndarray:
    """Per-line match bitmask: bit ``j`` of entry ``i`` is set iff
    ``rules.patterns[j]`` matches ``lines[i]`` (unanchored search, Python
    ``re`` semantics).  Nulls match nothing."""
    bits = np.zeros(len(lines), dtype=np.uint64)
    for j, pat in enumerate(rules.re2):
        hit = pc.match_substring_regex(lines, pat).fill_null(False)
        bits |= hit.to_numpy(zero_copy_only=False).astype(np.uint64) << np.uint64(j)
    ascii_ = pc.string_is_ascii(lines).fill_null(True).to_numpy(zero_copy_only=False)
    non_ascii = np.flatnonzero(~ascii_)
    for i, line in zip(non_ascii, lines.take(pa.array(non_ascii)).to_pylist()):
        bits[i] = sum(1 << j for j, rx in enumerate(rules.compiled) if rx.search(line))
    return bits


def _tables(masks: np.ndarray, rules: CompiledRules):
    """``(G, B)`` rows for each packed mask in ``masks``."""
    k = len(masks)
    hit = ((masks[:, None] >> np.arange(rules.n_patterns, dtype=np.uint64)) & np.uint64(1)).astype(bool)

    def first_match(s):
        # per-state rule order is priority order: assign in reverse so the
        # first matching rule of state s wins
        to = np.full(k, -1, dtype=np.int8)
        for pid, to_state in reversed(rules.by_state[s]):
            to[hit[:, pid]] = to_state
        return to

    # first matching rule of start_state (for the retry path)
    retry_to = first_match(START)
    retry_to[retry_to < 0] = START
    g_tab = np.empty((k, N_STATES), dtype=np.int8)
    b_tab = np.empty((k, N_STATES), dtype=bool)
    for s in range(N_STATES):
        to1 = first_match(s)
        b_tab[:, s] = to1 >= 0
        g_tab[:, s] = np.where(to1 >= 0, to1, retry_to)
    return g_tab, b_tab


def classify_encoded(codes: np.ndarray, uniques: pa.Array, rules: CompiledRules):
    """Classify pre-interned lines: ``codes`` maps each row to its distinct
    line in the Arrow string array ``uniques`` (-1 = null).  The patterns run
    once per distinct line, inside Arrow, so callers that already hold a
    dictionary encoding (the Arrow scan stage, the pre-pass) never
    materialize lines as Python strings."""
    bits = match_bits(uniques, rules)
    if len(bits) == 0:
        # all-null batch: keep one no-match class so downstream clip-indexing
        # of the tables stays valid (every row is NIL_CLS anyway)
        bits = np.zeros(1, dtype=np.uint64)
    masks, inverse = np.unique(bits, return_inverse=True)
    g_tab, b_tab = _tables(masks, rules)
    per_unique = inverse.astype(np.int32)
    cls = np.where(codes >= 0, per_unique[np.clip(codes, 0, None)], NIL_CLS).astype(np.int32)
    return cls, g_tab, b_tab


def classify(texts: pd.Series, rules: CompiledRules):
    """Classify a batch of lines.

    Returns ``(cls, G, B)`` where ``cls`` is the per-line mask class
    (``NIL_CLS`` for nulls) and ``G``/``B`` are indexed by class id.  A thin wrapper over ``classify_encoded``: log streams repeat
    lines heavily (identical stack frames, blank lines), so the lines are
    dictionary-encoded in Arrow first.
    """
    codes, uniques = encode(pa.array(texts, type=pa.string(), from_pandas=True))
    return classify_encoded(codes, uniques, rules)
