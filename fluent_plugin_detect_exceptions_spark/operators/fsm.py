"""Exact FSM-as-scan segmentation core (pure numpy, no Spark).

Reimplements, fully vectorized, the observable semantics of the reference's
per-stream loop (``TraceAccumulator#push`` — exception_detector.rb:278-292):

* per-line transition functions ``g_i : S → S`` (from the classify tables)
  composed per block by tree reduction — function composition over the
  27-state domain is associative — then walked in lockstep from the known
  entry state (``_trajectory``), so states for a whole window come out of
  vectorized gathers with **no per-row Python** (SURVEY §7.3);
* the four detection statuses from ``(matched_before, state_after != start)``
  (exception_detector.rb:206-225);
* buffer semantics → start-of-block flags: a segment starts at a row iff its
  status is no_trace/start_trace, the previous row's status was
  no_trace/end_trace, or a forced flush precedes it (update_buffer table,
  exception_detector.rb:335-356);
* limits via a *repair loop*: max_bytes pre-check / max_lines post-check
  (exception_detector.rb:284-291) insert a forced flush + FSM reset at the
  earliest violation, and the scan restarts from that row (the only place FSM
  output feeds back into its input — SURVEY §7.4);
* idle-timeout flush (out_detect_exceptions.rb:116-132) as its batch
  analogue: an event-time gap greater than the flush interval forces a flush
  + reset before the row (SURVEY O13);
* nil messages: FSM reset; record passes through when the buffer is empty and
  is dropped otherwise (exception_detector.rb:279-283, :349-351).

The scan is windowed (``WINDOW`` rows) with carried entry state and carried
open-buffer counters, so cost is ``O(n·|S|)`` regardless of how many
limit violations occur.
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np

from ..rules import START

NO_TRACE = 0
START_TRACE = 1
INSIDE_TRACE = 2
END_TRACE = 3

WINDOW = 8192


@dataclass
class ScanCarry:
    """FSM + buffer state at a scan boundary (used by the streaming path to
    persist per-conversation state across micro-batches)."""

    state: int = START
    open: bool = False
    count: int = 0
    bytes: int = 0
    prev_status: int = NO_TRACE


@dataclass
class ScanResult:
    status: np.ndarray      # int8, one of the four statuses
    state_after: np.ndarray  # int8 FSM state after the row
    seg_start: np.ndarray   # bool, start-of-block flag
    emit: np.ndarray        # bool, False only for dropped nil-message rows
    carry: ScanCarry | None = None  # state after the last row


_TRAJ_BLOCK = 128  # power of two; python steps/window = block + n/block


def _trajectory(gw: np.ndarray, entry: int) -> np.ndarray:
    """State after each row given the known entry state:
    ``sa[i] = (g_i ∘ … ∘ g_0)(entry)``.

    r6 rewrite of the scan's hot loop (guide §1.2 "the distributed
    algorithm" applied per task): the Hillis–Steele prefix composition
    computed ``sa`` for ALL |S| entry states at O(|S|·n·log n) gather
    traffic, but the scan only ever reads the single known-entry column.
    Here: (1) per-block TOTAL compositions by pairwise tree reduction —
    O(|S|·n) gathers; (2) a ~n/B-step Python walk composes block entries;
    (3) all blocks' single-state trajectories advance in LOCKSTEP — B
    vectorized steps of one 1-byte gather per block.  Bit-identical to
    column ``entry`` of the prefix composition (differential-tested against
    the Hillis–Steele reference in tests/test_fsm.py); measured ~7× less
    time than the prefix form on the bench partitions."""
    w, n_states = gw.shape
    if w == 0:
        return np.empty(0, dtype=np.int8)
    B = _TRAJ_BLOCK
    nb = -(-w // B)
    if nb == 1:
        # tiny window: walk it directly (B python steps either way)
        sa = np.empty(w, dtype=np.int8)
        s = int(entry)
        for i in range(w):
            s = gw[i, s]
            sa[i] = s
        return sa
    pad = nb * B - w
    if pad:
        ident = np.broadcast_to(
            np.arange(n_states, dtype=gw.dtype), (pad, n_states)
        )
        g = np.concatenate([gw, ident]).reshape(nb, B, n_states)
    else:
        g = gw.reshape(nb, B, n_states)
    # (1) block totals: compose adjacent pairs until one function per block
    t = g
    m = B
    while m > 1:
        even = t[:, 0::2]
        odd = t[:, 1::2]
        t = np.take_along_axis(odd, even.astype(np.intp), axis=2)
        m //= 2
    totals = t[:, 0]  # (nb, n_states)
    # (2) entry state of each block: short sequential walk
    entries = np.empty(nb, dtype=np.int64)
    e = int(entry)
    for k in range(nb):
        entries[k] = e
        e = int(totals[k, e])
    # (3) all blocks advance one row per step, in lockstep
    sa = np.empty((nb, B), dtype=np.int8)
    rows = np.arange(nb)
    s = entries
    for j in range(B):
        s = g[:, j][rows, s]
        sa[:, j] = s
    return sa.reshape(-1)[:w]


def scan(
    cls: np.ndarray,
    g_tab: np.ndarray,
    b_tab: np.ndarray,
    rawlen: np.ndarray,
    has_nl: np.ndarray,
    gap_reset: np.ndarray,
    *,
    force_line_breaks: bool = False,
    max_lines: int = 0,
    max_bytes: int = 0,
    entry_carry: ScanCarry | None = None,
) -> ScanResult:
    """Scan one ordered stream (rows pre-sorted by turn order).

    ``cls`` uses ``NIL_CLS``(-1) for null messages; ``gap_reset[i]`` marks
    rows preceded by an event-time gap exceeding the flush interval.
    Default entry is start_state with an empty buffer (batch callers start
    scans at conversation starts or synchronization points, where this
    holds); the streaming path passes the previous micro-batch's carry.
    """
    n = len(cls)
    status = np.zeros(n, dtype=np.int8)
    state_after = np.zeros(n, dtype=np.int8)
    seg_start = np.zeros(n, dtype=bool)
    emit = np.ones(n, dtype=bool)
    ec = entry_carry or ScanCarry()
    if n == 0:
        return ScanResult(status, state_after, seg_start, emit, ScanCarry(**vars(ec)))

    nil = cls < 0
    forced = gap_reset.astype(bool).copy()  # repair loop adds entries

    pos = 0
    entry = ec.state
    carry_count = ec.count   # messages in the open buffer before `pos`
    carry_bytes = ec.bytes
    carry_prev_status = ec.prev_status
    carry_open = ec.open

    while pos < n:
        end = min(n, pos + WINDOW)
        w = end - pos
        csl = cls[pos:end]
        nl = nil[pos:end]
        fr = forced[pos:end]

        safe_cls = np.clip(csl, 0, None)
        gw = g_tab[safe_cls]
        if nl.any():
            gw[nl] = START
        rr = fr & ~nl
        if rr.any():
            # forced flush+reset: the row transitions from start_state
            gw[rr] = gw[rr, START][:, None]

        sa = _trajectory(gw, entry)
        sb = np.empty(w, dtype=np.int8)
        sb[0] = entry
        sb[1:] = sa[:-1]
        # matched without materializing the (w, |S|) B matrix (r6): gather
        # b_tab at (class, state-before) directly, then apply the same
        # overrides the old bw rows received — nil rows never match, forced
        # rows match as if entered from start_state.
        matched = b_tab[safe_cls, sb]
        if nl.any():
            matched[nl] = False
        if rr.any():
            matched[rr] = b_tab[safe_cls[rr], START]
        inside = sa != START
        st = np.where(
            matched,
            np.where(inside, INSIDE_TRACE, END_TRACE),
            np.where(inside, START_TRACE, NO_TRACE),
        ).astype(np.int8)

        # ---- buffer simulation ------------------------------------------
        adds = ~nl
        prev_st = np.empty(w, dtype=np.int8)
        prev_st[0] = carry_prev_status
        prev_st[1:] = st[:-1]
        prev_emptied = (prev_st == NO_TRACE) | (prev_st == END_TRACE)
        if w > 0:
            prev_emptied[0] = not carry_open
        # buffer empty immediately before this row's add
        r = (st == START_TRACE) | (st == NO_TRACE) | prev_emptied | fr

        idx = np.arange(w)
        last_r = np.maximum.accumulate(np.where(r, idx, -1))
        cum_adds = np.cumsum(adds)
        cum_adds_before = np.concatenate(([0], cum_adds[:-1]))
        base_counts = np.where(
            last_r >= 0, cum_adds_before[np.clip(last_r, 0, None)], -carry_count
        )
        count_after = cum_adds - base_counts
        count_before = count_after - adds

        if force_line_breaks:
            extra = (~has_nl[pos:end]) & adds & (count_before > 0)
            add_len = rawlen[pos:end] + extra
        else:
            add_len = rawlen[pos:end]
        cum_len = np.cumsum(np.where(adds, add_len, 0))
        cum_len_before = np.concatenate(([0], cum_len[:-1]))
        base_bytes = np.where(
            last_r >= 0, cum_len_before[np.clip(last_r, 0, None)], -carry_bytes
        )
        bytes_after = cum_len - base_bytes

        open_after = ((st == INSIDE_TRACE) | (st == START_TRACE)) & ~nl
        s_prev = np.empty(w, dtype=np.int64)
        s_prev[0] = carry_bytes if carry_open else 0
        s_prev[1:] = np.where(open_after[:-1], bytes_after[:-1], 0)
        s_prev[fr] = 0  # a forced flush already emptied the buffer

        # ---- limit violations (repair loop) -----------------------------
        # q = position where a forced flush+reset must be inserted (None if
        # no violation).  max_bytes acts *before* its row; max_lines *after*.
        q = None
        if max_bytes > 0:
            vb = (~nl) & (s_prev > 0) & (s_prev + rawlen[pos:end] > max_bytes) & ~fr
            hits = np.flatnonzero(vb)
            if hits.size:
                q = int(hits[0])
        if max_lines > 0:
            vl = open_after & (count_after == max_lines)
            hits = np.flatnonzero(vl[: q if q is not None else w])
            if hits.size:
                q = min(q, int(hits[0]) + 1) if q is not None else int(hits[0]) + 1

        commit = w if q is None else min(q, w)
        sl = slice(pos, pos + commit)
        status[sl] = st[:commit]
        state_after[sl] = sa[:commit]
        # start-of-block flag (SURVEY O8): own status starts a block, the
        # previous row's status closed one, or a forced flush precedes us.
        pe = (prev_st == NO_TRACE) | (prev_st == END_TRACE)
        flags = (st == NO_TRACE) | (st == START_TRACE) | pe | fr
        seg_start[sl] = flags[:commit]
        # nil rows pass through only when the buffer was empty before them
        be_before = np.empty(w, dtype=bool)
        be_before[0] = (not carry_open) or bool(fr[0])
        be_before[1:] = ~open_after[:-1] | fr[1:]
        emit[sl] = (~nl | be_before)[:commit]

        if commit > 0:
            entry = int(sa[commit - 1])
            carry_prev_status = int(st[commit - 1])
            carry_open = bool(open_after[commit - 1])
            carry_count = int(count_after[commit - 1]) if carry_open else 0
            carry_bytes = int(bytes_after[commit - 1]) if carry_open else 0
        pending_reset = False
        if q is not None:
            if pos + q < n:
                # forced flush + reset at absolute position pos+q; if it
                # falls inside this window we rescan from it, otherwise the
                # next window's first row picks it up (fr overrides the stale
                # open-buffer carries: r/s_prev/be_before all honor `forced`).
                forced[pos + q] = True
            else:
                pending_reset = True  # violation effect lands after the data
        pos += commit

    if pending_reset:
        entry, carry_open, carry_count, carry_bytes = START, False, 0, 0
        carry_prev_status = NO_TRACE
    out_carry = ScanCarry(
        state=entry,
        open=carry_open,
        count=carry_count,
        bytes=carry_bytes,
        prev_status=carry_prev_status,
    )
    return ScanResult(status, state_after, seg_start, emit, out_carry)


def subset_sync(cls: np.ndarray, g_tab: np.ndarray) -> int:
    """Last warm-up index after which the FSM state is provably start_state
    (and hence the buffer empty) under EVERY possible history, or -1.

    NFA-style subset simulation: track the set of reachable states assuming
    (a) the entry state is unknown and (b) a forced flush+reset (timeout /
    max_lines / max_bytes) may have occurred before ANY row — so start_state
    is re-injected into the set at every step.  When the set collapses to
    exactly {start_state} after row j, the scan from j+1 with entry=start and
    an empty buffer is exact regardless of the true history: any status that
    leaves state==start also empties the buffer (no_trace / end_trace both
    flush — exception_detector.rb:335-356).

    Single universally-absorbing lines rarely exist under languages=all
    (python_code / dart_* states accept arbitrary lines), but 2-3 plain lines
    in sequence collapse the set — which is why this runs over the whole
    warm-up window.  Cost: O(warmup · |S|) with a tiny python loop over
    warm-up rows only (never body rows).
    """
    n = len(cls)
    n_states = g_tab.shape[1]
    start_bit = 1 << START
    full = (1 << n_states) - 1
    # per-class target list for bit iteration
    glist = g_tab.tolist()
    memo: dict[tuple[int, int], int] = {}
    s_mask = full
    last = -1
    for i in range(n):
        c = int(cls[i])
        if c < 0:
            s_mask = start_bit
            last = i
            continue
        key = (c, s_mask)
        nxt = memo.get(key)
        if nxt is None:
            m = s_mask | start_bit  # a forced reset may precede any row
            g = glist[c]
            nxt = 0
            b = 0
            while m:
                if m & 1:
                    nxt |= 1 << g[b]
                m >>= 1
                b += 1
            memo[key] = nxt
        s_mask = nxt
        if s_mask == start_bit:
            last = i
    return last
