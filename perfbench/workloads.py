"""Seeded transcript workloads and their oracle-derived expected outputs.

Each workload is written as parquet twice: ``table/`` (conversation-hashed
files sorted by (conv_id, turn_idx), the batch layout ``bench.py`` uses) and
``slices/`` (equal turn-slice files of the same conversations, with strictly
increasing modification times, replayed one file per micro-batch by the
streaming op).  The engine sees only these files.

The seed permutes which scenario each conversation plays and every id token
(conversation ids and the line ids of ``distinct_lines``).  Scenario counts
stay fixed, so the expected outputs and the amount of work do not depend on
the seed.  Expected outputs come from the plain-Python oracle
(``oracle.Accumulator``), never from Spark:

* batch ops: every record of ``run_plain`` over each scenario's line list and
  over one long conversation, multiplied by the conversation counts;
* streaming op: only records the oracle emits *before* the final
  ``force_flush``, because open final segments stay in streaming state.
"""

from __future__ import annotations

import os
from collections import Counter
from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

from fluent_plugin_detect_exceptions_spark import fixtures as fx
from fluent_plugin_detect_exceptions_spark.oracle import Accumulator
from fluent_plugin_detect_exceptions_spark.sources.transcripts import (
    BASE_EPOCH,
    N_SCENARIOS,
    scenario_lines,
)

import ops

#: id alphabet without vowels or digits, so an id never spells a word or a
#: number that a rule reads ("at", "panic", "more", "\d+")
ID_ALPHABET = np.frombuffer(b"bcdfghjklmnpqrstvwxz", dtype=np.uint8)
ID_WIDTH = 6  # 20**6 = 64M distinct ids

#: Per workload: scenario conversations, scenario repeats, long
#: conversations and their turns, ids on lines, stream slice files,
#: conversations per scenario in the streaming op's input, and the wall
#: seconds of one timed round (a routed and a counts op) on the 4-core
#: reference machine, which sets how many rounds ``--seconds`` buys.
SHAPES = {
    "skew_mix": dict(convs=800, repeats=2, long_convs=1, long_turns=4 * 16_400,
                     line_ids=False, slices=4, stream_per_scn=10, round_s=7.1),
    "distinct_lines": dict(convs=2_000, repeats=2, long_convs=0, long_turns=0,
                           line_ids=True, slices=4, stream_per_scn=10, round_s=9.6),
}
#: The warm-up input: the same workload cut to 100 conversations, and its
#: long conversations to 20,000 turns, still past ``chunk_size``, so the
#: warm-up ops run every code path of the timed ones.
WARM_UP = dict(convs=100, long_turns=20_000)


@dataclass
class Expected:
    sinks: dict
    n_lines: int


@dataclass
class Workload:
    name: str
    table_dir: str
    slices_dir: str
    n_rows: int
    round_s: float
    stream_rows: int
    n_convs: int
    batch: Expected
    stream: Expected
    props: dict = field(default_factory=dict)


def _ids(rng: np.random.Generator, n: int) -> np.ndarray:
    """``n`` distinct fixed-width id tokens, order set by ``rng``."""
    perm = rng.permutation(n).astype(np.int64)
    digits = (perm[:, None] // (20 ** np.arange(ID_WIDTH, dtype=np.int64))) % 20
    return ID_ALPHABET[digits].view(f"S{ID_WIDTH}").ravel().astype(str)


def _oracle(lines) -> tuple[list, int]:
    """The oracle's records for one conversation, and how many of them it
    emits before the final flush."""
    cfg = ops.CFG
    acc = Accumulator(None, cfg.languages, cfg.force_line_breaks, cfg.max_lines,
                      cfg.max_bytes, rules=ops.RULES)
    for i, line in enumerate(lines):
        acc.push(i, line)
    n_before_flush = len(acc.out)
    acc.force_flush()
    return acc.out, n_before_flush


def _add(total: Expected, records, times: int) -> None:
    for e in records:
        sink = f"lang_{e.lang}" if e.lang else "passthrough"
        total.sinks[sink] = total.sinks.get(sink, 0) + times
        total.n_lines += e.n_lines * times


def _group_batch_max(n_lines: int, starts: list[int], n_slices: int) -> tuple[int, int]:
    """Most rows, and most segment starts, that one conversation brings to
    one micro-batch (slice ``k`` holds turns ``t`` with ``t * n // len == k``)."""
    rows = np.bincount(np.arange(n_lines) * n_slices // n_lines, minlength=n_slices)
    segs = np.bincount(np.asarray(starts) * n_slices // n_lines, minlength=n_slices)
    return int(rows.max()), int(segs.max())


def _long_lines(n: int) -> list[str]:
    """The skewed tail of ``sources.transcripts.skewed_tail``: repeated Java
    traces with a plain line between repetitions."""
    block = fx.lines(fx.JAVA_EXC) + ["no trace here\n"]
    return [block[t % len(block)] for t in range(n)]


def _id_slots(lines: list[str], rules) -> list[int]:
    """Per line: 0 = no id, 1 = id after the first ``at `` (stack frames),
    2 = id before the trailing newline (other lines).  A slot is used only
    where the line matches exactly the same rule patterns with and without
    ids, so the classification, and hence every record apart from its text,
    is unchanged."""

    def mask(s):
        return tuple(bool(p.search(s)) for p in rules.compiled)

    samples = ("bbbbbb", "zzzzzz", "qxtmrw")
    slots = []
    for line in lines:
        slot = 0
        if line.endswith("\n") and line.strip():
            kind = 1 if line.lstrip(" \t").startswith("at ") else 2
            base = mask(line)
            if all(mask(_with_id(line, kind, s)) == base for s in samples):
                slot = kind
        slots.append(slot)
    return slots


def _text_free(lines) -> list[tuple]:
    """The oracle's records for one conversation, apart from their text."""
    return [(e.ts, e.lang, e.n_lines) for e in _oracle(lines)[0]]


def _with_id(line: str, kind: int, tok: str) -> str:
    if kind == 1:
        i = line.index("at ") + 3
        return f"{line[:i]}{tok}.{line[i:]}"
    return f"{line[:-1]} {tok}\n"


def build(name: str, seed: int, root: str, warm_up: bool = False) -> Workload:
    """Generate workload ``name`` for ``seed`` under ``root``, or its
    warm-up input."""
    shape = SHAPES[name]
    if warm_up:
        shape = dict(shape, convs=WARM_UP["convs"],
                     long_turns=min(shape["long_turns"], WARM_UP["long_turns"]))
    rng = np.random.default_rng(seed)
    per_scn: dict[int, list[str]] = {}
    for sid, _turn, text in scenario_lines(shape["repeats"]):
        per_scn.setdefault(sid, []).append(text)

    n_convs = shape["convs"]
    scn_of = rng.permutation(np.arange(n_convs) % N_SCENARIOS)
    conv_tok = _ids(rng, n_convs + shape["long_convs"])
    conv_ids = [f"conv.{t}" for t in conv_tok[:n_convs]]
    long_ids = [f"conv.long.{t}" for t in conv_tok[n_convs:]]

    # the streaming op replays the long conversations and the first
    # ``stream_per_scn`` conversations of every scenario
    rank = np.zeros(n_convs, dtype=np.int64)
    seen = Counter()
    for c, sid in enumerate(scn_of.tolist()):
        rank[c] = seen[sid]
        seen[sid] += 1
    in_stream = rank < shape["stream_per_scn"]

    # expected outputs: one oracle run per scenario (and one long conversation)
    batch, stream = Expected({}, 0), Expected({}, 0)
    long_lines = _long_lines(shape["long_turns"])
    convs = [(lines, seen[sid], shape["stream_per_scn"]) for sid, lines in per_scn.items()]
    if shape["long_convs"]:
        convs.append((long_lines, shape["long_convs"], shape["long_convs"]))
    gb_rows = gb_segs = 0
    for lines, times, stream_times in convs:
        records, n_before_flush = _oracle(lines)
        _add(batch, records, times)
        _add(stream, records[:n_before_flush], stream_times)
        r, g = _group_batch_max(len(lines), [e.ts for e in records], shape["slices"])
        gb_rows, gb_segs = max(gb_rows, r), max(gb_segs, g)
    props = {"rows_per_group_batch_max": gb_rows, "segments_per_group_batch_max": gb_segs}

    # rows, conversation by conversation
    if shape["line_ids"]:
        slots = {sid: _id_slots(lines, ops.RULES) for sid, lines in per_scn.items()}
        n_slots = sum(sum(k > 0 for k in slots[sid]) for sid in scn_of.tolist())
        line_tok = iter(_ids(rng, n_slots).tolist())
    checked = set()
    conv_col, turn_col, text_col = [], [], []
    for c, sid in enumerate(scn_of.tolist()):
        lines = per_scn[sid]
        if shape["line_ids"]:
            lines = [_with_id(t, k, next(line_tok)) if k else t for t, k in zip(lines, slots[sid])]
            if sid not in checked:
                # generator invariant: ids change no record apart from its text
                if _text_free(lines) != _text_free(per_scn[sid]):
                    raise RuntimeError(f"line ids changed the records of scenario {sid}")
                checked.add(sid)
        conv_col.extend([conv_ids[c]] * len(lines))
        turn_col.extend(range(len(lines)))
        text_col.extend(lines)
    for cid in long_ids:
        conv_col.extend([cid] * len(long_lines))
        turn_col.extend(range(len(long_lines)))
        text_col.extend(long_lines)

    turn = np.asarray(turn_col, dtype=np.int32)
    n = len(turn)
    conv = pa.array(conv_col, pa.string())
    tbl = pa.table(
        {
            "conv_id": conv,
            "turn_idx": pa.array(turn),
            "role": pa.array(np.where(turn % 2 == 0, "user", "assistant")),
            "text": pa.array(text_col, pa.string()),
            "tool": pa.array(np.char.add("tool", (turn % 3).astype(str))),
            "ts": pa.array((BASE_EPOCH + turn.astype(np.int64)) * 1_000_000,
                           pa.timestamp("us", tz="UTC")),
        }
    )
    props["distinct_ratio"] = pc.count_distinct(tbl.column("text")).as_py() / n
    props["max_turns_per_conv"] = int(max(shape["long_turns"], max(map(len, per_scn.values()))))

    conv_codes = pc.dictionary_encode(conv).indices.to_numpy()
    conv_len = np.bincount(conv_codes)[conv_codes]
    sub = os.path.join(root, name, "warm_up" if warm_up else "")
    table_dir = os.path.join(sub, "table")
    slices_dir = os.path.join(sub, "slices")
    _write_table(tbl, conv_codes % 8, table_dir)
    streamed = np.append(in_stream, np.ones(len(long_ids), dtype=bool))[conv_codes]
    slice_of = np.where(streamed, turn.astype(np.int64) * shape["slices"] // conv_len, -1)
    _write_slices(tbl, slice_of, shape["slices"], slices_dir)
    return Workload(
        name=name, table_dir=table_dir, slices_dir=slices_dir, n_rows=n,
        round_s=shape["round_s"],
        stream_rows=int(streamed.sum()),
        n_convs=n_convs + shape["long_convs"],
        batch=batch,
        stream=stream,
        props=props,
    )


def _write_table(tbl: pa.Table, part: np.ndarray, out: str) -> None:
    """One file per conversation hash, sorted by (conv_id, turn_idx)."""
    os.makedirs(out, exist_ok=True)
    for p in np.unique(part):
        t = tbl.filter(pa.array(part == p))
        t = t.sort_by([("conv_id", "ascending"), ("turn_idx", "ascending")])
        pq.write_table(t, os.path.join(out, f"part-{int(p):05d}.parquet"))


def _write_slices(tbl: pa.Table, slice_of: np.ndarray, n_slices: int, out: str) -> None:
    """One file per turn slice, modification times one second apart, so the
    file source replays them in turn order whatever the listing order."""
    os.makedirs(out, exist_ok=True)
    t0 = BASE_EPOCH
    for k in range(n_slices):
        path = os.path.join(out, f"slice-{k:03d}.parquet")
        pq.write_table(tbl.filter(pa.array(slice_of == k)), path)
        os.utime(path, (t0 + k, t0 + k))
