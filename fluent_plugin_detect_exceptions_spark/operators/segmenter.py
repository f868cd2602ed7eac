"""Distributed segmentation operator (SURVEY.md O3/O6/O8/O10/O11/O13/O18).

Turns the transcripts DataFrame into per-segment *partials* with a
bounded-shuffle, skew-proof plan:

1. **Salted chunking** (north rule): ``chunk_id = turn_idx div C`` spreads a
   huge conversation across executors.  Rows in each chunk-boundary zone (the
   last ``warmup`` turns before a boundary) are duplicated into the next
   chunk as warm-up via a JVM-side ``explode`` — single scan, whole-stage
   codegen, no Python.
2. **Synchronization**: a chunk scan is exact despite its unknown FSM entry
   state and unknown carried buffer because the warm-up contains a
   *synchronization point* — a row after which subset simulation proves the
   state is start_state and the buffer empty under every possible history
   (``fsm.subset_sync``).  Each chunk group reports a failed proof as
   ``sync_ok=False``; a cheap pre-pass over only the boundary zones finds
   the conversations with an unsynchronizable warm-up (wall-to-wall stack
   traces), which are processed whole (chunk 0).  Lazy plans run it up
   front (``chunk_plan``); eager consumers run it only after a chunk fails
   to sync (``run_verified``).
3. **Partition-level scan**: ``repartition(conv[, chunk])`` + ``mapInArrow``.
   Each partition arrives as one Arrow table; its text is dictionary-encoded
   once and classified per DISTINCT line in Arrow C++ (log data repeats
   lines heavily), the rows are ordered by an integer lexsort, and all
   groups are scanned ONCE: group runs are gathered into a single
   contiguous array with forced resets at group starts, so there is no
   per-group Python overhead and no per-row Python anywhere (north rule).

Output: one row per segment partial (a segment's emitted body rows within
one chunk) — ``seg_start_turn`` (the running-maximum-of-flagged-turns form
of the running-sum segment id, which stitches segments across chunk
boundaries with no per-conversation window), ``part_min_turn``,
``n_part``, ``text_part``, ``lang_id``, ``sync_ok`` and the first row's
ride-along columns.  ``coalesce.coalesce_partials`` stitches them.
"""

from __future__ import annotations

import dataclasses

import numpy as np
from pyspark.sql import DataFrame, functions as F
from pyspark.sql.types import (
    BooleanType,
    ByteType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from ..config import PipelineConfig
from ..functions.classify import classify_encoded, encode
from ..rules import FAMILIES, STATE_FAMILY, STATES, CompiledRules, compile_rules
from . import fsm

FAMILY_ID = {fam: i for i, fam in enumerate(FAMILIES)}
#: per-state family id; -1 for start_state / no family
STATE_FAMILY_ID = np.array(
    [FAMILY_ID.get(STATE_FAMILY.get(s), -1) for s in STATES], dtype=np.int8
)

_TURN_OFFSET = np.int64(1) << 40  # group separator for the global cummax

#: cap on the driver-side fallback list of unsynchronizable conversations;
#: a longer list turns chunking off for the run
MAX_FALLBACK_CONVS = 10_000


def validate_input(columns, cfg: PipelineConfig) -> None:
    """Refuse an input schema that lacks a column the scan needs: the
    conversation, order and stream columns, and the event-time column when
    the gap flush is on.  Shared by every batch and streaming entry point."""
    if cfg.multiline_flush_interval is not None and cfg.ts_col not in columns:
        raise ValueError(
            f"multiline_flush_interval requires the event-time column "
            f"{cfg.ts_col!r}, which is missing from the input schema {columns}"
        )
    needed = [cfg.conv_col, cfg.order_col] + ([cfg.stream] if cfg.stream is not None else [])
    if any(c not in columns for c in needed):
        raise ValueError(f"input schema {columns} lacks {'/'.join(map(repr, needed))}")


def ride_along_cols(df_columns, cfg: PipelineConfig, msg_field: str | None) -> list[str]:
    """Columns that ride along unchanged (first-row semantics at flush)."""
    skip = {*cfg.group_keys(), cfg.order_col, "chunk_id", "__warmup", msg_field}
    return [c for c in df_columns if c not in skip]


def partial_schema(df_schema: StructType, cfg: PipelineConfig, msg_field: str | None,
                   emit_text: bool = True) -> StructType:
    """Output schema of the fused scan+coalesce stage: one row per segment
    *partial* (a segment's rows within one chunk).  ``emit_text=False``
    omits the combined-text column for counts-only consumers — a Python
    stage is opaque to Catalyst, so column pruning cannot reach inside it
    and the only way to not ship unused text back over the Arrow boundary
    is to not produce it (r6; guide §4.1)."""
    fields = [df_schema[k] for k in cfg.group_keys()]
    fields += [
        StructField("seg_start_turn", LongType(), False),
        StructField("part_min_turn", LongType(), False),
        StructField("n_part", LongType(), False),
    ]
    if emit_text:
        fields.append(StructField("text_part", StringType(), True))
    fields += [
        StructField("lang_id", ByteType(), False),
        StructField("sync_ok", BooleanType(), False),
    ]
    fields += [df_schema[c] for c in ride_along_cols(df_schema.names, cfg, msg_field)]
    return StructType(fields)


def _arrow_partial_schema(schema, cfg: PipelineConfig, msg_field: str | None,
                          emit_text: bool = True):
    """``partial_schema`` in Arrow types, derived from the stage's input
    table ``schema``: key and ride-along columns keep their input types."""
    import pyarrow as pa

    fields = [schema.field(k) for k in cfg.group_keys()]
    fields += [pa.field(c, pa.int64()) for c in ("seg_start_turn", "part_min_turn", "n_part")]
    if emit_text:
        fields.append(pa.field("text_part", pa.string()))
    fields += [pa.field("lang_id", pa.int8()), pa.field("sync_ok", pa.bool_())]
    fields += [schema.field(c) for c in ride_along_cols(schema.names, cfg, msg_field)]
    return pa.schema(fields)


def _int64_col(tbl, name: str) -> np.ndarray:
    """A non-null integer column as int64.  A null would cast to an
    undefined int64 and silently corrupt the group sort, so refuse it."""
    col = tbl.column(name)
    if col.null_count > 0:
        raise ValueError(f"column {name!r} has {col.null_count} null value(s); it must be non-null")
    return col.combine_chunks().to_numpy(zero_copy_only=False).astype(np.int64)


def _sorted_groups(tbl, keys: list[str], chunk: np.ndarray, turn: np.ndarray):
    """Order one partition by (keys, chunk, turn) and find its (keys, chunk)
    groups.  ``keys`` name key columns of any type, compared by their
    dictionary codes; ``chunk``/``turn`` are the int64 columns from
    ``_int64_col``.  The sort is integer index arithmetic only: no column is
    reordered.  Returns ``(order, starts, ends)`` — the sorting permutation
    and each group's ``[start, end)`` in sorted positions.

    The turn must be unique within a group: segments are named by their
    first turn, and the chunk stitch, the counts fast path and the slim
    rejoin all key on it, so two rows sharing a turn would merge into one
    segment and fan out its record.  Adjacent sorted rows of one group with
    the same turn raise ``ValueError``.  Warm-up rows never trip this: a
    chunk's warm-up turns all lie below its own turns."""
    n = tbl.num_rows
    group_keys = [chunk] + [encode(tbl.column(k).combine_chunks())[0] for k in reversed(keys)]
    order = np.lexsort((turn, *group_keys))
    new_group = np.ones(n, dtype=bool)
    if n > 1:
        same = np.ones(n - 1, dtype=bool)
        for k in group_keys:
            k_s = k[order]
            same &= k_s[1:] == k_s[:-1]
        new_group[1:] = ~same
        turn_s = turn[order]
        dup = np.flatnonzero(same & (turn_s[1:] == turn_s[:-1]))
        if len(dup):
            row = int(order[dup[0]])
            vals = tuple(tbl.column(k)[row].as_py() for k in keys)
            raise ValueError(
                f"duplicate order key: ({', '.join(keys)}) = {vals!r} has turn "
                f"{int(turn[row])} more than once; the order column must be unique "
                f"per (conv[, stream]), so dedupe the input on (conv[, stream], turn)"
            )
    starts = np.flatnonzero(new_group)
    return order, starts, np.append(starts[1:], n)


def _scan_partition_fused_arrow(tbl, cfg: PipelineConfig, rules: CompiledRules,
                                msg_field: str | None, emit_text: bool = True,
                                carry: tuple[fsm.ScanCarry, int | None] | None = None):
    """Arrow-native fused scan+coalesce: the hot stage of the pipeline.

    The strings stay dictionary-encoded in C++ and are classified and
    concatenated there (only non-ASCII distinct lines reach Python ``re``),
    row ordering is pure numpy index arithmetic, and ride-along columns are
    gathered with ``pyarrow.compute.take`` at segment-first positions only.

    A table without ``chunk_id``/``__warmup`` columns is unchunked: every
    row is chunk 0 and none is warm-up.

    ``carry`` continues a scan the previous call left off (the streaming
    path, one group per table): the FSM/buffer carry and the last event
    time in microseconds (None without a flush interval).  The first row is
    then not force-reset, its gap is measured against the carried time, and
    rows before the first segment start form a partial with
    ``seg_start_turn == -1``.  Returns ``(partials, out_carry)``; without
    ``carry`` the batch path ignores ``out_carry``."""
    import pyarrow as pa
    import pyarrow.compute as pc

    schema = _arrow_partial_schema(tbl.schema, cfg, msg_field, emit_text)
    n = tbl.num_rows
    if n == 0:
        return schema.empty_table(), carry

    names = tbl.schema.names
    turn = _int64_col(tbl, cfg.order_col)
    chunk = _int64_col(tbl, "chunk_id") if "chunk_id" in names else np.zeros(n, dtype=np.int64)
    warm = (
        tbl.column("__warmup").combine_chunks().to_numpy(zero_copy_only=False).astype(bool)
        if "__warmup" in names
        else np.zeros(n, dtype=bool)
    )

    # text: dictionary-encode once; classify / length / newline checks run
    # per DISTINCT line only
    if msg_field is not None:
        tcodes, uniq_arr = encode(tbl.column(msg_field).combine_chunks())
        ulen = pc.utf8_length(uniq_arr).fill_null(0).to_numpy(zero_copy_only=False).astype(np.int64)
        unl = pc.match_substring(uniq_arr, "\n").fill_null(False).to_numpy(zero_copy_only=False).astype(bool)
    else:
        tcodes = np.full(n, -1, dtype=np.int64)
        uniq_arr = pa.array([], pa.string())  # all codes are -1 (null)
        ulen = np.zeros(1, dtype=np.int64)
        unl = np.zeros(1, dtype=bool)
    cls_row, g_tab, b_tab = classify_encoded(tcodes, uniq_arr, rules)
    safe = np.clip(tcodes, 0, None)
    rawlen_row = np.where(tcodes >= 0, ulen[safe] if len(ulen) else 0, 0).astype(np.int64)
    hasnl_row = np.where(tcodes >= 0, unl[safe] if len(unl) else False, False).astype(bool)

    order, group_starts, group_ends = _sorted_groups(tbl, cfg.group_keys(), chunk, turn)
    warm_s = warm[order]
    cls_s = cls_row[order]

    scan_ranges = []
    sync_ok = np.ones(n, dtype=bool)  # in SORTED order
    for gs, ge in zip(group_starts, group_ends):
        nwarm = int(warm_s[gs:ge].sum())
        if nwarm == 0:
            if chunk[order[gs]] > 0:
                sync_ok[gs:ge] = False  # empty warm-up zone: unverifiable
            scan_ranges.append((gs, ge))
            continue
        j = fsm.subset_sync(cls_s[gs : gs + nwarm], g_tab)
        if j < 0:
            sync_ok[gs:ge] = False
            scan_ranges.append((gs + nwarm, ge))
        else:
            scan_ranges.append((gs + j + 1, ge))

    ranges = [(s, e) for s, e in scan_ranges if e > s]
    if not ranges:
        return schema.empty_table(), carry
    idx = np.concatenate([np.arange(s, e) for s, e in ranges])
    m = len(idx)
    first_of_group = np.zeros(m, dtype=bool)
    gidx = np.zeros(m, dtype=np.int64)
    pos = 0
    for gnum, (s, e) in enumerate(ranges):
        ln = e - s
        first_of_group[pos] = True
        gidx[pos : pos + ln] = gnum
        pos += ln

    orig = order[idx]  # positions in the ORIGINAL table
    rawlen = rawlen_row[orig]
    has_nl = hasnl_row[orig]
    gap = np.zeros(m, dtype=bool)
    last_ts = None
    if cfg.multiline_flush_interval is not None and (m > 1 or carry is not None):
        interval_us = cfg.multiline_flush_interval * 1_000_000
        tsv = (
            tbl.column(cfg.ts_col).combine_chunks().cast(pa.timestamp("us"))
            .to_numpy(zero_copy_only=False).astype("datetime64[us]").astype(np.int64)
        )
        tsg = tsv[orig]
        gap[1:] = (tsg[1:] - tsg[:-1]) > interval_us
        gap[first_of_group] = False
        if carry is not None:
            if carry[1] is not None:
                gap[0] = tsg[0] - carry[1] > interval_us
            last_ts = int(tsg[-1])
    if carry is None:
        gap |= first_of_group

    res = fsm.scan(
        cls_s[idx], g_tab, b_tab, rawlen, has_nl, gap,
        force_line_breaks=cfg.force_line_breaks,
        max_lines=cfg.max_lines,
        max_bytes=cfg.max_bytes,
        entry_carry=None if carry is None else carry[0],
    )

    turns = turn[orig]
    adj = turns + gidx * _TURN_OFFSET
    sst = np.maximum.accumulate(np.where(res.seg_start, adj, np.int64(-1)))
    sst -= gidx * _TURN_OFFSET
    lang = STATE_FAMILY_ID[res.state_after]

    keep = res.emit & ~warm_s[idx]
    k_pos = np.flatnonzero(keep)
    if len(k_pos) == 0:
        return schema.empty_table(), (res.carry, last_ts)
    k_gidx = gidx[k_pos]
    k_sst = sst[k_pos]
    k_turn = turns[k_pos]
    k_lang = lang[k_pos]
    k_has_nl = has_nl[k_pos]
    k_orig = orig[k_pos]
    k_tcode = tcodes[k_orig]

    p = len(k_pos)
    pb = np.ones(p, dtype=bool)
    if p > 1:
        pb[1:] = (k_gidx[1:] != k_gidx[:-1]) | (k_sst[1:] != k_sst[:-1])
    starts = np.flatnonzero(pb)
    ends = np.append(starts[1:], p)

    if cfg.force_line_breaks:
        prepend = (~k_has_nl) & (k_turn != k_sst)
    else:
        prepend = np.zeros(p, dtype=bool)

    # per-segment concat entirely in Arrow C++ (r6, guide §4.2 — this was a
    # per-row Python loop over every emitted member): take the member
    # strings from the dictionary (nulls ride through), prepend "\n" where
    # force_line_breaks demands it, then ONE binary_join per segment over a
    # ListArray view.  Null members contribute nothing (fill_null("")),
    # except a single-row all-null segment which stays null — matching the
    # reference's pass-through of nil-message records.
    parts = None
    if emit_text:
        v = pc.take(uniq_arr, pa.array(k_tcode, mask=k_tcode < 0))
        if cfg.force_line_breaks and prepend.any():
            pre = pc.binary_join_element_wise(
                pa.scalar("\n"), v, pa.scalar(""), null_handling="emit_null"
            )
            v = pc.if_else(pa.array(prepend), pre, v)
        offsets = pa.array(np.append(starts, p).astype(np.int32), pa.int32())
        lists = pa.ListArray.from_arrays(offsets, v.fill_null(""))
        parts = pc.binary_join(lists, "")
        single_null = (ends - starts == 1) & (k_tcode[starts] < 0)
        if single_null.any():
            parts = pc.if_else(
                pa.array(single_null), pa.scalar(None, pa.string()), parts
            )

    firsts_orig = pa.array(k_orig[starts])
    computed = {
        "seg_start_turn": pa.array(k_sst[starts], pa.int64()),
        "part_min_turn": pa.array(k_turn[starts], pa.int64()),
        "n_part": pa.array((ends - starts).astype(np.int64), pa.int64()),
        "text_part": parts,
        "lang_id": pa.array(k_lang[starts], pa.int8()),
        "sync_ok": pa.array(sync_ok[idx][k_pos][starts], pa.bool_()),
    }
    # key and ride-along columns: the segment-first row's value
    cols = [
        computed[f.name] if f.name in computed
        else pc.take(tbl.column(f.name).combine_chunks(), firsts_orig)
        for f in schema
    ]
    return pa.Table.from_arrays(cols, schema=schema), (res.carry, last_ts)


def _with_chunks(df: DataFrame, cfg: PipelineConfig, fallback_convs) -> DataFrame:
    """Add chunk_id / __warmup via a single-pass JVM-side explode (stays
    inside whole-stage codegen, no second scan of the source)."""
    c, o = cfg.chunk_size, cfg.warmup
    turn = F.col(cfg.order_col)
    in_zone = (turn % c) >= (c - o)
    if fallback_convs:
        in_zone = in_zone & ~F.col(cfg.conv_col).isin(list(fallback_convs))
    dup = F.when(in_zone, F.array(F.lit(0), F.lit(1))).otherwise(F.array(F.lit(0)))
    df = df.withColumn("__d", F.explode(dup))
    chunk = F.expr(f"{cfg.order_col} div {c}") + F.col("__d")
    if fallback_convs:
        chunk = F.when(F.col(cfg.conv_col).isin(list(fallback_convs)), 0).otherwise(chunk)
    return (
        df.withColumn("chunk_id", chunk.cast("long"))
        .withColumn("__warmup", F.col("__d") == 1)
        .drop("__d")
    )


def find_fallback_convs(
    df: DataFrame, cfg: PipelineConfig, rules: CompiledRules, msg_field: str | None
) -> list:
    """Pre-pass: conversations that cannot be chunk-scanned exactly and must
    be processed whole.  Two independent detections, unioned:

    1. **Unsynchronizable warm-up** — a zone with rows but no synchronization
       point (wall-to-wall stack traces).  Scans only ``warmup/chunk_size``
       of the rows, column-pruned to (conv[, stream], turn, text).
    2. **Expected-but-empty warm-up zone** (ADVICE r2) — a (conv[, stream])
       occupies some chunk b>0 whose preceding zone ``[b*C-W, b*C)`` holds no
       rows at all (sparse stream, a turn hole wider than ``warmup`` spanning
       the boundary, or a conversation starting mid-chunk).  Such a group is
       invisible to check 1 (no zone rows → no group), and the chunk scan
       cannot verify its forced reset — route it whole so output is CORRECT
       rather than merely flagged sync_ok=False.  This half scans only the
       narrow (conv[, stream], turn) integer/key columns.
    """
    if msg_field is None:
        return []
    c, o = cfg.chunk_size, cfg.warmup
    keys = ["conv", "strm"][: len(cfg.group_keys())]
    key_sel = [F.col(k).alias(a) for k, a in zip(cfg.group_keys(), keys)]
    chk = F.expr(f"{cfg.order_col} div {c}").cast("long")
    # the explicit range conjunct is parquet-pushable (row-group stats prune
    # whole files of short conversations); the modulo half is evaluated post-scan
    zone = df.filter(
        (F.col(cfg.order_col) >= (c - o)) & ((F.col(cfg.order_col) % c) >= (c - o))
    ).select(*key_sel, chk.alias("zchunk"), F.col(cfg.order_col).alias("turn"),
             F.col(msg_field).alias("msg"))

    out_schema = StructType(
        [StructField("conv", zone.schema["conv"].dataType, False)]
    )

    def check_batches(batches):
        # r6: the former one-group-per-call applyInPandas paid per-group
        # conversion machinery (~0.9 s of a 1.0 s pre-pass at sf1.0); this
        # mirrors the main stage — one Arrow table per task, text
        # dictionary-encoded so classify runs per DISTINCT line in Arrow, all
        # groups scanned off one lexsort.  Emits one row per UNSYNCED
        # (conv[, stream], zchunk) group.
        import pyarrow as pa
        import pyarrow.compute as pc

        chunks = list(batches)
        if not chunks:
            return
        tbl = pa.Table.from_batches(chunks)
        if tbl.num_rows == 0:
            return

        tcodes, uniqs = encode(tbl.column("msg").combine_chunks())
        cls, g_tab, _ = classify_encoded(tcodes, uniqs, rules)
        order, gs, ge = _sorted_groups(
            tbl, keys, _int64_col(tbl, "zchunk"), _int64_col(tbl, "turn")
        )
        cls_s = cls[order]
        bad = [
            int(order[s])
            for s, e in zip(gs, ge)
            if fsm.subset_sync(cls_s[s:e], g_tab) < 0
        ]
        if bad:
            conv_arr = tbl.column("conv").combine_chunks()
            yield pa.record_batch(
                [pc.take(conv_arr, pa.array(np.asarray(bad, dtype=np.int64)))],
                names=["conv"],
            )

    bad_sync = zone.repartition(*keys, "zchunk").mapInArrow(check_batches, schema=out_schema)

    # check 2: chunk occupancy vs zone presence per (conv[, stream]).  One
    # map-side-combinable groupBy over the narrow key columns (collect_set
    # dedupes in the partial aggregate, so the shuffle carries a handful of
    # chunk ids per group, not rows); bad = some occupied chunk b>0 whose
    # preceding zone chunk (b-1) has no zone row.  Skipped under the
    # assume_dense_turns contract (empty expected zones impossible).
    if cfg.assume_dense_turns:
        bad = bad_sync.distinct().limit(MAX_FALLBACK_CONVS + 1).collect()
        return [r["conv"] for r in bad]
    z = (F.col(cfg.order_col) % c) >= (c - o)
    occ = (
        df.select(*key_sel, chk.alias("chk"), F.when(z, chk).alias("zchk"))
        .groupBy(*keys)
        .agg(
            F.collect_set("chk").alias("chunks"),
            F.collect_set("zchk").alias("zchunks"),
        )
    )
    missing = F.array_except(
        F.transform(F.filter(F.col("chunks"), lambda x: x > 0), lambda x: x - 1),
        F.col("zchunks"),
    )
    bad_zone = occ.filter(F.size(missing) > 0).select("conv")

    bad = (
        bad_sync.unionByName(bad_zone)
        .distinct()
        .limit(MAX_FALLBACK_CONVS + 1)
        .collect()
    )
    return [r["conv"] for r in bad]


def chunk_gate(df: DataFrame, cfg: PipelineConfig) -> list | None:
    """The max-turn gate alone: None means no chunking, otherwise the
    fallback list known so far (``known_fallback_convs``, or empty).

    Chunking is off when ``chunk_size`` is 0 or, unless
    ``assume_long_convs``, when no conversation reaches ``chunk_size`` — a
    near-free gate (one max(); parquet aggregate pushdown reads only footers
    when enabled) that skips the pre-pass, the warm-up duplication and the
    salted keys.  Input lacking a column the scan needs is refused first
    (``validate_input``)."""
    validate_input(df.columns, cfg)
    if cfg.chunk_size == 0:
        return None
    if not cfg.assume_long_convs:
        max_turn = df.agg(F.max(cfg.order_col)).first()[0]
        if max_turn is None or max_turn < cfg.chunk_size:
            return None
    return list(cfg.known_fallback_convs or ())


def chunk_plan(df: DataFrame, cfg: PipelineConfig, rules: CompiledRules,
               msg_field: str | None) -> list | None:
    """Whether and how a lazy plan (``segment()``) chunks ``df``, decided up
    front: ``chunk_gate``, then, unless ``known_fallback_convs`` is given,
    the pre-pass ``find_fallback_convs``.  ``resolve_chunk_plan`` settles
    the answer into the config.  Eager consumers go through
    ``run_verified`` instead, which runs the pre-pass only after a chunk
    fails to sync."""
    plan = chunk_gate(df, cfg)
    if plan is None or cfg.known_fallback_convs is not None:
        return plan
    return find_fallback_convs(df, cfg, rules, msg_field)


def resolve_chunk_plan(cfg: PipelineConfig, fallback: list | None) -> PipelineConfig:
    """``cfg`` with a ``chunk_plan`` result settled into it, so a later
    ``chunk_plan`` over the same input starts no job.  No plan (None), or a
    fallback list over ``MAX_FALLBACK_CONVS`` (adversarial input: too many
    unsynchronizable conversations, processed whole rather than blow up the
    driver list), turns chunking off with ``chunk_size=0``; any other list
    becomes ``known_fallback_convs`` under ``assume_long_convs``."""
    if fallback is None or len(fallback) > MAX_FALLBACK_CONVS:
        return dataclasses.replace(cfg, chunk_size=0)
    return dataclasses.replace(
        cfg, known_fallback_convs=tuple(fallback), assume_long_convs=True
    )


def run_verified(df: DataFrame, cfg: PipelineConfig, rules: CompiledRules,
                 msg_field: str | None, run, prepass_df: DataFrame | None = None):
    """Chunk, check, repair: the chunk plan of an eager consumer (one that
    runs its action here, such as the batch job's routed write or the
    counts query).

    Chunking is settled by ``chunk_gate`` alone, so the fallback list is
    ``known_fallback_convs`` or empty, and ``run(settled_cfg)`` performs the
    action, returning ``(result, unsynced)`` with ``unsynced`` an in-plan
    ``count_if(~sync_ok)`` over the partials.  The scan verifies itself:
    every chunk group with rows of its own emits at least one partial (its
    first scanned row is force-reset, hence emitted), and a group is
    ``sync_ok=False`` exactly when the pre-pass would route its
    conversation whole — no synchronization point in the warm-up, or an
    occupied chunk whose warm-up zone is empty.  So ``unsynced == 0`` proves
    every chunk's entry state and the result equals the whole-conversation
    scan.  Otherwise the pre-pass ``find_fallback_convs`` runs over
    ``prepass_df`` (default ``df``), its list is unioned with the known one,
    and ``run`` repeats once on that plan — the one ``chunk_plan`` would have
    chosen.  The batch job passes its whole input as ``prepass_df``, so one
    repair finds the fallback conversations of every bucket.  A repair whose list adds no
    conversation cannot change the result and is skipped; that, like a
    second non-zero count, happens only when ``assume_dense_turns`` is
    violated (or there is no message field), and the result stays flagged.

    Returns ``(result, fallback, reruns)``: ``fallback`` is the list the
    result was computed with (None: not chunked), ``reruns`` 0 or 1."""
    plan = chunk_gate(df, cfg)
    settled = resolve_chunk_plan(cfg, plan)
    result, unsynced = run(settled)
    if not unsynced:
        return result, plan, 0
    found = find_fallback_convs(
        df if prepass_df is None else prepass_df, settled, rules, msg_field
    )
    repaired = list(dict.fromkeys([*plan, *found]))
    if len(repaired) == len(plan):
        return result, plan, 0
    result, _ = run(resolve_chunk_plan(settled, repaired))
    return result, repaired, 1


def segment(
    df: DataFrame, cfg: PipelineConfig, rules: CompiledRules | None = None,
    emit_text: bool = True,
) -> DataFrame:
    """Full segmentation: returns one row per segment partial (schema
    ``partial_schema``); ``coalesce.coalesce_partials`` stitches the
    partials of chunk-spanning segments into final records.

    ``emit_text=False`` omits the combined-text column from the partials —
    counts-only consumers then never pay the Arrow transfer or the
    per-segment concat for text nobody reads (r6)."""
    rules = rules or compile_rules(cfg.languages)
    msg_field = cfg.resolve_message_field(df.columns)
    cfg = resolve_chunk_plan(cfg, chunk_plan(df, cfg, rules, msg_field))
    chunked = cfg.chunk_size > 0
    if chunked:
        df = _with_chunks(df, cfg, cfg.known_fallback_convs)

    out_schema = partial_schema(df.schema, cfg, msg_field, emit_text)

    def run(batches):
        import pyarrow as pa

        # one partition may arrive as several Arrow batches and a group may
        # span them — concatenate so each (conv, chunk) group scans whole
        chunks = list(batches)
        if not chunks:
            return
        tbl = pa.Table.from_batches(chunks)
        out, _ = _scan_partition_fused_arrow(tbl, cfg, rules, msg_field, emit_text)
        yield from out.to_batches()

    if cfg.input_clustered:
        # caller asserts each input partition holds whole conversations
        # (bucketed/SPJ layout): no grouping exchange at all
        return df.mapInArrow(run, schema=out_schema)
    keys = cfg.group_keys() + (["chunk_id"] if chunked else [])
    return df.repartition(*keys).mapInArrow(run, schema=out_schema)
