"""End-to-end plan assembly: scan → classify+segment → coalesce → route →
aggregate (SURVEY §3.1 hot path, Spark-first).

``routed_records`` is the one partials → routed records path: coalesce,
the slim rewrite's ride rejoin, ``out_tag`` and ``sink``.
``detect_exceptions``, ``job.run_bucket`` and the stream
(``streaming.stream_pipeline``) all call it on their segment partials.

Shuffle budget (north rule 'bounded-shuffle') of the routed plan:
  1. hash exchange on (conv_id[, stream][, chunk_id]) for the mapInArrow
     segmentation — chunk_id (chunked input only) salts the key so a
     skewed conversation spreads across tasks;
  2. chunked input only: hash exchange on (conv_id[, stream],
     seg_start_turn) for the coalesce stitch groupBy — segment keys are
     fine-grained, so no residual skew.  Unchunked input (the usual case:
     no conversation reaches chunk_size) has one partial per segment and
     coalesces with a projection;
  3. the slim rewrite's ride rejoin: the narrow ride table is exchanged on
     (conv_id[, stream], first_turn_idx), and so are the records unless
     exchange 2 already partitions them on those keys.
The counts-only plan (``route.detect_sink_counts``) is exchange 1 plus a
tiny map-side-combined exchange of per-sink counts.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from ..config import PipelineConfig
from ..operators.coalesce import coalesce_partials
from ..operators.route import detect_sink_counts, with_out_tag, with_sink
from ..operators.segmenter import chunk_plan, resolve_chunk_plan, segment
from ..rules import compile_rules


def slim_split(df: DataFrame, cfg: PipelineConfig, msg_field: str | None):
    """Slim-stage rewrite (VERDICT r2 item 7, measured keep): split the
    input into the columns the scan stage actually consumes and a narrow
    ride table of first-row fields keyed by (group keys, first_turn_idx).
    Returns ``(stage_df, ride_df)``; ``ride_df`` is None when the rewrite is
    inactive (clustered input, no message field, or nothing to drop) and
    the caller proceeds unchanged.

    The rejoin is exact only when (conv[, stream], turn) is unique in the
    input; the scan stage refuses a duplicate (``segmenter._sorted_groups``),
    so a job over such input fails instead of duplicating records."""
    if cfg.input_clustered or msg_field is None:
        return df, None
    keep = cfg.scan_columns(df.columns, msg_field)
    ride_cols = [c for c in df.columns if c not in keep]
    if not ride_cols:
        return df, None
    ride = df.select(
        *cfg.group_keys(),
        F.col(cfg.order_col).alias("first_turn_idx"),
        *ride_cols,
    )
    return df.select(*[c for c in df.columns if c in keep]), ride


def routed_records(partials: DataFrame, ride: DataFrame | None, cfg: PipelineConfig,
                   msg_field: str | None) -> DataFrame:
    """Segment partials → routed records: ``coalesce_partials``, the ride
    rejoin, ``out_tag`` and ``sink``.  The one partials-to-records path of
    ``detect_exceptions``, ``job.run_bucket`` and the stream; ``cfg`` has
    its chunk plan resolved (``chunk_size == 0``: a projection).

    The rejoin (``ride`` from ``slim_split``; None skips it) attaches
    first-row ride-along fields.  Exact by construction: ``first_turn_idx``
    is the segment's first row's turn, and (conv[, stream], turn) is unique
    in the input (the scan stage that made ``partials`` refuses a duplicate),
    so the left join matches exactly the row ``min_by`` would have picked.

    The MERGE hint pins a sort-merge join (r6, guide §3.1): the ride table
    has the same cardinality as the input, but Catalyst's size estimate
    after column pruning routinely drops under the auto-broadcast
    threshold, and the resulting BroadcastExchange collects every input row
    to the driver and builds the hash relation single-threaded — a measured
    3.4 s driver stall at 8.5M rows (event-log evidence in
    OPTIMIZATION_r06.md), and a driver OOM waiting to happen at scale.  A
    per-input-row table is never a sane broadcast, so SMJ is the right plan
    at every size.  A stitched (chunked) record side reuses its aggregation
    partitioning; an unchunked one is exchanged on the join keys."""
    recs = coalesce_partials(partials, cfg, msg_field)
    if ride is not None:
        recs = recs.join(ride.hint("merge"), [*cfg.group_keys(), "first_turn_idx"], "left")
    return with_sink(with_out_tag(recs, cfg))


def detect_exceptions(df: DataFrame, cfg: PipelineConfig) -> DataFrame:
    """transcripts → one routed row per emitted record.

    Output columns: group keys, first_turn_idx, ride-along first-row fields,
    <message field> (combined text), n_lines, lang, sink, out_tag, sync_ok.
    The chunk plan (max-turn gate, fallback pre-pass) is resolved here,
    once, so unchunked input coalesces with a projection.
    """
    rules = compile_rules(cfg.languages)
    msg_field = cfg.resolve_message_field(df.columns)
    cfg = resolve_chunk_plan(cfg, chunk_plan(df, cfg, rules, msg_field))
    stage_df, ride = slim_split(df, cfg, msg_field)
    return routed_records(segment(stage_df, cfg, rules), ride, cfg, msg_field)


def detect_with_counts(df: DataFrame, cfg: PipelineConfig) -> tuple[DataFrame, DataFrame]:
    """(routed records, per-sink counts).  The counts leg uses the
    2-exchange fast path (``route.detect_sink_counts``): counts never read
    ride-along columns, so they should not pay the coalesce groupBy or the
    slim-stage rejoin (VERDICT r3 item 6).

    The routed leg is a lazy plan; the counts leg runs at call time
    (``detect_sink_counts`` is an action) and comes back as a local
    DataFrame.  The two legs are INDEPENDENT plans over the same input, so a
    caller that also collects ``routed`` runs the scan+segment stage twice
    (Spark has no cross-action CSE) — if you materialize ``routed`` anyway,
    derive counts from it with ``sink_counts(routed)`` (or from its written
    output) and call ``detect_exceptions`` alone.  The chunk plan is
    settled once here, the lazy way (``segmenter.chunk_plan``: the pre-pass
    runs up front), so the max-turn gate and the pre-pass run once for both
    legs and the counts leg's verification finds nothing to repair."""
    msg_field = cfg.resolve_message_field(df.columns)
    cfg = resolve_chunk_plan(cfg, chunk_plan(df, cfg, compile_rules(cfg.languages), msg_field))
    return detect_exceptions(df, cfg), detect_sink_counts(df, cfg)
