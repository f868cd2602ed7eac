"""Routing: tag rewrite, sink fan-out and per-sink aggregate counts
(SURVEY O14/O15).

* ``out_tag`` strips only a complete leading tag part plus dot, exactly like
  the reference's ``tag.sub(/^#{Regexp.escape(prefix)}\\./, '')``
  (out_detect_exceptions.rb:92; semantics tested at
  test_out_detect_exceptions.rb:259-273);
* ``sink`` fans grouped traces to per-language sinks and everything else to
  ``passthrough`` (north-star fan-out);
* ``sink_counts`` is a map-side-combinable groupBy — the per-sink aggregate
  the correctness gate compares against reference fixture counts.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame, Observation, functions as F
from pyspark.sql.types import LongType, StringType, StructField, StructType

from ..config import PipelineConfig
from .coalesce import lang_name

#: per-sink counts as ``detect_sink_counts`` returns them
COUNTS_SCHEMA = StructType(
    [StructField("sink", StringType(), False), StructField("n", LongType(), False)]
)


def with_out_tag(df: DataFrame, cfg: PipelineConfig) -> DataFrame:
    if cfg.remove_tag_prefix is None:
        return df.withColumn("out_tag", F.col(cfg.conv_col))
    pat = "^" + re.escape(cfg.remove_tag_prefix) + r"\."
    return df.withColumn("out_tag", F.regexp_replace(F.col(cfg.conv_col), pat, ""))


def with_sink(df: DataFrame) -> DataFrame:
    return df.withColumn(
        "sink",
        F.when(F.col("lang").isNotNull(), F.concat(F.lit("lang_"), F.col("lang"))).otherwise(
            F.lit("passthrough")
        ),
    )


def sink_counts(routed: DataFrame) -> DataFrame:
    return routed.groupBy("sink").agg(F.count(F.lit(1)).alias("n"))


def fused_sink_counts(partials: DataFrame) -> DataFrame:
    """Per-sink record counts DIRECTLY from fused segment partials, skipping
    the coalesce groupBy: 2 exchanges total instead of 3 (VERDICT r2).

    Correctness rests on two invariants of the fused scan stage:

    * exactly ONE partial per final record has ``part_min_turn ==
      seg_start_turn`` — the segment-start row is always an emitted body row
      (a dropped nil row isolates into a zero-partial segment, and the
      warm-up replay of a boundary-spanning start is excluded from partials),
      so the first partial carries the segment-start turn and later chunks'
      partials carry strictly greater turns.  This needs (conv[, stream],
      turn) unique in the input: two rows sharing the start turn would both
      match.  The scan stage refuses such input (``segmenter._sorted_groups``);
    * a record's lang/sink is its FIRST partial's ``lang_id`` (the same
      packed-min rule ``coalesce_partials`` uses).

    Plan: scan-stage exchange → Filter → partial HashAggregate → one tiny
    exchange of ≤(#sinks) rows per partition.  The segment-stitching
    exchange on (conv, seg_start_turn) never happens.  Asserted on the
    executed counts query by test_fused_sink_counts_plan_elides_stitch_exchange."""
    first_partials = partials.filter(F.col("part_min_turn") == F.col("seg_start_turn"))
    return sink_counts(with_sink(first_partials.select(lang_name(F.col("lang_id")).alias("lang"))))


def counts_query(df: DataFrame, cfg: PipelineConfig, observation: Observation) -> DataFrame:
    """The fused counts query ``detect_sink_counts`` collects, over ``cfg``
    with its chunk plan settled (``segmenter.resolve_chunk_plan``):
    ``fused_sink_counts`` over text-free partials, with the partials'
    ``count_if(~sync_ok)`` observed as ``unsynced`` by ``observation``.

    Projects the input to exactly the columns the scan needs before the
    stage: a Python map stage is OPAQUE to Catalyst, so column pruning does
    not push through it — without the explicit select, ride-along columns
    the counts never use would ride shuffle #1 and both Arrow transfers.
    ``emit_text=False``: counts never read the combined text, and not
    PRODUCING it is the only way to keep it off the Arrow boundary (r6,
    guide §4.1); it also skips the per-segment concat entirely."""
    from .segmenter import segment

    parts = segment(df.select(*cfg.scan_columns(df.columns)), cfg, emit_text=False)
    return fused_sink_counts(
        parts.observe(observation, F.count_if(~F.col("sync_ok")).alias("unsynced"))
    )


def detect_sink_counts(df: DataFrame, cfg: PipelineConfig) -> DataFrame:
    """Counts-only entry point: transcripts → per-sink record counts via the
    segment-partials fast path.  An action: it runs ``counts_query`` under
    ``segmenter.run_verified`` (the max-turn gate, the counts query, and the
    fallback pre-pass plus one re-run only if a chunk failed to sync) and
    returns the rows as a local ``sink string, n bigint`` DataFrame, whose
    ``collect()`` starts no job.  Input with no rows returns no row.

    Input lacking a column the scan needs is refused before any job
    (``validate_input``), as on every other entry point.  A ``cfg`` already
    settled by ``resolve_chunk_plan`` skips the max-turn gate."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    from ..metrics import observed
    from ..rules import compile_rules
    from .segmenter import run_verified, validate_input

    validate_input(df.columns, cfg)
    rules = compile_rules(cfg.languages)
    msg_field = cfg.resolve_message_field(df.columns)

    def count(settled):
        obs = Observation("counts_unsynced")
        rows = counts_query(df, settled, obs).collect()
        return rows, observed(obs, ("unsynced",))["unsynced"]

    rows, _, _ = run_verified(df, cfg, rules, msg_field, count)
    # an Arrow table becomes a LocalTableScan; a Python list would
    # round-trip through a Python worker
    table = pa.Table.from_pylist([r.asDict() for r in rows], schema=to_arrow_schema(COUNTS_SCHEMA))
    return df.sparkSession.createDataFrame(table, COUNTS_SCHEMA)
