"""Trace coalescing: ordered separator-less concat per segment (SURVEY O9/O12).

The scan stage (``segmenter.segment``) already concatenates each segment's
rows within one chunk into a *partial*.  Entirely JVM-side built-ins — no
Python here:

* **unchunked input** (``cfg.chunk_size == 0``, the usual case once
  ``segmenter.resolve_chunk_plan`` has found no conversation reaching
  ``chunk_size``): each ``(conv_id[, stream])`` group is scanned whole in
  one task, so every segment is exactly one partial, already the final
  record — a narrow projection, no exchange, no aggregate;
* **chunked input**: only chunk-spanning segments have more than one
  partial.  Segment identity is ``(conv_id[, stream], seg_start_turn)``; the
  groupBy shuffles on those keys, so even a skewed conversation's segments
  hash-spread across reducers (a segment itself is bounded by
  max_lines/max_bytes).  The ordered concat is ``array_join(transform(
  array_sort(collect_list(struct(part_min_turn, text_part))), x ->
  x.text_part), '')`` — deterministic order without a window sort.
  Single-row segments emit the **original record unchanged**
  (exception_detector.rb:298-299): first-partial fields ride along via
  ``min_by(struct(*cols), part_min_turn)`` and the 1-row case takes the
  original text.

Both forms return the same columns with the same types.  force_line_breaks
(exception_detector.rb:366-371) is applied by the scan stage, which
prepends ``\\n`` to non-first member lines that contain none.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

from ..config import PipelineConfig
from ..rules import FAMILIES


def lang_name(lang_id: Column) -> Column:
    """Family name of a ``lang_id`` (an index into ``rules.FAMILIES``);
    null for -1, a record outside any trace."""
    return F.when(
        lang_id >= 0,
        F.element_at(F.array(*[F.lit(x) for x in FAMILIES]), lang_id.cast("int") + 1),
    )


def coalesce_partials(partials: DataFrame, cfg: PipelineConfig, msg_field: str | None = "text") -> DataFrame:
    """Stitch segment partials (one row per segment per chunk) into final
    records: group keys, first_turn_idx, ride-along fields, the message
    field, n_lines, lang, sync_ok.  With ``cfg.chunk_size == 0`` the
    partials already are the records and this is a projection; otherwise
    the groupBy moves per-segment volume, not per-turn volume."""
    keys = cfg.group_keys() + ["seg_start_turn"]
    ride = [c for c in partials.columns
            if c not in (*keys, "part_min_turn", "n_part", "text_part", "lang_id", "sync_ok")]
    sel = [F.col(k) for k in cfg.group_keys()]
    sel.append(F.col("seg_start_turn").alias("first_turn_idx"))
    if cfg.chunk_size == 0:
        # exact: segment() hands each (conv[, stream]) group whole to one
        # task (its repartition on the group keys, or input_clustered), so
        # there is nothing to stitch and every partial is synced
        sel += [F.col(c) for c in ride]
        if msg_field is not None:
            sel.append(F.col("text_part").alias(msg_field))
        sel.append(F.col("n_part").alias("n_lines"))
        sel.append(lang_name(F.col("lang_id")).alias("lang"))
        sel.append(F.col("sync_ok"))
        return partials.select(*sel)
    # lang comes from a PACKED primitive min — (first partial's turn, lang_id)
    # in one bigint — rather than from the min_by struct: aggregations that
    # only need lang/sink (per-sink counts) then prune the min_by +
    # collect_list entirely and run as a pure primitive-buffer HashAggregate
    # (min_by alone would force SortAggregate: an extra per-partition sort)
    pack = F.col("part_min_turn") * 256 + (F.col("lang_id").cast("long") + 1)
    agg = partials.groupBy(*keys).agg(
        F.sum("n_part").alias("n_lines"),
        F.min(pack).alias("__first_pack"),
        F.min_by(F.struct(*ride, "text_part"), F.col("part_min_turn")).alias("__first"),
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("part_min_turn", "text_part"))),
                lambda x: x["text_part"],
            ),
            "",
        ).alias("__combined"),
        F.min("sync_ok").alias("sync_ok"),
    )
    first = F.col("__first")
    sel += [first[c].alias(c) for c in ride]
    if msg_field is not None:
        sel.append(
            F.when(F.col("n_lines") == 1, first["text_part"])
            .otherwise(F.col("__combined"))
            .alias(msg_field)
        )
    sel.append(F.col("n_lines"))
    sel.append(lang_name(F.col("__first_pack") % 256 - 1).alias("lang"))
    sel.append(F.col("sync_ok"))
    return agg.select(*sel)
