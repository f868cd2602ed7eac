"""Job configuration (SURVEY.md O2).

Mirrors the reference's 8 config params (out_detect_exceptions.rb:25-53)
plus the Spark-scale knobs (salted chunking for skewed conversations).
Validated at driver construction; the dataclass is captured by closure into
executor tasks (tiny, no broadcast needed).
"""

from __future__ import annotations

from dataclasses import dataclass, field

from .rules import DEFAULT_FIELDS, RULES_BY_LANG


@dataclass(frozen=True)
class PipelineConfig:
    # --- reference params (out_detect_exceptions.rb:25-40) ---
    #: prefix stripped from the routing tag (required in the reference; here
    #: optional — None disables the rewrite).  O14.
    remove_tag_prefix: str | None = None
    #: column holding the raw message text; '' probes DEFAULT_FIELDS then
    #: 'text' against the input schema at plan time (field learning, O4).
    message: str = "text"
    #: event-time gap (seconds) that force-flushes a pending trace (batch
    #: analogue of multiline_flush_interval, O13).  None disables.
    multiline_flush_interval: float | None = None
    #: language families to detect; () means all (O7).
    languages: tuple[str, ...] = ()
    #: add line breaks when combining stacks whose lines lack them (O12).
    force_line_breaks: bool = False
    #: max buffered lines per trace, 0 = unlimited (O11).  Reference default 1000.
    max_lines: int = 1000
    #: max buffered chars per trace, 0 = unlimited (O10).
    max_bytes: int = 0
    #: optional secondary stream column for demux (O3); e.g. 'tool'.
    stream: str | None = None

    # --- scale knobs (north rule: explicit partitioning / skew handling) ---
    #: conversation key column.
    conv_col: str = "conv_id"
    #: ordering column within a conversation: non-null and unique per
    #: (conv[, stream]).  Segments are named by their first turn, so the
    #: scan stage refuses a null or a duplicate turn at run time.
    order_col: str = "turn_idx"
    #: event-time column (timeout gaps).
    ts_col: str = "ts"
    #: salt very long conversations into chunks of this many turns; 0 turns
    #: chunking off.  Active with or without a `stream` column — the chunk
    #: group key is (conv[, stream], chunk), so a skewed stream inside a
    #: huge conversation still spreads across executors.  Must be >= 0.
    #: ``segmenter.chunk_plan`` (lazy plans) or ``segmenter.run_verified``
    #: (the batch job and the counts consumer) decides per input whether
    #: chunking runs and ``segmenter.resolve_chunk_plan`` settles that into
    #: the config (0 when
    #: it does not, or when the fallback list is longer than
    #: ``segmenter.MAX_FALLBACK_CONVS``).  At 0 every segment is one
    #: partial and ``coalesce_partials`` is a projection.
    chunk_size: int = 1 << 17
    #: warm-up overlap rows prepended to each chunk to find a scan
    #: synchronization point.  Must be >= 0 and < chunk_size.
    warmup: int = 4096
    #: skip the plan-time max(turn_idx) gate job and chunk unconditionally.
    #: The gate exists to turn chunking off for all-short inputs; an operator
    #: who KNOWS the table holds chunk_size-plus conversations (any
    #: production log pipeline) saves one driver round trip per run/bucket.
    #: With parquet aggregate pushdown the gate is footer-only anyway, but
    #: job-scheduling latency is the scaling-efficiency tax at small inputs.
    #: It is the only plan-time job the batch job and ``detect_sink_counts``
    #: run before their action; the fallback pre-pass runs only after a
    #: chunk fails to sync.
    assume_long_convs: bool = False
    #: the operator asserts turn_idx is DENSE (0,1,2,... with no holes)
    #: within every FSM stream group (conv[, stream]).  Under that contract
    #: an expected-but-empty warm-up zone is impossible (any group reaching
    #: chunk b has every turn below b*chunk_size), so the occupancy half of
    #: the sync pre-pass is skipped — measured ~0.9-1.0 s of a ~1.8 s
    #: pre-pass at 13.7M turns / 32 cores.  Like assume_long_convs, a
    #: production contract knob: if the input violates it, chunk-spanning
    #: segments after a hole are split and flagged sync_ok=False rather than
    #: silently wrong, also by the batch job and ``detect_sink_counts``,
    #: whose repair (``segmenter.run_verified``) runs the pre-pass without
    #: that half, finds nothing to add and keeps the flagged result.  NB:
    #: with a `stream` column the contract is per (conv, stream), which
    #: interleaved streams do NOT satisfy.
    assume_dense_turns: bool = False
    #: externally supplied fallback-conversation list (e.g. found by a prior
    #: run over the same immutable input).  Lazy plans trust it and skip the
    #: sync pre-pass; the batch job and ``detect_sink_counts`` start from it
    #: and still verify their chunk scans, adding what the pre-pass finds
    #: when one fails to sync.  None = discover with the pre-pass (lazy
    #: plans) or start from () (eager consumers); () = "none known".
    known_fallback_convs: tuple | None = None
    #: the input's partitions already hold WHOLE conversations (a
    #: conv_id-bucketed table read with bucketed scan forced, or an Iceberg
    #: bucket(N, conv_id) table via storage-partitioned read): skip the
    #: grouping exchange before the scan stage entirely — shuffle #1 of the
    #: pipeline disappears.  The caller asserts the layout; chunk-level skew
    #: spreading across tasks is traded away (chunks of one conversation stay
    #: in its partition; the FSM still scans them independently).  The slim
    #: rewrite is off here: there is no shuffle #1 for it to shrink.
    input_clustered: bool = False

    def __post_init__(self):
        langs = tuple(str(x).lower() for x in self.languages)
        object.__setattr__(self, "languages", langs or ("all",))
        for lang in self.languages:
            if lang not in RULES_BY_LANG:
                raise ValueError(f"Unknown language: {lang}")
        if self.chunk_size < 0 or self.warmup < 0:
            raise ValueError("chunk_size/warmup must be >= 0")
        if self.chunk_size and self.warmup >= self.chunk_size:
            raise ValueError("warmup must be smaller than chunk_size")
        if self.max_lines < 0 or self.max_bytes < 0:
            raise ValueError("max_lines/max_bytes must be >= 0")

    def resolve_message_field(self, columns) -> str | None:
        """Plan-time field learning (exception_detector.rb:323-333): '' probes
        DEFAULT_FIELDS then 'text'; a configured-but-missing field returns
        None → every record passes through unchanged."""
        if self.message == "":
            for f in (*DEFAULT_FIELDS, "text"):
                if f in columns:
                    return f
            return None
        return self.message if self.message in columns else None

    def scan_columns(self, columns, msg_field: str | None = None) -> list[str]:
        """The columns the scan stage actually consumes: group keys, order,
        the message field, and the event-time column when the gap flush is
        active.  Single source of truth for slim_split and
        detect_sink_counts (code-review r3: the two keep-lists had already
        drifted on the ts-column guard).  A missing ts column is NOT added,
        so segment() raises its curated error instead of a raw
        AnalysisException from the select."""
        keep = [self.conv_col, self.order_col]
        if self.stream is not None:
            keep.append(self.stream)
        if msg_field is None:
            msg_field = self.resolve_message_field(columns)
        if msg_field is not None:
            keep.append(msg_field)
        if self.multiline_flush_interval is not None and self.ts_col in columns:
            keep.append(self.ts_col)
        return keep

    def group_keys(self) -> list[str]:
        keys = [self.conv_col]
        if self.stream is not None:
            keys.append(self.stream)
        return keys
