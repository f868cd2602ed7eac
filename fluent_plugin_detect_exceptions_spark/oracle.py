"""Single-process reference oracle for detector/accumulator semantics.

This module is the **test oracle only** — it is never used inside the Spark
job (SURVEY.md §7.1 step 2).  It re-implements, in plain Python, the exact
observable semantics of the reference's state machine and trace buffer so the
distributed pipeline can be asserted equal to it on arbitrary inputs:

* ``Detector.update``   ↔ exception_detector.rb:206-225 (double transition,
  four statuses);
* ``Accumulator.push``  ↔ exception_detector.rb:278-292 (nil-message reset,
  max_bytes pre-check, max_lines post-check ordering);
* ``Accumulator.flush`` ↔ exception_detector.rb:294-314 (single-record
  buffers emit the original record unchanged; multi-record buffers emit the
  first record with the message field overwritten by the separator-less
  join);
* force_line_breaks     ↔ exception_detector.rb:366-371.

The batch analogue of the idle-timeout flush (out_detect_exceptions.rb:
116-132) is exposed as an explicit event-time gap: callers pass per-record
timestamps and a ``flush_interval``; a gap strictly greater than the interval
force-flushes before the record is processed (SURVEY.md O13).
"""

from __future__ import annotations

from dataclasses import dataclass, field
from typing import Any, Callable

from .rules import DEFAULT_FIELDS, START, STATE_FAMILY, STATES, CompiledRules, compile_rules

NO_TRACE = 0
START_TRACE = 1
INSIDE_TRACE = 2
END_TRACE = 3


class Detector:
    """FSM over the compiled rule table; one mutable state cell."""

    def __init__(self, languages=("all",), rules: CompiledRules | None = None):
        self.rules = rules or compile_rules(languages)
        self.state = START

    def reset(self) -> None:
        self.state = START

    def _transition(self, line: str) -> bool:
        for pid, to_state in self.rules.by_state[self.state]:
            if self.rules.compiled[pid].search(line):
                self.state = to_state
                return True
        self.state = START
        return False

    def update(self, line: str) -> int:
        seen_before = self._transition(line)
        if not seen_before:
            # the line may start a new trace (exception_detector.rb:208-211)
            self._transition(line)
        seen_after = self.state != START
        if seen_before:
            return INSIDE_TRACE if seen_after else END_TRACE
        return START_TRACE if seen_after else NO_TRACE


@dataclass
class Emitted:
    """One output event: (timestamp of first line, record, detected family)."""

    ts: Any
    record: Any
    lang: str | None = None
    n_lines: int = 1


class Accumulator:
    """Orders-of-operations-exact port of TraceAccumulator.

    ``message_field=None`` → plain-string records; ``''`` → learn from the
    first record by probing DEFAULT_FIELDS (exception_detector.rb:323-333).
    """

    def __init__(
        self,
        message_field: str | None,
        languages=("all",),
        force_line_breaks: bool = False,
        max_lines: int = 0,
        max_bytes: int = 0,
        emit: Callable[[Emitted], None] | None = None,
        rules: CompiledRules | None = None,
        flush_interval: float | None = None,
    ):
        self.detector = Detector(languages, rules)
        self.message_field = message_field
        self.force_line_breaks = force_line_breaks
        self.max_lines = max_lines
        self.max_bytes = max_bytes
        self.out: list[Emitted] = []
        self._emit_cb = emit
        self.flush_interval = flush_interval
        self._messages: list[str] = []
        self._first_record = None
        self._first_ts = None
        self._buffer_size = 0
        self._last_ts = None
        self._first_state_after: int | None = None

    # -- record handling ---------------------------------------------------

    def _extract_message(self, record):
        if self.message_field is not None and self.message_field == "":
            for f in DEFAULT_FIELDS:
                if isinstance(record, dict) and f in record:
                    self.message_field = f
                    break
        return record if self.message_field is None else (
            record.get(self.message_field) if isinstance(record, dict) else None
        )

    def push(self, ts, record) -> None:
        # batch analogue of the idle-timeout flush (O13): event-time gap
        if (
            self.flush_interval is not None
            and self._last_ts is not None
            and ts - self._last_ts > self.flush_interval
        ):
            self.force_flush()
        self._last_ts = ts

        message = self._extract_message(record)
        if message is None:
            self.detector.reset()
            status = NO_TRACE
        else:
            if self.max_bytes > 0 and self._buffer_size + len(message) > self.max_bytes:
                self.force_flush()
            status = self.detector.update(message)
        self._update_buffer(status, ts, record, message)
        if self.max_lines > 0 and len(self._messages) == self.max_lines:
            self.force_flush()

    def _update_buffer(self, status, ts, record, message) -> None:
        trigger_emit = status in (NO_TRACE, END_TRACE)
        if not self._messages and trigger_emit:
            self._do_emit(ts, record, lang_state=self.detector.state if message is not None else START, n=1)
            return
        if status == INSIDE_TRACE:
            self._add(ts, record, message)
        elif status == END_TRACE:
            self._add(ts, record, message)
            self.flush()
        elif status == NO_TRACE:
            self.flush()
            self._add(ts, record, message)
            self.flush()
        elif status == START_TRACE:
            self.flush()
            self._add(ts, record, message)

    def _add(self, ts, record, message) -> None:
        if not self._messages:
            if self.message_field is not None:
                self._first_record = record
            self._first_ts = ts
            self._first_state_after = self.detector.state
        if message is None:
            return
        if self.force_line_breaks and self._messages and "\n" not in message:
            message = "\n" + message
        self._messages.append(message)
        self._buffer_size += len(message)

    def flush(self) -> None:
        n = len(self._messages)
        if n == 0:
            return
        if n == 1:
            rec = self._first_record if self.message_field is not None else self._messages[0]
            self._do_emit(self._first_ts, rec, lang_state=self._first_state_after, n=1)
        else:
            combined = "".join(self._messages)
            if self.message_field is None:
                rec = combined
            else:
                rec = dict(self._first_record) if isinstance(self._first_record, dict) else self._first_record
                rec[self.message_field] = combined
            self._do_emit(self._first_ts, rec, lang_state=self._first_state_after, n=n)
        self._messages = []
        self._first_record = None
        self._first_ts = None
        self._buffer_size = 0
        self._first_state_after = None

    def force_flush(self) -> None:
        self.flush()
        self.detector.reset()

    def _do_emit(self, ts, record, lang_state, n) -> None:
        # Language attribution (our routing extension, not in the reference):
        # family of the FSM state right after the segment's first line.
        lang = None
        if lang_state is not None and lang_state != START:
            lang = STATE_FAMILY.get(STATES[lang_state])
        ev = Emitted(ts=ts, record=record, lang=lang, n_lines=n)
        self.out.append(ev)
        if self._emit_cb:
            self._emit_cb(ev)


def run_plain(messages_lines, languages=("all",), **kw) -> list:
    """Feed plain-string lines (each retains its newline); return records."""
    acc = Accumulator(None, languages, **kw)
    for ts, line in messages_lines:
        acc.push(ts, line)
    acc.force_flush()
    return acc.out
