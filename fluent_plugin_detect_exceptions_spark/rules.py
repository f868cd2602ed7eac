"""Rule catalog for multi-language exception-stack detection.

This is the *data* (not code) heart of the engine: the 61 finite-state-machine
transition rules over 27 states that the reference plugin defines for 7
language families (Java/JS/C# share one rule set; Python; PHP; Go; Ruby;
Dart).  Semantics re-derived from the reference at
``/root/reference/lib/fluent/plugin/exception_detector.rb:44-171``:

* a rule is ``(from_states, pattern, to_state)`` (exception_detector.rb:44-48);
* per-state rule order is insertion order and first match wins (:236-245);
* matching is an **unanchored search** (Ruby ``line =~ pattern``), lines keep
  their trailing newline, and anchors behave like Python ``re`` *without*
  ``re.MULTILINE`` (SURVEY.md §4.4 — incl. the round-2 adjudication of the
  Onigmo ``^$``-after-final-newline question: the reference's own
  test_exception_detector.rb:714 expectation is only satisfiable if Onigmo,
  per the Perl/Oniguruma begin-line rule, does NOT match ``^`` after a
  string-final newline, i.e. exactly the no-``re.M`` semantics used here);
* rule targets are de-duplicated per from-state by ``(pattern, to_state)``
  value equality (exception_detector.rb:29-41, :198);
* the two Ruby ``/x`` extended-mode patterns (PHP start rule at :88-90, C#
  async rule at :70-71) are flattened to plain patterns here.

Everything downstream (the vectorized classifier, the FSM scan, the DuckDB
oracle SQL) is *compiled from this table at driver side*; executors only ever
see small dense numpy lookup tables.
"""

from __future__ import annotations

import re
from dataclasses import dataclass, field

# ---------------------------------------------------------------------------
# States
# ---------------------------------------------------------------------------

START_STATE = "start_state"

#: All 27 states; ``start_state`` MUST be index 0 (the scan relies on it).
STATES: tuple[str, ...] = (
    START_STATE,
    # java / js / c# family (exception_detector.rb:54-78)
    "java_start_exception",
    "java_after_exception",
    "java",
    # python (:80-85)
    "python",
    "python_code",
    # php (:87-94)
    "php_stack_begin",
    "php_stack_frames",
    # go (:96-107)
    "go_after_panic",
    "go_goroutine",
    "go_after_signal",
    "go_frame_line1",
    "go_frame_line2",
    # ruby (:109-114)
    "ruby_before_rails_trace",
    "ruby",
    # dart (:116-150)
    "dart_exc",
    "dart_stack",
    "dart_type_err_line1",
    "dart_type_err_line2",
    "dart_type_err_line3",
    "dart_type_err_line4",
    "dart_format_err_line1",
    "dart_format_err_line2",
    "dart_format_err_line3",
    "dart_method_err_line1",
    "dart_method_err_line2",
    "dart_method_err_line3",
)

STATE_INDEX: dict[str, int] = {s: i for i, s in enumerate(STATES)}
N_STATES = len(STATES)
START = 0

#: Language family of each non-start state (used to label detected traces).
STATE_FAMILY: dict[str, str] = {}
for _s in STATES[1:]:
    if _s.startswith("java"):
        STATE_FAMILY[_s] = "java"
    elif _s.startswith("python"):
        STATE_FAMILY[_s] = "python"
    elif _s.startswith("php"):
        STATE_FAMILY[_s] = "php"
    elif _s.startswith("go"):
        STATE_FAMILY[_s] = "go"
    elif _s.startswith("ruby"):
        STATE_FAMILY[_s] = "ruby"
    elif _s.startswith("dart"):
        STATE_FAMILY[_s] = "dart"

#: Stable family list (routing sinks, dims).
FAMILIES: tuple[str, ...] = ("java", "python", "php", "go", "ruby", "dart")

# ---------------------------------------------------------------------------
# Rules
# ---------------------------------------------------------------------------


def _rule(from_states, pattern: str, to_state: str):
    if isinstance(from_states, str):
        from_states = (from_states,)
    return (tuple(from_states), pattern, to_state)


# Java / JavaScript / Node / V8 / C# — exception_detector.rb:54-78
JAVA_RULES = (
    _rule(
        (START_STATE, "java_start_exception"),
        r"(?:Exception|Error|Throwable|V8 errors stack trace)[:\r\n]",
        "java_after_exception",
    ),
    _rule("java_after_exception", r"^[\t ]*nested exception is:[\t ]*", "java_start_exception"),
    _rule("java_after_exception", r"^[\r\n]*$", "java_after_exception"),
    _rule(("java_after_exception", "java"), r"^[\t ]+(?:eval )?at ", "java"),
    # C# nested exception (flattened; exception_detector.rb:63-66)
    _rule(
        ("java_after_exception", "java"),
        r"^[\t ]+--- End of inner exception stack trace ---$",
        "java",
    ),
    # C# async exception; Ruby (?x:) continuation flattened (exception_detector.rb:68-72)
    _rule(
        ("java_after_exception", "java"),
        r"^--- End of stack trace from previous location where exception was thrown ---$",
        "java",
    ),
    _rule(("java_after_exception", "java"), r"^[\t ]*(?:Caused by|Suppressed):", "java_after_exception"),
    # NB: '.' deliberately unescaped, as in the reference (matches any 3 chars).
    _rule(("java_after_exception", "java"), r"^[\t ]*... \d+ (?:more|common frames omitted)", "java"),
)

# Python — exception_detector.rb:80-85
PYTHON_RULES = (
    _rule(START_STATE, r"^Traceback \(most recent call last\):$", "python"),
    _rule("python", r"^[\t ]+File ", "python_code"),
    _rule("python_code", r"[^\t ]", "python"),
    # the only explicit Python end rule (to_state == start_state)
    _rule("python", r"^(?:[^\s.():]+\.)*[^\s.():]+:", START_STATE),
)

# PHP — exception_detector.rb:87-94; /x extended-mode start rule flattened.
PHP_RULES = (
    _rule(
        START_STATE,
        r"(?:PHP (?:Notice|Parse error|Fatal error|Warning):)|(?:exception '[^']+' with message ')",
        "php_stack_begin",
    ),
    _rule("php_stack_begin", r"^Stack trace:", "php_stack_frames"),
    _rule("php_stack_frames", r"^#\d", "php_stack_frames"),
    _rule("php_stack_frames", r"^\s+thrown in ", START_STATE),
)

# Go — exception_detector.rb:96-107
GO_RULES = (
    _rule(START_STATE, r"\bpanic: ", "go_after_panic"),
    _rule(START_STATE, r"http: panic serving", "go_goroutine"),
    _rule("go_after_panic", r"^$", "go_goroutine"),
    _rule(("go_after_panic", "go_after_signal", "go_frame_line1"), r"^$", "go_goroutine"),
    _rule("go_after_panic", r"^\[signal ", "go_after_signal"),
    _rule("go_goroutine", r"^goroutine \d+ \[[^\]]+\]:$", "go_frame_line1"),
    _rule("go_frame_line1", r"^(?:[^\s.:]+\.)*[^\s.():]+\(|^created by ", "go_frame_line2"),
    _rule("go_frame_line2", r"^\s", "go_frame_line1"),
)

# Ruby — exception_detector.rb:109-114
RUBY_RULES = (
    _rule(START_STATE, r"Error \(.*\):$", "ruby_before_rails_trace"),
    _rule("ruby_before_rails_trace", r"^  $", "ruby"),
    _rule("ruby_before_rails_trace", r"^[\t ]+.*?\.rb:\d+:in `", "ruby"),
    _rule("ruby", r"^[\t ]+.*?\.rb:\d+:in `", "ruby"),
)

# Dart — exception_detector.rb:116-150
DART_RULES = (
    _rule(START_STATE, r"^Unhandled exception:$", "dart_exc"),
    _rule("dart_exc", r"^Instance of", "dart_stack"),
    _rule("dart_exc", r"^Exception", "dart_stack"),
    _rule("dart_exc", r"^Bad state", "dart_stack"),
    _rule("dart_exc", r"^IntegerDivisionByZeroException", "dart_stack"),
    _rule("dart_exc", r"^Invalid argument", "dart_stack"),
    _rule("dart_exc", r"^RangeError", "dart_stack"),
    _rule("dart_exc", r"^Assertion failed", "dart_stack"),
    _rule("dart_exc", r"^Cannot instantiate", "dart_stack"),
    _rule("dart_exc", r"^Reading static variable", "dart_stack"),
    _rule("dart_exc", r"^UnimplementedError", "dart_stack"),
    _rule("dart_exc", r"^Unsupported operation", "dart_stack"),
    _rule("dart_exc", r"^Concurrent modification", "dart_stack"),
    _rule("dart_exc", r"^Out of Memory", "dart_stack"),
    _rule("dart_exc", r"^Stack Overflow", "dart_stack"),
    _rule("dart_exc", r"^'.+?':.+?$", "dart_type_err_line1"),
    _rule("dart_type_err_line1", r"^#\d+\s+.+?\(.+?\)$", "dart_stack"),
    _rule("dart_type_err_line1", r"^.+?$", "dart_type_err_line2"),
    _rule("dart_type_err_line2", r"^.*?\^.*?$", "dart_type_err_line3"),
    _rule("dart_type_err_line3", r"^$", "dart_type_err_line4"),
    _rule("dart_type_err_line4", r"^$", "dart_stack"),
    _rule("dart_exc", r"^FormatException", "dart_format_err_line1"),
    _rule("dart_format_err_line1", r"^#\d+\s+.+?\(.+?\)$", "dart_stack"),
    _rule("dart_format_err_line1", r"^.", "dart_format_err_line2"),
    _rule("dart_format_err_line2", r"^.*?\^", "dart_format_err_line3"),
    _rule("dart_format_err_line3", r"^$", "dart_stack"),
    _rule("dart_exc", r"^NoSuchMethodError:", "dart_method_err_line1"),
    _rule("dart_method_err_line1", r"^Receiver:", "dart_method_err_line2"),
    _rule("dart_method_err_line2", r"^Tried calling:", "dart_method_err_line3"),
    _rule("dart_method_err_line3", r"^Found:", "dart_stack"),
    _rule("dart_method_err_line3", r"^#\d+\s+.+?\(.+?\)$", "dart_stack"),
    _rule("dart_stack", r"^#\d+\s+.+?\(.+?\)$", "dart_stack"),
    _rule("dart_stack", r"^<asynchronous suspension>$", "dart_stack"),
)

ALL_RULES = JAVA_RULES + PYTHON_RULES + PHP_RULES + GO_RULES + RUBY_RULES + DART_RULES

#: Language key → rule set, incl. aliases (exception_detector.rb:156-169).
RULES_BY_LANG: dict[str, tuple] = {
    "java": JAVA_RULES,
    "javascript": JAVA_RULES,
    "js": JAVA_RULES,
    "csharp": JAVA_RULES,
    "py": PYTHON_RULES,
    "python": PYTHON_RULES,
    "php": PHP_RULES,
    "go": GO_RULES,
    "rb": RUBY_RULES,
    "ruby": RUBY_RULES,
    "dart": DART_RULES,
    "all": ALL_RULES,
}

#: Default message-field probe order (exception_detector.rb:171).
DEFAULT_FIELDS = ("message", "log")


# ---------------------------------------------------------------------------
# Compilation
# ---------------------------------------------------------------------------


@dataclass(frozen=True)
class CompiledRules:
    """Driver-side compiled form of a language selection.

    ``patterns`` is the distinct pattern list in first-use order;
    ``by_state[s]`` is the ordered list of ``(pattern_idx, to_state_idx)``
    for state index ``s`` (dedupe semantics of exception_detector.rb:198).
    ``compiled`` and ``re2`` are each pattern's Python ``re`` and RE2 forms,
    built once: the streaming path classifies every group of every
    micro-batch.
    """

    languages: tuple[str, ...]
    patterns: tuple[str, ...]
    by_state: tuple[tuple[tuple[int, int], ...], ...]  # indexed by state idx
    compiled: tuple[re.Pattern, ...] = field(repr=False, default=())
    re2: tuple[str, ...] = field(repr=False, default=())

    @property
    def n_patterns(self) -> int:
        return len(self.patterns)


def compile_rules(languages=("all",)) -> CompiledRules:
    """Build the per-state ordered rule table for the given language keys.

    Mirrors ``ExceptionDetector#initialize`` (exception_detector.rb:177-199):
    unknown keys raise ``ValueError``; rule targets are appended in language
    order then de-duplicated per state on ``(pattern, to_state)`` keeping the
    first occurrence.
    """
    langs = tuple(str(lang).lower() for lang in (languages or ("all",))) or ("all",)
    pattern_ids: dict[str, int] = {}
    per_state: list[list[tuple[int, int]]] = [[] for _ in STATES]
    seen: list[set[tuple[int, int]]] = [set() for _ in STATES]

    for lang in langs:
        try:
            rule_set = RULES_BY_LANG[lang]
        except KeyError:
            raise ValueError(f"Unknown language: {lang}") from None
        for from_states, pattern, to_state in rule_set:
            pid = pattern_ids.setdefault(pattern, len(pattern_ids))
            tid = STATE_INDEX[to_state]
            for fs in from_states:
                fid = STATE_INDEX[fs]
                key = (pid, tid)
                if key in seen[fid]:
                    continue  # RuleTarget uniq! (exception_detector.rb:198)
                seen[fid].add(key)
                per_state[fid].append(key)

    patterns = tuple(pattern_ids)
    # the classifier packs one line's pattern matches into a uint64
    assert len(patterns) <= 64, f"{len(patterns)} patterns exceed the 64-bit match mask"
    return CompiledRules(
        languages=langs,
        patterns=patterns,
        by_state=tuple(tuple(rs) for rs in per_state),
        compiled=tuple(re.compile(p) for p in patterns),
        re2=tuple(to_re2(p) for p in patterns),
    )


# ---------------------------------------------------------------------------
# Pattern translation: Python `re` → RE2 (DuckDB regexp_matches)
# ---------------------------------------------------------------------------


#: Python's ``\s`` members among ASCII characters, spelled out for RE2,
#: whose ``\s`` lacks ``\v`` and the ``\x1c``-``\x1f`` separators.
_RE2_SPACE = r"\t\n\x0b\x0c\r \x1c-\x1f"


def to_re2(pattern: str) -> str:
    """Translate a rule pattern to RE2 with the same match result as Python
    ``re`` on every ASCII line (lines retain their trailing newline).

    Two constructs need rewriting:

    * ``$`` — Python ``re`` (no MULTILINE) also matches *before a trailing
      newline*; RE2 without the ``m`` flag only matches at end of text, so
      an anchor outside a character class becomes ``\\n?$``.
    * ``\\s`` — RE2's class lacks ``\\v`` and ``\\x1c``-``\\x1f``, which
      Python's includes; it is spelled out as a class (or as bare members
      inside a class such as ``[^\\s.:]``).

    On ASCII input ``^``, ``.``, ``\\d`` and ``\\b`` already agree.  On
    non-ASCII input they do not, and no translation closes the gap: RE2's
    Unicode tables differ from Python's ``unicodedata`` (``\\p{Nd}`` on 20
    code points, ``[\\p{L}\\p{N}_]`` on thousands).  Callers that need the
    exact result therefore match non-ASCII lines with ``re`` itself
    (``CompiledRules.compiled``); see ``functions.classify.match_bits``.
    """
    out = []
    in_class = False
    i = 0
    while i < len(pattern):
        ch = pattern[i]
        if ch == "\\":
            esc = pattern[i : i + 2]
            if esc == r"\s":
                out.append(_RE2_SPACE if in_class else f"[{_RE2_SPACE}]")
            else:
                out.append(esc)
            i += 2
            continue
        if ch in "[]":
            in_class = ch == "["
        elif ch == "$" and not in_class:
            ch = r"\n?$"
        out.append(ch)
        i += 1
    return "".join(out)
