"""Text-analysis functions for the training-data pipeline extensions:
token counting, quality scoring, language-ID heuristic, fingerprinting.

All JVM-side built-ins (no UDFs), and every construct has an exact DuckDB
equivalent so the driver's oracle can hash-compare results:

* ``stable_hash64``: md5 → first 15 hex digits → bigint.  Engine-portable
  (Spark ``conv(substring(md5(x),1,15),16,10)`` ≡ DuckDB
  ``CAST('0x'||substr(md5(x),1,15) AS BIGINT)``), unlike xxhash64/hash().
* counts use ``regexp_count`` (Spark) ≡ ``len(regexp_extract_all)`` (DuckDB).
"""

from __future__ import annotations

from pyspark.sql import Column, functions as F

#: deterministic language marker words (counts, not presence — no dedup
#: semantics to disagree on between engines)
LANG_MARKERS: dict[str, tuple[str, ...]] = {
    "en": ("the", "and", "of", "is"),
    "fr": ("le", "la", "et", "les"),
    "de": ("der", "und", "die", "nicht"),
    "es": ("el", "que", "los", "una"),
}
LANG_ORDER = tuple(LANG_MARKERS)  # tie-break priority


def stable_hash64(col: Column) -> Column:
    """Portable 60-bit hash as bigint (same value in DuckDB)."""
    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("long")


def token_count(col: Column) -> Column:
    return F.regexp_count(col, F.lit(r"\S+")).cast("long")


#: BPE-ish pre-tokenizer classes (GPT-2 style, minus the lookahead clauses —
#: RE2, which the DuckDB oracle uses, has no lookahead): a token is a
#: letter run, a digit run, or a punctuation run, each with an optional
#: leading space.  Counts approximate subword-tokenizer token counts far
#: better than whitespace splitting on code/punctuated text.  Whitespace is
#: an EXPLICIT class, not \s: Java's \s includes \x0B (vertical tab) while
#: RE2's does not, so \s here would silently diverge from the DuckDB oracle
#: on \x0B (code-review r3 — same engine-mismatch class as the re.ASCII
#: tokenizer fixes).
BPE_TOKEN_RE = r" ?[\p{L}]+| ?[\p{N}]+| ?[^ \t\n\x0B\f\r\p{L}\p{N}]+"


def bpe_token_count(col: Column) -> Column:
    return F.regexp_count(col, F.lit(BPE_TOKEN_RE)).cast("long")


def punct_count(col: Column) -> Column:
    return F.regexp_count(col, F.lit(r"[.,!?;:]")).cast("long")


def digit_count(col: Column) -> Column:
    return F.regexp_count(col, F.lit(r"[0-9]")).cast("long")


def marker_count(col: Column, lang: str) -> Column:
    pat = r"\b(?:" + "|".join(LANG_MARKERS[lang]) + r")\b"
    return F.regexp_count(F.lower(col), F.lit(pat)).cast("long")


def lang_id(col: Column) -> Column:
    """Deterministic marker-count argmax; ties go to the earlier language in
    LANG_ORDER; 'und' when no markers hit.  Cascade form (identical CASE in
    the DuckDB oracle): a branch fires iff its count is positive and >= every
    later language's count — unreachable when an earlier language dominates."""
    counts = [marker_count(col, lang) for lang in LANG_ORDER]
    result = None
    for i, lang in enumerate(LANG_ORDER):
        cond = counts[i] > 0
        for j in range(i + 1, len(LANG_ORDER)):
            cond = cond & (counts[i] >= counts[j])
        result = F.when(cond, F.lit(lang)) if result is None else result.when(cond, F.lit(lang))
    return result.otherwise(F.lit("und"))


def normalized(col: Column) -> Column:
    """lowercase + collapse whitespace runs to single spaces + trim."""
    return F.trim(F.regexp_replace(F.lower(col), r"\s+", " "))


def fingerprint(col: Column) -> Column:
    """Document fingerprint: md5 of the normalized text."""
    return F.md5(normalized(col))


def gram_hashes_of_base(base: Column, k: int = 7) -> Column:
    """Positional k-gram rolling hashes over an ALREADY-NORMALIZED text
    column (portable 60-bit hash per gram); texts shorter than k yield one
    whole-text hash.  ``base`` must be a materialized attribute — see
    window_minima's note on interpreted-HOF re-evaluation."""
    n = F.length(base)
    return F.when(
        n >= k,
        F.transform(
            F.sequence(F.lit(0), n - k),
            lambda i: stable_hash64(base.substr(i + 1, F.lit(k))),
        ),
    ).otherwise(F.array(stable_hash64(base)))


def window_minima(grams_col: Column, w: int = 5) -> Column:
    """Distinct minima of every ``w``-wide sliding window over a
    MATERIALIZED gram-hash array column.  Must be fed an attribute, not the
    gram expression inline: interpreted higher-order functions re-evaluate
    a non-attribute child per window element, turning O(len·w) into
    O(len²·k) — measured as a >100× slowdown at 300-char docs."""
    m = F.size(grams_col)
    return F.when(
        m >= w,
        F.array_distinct(
            F.transform(
                F.sequence(F.lit(0), m - w),
                lambda j: F.array_min(F.slice(grams_col, j + 1, w)),
            )
        ),
    ).otherwise(F.array(F.array_min(grams_col)))


def winnow_fingerprints_df(df, text_col: str = "text", id_col: str = "doc_id",
                           k: int = 7, w: int = 5):
    """Winnowing document fingerprints (Schleimer/Wilkerson/Aiken): one
    (id, fp) row per distinct sliding-window minimum of the k-gram rolling
    hashes.  Any shared substring of length ≥ k+w-1 between two documents
    guarantees a shared fingerprint — the substring-level dedup/attribution
    primitive, vs ``fingerprint``'s exact-match md5.  Two projections so the
    gram array materializes as an attribute between them (see
    window_minima's note); entirely JVM expressions, shuffles nothing, exact
    DuckDB mirror in plans/oracle_sql.winnow_fingerprints_sql.  THREE
    projections: the normalized text materializes before the gram transform
    (else the normalization regex re-runs per gram — code-review r3), and
    the gram array materializes before the window transform."""
    b = df.select(id_col, normalized(F.col(text_col)).alias("__base"))
    g = b.select(id_col, gram_hashes_of_base(F.col("__base"), k).alias("__grams"))
    return g.select(
        id_col, F.explode(window_minima(F.col("__grams"), w)).alias("fp")
    )


def quality_stats(col: Column) -> dict[str, Column]:
    """Integer-valued quality features (ints hash identically across
    engines; ratios are derived by consumers)."""
    n_chars = F.length(col).cast("long")
    toks = token_count(col)
    return {
        "n_chars": n_chars,
        "n_tokens": toks,
        "n_punct": punct_count(col),
        "n_digits": digit_count(col),
        "n_stopwords": marker_count(col, "en"),
        # mean token length in tenths (integerized: floor(10*chars/tokens))
        "tok_len_deci": F.floor(10.0 * n_chars / F.greatest(toks, F.lit(1))).cast("long"),
    }


def repetition_stats_df(df, text_col: str = "text", id_col: str = "doc_id"):
    """Intra-document repetition features (the Gopher-rule family adapted
    to word level): per document, total and DISTINCT word counts plus the
    occurrence count of the most frequent word 2-gram — the signals that
    flag machine-generated / boilerplate-looped text, which per-document
    length or punctuation stats miss.  All integers (ratios derive
    downstream, matching quality_stats).

    Plan shape: words materialize as an attribute before the 2-gram
    transform (interpreted-HOF lesson: a non-attribute child re-evaluates
    per lambda element), word-level stats are pure array expressions, and
    the top-2-gram count is explode → two map-side-combinable groupBys on
    (doc, gram) then (doc) — fine-grained keys, no skew; single-word docs
    rejoin with zero counts via a left join on the narrow id column."""
    w = df.select(
        id_col, F.split(normalized(F.col(text_col)), " ").alias("__words")
    )
    base = w.select(
        id_col,
        F.size("__words").cast("long").alias("n_words"),
        F.size(F.array_distinct("__words")).cast("long").alias("n_distinct_words"),
        F.greatest(F.size("__words") - 1, F.lit(0)).cast("long").alias("n_2grams"),
    )
    grams = w.select(
        id_col,
        F.explode(
            F.when(
                F.size("__words") >= 2,
                F.transform(
                    F.sequence(F.lit(0), F.size("__words") - 2),
                    lambda i: F.concat_ws(
                        " ",
                        F.element_at(F.col("__words"), i + 1),
                        F.element_at(F.col("__words"), i + 2),
                    ),
                ),
            ).otherwise(F.array().cast("array<string>"))
        ).alias("__g"),
    )
    top = (
        grams.groupBy(id_col, "__g")
        .agg(F.count(F.lit(1)).alias("__n"))
        .groupBy(id_col)
        .agg(F.max("__n").cast("long").alias("top_2gram_n"))
    )
    return base.join(top, id_col, "left").select(
        id_col,
        "n_words",
        "n_distinct_words",
        "n_2grams",
        F.coalesce("top_2gram_n", F.lit(0)).cast("long").alias("top_2gram_n"),
    )


def vocab_top_terms(
    df,
    n: int = 100,
    text_col: str = "text",
    id_col: str = "doc_id",
):
    """Corpus vocabulary head: the ``n`` most frequent whitespace terms with
    total occurrence and document-frequency counts — the rollup a tokenizer
    build, stopword audit, or corpus drift check starts from.

    (term, n_occurrences, n_docs), ordered by occurrences DESC with the
    term string as the deterministic tie-break (engines agree bit-for-bit).

    Plan shape: the canonical map-side-combinable wordcount —
    ``regexp_extract_all`` (identical semantics in the DuckDB oracle,
    unlike split-on-regex's empty-edge behavior) → explode carrying only
    (id, term) → partial agg per term before the shuffle, so heavy-hitter
    terms (stopwords at 100 TB) combine locally and the exchange moves one
    row per (partition, distinct term); the final top-n is a
    TakeOrderedAndProject, never a full sort.

    Whitespace is the EXPLICIT class (the BPE_TOKEN_RE portability rule in
    this file): Java's ``\\s`` includes ``\\x0B`` while RE2's does not, so
    ``\\s``/``\\S`` here would silently diverge from the DuckDB oracle on
    vertical tabs (code-review r5)."""
    base = F.trim(
        F.regexp_replace(F.lower(F.col(text_col)), r"[ \t\n\x0B\f\r]+", " ")
    )
    terms = df.select(
        F.col(id_col).alias("__id"),
        F.explode(
            F.regexp_extract_all(base, F.lit(r"[^ \t\n\x0B\f\r]+"), 0)
        ).alias("term"),
    )
    counts = terms.groupBy("term").agg(
        F.count(F.lit(1)).alias("n_occurrences"),
        F.countDistinct("__id").alias("n_docs"),
    )
    return counts.orderBy(
        F.col("n_occurrences").desc(), F.col("term").asc()
    ).limit(n)


def length_percentiles(
    df,
    text_col: str = "text",
    stratum_col: str = "source",
    approx: bool = False,
):
    """Per-stratum token-length percentiles (p50/p90/p99, milli-floored to
    integers) — the corpus-QA rollup that catches truncation bugs and
    source drift that means/medians alone hide.

    ``approx=False`` (default, oracle-gated): EXACT percentiles via
    Spark's ``percentile`` aggregate, which buffers each group's values —
    fine for per-source/per-language strata (values per group ≪ memory),
    and bit-identical to DuckDB's ``quantile_cont`` (both use the standard
    (n-1)·p linear interpolation over the same integers).  For very
    high-cardinality strata at 100 TB, pass ``approx=True`` to switch to
    ``percentile_approx`` (bounded-memory t-digest-style sketch; NOT
    oracle-comparable, so the driver gate pins the exact form)."""
    fn = "percentile_approx" if approx else "percentile"
    q = {"p50": 0.5, "p90": 0.9, "p99": 0.99}
    toks = token_count(F.col(text_col)).alias("__t")
    aggs = [
        F.expr(f"CAST(floor(1000 * {fn}(__t, {p})) AS BIGINT)").alias(name)
        for name, p in q.items()
    ]
    return (
        df.select(stratum_col, toks)
        .groupBy(stratum_col)
        .agg(*aggs)
    )
