"""Driver contract for the spark-graft builder (PySpark target).

``entry`` runs the flagship exception pipeline; ``queries`` exposes every
implemented operator from SURVEY.md §2 plus the training-data extensions;
``oracle_sql`` returns DuckDB-equivalent SQL for each (the flagship FSM is
expressed as a generated recursive CTE — see plans/oracle_sql.py).

Transcript queries synthesize their input deterministically from literals +
range() (BASELINE.json input_hint; no external data), identically in Spark
and DuckDB.  Document/embedding queries run on the sf_dir parquet tables.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, functions as F

from fluent_plugin_detect_exceptions_spark.config import PipelineConfig
from fluent_plugin_detect_exceptions_spark.functions import text as T
from fluent_plugin_detect_exceptions_spark.operators import dedup as D
from fluent_plugin_detect_exceptions_spark.operators import similarity as S
from fluent_plugin_detect_exceptions_spark.operators.route import sink_counts
from fluent_plugin_detect_exceptions_spark.plans import oracle_sql as O
from fluent_plugin_detect_exceptions_spark.plans.pipeline import detect_exceptions
from fluent_plugin_detect_exceptions_spark.rules import STATES, compile_rules
from fluent_plugin_detect_exceptions_spark.sources.transcripts import synth_transcripts

N_CONVS = 40  # correctness-gate transcript size (fixed: oracle SQL embeds it)

_GATE_TMPDIRS: list[str] = []


def _gate_tmpdir(prefix: str) -> str:
    """Temp dir for gate-query index round-trips, removed at process exit —
    repeated gate runs must not accumulate orphaned parquet index copies in
    /tmp (code-review r3).  Deletion is deferred to atexit because the gate
    queries return LAZY DataFrames that read the directory at collect time."""
    import atexit
    import shutil
    import tempfile

    d = tempfile.mkdtemp(prefix=prefix)
    if not _GATE_TMPDIRS:
        atexit.register(
            lambda: [shutil.rmtree(x, ignore_errors=True) for x in _GATE_TMPDIRS]
        )
    _GATE_TMPDIRS.append(d)
    return d
REPEATS = 1
FLAGSHIP_CFG = PipelineConfig(remove_tag_prefix="conv", max_lines=0)


def _flagship(spark: SparkSession, n_convs: int = N_CONVS) -> DataFrame:
    df = synth_transcripts(spark, n_convs, REPEATS)
    routed = detect_exceptions(df, FLAGSHIP_CFG)
    return routed.select(
        "conv_id",
        "first_turn_idx",
        "role",
        "tool",
        F.unix_timestamp("ts").alias("ts"),
        "text",
        "n_lines",
        "lang",
        "sink",
        "out_tag",
    )


def entry(spark: SparkSession) -> DataFrame:
    """Flagship on sf0.001-scale input; driver checks rows>0 + stable schema."""
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    n = max(10, min(60, docs.count() // 5))
    return _flagship(spark, n)


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/documents.parquet")


def _q_exception_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _flagship(spark)


def _q_sink_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = synth_transcripts(spark, N_CONVS, REPEATS)
    return sink_counts(detect_exceptions(df, FLAGSHIP_CFG))


def _q_sink_counts_fast(spark: SparkSession, sf_dir: str) -> DataFrame:
    # the 2-exchange counts-only fast path (VERDICT r2 item 5): per-sink
    # counts straight from fused partials, skipping the coalesce groupBy —
    # same oracle as sink_counts
    from fluent_plugin_detect_exceptions_spark.operators.route import (
        detect_sink_counts,
    )

    df = synth_transcripts(spark, N_CONVS, REPEATS)
    return detect_sink_counts(df, FLAGSHIP_CFG)


def _q_classify_start(spark: SparkSession, sf_dir: str) -> DataFrame:
    rules = compile_rules(("all",))
    expr = None
    for pid, tid in rules.by_state[0]:
        fam = STATES[tid].split("_")[0]
        cond = F.col("text").rlike(rules.patterns[pid])
        expr = F.when(cond, F.lit(fam)) if expr is None else expr.when(cond, F.lit(fam))
    df = synth_transcripts(spark, N_CONVS, REPEATS)
    return df.select("conv_id", "turn_idx", expr.alias("start_lang"))


def _q_demux_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = synth_transcripts(spark, N_CONVS, REPEATS)
    return df.groupBy("conv_id", "tool").agg(
        F.count(F.lit(1)).alias("n_turns"),
        F.min("turn_idx").cast("long").alias("first_turn"),
        F.max("turn_idx").cast("long").alias("last_turn"),
    )


def _q_tag_rewrite(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = synth_transcripts(spark, 5, 1)
    tags = df.select(F.concat(F.lit("prefix.plus."), F.col("conv_id")).alias("tag")).distinct()
    return tags.select(
        "tag",
        F.regexp_replace("tag", r"^prefix\.plus\.", "").alias("strip_full"),
        F.regexp_replace("tag", r"^prefix\.pl\.", "").alias("strip_partial"),
        F.regexp_replace("tag", r"^does\.not\.occur\.", "").alias("strip_missing"),
    )


def _q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    return D.exact_dedup_groups(_docs(spark, sf_dir))


def _q_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _docs(spark, sf_dir)
    return d.select(
        "doc_id",
        F.length("text").cast("long").alias("n_chars"),
        T.token_count(F.col("text")).alias("n_tokens"),
        T.bpe_token_count(F.col("text")).alias("n_bpe_tokens"),
        T.punct_count(F.col("text")).alias("n_punct"),
        T.digit_count(F.col("text")).alias("n_digits"),
    )


def _q_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _docs(spark, sf_dir)
    stats = T.quality_stats(F.col("text"))
    return d.select(
        "doc_id",
        stats["n_chars"].alias("n_chars"),
        stats["n_tokens"].alias("n_tokens"),
        stats["n_punct"].alias("n_punct"),
        stats["n_stopwords"].alias("n_stopwords"),
        stats["tok_len_deci"].alias("tok_len_deci"),
    )


def _q_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _docs(spark, sf_dir)
    return d.select(
        "doc_id",
        F.col("lang").alias("actual_lang"),
        T.lang_id(F.col("text")).alias("pred_lang"),
    )


def _q_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _docs(spark, sf_dir)
    return d.select("doc_id", T.fingerprint(F.col("text")).alias("fp"))


def _q_winnow_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    # rolling-hash document fingerprints (winnowing): shared substrings of
    # length >= k+w-1 guarantee a shared fingerprint — the substring-level
    # dedup/attribution primitive, vs `fingerprint`'s exact-match md5
    return T.winnow_fingerprints_df(_docs(spark, sf_dir))


def _q_minhash_bands(spark: SparkSession, sf_dir: str) -> DataFrame:
    return D.lsh_candidate_buckets(_docs(spark, sf_dir))


def _q_embedding_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    qv = emb.filter(F.col("vec_id") == 0).select("embedding").first()["embedding"]
    return S.cosine_topk(emb, [float(x) for x in qv], k=10)


def _q_events_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    # O1 scan with pushed-down filter + column pruning over a testdata table
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    return (
        ev.filter(F.col("event_type") == "error")
        .select(
            "event_id",
            "user_id",
            F.unix_timestamp("ts").alias("ts_epoch"),
            F.floor(F.col("value") * 100).cast("long").alias("value_cents"),
        )
    )


def _q_pipeline_max_lines(spark: SparkSession, sf_dir: str) -> DataFrame:
    # O11 max_lines post-check (oracle: recursive CTE carrying line counts)
    df = synth_transcripts(spark, 20, 1)
    cfg = PipelineConfig(max_lines=3)
    routed = detect_exceptions(df, cfg)
    return routed.select(
        "conv_id", "first_turn_idx", "text", "n_lines", "lang", "sink"
    )


def _q_pipeline_max_bytes(spark: SparkSession, sf_dir: str) -> DataFrame:
    # O10 max_bytes pre-check (oracle: recursive CTE carrying buffer chars)
    df = synth_transcripts(spark, 20, 1)
    cfg = PipelineConfig(max_lines=0, max_bytes=160)
    routed = detect_exceptions(df, cfg)
    return routed.select(
        "conv_id", "first_turn_idx", "text", "n_lines", "lang", "sink"
    )


def _q_pipeline_flb(spark: SparkSession, sf_dir: str) -> DataFrame:
    # O12 force_line_breaks (oracle: newline-prepend in the concat member
    # expression; input strips trailing newlines so the prepend fires)
    df = synth_transcripts(spark, 10, 1).withColumn(
        "text", F.regexp_replace("text", r"\n$", "")
    )
    routed = detect_exceptions(df, PipelineConfig(force_line_breaks=True))
    return routed.select("conv_id", "first_turn_idx", "text", "n_lines", "lang")


def _q_pipeline_timeout(spark: SparkSession, sf_dir: str) -> DataFrame:
    # O13 event-time gap flush, oracle-checked: every 8th turn is delayed
    # 10s (> interval 5), deterministically in both engines
    df = synth_transcripts(spark, N_CONVS, REPEATS).withColumn(
        "ts",
        F.timestamp_seconds(
            F.unix_timestamp("ts") + F.when(F.col("turn_idx") % 8 == 0, 10).otherwise(0)
        ),
    )
    cfg = PipelineConfig(
        remove_tag_prefix="conv", max_lines=0, multiline_flush_interval=5
    )
    routed = detect_exceptions(df, cfg)
    return routed.select(
        "conv_id", "first_turn_idx", "role", "tool",
        F.unix_timestamp("ts").alias("ts"), "text", "n_lines", "lang",
        "sink", "out_tag",
    )


def _q_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    # SimHash near-dup buckets (oracle: 60 bit-vote CASE terms over
    # md5-hashed token lists — bit-identical to the pandas stage)
    return D.simhash_near_dups(_docs(spark, sf_dir), prefix_bits=8)


def _q_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    # LSH candidates verified by exact shingle Jaccard (full oracle); the
    # cap is OPT-IN (default uncapped since r3) — passed explicitly here to
    # exercise the capped path, with lsh_oversized_buckets as the paired
    # recall-loss visibility query
    return D.jaccard_pairs(_docs(spark, sf_dir), threshold_millis=100, max_bucket=256)


def _q_jaccard_rep_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    # linear representative verification INSIDE oversized buckets (the
    # routing alternative to dropping them): pairs (min-id rep, member)
    return D.jaccard_rep_pairs(
        _docs(spark, sf_dir), threshold_millis=100, max_bucket=16
    )


def _q_near_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    # the step that turns pair-finding into dedup: anti-join the verified
    # near-dup pairs (keep the min id of each pair) — composed with the
    # LSH→Jaccard verifier
    d = _docs(spark, sf_dir)
    pairs = D.jaccard_pairs(d, threshold_millis=500, max_bucket=256)
    return D.near_dedup(d, pairs).select("doc_id")


def _q_lsh_oversized(spark: SparkSession, sf_dir: str) -> DataFrame:
    # recall-loss visibility for a capped jaccard_pairs: buckets a
    # max_bucket=16 cap would skip (non-empty at sf0.01)
    return D.oversized_lsh_buckets(_docs(spark, sf_dir), max_bucket=16)


def _q_ann_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    # hyperplane-LSH bucketed ANN (oracle: embedded plane literals + same
    # bucket restriction; the materialized-index form is ann_topk_indexed)
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    qv = [float(x) for x in emb.filter(F.col("vec_id") == 0).first()["embedding"]]
    return S.lsh_bucketed_topk(emb, qv, k=10)


def _q_ann_indexed(spark: SparkSession, sf_dir: str) -> DataFrame:
    # the SCALE path of ANN (VERDICT r2): round-trip through the
    # materialized bucket-PARTITIONED index — build_lsh_index writes one
    # directory per hyperplane signature, ann_topk_indexed reads only the
    # query's partition (PartitionFilters prune ~1/2^n_planes of the data).
    # Oracle: identical to ann_lsh_topk (same planes, same bucket, same
    # exact cosine inside it).
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    qv = [float(x) for x in emb.filter(F.col("vec_id") == 0).first()["embedding"]]
    path = _gate_tmpdir("gate_ann_index_") + "/index"
    S.build_lsh_index(emb, path, dim=64)
    return S.ann_topk_indexed(spark, path, qv, k=10)


def _q_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    # the IVF scale path (complement to hyperplane LSH): deterministic
    # md5-sampled centroids -> centroid-partitioned index -> n_probe
    # partitions read (PartitionFilters prune the rest); oracle re-derives
    # the identical centroids in SQL
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    cents = S.ivf_centroids(emb, n_centroids=8)
    qv = [float(x) for x in emb.filter(F.col("vec_id") == 0).first()["embedding"]]
    path = _gate_tmpdir("gate_ivf_index_") + "/index"
    S.build_ivf_index(emb, path, cents)
    return S.ivf_topk_indexed(spark, path, cents, qv, k=10, n_probe=2)


def _q_embedding_near_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    # the CC keep-list composition applied to the EMBEDDING family:
    # LSH-bucketed cosine pairs -> connected components -> one keep per
    # component (same transitive semantics as the text-side near_dedup_cc)
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    pairs = S.embedding_dup_pairs(emb, threshold_micro=0, dim=64).select(
        "id_a", "id_b"
    )
    return D.near_dedup_cc(emb.select("vec_id"), pairs, "vec_id")


def _q_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    # the THIRD ANN family: product quantization — vectors compress to m
    # small codes, queries scan ONLY the code columns (m ints vs dim
    # floats) and score via the driver-built ADC distance table; oracle
    # re-derives sub-centroids/codes/table entirely in SQL
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    sc = S.pq_subcentroids(emb, m=4, k_c=8)
    qv = [float(x) for x in emb.filter(F.col("vec_id") == 0).first()["embedding"]]
    path = _gate_tmpdir("gate_pq_index_") + "/index"
    S.build_pq_index(emb, path, sc)
    return S.pq_topk(spark, path, sc, qv, k=10)


def _q_enriched_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    # broadcast lookup-enrich (north rule): routed records joined to the
    # language metadata dim with an explicit broadcast hash join
    from fluent_plugin_detect_exceptions_spark.operators.enrich import enrich_with_lang

    df = synth_transcripts(spark, N_CONVS, REPEATS)
    routed = enrich_with_lang(detect_exceptions(df, FLAGSHIP_CFG), spark)
    return routed.select(
        "conv_id", "first_turn_idx", "n_lines", "lang",
        "lang_name", "detects_end", F.col("n_rules").cast("long").alias("n_rules"),
    )


def _q_events_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    # tumbling 1-hour event-time window aggregate (integerized sums so the
    # aggregation is order-independent across engines)
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    return (
        ev.withColumn("cents", F.floor(F.col("value") * 100).cast("long"))
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("cents").alias("sum_cents"))
        .select(
            F.unix_timestamp(F.col("w.start")).alias("w_start"),
            "event_type", "n", "sum_cents",
        )
    )


def _q_training_data_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    # end-to-end training-data selection: exact-dedup representatives that
    # pass quality gates (length, token count, punct ratio) with detected
    # language attached — the composition a real data pipeline runs
    d = _docs(spark, sf_dir)
    keep = D.exact_dedup(d, "text", "doc_id")
    stats = T.quality_stats(F.col("text"))
    return (
        keep.select(
            "doc_id",
            T.lang_id(F.col("text")).alias("pred_lang"),
            stats["n_chars"].alias("n_chars"),
            stats["n_tokens"].alias("n_tokens"),
            stats["n_punct"].alias("n_punct"),
        )
        .filter(
            (F.col("n_chars") >= 100)
            & (F.col("n_tokens") >= 20)
            & (F.col("n_punct") * 5 <= F.col("n_tokens"))
        )
    )


def _q_winnow_oversized(spark: SparkSession, sf_dir: str) -> DataFrame:
    # recall-loss visibility for a capped winnow_dup_pairs: degenerate
    # fingerprints (boilerplate substrings shared by >max_bucket docs) the
    # cap skips — mirror of lsh_oversized_buckets for the fp family
    return D.oversized_winnow_buckets(_docs(spark, sf_dir), max_bucket=100)


def _q_winnow_rep_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    # linear recovery inside oversized fp buckets: member vs min-id
    # representative, verified by the FULL shared-fingerprint count
    return D.winnow_rep_pairs(_docs(spark, sf_dir), min_shared=3, max_bucket=100)


def _q_near_dedup_cc(spark: SparkSession, sf_dir: str) -> DataFrame:
    # cluster-exact near-dedup labels: overlapping substring pieces of the
    # first 40 docs form deliberate a-b-c similarity CHAINS (adjacent
    # pieces overlap by half, distant ones don't); exact all-pairs shingle
    # Jaccard builds the pair graph (the chain-rich FIXTURE — at scale
    # pair-finding is the LSH/winnow paths), and connected_components
    # (Hash-Min + pointer jumping) labels every node with its component
    # min.  Oracle computes the same closure with a recursive CTE.
    d = _docs(spark, sf_dir).filter(F.col("doc_id") < 40)
    b = d.select("doc_id", T.normalized(F.col("text")).alias("base"))
    pieces = (
        b.select(
            "doc_id",
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(j).alias("j"),
                            F.col("base").substr(1 + 120 * j, 240).alias("ptext"),
                        )
                        for j in range(3)
                    ]
                )
            ).alias("p"),
        )
        .select(
            (F.col("doc_id") * 3 + F.col("p.j")).alias("pid"),
            F.col("p.ptext").alias("ptext"),
        )
        .filter(F.length("ptext") >= 40)
    )
    hs = pieces.select(
        "pid",
        F.array_distinct(
            F.transform(D.shingles(F.col("ptext")), T.stable_hash64)
        ).alias("hs"),
    )
    a = hs.select(F.col("pid").alias("id_a"), F.col("hs").alias("hs_a"))
    bb = hs.select(F.col("pid").alias("id_b"), F.col("hs").alias("hs_b"))
    inter = F.size(F.array_intersect("hs_a", "hs_b"))
    union = F.size("hs_a") + F.size("hs_b") - inter
    pairs = (
        a.join(bb, F.col("id_a") < F.col("id_b"))
        .select(
            "id_a", "id_b",
            F.floor(1000.0 * inter / union).cast("long").alias("jm"),
        )
        .filter(F.col("jm") >= 250)
        .select("id_a", "id_b")
    )
    return D.connected_components(pairs)


def _q_near_dedup_full(spark: SparkSession, sf_dir: str) -> DataFrame:
    # the COMPLETE production dedup composition: capped in-bucket Jaccard
    # (bounded quadratic) + rep-pairs recovery of the oversized buckets +
    # connected components over the union + one-keep-per-component —
    # every piece scale-safe, end-to-end oracle-gated
    d = _docs(spark, sf_dir)
    p1 = D.jaccard_pairs(d, threshold_millis=500, max_bucket=16).select(
        "id_a", "id_b"
    )
    p2 = D.jaccard_rep_pairs(d, threshold_millis=500, max_bucket=16).select(
        "id_a", "id_b"
    )
    return D.near_dedup_cc(d, p1.unionByName(p2).distinct()).select("doc_id")


def _q_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    # test-set decontamination: drop training docs sharing too many
    # winnowing fingerprints with the eval split (benchmark-leakage
    # removal — any copied passage >= k+w-1 chars guarantees a shared
    # fingerprint).  min_shared=80 here because the SYNTHETIC corpus is
    # template-generated with ~80 median shared fps between any train doc
    # and the 50-doc eval split; real corpora sit near 3-10 (the operator
    # default), where only actual leakage crosses the bar.
    d = _docs(spark, sf_dir)
    train = d.filter(F.col("doc_id") < 450)
    ev = d.filter(F.col("doc_id") >= 450)
    return D.decontaminate(train, ev, min_shared=80).select("doc_id")


def _q_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    # deterministic source-mixing: md5-bucket per doc vs per-source rates
    # (reproducible across runs/engines/cluster sizes, unlike df.sample)
    from fluent_plugin_detect_exceptions_spark.operators.sample import (
        stratified_sample,
    )

    return stratified_sample(
        _docs(spark, sf_dir),
        rates_millis={"src0": 1000, "src1": 250, "src2": 0},
        default_millis=500,
    ).select("doc_id", "source")


def _q_repetition_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    # intra-document repetition (Gopher-rule family at word level): total/
    # distinct words + top word-2-gram occurrence count per doc
    return T.repetition_stats_df(_docs(spark, sf_dir))


def _q_training_data_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    # the CAPSTONE composition: exact dedup ∩ CC near-dedup (capped pairs +
    # rep recovery) ∩ quality ∩ repetition ∩ stratified sampling — every
    # gate an oracle-gated piece, intersected over the immutable corpus
    # (decontamination is gated standalone; with an eval corpus it joins
    # the intersection — pytest-covered)
    from fluent_plugin_detect_exceptions_spark.plans.training_data import (
        prepare_training_data,
    )

    return prepare_training_data(
        _docs(spark, sf_dir),
        threshold_millis=500,
        max_bucket=16,
        rates_millis={"src0": 1000, "src1": 250, "src2": 0},
        default_millis=500,
    ).select("doc_id", "source")


def _q_corpus_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    # the analytics face of the engine: per-(source, detected language)
    # corpus rollup — doc counts, token/char volume, exact-dup volume —
    # one map-side-combinable aggregate over the quality projection
    d = _docs(spark, sf_dir)
    stats = T.quality_stats(F.col("text"))
    return (
        d.select(
            "source",
            T.lang_id(F.col("text")).alias("pred_lang"),
            stats["n_tokens"].alias("n_tokens"),
            stats["n_chars"].alias("n_chars"),
            F.md5("text").alias("__md5"),
        )
        .groupBy("source", "pred_lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.countDistinct("__md5").alias("n_distinct_texts"),
            F.sum("n_tokens").alias("sum_tokens"),
            F.sum("n_chars").alias("sum_chars"),
        )
    )


def _q_embedding_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    # embedding-cosine near-dup pairs inside full-signature LSH buckets
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    return S.embedding_dup_pairs(emb, threshold_micro=0, dim=64)


def _q_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    # whole-doc next-fit sequence packing: deterministic md5 corpus shuffle,
    # hash shards packing independently, oversized docs truncated to one
    # full pack — vs a recursive-CTE oracle carrying (pack, cum) per shard
    from fluent_plugin_detect_exceptions_spark.operators.pack import pack_sequences

    return pack_sequences(_docs(spark, sf_dir), budget=64, n_shards=8)


def _q_chunk_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    # GPT-style concat-and-chunk spans: the scalable two-pass global cumsum
    # (per-bucket prefix totals + per-bucket window) vs the oracle's single
    # global window cumsum over the same deterministic order.
    # start_off/end_off are cast to decimal(38,0) to match the oracle's
    # output TYPE exactly: DuckDB window-SUM returns HUGEINT, which Arrow
    # surfaces as decimal128(38,0) — a hasher comparing Arrow-typed values
    # sees Decimal("123") vs int64 123 as different even though the values
    # are equal (VERDICT r5 item 1; the oracle SQL itself is frozen, so the
    # representation is aligned on the Spark side).
    from fluent_plugin_detect_exceptions_spark.operators.pack import chunk_spans

    out = chunk_spans(_docs(spark, sf_dir), seq_len=128, n_buckets=16)
    return out.select(
        "doc_id",
        "n_tokens",
        "bucket",
        F.col("start_off").cast("decimal(38,0)").alias("start_off"),
        F.col("end_off").cast("decimal(38,0)").alias("end_off"),
        "first_seq",
        "last_seq",
    )


def _q_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    # PII redaction cascade with per-category audit counts; the synthetic
    # corpus has no PII-shaped text, so the gate injects one of each
    # category deterministically from doc_id (same expression in the SQL —
    # O.PII_AUG_SQL) and hash-compares counts + scrubbed-text md5
    from fluent_plugin_detect_exceptions_spark.functions.pii import (
        PII_PATTERNS,
        pii_scrub_cols,
    )

    did = F.col("doc_id")
    aug = F.concat(
        F.col("text"),
        F.lit(" reach user"), did.cast("string"),
        F.lit("@mail"), (did % 7).cast("string"),
        F.lit(".com or 555-"), (did % 900 + 100).cast("string"),
        F.lit("-"), (did % 9000 + 1000).cast("string"),
        F.lit(" card 4111-1111-1111-"), (did % 9000 + 1000).cast("string"),
        F.lit(" ssn "), (did % 900 + 100).cast("string"),
        F.lit("-"), (did % 90 + 10).cast("string"),
        F.lit("-"), (did % 9000 + 1000).cast("string"),
        F.lit(" host 10."), (did % 256).cast("string"),
        F.lit(".0.1"),
    )
    scrubbed, counts = pii_scrub_cols(aug)
    return _docs(spark, sf_dir).select(
        "doc_id",
        *[counts[name].alias(f"n_{name}") for name, _, _ in PII_PATTERNS],
        F.md5(scrubbed).alias("scrubbed_md5"),
    )


def _q_length_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    # per-source token-length p50/p90/p99 (exact percentiles, milli-floored
    # — corpus QA rollup; approx=True is the documented 100 TB path for
    # high-cardinality strata, not oracle-comparable so the gate pins exact)
    return T.length_percentiles(_docs(spark, sf_dir))


def _q_incremental_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    # production dedup mode: NEW batch (doc_id >= 400) deduped AGAINST the
    # EXISTING corpus (< 400) — exact digest anti-join + bipartite LSH with
    # Jaccard verification; existing docs never touched, never new x new
    docs = _docs(spark, sf_dir)
    return D.incremental_dedup(
        docs.filter(F.col("doc_id") >= 400),
        docs.filter(F.col("doc_id") < 400),
        threshold_millis=500,
    ).select("doc_id", "source")


def _q_vocab_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    # corpus vocabulary head: map-side-combinable wordcount + doc
    # frequency, top-100 with the term string as deterministic tie-break
    return T.vocab_top_terms(_docs(spark, sf_dir), n=100)


def _q_streaming_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    # ROWS-ONLY gate (no oracle by design — DuckDB cannot run Structured
    # Streaming): the watermark-bounded streaming exact dedup end-to-end
    # through a real file stream source + availableNow trigger.  The kept
    # DIGEST SET is deterministic (one per distinct text within the
    # horizon) even though which duplicate row survives within a single
    # micro-batch is partition-order arbitrary — so the gate returns the
    # digests, not the rows.  Semantics (eviction, late events, re-emit)
    # are pinned by tests/test_streaming.py.
    from fluent_plugin_detect_exceptions_spark.streaming.dedup_stream import (
        streaming_exact_dedup,
    )

    src = _gate_tmpdir("stream_dedup_src_")
    out = _gate_tmpdir("stream_dedup_out_")
    docs = _docs(spark, sf_dir)
    # duplicate-bearing input: each doc also arrives a second time under a
    # shifted id; event times start at t>0 (epoch-0 is the initial
    # watermark and would drop the first rows as late)
    base = docs.select(
        "doc_id",
        "text",
        F.timestamp_seconds(F.col("doc_id") + 1).alias("ts"),
    )
    dup = base.withColumn("doc_id", F.col("doc_id") + 1_000_000)
    base.unionByName(dup).write.mode("overwrite").parquet(src)
    stream = (
        spark.readStream.schema("doc_id long, text string, ts timestamp")
        .parquet(src)
    )
    deduped = streaming_exact_dedup(stream, watermark="10 minutes")
    q = (
        deduped.select("text_md5")
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", f"{out}/_ckpt")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.read.parquet(out).select("text_md5").distinct()


def _q_multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    # ROWS-ONLY gate (no oracle by design — DuckDB cannot decode images):
    # the real multimodal path — binary payloads decoded by the pure-python
    # BMP decoder inside the Arrow stage, features extracted BEFORE any
    # shuffle.  Payloads are synthesized deterministically from doc_id in a
    # generation stage (the operator under test is decode+featurize, not
    # the generator).
    import numpy as np
    import pandas as pd

    from fluent_plugin_detect_exceptions_spark.operators.multimodal import (
        extract_features,
        real_decode,
    )

    def gen(batches):
        import struct

        for pdf in batches:
            payloads = []
            for did in pdf["doc_id"]:
                w = h = 8
                row_len = (3 * w + 3) & ~3
                img = bytearray()
                for y in range(h):
                    row = bytearray()
                    for x in range(w):
                        v = (int(did) * 31 + x * 7 + y * 13) % 256
                        row += bytes((v, (v * 3) % 256, (v * 5) % 256))
                    row += b"\x00" * (row_len - len(row))
                    img += row
                header = struct.pack(
                    "<2sIHHI", b"BM", 54 + len(img), 0, 0, 54
                ) + struct.pack(
                    "<IiiHHIIiiII", 40, w, h, 1, 24, 0, len(img), 2835, 2835, 0, 0
                )
                payloads.append(bytes(header) + bytes(img))
            yield pd.DataFrame(
                {
                    "media_id": pdf["doc_id"].astype(np.int64),
                    "kind": ["image"] * len(pdf),
                    "payload": payloads,
                }
            )

    docs = _docs(spark, sf_dir).select("doc_id")
    payloads = docs.mapInPandas(
        gen, schema="media_id long, kind string, payload binary"
    )
    feats = extract_features(payloads, real_decode)
    return feats.select(
        "media_id",
        "n_bytes",
        # integerize the float features for a stable value signature
        F.expr(
            "transform(feature, x -> CAST(floor(x * 1000000) AS BIGINT))"
        ).alias("feature_micro"),
    )


def _q_data_job_output(spark: SparkSession, sf_dir: str) -> DataFrame:
    # the RESUMABLE two-phase corpus-prep job end-to-end (VERDICT r4
    # item 3): materialize into a fresh temp dir, read the bucket output
    # back, and gate it against the SAME oracle SQL as
    # training_data_pipeline — the job must equal the direct composition
    import fluent_plugin_detect_exceptions_spark.data_job as dj

    out = _gate_tmpdir("data_job_gate_")
    cfg = dj.DataJobConfig(
        rates_millis=(("src0", 1000), ("src1", 250), ("src2", 0)),
        default_millis=500,
    )
    dj.run(spark, f"{sf_dir}/documents.parquet", out, buckets=4, cfg=cfg)
    return spark.read.parquet(f"{out}/bucket=*").select("doc_id", "source")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {
        "exception_pipeline": _q_exception_pipeline,
        "events_scan": _q_events_scan,
        "pipeline_max_lines": _q_pipeline_max_lines,
        "pipeline_max_bytes": _q_pipeline_max_bytes,
        "pipeline_force_line_breaks": _q_pipeline_flb,
        "pipeline_timeout_gap": _q_pipeline_timeout,
        "simhash_buckets": _q_simhash,
        "jaccard_pairs": _q_jaccard_pairs,
        "lsh_oversized_buckets": _q_lsh_oversized,
        "jaccard_rep_pairs": _q_jaccard_rep_pairs,
        "near_dedup": _q_near_dedup,
        "ann_lsh_topk": _q_ann_lsh,
        "ann_indexed_topk": _q_ann_indexed,
        "ivf_topk": _q_ivf_topk,
        "pq_topk": _q_pq_topk,
        "embedding_near_dedup": _q_embedding_near_dedup,
        "sink_counts": _q_sink_counts,
        "sink_counts_fast": _q_sink_counts_fast,
        "classify_start": _q_classify_start,
        "demux_counts": _q_demux_counts,
        "tag_rewrite": _q_tag_rewrite,
        "dedup_exact": _q_dedup_exact,
        "token_stats": _q_token_stats,
        "quality_stats": _q_quality,
        "lang_id": _q_lang_id,
        "fingerprint": _q_fingerprint,
        "winnow_fingerprints": _q_winnow_fingerprints,
        "winnow_dup_pairs": lambda spark, sf_dir: D.winnow_dup_pairs(
            _docs(spark, sf_dir), min_shared=20
        ),
        "winnow_dup_pairs_capped": lambda spark, sf_dir: D.winnow_dup_pairs(
            _docs(spark, sf_dir), min_shared=20, max_bucket=100
        ),
        "winnow_oversized_buckets": _q_winnow_oversized,
        "winnow_rep_pairs": _q_winnow_rep_pairs,
        "near_dedup_cc": _q_near_dedup_cc,
        "near_dedup_full": _q_near_dedup_full,
        "decontaminate": _q_decontaminate,
        "stratified_sample": _q_stratified_sample,
        "repetition_stats": _q_repetition_stats,
        "training_data_pipeline": _q_training_data_pipeline,
        "corpus_report": _q_corpus_report,
        "minhash_bands": _q_minhash_bands,
        "embedding_topk": _q_embedding_topk,
        "embedding_dups": _q_embedding_dups,
        "enriched_pipeline": _q_enriched_pipeline,
        "events_window_agg": _q_events_window,
        "training_data_filter": _q_training_data_filter,
        "pack_sequences": _q_pack_sequences,
        "chunk_spans": _q_chunk_spans,
        "pii_scrub": _q_pii_scrub,
        "data_job_output": _q_data_job_output,
        "vocab_top_terms": _q_vocab_top_terms,
        "length_percentiles": _q_length_percentiles,
        "incremental_dedup": _q_incremental_dedup,
        # rows-only (no oracle_sql entry BY DESIGN — DuckDB can run neither
        # Structured Streaming nor image decode; the driver records the
        # weaker rows+schema check for these two)
        "streaming_dedup": _q_streaming_dedup,
        "multimodal_features": _q_multimodal_features,
    }


_LIMITS_FINAL = f"""
SELECT conv_id, first_turn_idx, text, n_lines,
       {O.LANG_CASE} AS lang,
       CASE WHEN {O.LANG_CASE} IS NOT NULL THEN 'lang_' || {O.LANG_CASE}
            ELSE 'passthrough' END AS sink
FROM grouped"""

_FLB_FINAL = f"""
SELECT conv_id, first_turn_idx, text, n_lines, {O.LANG_CASE} AS lang
FROM grouped"""


def _enriched_final() -> str:
    from fluent_plugin_detect_exceptions_spark.operators.enrich import LANG_DIM_ROWS

    vals = ", ".join(
        f"('{lang}', '{name}', {str(de).upper()}, {nr}, {ns})"
        for lang, name, de, nr, ns in LANG_DIM_ROWS
    )
    return f"""
SELECT g.conv_id, g.first_turn_idx, g.n_lines, g.lang,
       d.lang_name, d.detects_end, CAST(d.n_rules AS BIGINT) AS n_rules
FROM (SELECT conv_id, first_turn_idx, n_lines, {O.LANG_CASE} AS lang FROM grouped) g
LEFT JOIN (VALUES {vals}) d(lang, lang_name, detects_end, n_rules, n_states)
  ON g.lang = d.lang"""


_EVENTS_WINDOW_SQL = """
SELECT CAST(floor(epoch(time_bucket(INTERVAL 1 HOUR, ts))) AS BIGINT) AS w_start,
       event_type,
       CAST(count(*) AS BIGINT) AS n,
       CAST(sum(CAST(floor(value * 100) AS BIGINT)) AS BIGINT) AS sum_cents
FROM events GROUP BY 1, 2"""


def oracle_sql() -> dict[str, str]:
    return {
        "exception_pipeline": O.pipeline_sql(N_CONVS, REPEATS),
        "pipeline_timeout_gap": O.pipeline_sql(
            N_CONVS,
            REPEATS,
            gap_interval=5,
            ts_extra="CASE WHEN l.turn_idx % 8 = 0 THEN 10 ELSE 0 END",
        ),
        "pipeline_max_lines": O.pipeline_sql(
            20, 1, max_lines=3, final_select=_LIMITS_FINAL
        ),
        "pipeline_max_bytes": O.pipeline_sql(
            20, 1, max_bytes=160, final_select=_LIMITS_FINAL
        ),
        "pipeline_force_line_breaks": O.pipeline_sql(
            10, 1, force_line_breaks=True, max_lines=1000,
            final_select=_FLB_FINAL,
            text_expr=r"regexp_replace(l.text, '\n$', '')",
        ),
        "events_scan": """
SELECT event_id, user_id,
       CAST(floor(epoch(ts)) AS BIGINT) AS ts_epoch,
       CAST(floor(value * 100) AS BIGINT) AS value_cents
FROM events WHERE event_type = 'error'""",
        "sink_counts": O.sink_counts_sql(N_CONVS, REPEATS),
        "sink_counts_fast": O.sink_counts_sql(N_CONVS, REPEATS),
        "classify_start": O.classify_start_sql(N_CONVS, REPEATS),
        "demux_counts": O.demux_counts_sql(N_CONVS, REPEATS),
        "tag_rewrite": O.tag_rewrite_sql(5),
        "dedup_exact": O.DEDUP_EXACT_SQL,
        "jaccard_pairs": O.jaccard_pairs_sql(threshold_millis=100, max_bucket=256),
        "lsh_oversized_buckets": O.oversized_buckets_sql(max_bucket=16),
        "jaccard_rep_pairs": O.jaccard_rep_pairs_sql(
            threshold_millis=100, max_bucket=16
        ),
        "near_dedup": f"""
SELECT doc_id FROM documents
WHERE doc_id NOT IN (
  SELECT id_b FROM ({O.jaccard_pairs_sql(threshold_millis=500, max_bucket=256)})
)""",
        "token_stats": O.TOKEN_STATS_SQL,
        "quality_stats": O.QUALITY_SQL,
        "lang_id": O.lang_id_doc_sql(),
        "fingerprint": O.FINGERPRINT_SQL,
        "winnow_fingerprints": O.winnow_fingerprints_sql(),
        "winnow_dup_pairs": O.winnow_dup_pairs_sql(min_shared=20),
        "winnow_dup_pairs_capped": O.winnow_dup_pairs_sql(
            min_shared=20, max_bucket=100
        ),
        "winnow_oversized_buckets": O.oversized_winnow_buckets_sql(max_bucket=100),
        "winnow_rep_pairs": O.winnow_rep_pairs_sql(min_shared=3, max_bucket=100),
        "near_dedup_cc": O.near_dedup_cc_sql(),
        "near_dedup_full": O.near_dedup_full_sql(threshold_millis=500, max_bucket=16),
        "decontaminate": O.decontaminate_sql(split_id=450, min_shared=80),
        "stratified_sample": O.stratified_sample_sql(
            {"src0": 1000, "src1": 250, "src2": 0}, default_millis=500
        ),
        "repetition_stats": O.repetition_stats_sql(),
        "corpus_report": rf"""
SELECT source, pred_lang,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(count(DISTINCT __md5) AS BIGINT) AS n_distinct_texts,
       CAST(sum(toks) AS BIGINT) AS sum_tokens,
       CAST(sum(nch) AS BIGINT) AS sum_chars
FROM (
  SELECT source, {O.lang_case_sql()} AS pred_lang,
         len(regexp_extract_all(text, '\S+')) AS toks,
         length(text) AS nch, md5(text) AS __md5
  FROM documents
)
GROUP BY 1, 2""",
        "training_data_pipeline": O.prepare_training_data_sql(
            threshold_millis=500,
            max_bucket=16,
            rates_millis={"src0": 1000, "src1": 250, "src2": 0},
            default_millis=500,
        ),
        "minhash_bands": O.minhash_bands_sql(),
        "embedding_topk": O.embedding_topk_sql(),
        "simhash_buckets": O.simhash_buckets_sql(prefix_bits=8),
        "ann_lsh_topk": O.ann_lsh_topk_sql(dim=64, n_planes=8, k=10),
        "ann_indexed_topk": O.ann_lsh_topk_sql(dim=64, n_planes=8, k=10),
        "ivf_topk": O.ivf_topk_sql(n_centroids=8, n_probe=2, k=10),
        "pq_topk": O.pq_topk_sql(m=4, k_c=8, k=10, dim=64),
        "embedding_near_dedup": O.embedding_near_dedup_sql(dim=64, threshold_micro=0),
        "embedding_dups": O.embedding_dup_pairs_sql(dim=64, threshold_micro=0),
        "enriched_pipeline": O.pipeline_sql(
            N_CONVS, REPEATS, final_select=_enriched_final()
        ),
        "events_window_agg": _EVENTS_WINDOW_SQL,
        "training_data_filter": rf"""
WITH keep AS (
  SELECT d.* FROM documents d
  JOIN (SELECT min(doc_id) AS doc_id FROM documents GROUP BY md5(text)) k
    ON d.doc_id = k.doc_id
),
scored AS (
  SELECT doc_id,
         {O.lang_case_sql()} AS pred_lang,
         CAST(length(text) AS BIGINT) AS n_chars,
         CAST(len(regexp_extract_all(text, '\S+')) AS BIGINT) AS n_tokens,
         CAST(len(regexp_extract_all(text, '[.,!?;:]')) AS BIGINT) AS n_punct
  FROM keep
)
SELECT * FROM scored
WHERE n_chars >= 100 AND n_tokens >= 20 AND n_punct * 5 <= n_tokens""",
        "pack_sequences": O.pack_sequences_sql(budget=64, n_shards=8),
        "chunk_spans": O.chunk_spans_sql(seq_len=128, n_buckets=16),
        "pii_scrub": O.pii_scrub_sql(O.PII_AUG_SQL),
        "vocab_top_terms": O.vocab_top_terms_sql(n=100),
        "length_percentiles": O.length_percentiles_sql(),
        "incremental_dedup": O.incremental_dedup_sql(
            split_id=400, threshold_millis=500
        ),
        # the job's output must equal the direct prepare_training_data
        # composition — literally the same oracle as training_data_pipeline
        "data_job_output": O.prepare_training_data_sql(
            threshold_millis=500,
            max_bucket=16,
            rates_millis={"src0": 1000, "src1": 250, "src2": 0},
            default_millis=500,
        ),
    }
