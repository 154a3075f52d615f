"""Training-data curation operators over the `documents` table: PII
scanning, repetition statistics, benchmark-contamination checks, and
deterministic sequence packing.  All pure Column expressions / window
functions (whole-stage codegen; zero Python in the row path) — the ops a
pre-training data pipeline runs between dedup and tokenization.

100 TB notes per op:
  * pii_scan           — map-only (regexp over each doc); trivially scales.
  * repetition_stats   — per-doc aggregation over exploded tokens; map-side
                         combine, shuffle keyed by doc_id only.
  * contamination_check— broadcast semi-join of corpus 8-gram hashes against
                         the (small) benchmark-set hash list; the benchmark
                         side is eval-suite-sized, never the corpus.
  * pack_sequences     — oracle twin: one global-order running sum.  The
                         scale path is pack_sequences_partitioned: identical
                         output via a two-level prefix sum (per-range-
                         partition cumsum + broadcast partition offsets), no
                         single-partition window anywhere in the plan.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

# deliberately simple, portable patterns (no lookbehind; identical in Spark
# rlike/regexp_* and DuckDB regexp_matches).  Dict order is SPECIFICITY order:
# the generic phone pattern also matches SSN-shaped strings, so each pattern
# is counted and redacted against the text with all MORE specific patterns
# already replaced — an SSN is labelled <SSN_LIKE>, never <PHONE>, and
# n_phone does not double-count SSN hits.
PII_PATTERNS: dict[str, str] = {
    "email": r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}",
    "ssn_like": r"\b[0-9]{3}-[0-9]{2}-[0-9]{4}\b",
    "ipv4": r"\b([0-9]{1,3}\.){3}[0-9]{1,3}\b",
    "phone": r"\+?[0-9][0-9 ()-]{7,}[0-9]",
}


def pii_scan(df: DataFrame) -> DataFrame:
    """Per-document PII hit counts + a redacted text column.
    (doc_id, n_email, n_ssn_like, n_ipv4, n_phone, any_pii, text_redacted)

    Counts and redaction proceed in PII_PATTERNS (specificity) order over the
    progressively redacted text, so overlapping patterns never double-count."""
    out = df.select("doc_id", "text")
    redacted = F.col("text")
    for name, pat in PII_PATTERNS.items():
        out = out.withColumn(
            f"n_{name}", F.size(F.regexp_extract_all(redacted, F.lit(pat), F.lit(0))).cast("long")
        )
        redacted = F.regexp_replace(redacted, pat, f"<{name.upper()}>")
    any_pii = None
    for name in PII_PATTERNS:
        c = F.col(f"n_{name}") > 0
        any_pii = c if any_pii is None else (any_pii | c)
    return out.withColumn("any_pii", any_pii).withColumn("text_redacted", redacted).drop("text")


def repetition_stats(df: DataFrame) -> DataFrame:
    """Distinct-token ratio + top-token share: the standard cheap repetition
    signals (near-zero distinct ratio = boilerplate/spam).
    (doc_id, n_tokens, n_distinct, distinct_ratio, top_share)"""
    toks = df.select(
        "doc_id", F.explode(F.split(F.col("text"), " ")).alias("tok")
    ).filter(F.col("tok") != "")
    per_tok = toks.groupBy("doc_id", "tok").agg(F.count("*").alias("n"))
    return (
        per_tok.groupBy("doc_id")
        .agg(
            F.sum("n").cast("long").alias("n_tokens"),
            F.count("*").cast("long").alias("n_distinct"),
            F.max("n").cast("long").alias("top_n"),
        )
        .select(
            "doc_id", "n_tokens", "n_distinct",
            F.round(F.col("n_distinct") / F.col("n_tokens"), 6).alias("distinct_ratio"),
            F.round(F.col("top_n") / F.col("n_tokens"), 6).alias("top_share"),
        )
    )


def _ngram_hashes(df: DataFrame, n: int) -> DataFrame:
    """(doc_id, h): md5-prefix hash of each n-token shingle (portable).

    r6: per-doc dedup is MAP-SIDE (array_distinct over the per-row hash
    array) — (doc_id, h) distinct is exactly per-doc distinct, so the old
    corpus-wide dropDuplicates shuffle bought nothing (same change as
    ops/dedup.shingles); the token split is projected to an attribute so the
    gram lambda does not re-split per element."""
    toks = F.col("_toks")
    grams = F.transform(
        F.sequence(F.lit(0), F.greatest(F.size(toks) - n, F.lit(0))),
        lambda i: F.concat_ws(" ", F.slice(toks, i + 1, n)),
    )
    hashes = F.array_distinct(
        F.transform(
            F.filter(grams, lambda g: g != ""),
            lambda g: F.conv(F.substring(F.md5(g), 1, 8), 16, 10).cast("long"),
        )
    )
    return df.select(
        "doc_id", F.split(F.col("text"), " ").alias("_toks")
    ).select("doc_id", F.explode(hashes).alias("h"))


def contamination_check(
    corpus: DataFrame, benchmark: DataFrame, n: int = 8, threshold: float = 0.2
) -> DataFrame:
    """Flag corpus documents whose n-gram hash set overlaps a benchmark
    (eval-suite) document's beyond `threshold` — the test-set leakage check
    every pre-training pipeline needs.  The benchmark side is broadcast
    (eval suites are tiny next to the corpus).
    -> (doc_id, n_grams, n_hit, overlap, contaminated)"""
    c = _ngram_hashes(corpus, n)
    b = F.broadcast(_ngram_hashes(benchmark, n).select("h").dropDuplicates())
    sizes = c.groupBy("doc_id").agg(F.count("*").alias("n_grams"))
    hits = (
        c.join(b, "h", "left_semi")
        .groupBy("doc_id")
        .agg(F.count("*").alias("n_hit"))
    )
    return (
        sizes.join(hits, "doc_id", "left")
        .withColumn("n_hit", F.coalesce(F.col("n_hit"), F.lit(0)))
        .select(
            "doc_id",
            F.col("n_grams").cast("long").alias("n_grams"),
            F.col("n_hit").cast("long").alias("n_hit"),
            F.round(F.col("n_hit") / F.col("n_grams"), 6).alias("overlap"),
            (F.col("n_hit") / F.col("n_grams") >= threshold).alias("contaminated"),
        )
    )


def pack_sequences(df: DataFrame, budget: int = 512) -> DataFrame:
    """Concatenate-and-chunk sequence packing (the GPT-style pretraining
    layout): docs in doc_id order are laid end-to-end on a token tape and
    chunked into fixed `budget`-token training sequences; documents may
    straddle chunk boundaries.  -> (doc_id, n_tokens, pack_id, pack_offset)
    where pack_id/pack_offset locate the document's FIRST token.

    The doc_id total order makes this reproducible at any parallelism and
    oracle-checkable.  This single-window form is the oracle twin;
    pack_sequences_partitioned computes the SAME result with a two-level
    prefix sum and is the variant to run at corpus scale."""
    sized = _sized(df)
    w = Window.orderBy("doc_id").rowsBetween(Window.unboundedPreceding, 0)
    cum = sized.withColumn("cum", F.sum("n_tokens").over(w))
    start = F.col("cum") - F.col("n_tokens")
    return cum.select(
        "doc_id", "n_tokens",
        F.floor(start / budget).cast("long").alias("pack_id"),
        (start % budget).cast("long").alias("pack_offset"),
    )


def _sized(df: DataFrame) -> DataFrame:
    toks = F.split(F.col("text"), " ")
    return df.select(
        "doc_id",
        F.size(F.filter(toks, lambda t: t != "")).cast("long").alias("n_tokens"),
    )


def pack_sequences_partitioned(
    df: DataFrame, budget: int = 512, num_partitions: int = 32
) -> DataFrame:
    """Scale path for pack_sequences: IDENTICAL output, no global-order
    window.  Two-level prefix sum — range-partition by doc_id, cumsum within
    each partition (Window.partitionBy, all partitions in parallel), then add
    each partition's exclusive prefix total.  The only total order taken is
    over the `num_partitions` partial sums (driver-side, bounded), never over
    the rows, so the cumsum no longer serializes through one task at corpus
    scale.  -> (doc_id, n_tokens, pack_id, pack_offset), equal row-for-row to
    pack_sequences(df, budget)."""
    # persist the partitioned frame: spark_partition_id() must be observed by
    # exactly one materialization so the totals job and the output job see
    # the same pid assignment (and the range shuffle runs once)
    from ..graph import cut_lineage, local_frame

    parted = (
        _sized(df)
        .repartitionByRange(num_partitions, "doc_id")
        .withColumn("_pid", F.spark_partition_id())
        .persist()
    )
    try:
        totals = parted.groupBy("_pid").agg(F.sum("n_tokens").alias("tot")).collect()
        run = 0
        offsets = []
        for row in sorted(totals, key=lambda r: r["_pid"]):
            offsets.append((int(row["_pid"]), run))
            run += int(row["tot"])
        off_df = local_frame(df.sparkSession, offsets or [(0, 0)], "_pid int, _off long")
        w = Window.partitionBy("_pid").orderBy("doc_id").rowsBetween(
            Window.unboundedPreceding, 0
        )
        local = parted.withColumn("cum_local", F.sum("n_tokens").over(w))
        out = local.join(F.broadcast(off_df), "_pid")
        start = F.col("_off") + F.col("cum_local") - F.col("n_tokens")
        # materialize eagerly so the per-call cache can be released here
        # rather than leaking one pinned dataset per invocation
        return cut_lineage(
            out.select(
                "doc_id", "n_tokens",
                F.floor(start / budget).cast("long").alias("pack_id"),
                (start % budget).cast("long").alias("pack_offset"),
            )
        )
    finally:
        parted.unpersist()


# --- quality-percentile filtering + stratified sampling (data mixing) ---------

# default per-language mixing fractions for stratified_sample: the shape of a
# real pretraining mix (keep all high-resource English, downsample the rest)
MIX_FRACTIONS: dict[str, float] = {"en": 1.0, "de": 0.5, "es": 0.75, "fr": 0.25, "zh": 0.1}


def _mix_hex_threshold(frac: float) -> str:
    """Keep-threshold for an 8-hex-digit md5 prefix compared LEXICOGRAPHICALLY:
    lowercase fixed-width hex orders identically to its numeric value, so both
    Spark and DuckDB evaluate the same string comparison — no hex->int cast
    (whose SQL spelling differs between engines) anywhere.  frac>=1 returns
    "g", which sorts after every hex digit (keep all)."""
    if frac >= 1.0:
        return "g"
    return format(max(int(frac * 16**8), 0), "08x")


def quality_percentile_filter(df: DataFrame, keep_frac: float = 0.9) -> DataFrame:
    """Keep the top `keep_frac` fraction of documents PER LANGUAGE by quality
    score (deterministic tie-break: higher quality first, then doc_id) ->
    (doc_id, lang, quality).  The per-language cutoff adapts to each
    language's score distribution — a fixed global threshold would silently
    drop whole low-scoring languages (the classic quality-filter mistake).

    This exact-rank form is the oracle twin: the per-lang window sort is fine
    up to ~billions of rows per language but serializes one sort per language
    partition.  quality_threshold_filter is the 100 TB path (approx-quantile
    thresholds, map-only filter; no per-row window anywhere)."""
    from .text import quality_score

    scored = quality_score(df).join(df.select("doc_id", "lang"), "doc_id")
    w = Window.partitionBy("lang").orderBy(F.col("quality").desc(), F.col("doc_id"))
    n = Window.partitionBy("lang")
    return (
        scored.withColumn("_rn", F.row_number().over(w))
        .withColumn("_n", F.count("*").over(n))
        .filter(F.col("_rn") <= F.ceil(F.lit(keep_frac) * F.col("_n")))
        .select("doc_id", "lang", "quality")
    )


def quality_threshold_filter(
    df: DataFrame, keep_frac: float = 0.9, accuracy: int = 10000
) -> DataFrame:
    """Scale path for quality_percentile_filter: per-language approx-quantile
    thresholds (partial-aggregated, one tiny groupBy over ~#languages keys),
    broadcast back, map-only filter.  Same semantics up to approx-quantile
    error at the boundary; NEVER sorts rows.  At 10^12 docs the percentile
    variant's per-lang window is a per-language total sort — this one is a
    scan + broadcast join."""
    from .text import quality_score

    scored = quality_score(df).join(df.select("doc_id", "lang"), "doc_id")
    thr = scored.groupBy("lang").agg(
        F.percentile_approx("quality", 1.0 - keep_frac, accuracy).alias("_thr")
    )
    return (
        scored.join(F.broadcast(thr), "lang")
        .filter(F.col("quality") >= F.col("_thr"))
        .select("doc_id", "lang", "quality")
    )


def stratified_sample(
    df: DataFrame, fractions: dict[str, float] | None = None
) -> DataFrame:
    """Deterministic hash-based stratified sample for data mixing ->
    (doc_id, lang, weight).  A document is kept iff the first 8 hex chars of
    md5(doc_id) sort below its language's threshold; weight = 1/frac is the
    importance weight that makes downstream statistics unbiased.

    Map-only and engine-reproducible: no RNG, no shuffle, no state — the
    same doc survives in every run, on every engine, at any parallelism
    (exactly what a resumable 10^12-doc mixing job needs; Spark's
    df.sampleBy is neither deterministic across retries nor portable to an
    oracle).  Languages absent from `fractions` are dropped (threshold ""
    sorts before every hex digit)."""
    fractions = MIX_FRACTIONS if fractions is None else fractions
    base = df.select("doc_id", "lang")
    thr = None
    weight = None
    for lang in sorted(fractions):
        frac = fractions[lang]
        if frac <= 0:  # explicit zero = drop the language (no 1/0 weight)
            continue
        t, w = F.lit(_mix_hex_threshold(frac)), F.lit(round(1.0 / frac, 6))
        cond = F.col("lang") == lang
        thr = F.when(cond, t) if thr is None else thr.when(cond, t)
        weight = F.when(cond, w) if weight is None else weight.when(cond, w)
    if thr is None:  # every fraction <= 0: nothing survives
        return base.withColumn("weight", F.lit(0.0)).limit(0)
    return (
        base.filter(
            F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8)
            < thr.otherwise(F.lit(""))
        )
        .withColumn("weight", weight)
    )
