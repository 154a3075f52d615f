"""Deduplication operators over the `documents` table.

Five families (SURVEY-mandated training-data ops):
  * exact          hash-groupBy on a normalization key
  * minhash + LSH  shingle -> minhash signature -> banded bucket join
  * simhash        bitwise-majority fingerprint
  * n-gram jaccard shingle self-join with document-frequency capping
  * embedding cos  cosine near-duplicates over vector column

Scale notes:
  * all token/shingle explosion is map-side (posexplode of split); the only
    shuffles are the final groupBys/self-joins on hash keys
  * hot-shingle skew is capped explicitly (max_df filter) BEFORE the
    self-join — the classic guard that keeps the pair explosion bounded by
    max_df^2 per shingle instead of corpus^2
  * hashing is md5-prefix -> bigint (portable across engines for the oracle);
    at production scale swap for xxhash64 (same plan shape, cheaper hash)
"""

from __future__ import annotations

import logging

from pyspark.sql import DataFrame, Observation, Window
from pyspark.sql import functions as F

from ..graph import cut_lineage, ensure_object_agg_headroom, observed_cut, ordered_pairs

MINHASH_P = 2147483647  # 2^31 - 1
N_HASHES = 16
LSH_BANDS = 8  # rows per band = N_HASHES // LSH_BANDS = 2


def md5_int(col):
    """Portable 32-bit hash: first 8 hex chars of md5 as bigint."""
    return F.conv(F.substring(F.md5(col), 1, 8), 16, 10).cast("long")


def hash_params(i: int) -> tuple[int, int]:
    """Deterministic per-permutation coefficients (odd a)."""
    return (2 * i + 1) * 2654435761 % MINHASH_P, (i * 40503 + 7) % MINHASH_P


def tokens(df: DataFrame, text_col: str = "text") -> DataFrame:
    return df.select(
        "doc_id", F.posexplode(F.split(F.col(text_col), " ")).alias("pos", "tok")
    ).filter(F.col("tok") != "")


def shingle_array(n: int = 3, toks=None):
    """Column expr: per-doc array of DISTINCT non-empty n-gram shingles over
    a pre-split token-array column (pass an ATTRIBUTE column — an inline
    split() here would be re-evaluated once per shingle inside the transform
    lambda).  Documents shorter than n tokens contribute one clamped shingle
    (the floor of 1 in the sequence end also prevents a descending
    sequence(1,0), whose 0 start index crashes slice())."""
    toks = F.col("_toks") if toks is None else toks
    sh = F.transform(
        F.sequence(F.lit(1), F.greatest(F.size(toks) - n + 1, F.lit(1))),
        lambda i: F.concat_ws(" ", F.slice(toks, i, n)),
    )
    return F.array_distinct(F.filter(sh, lambda s: s != ""))


def _with_toks(df: DataFrame, text_col: str = "text") -> DataFrame:
    return df.select("doc_id", F.split(F.col(text_col), " ").alias("_toks"))


def shingles(df: DataFrame, n: int = 3, text_col: str = "text") -> DataFrame:
    """n-gram (token-level) shingles, distinct per doc.

    r6: the per-doc dedup runs MAP-SIDE (array_distinct over the per-row
    shingle array) instead of a global .distinct() — (doc_id, shingle)
    distinct is exactly per-doc distinct, so the old corpus-wide dedup
    SHUFFLE (the largest frame of the dedup path crossing the wire once
    per consumer) bought nothing.  Downstream groupBys now read a narrow
    map-side frame and do their own single shuffle."""
    return _with_toks(df, text_col).select(
        "doc_id", F.explode(shingle_array(n)).alias("shingle")
    )


# --- exact -----------------------------------------------------------------

def _bounded_groups(ids: DataFrame, group_col: str, max_exemplars: int) -> DataFrame:
    """(group_col, n_docs, min_doc, max_doc, doc_ids) with doc_ids capped at
    `max_exemplars` members.  A degenerate key (e.g. empty-normalized text)
    can make one group corpus-sized; a plain collect_list would then build a
    corpus-sized array in a single task.  The row_number pre-cap bounds the
    aggregation buffer itself — n_docs/min/max stay exact over ALL members."""
    w = Window.partitionBy(group_col).orderBy("doc_id")
    capped = ids.withColumn("_rn", F.row_number().over(w))
    return (
        capped.groupBy(group_col)
        .agg(
            F.count("*").alias("n_docs"),
            F.min("doc_id").alias("min_doc"),
            F.max("doc_id").alias("max_doc"),
            F.sort_array(
                F.collect_list(
                    F.when(F.col("_rn") <= max_exemplars, F.col("doc_id"))
                )
            ).alias("doc_ids"),
        )
        .filter(F.col("n_docs") > 1)
    )


def exact_dedup_groups(df: DataFrame, key, max_exemplars: int = 100) -> DataFrame:
    """Groups of documents sharing a normalization key (md5 hash-groupBy).
    `key` is a Column producing the normalized text.

    TRUNCATION: `doc_ids` is a LOSSY exemplar list capped at `max_exemplars`
    members (default 100) — do not treat it as full group membership.
    n_docs/min_doc/max_doc are exact over ALL members; a caller that needs
    every member should join docs back on the dup_key instead."""
    ids = df.select("doc_id", F.md5(key).alias("dup_key"))
    return _bounded_groups(ids, "dup_key", max_exemplars)


# --- minhash + LSH ----------------------------------------------------------

def minhash_signatures(
    df: DataFrame,
    n_hashes: int = N_HASHES,
    shingle_n: int = 3,
    shingles_df: DataFrame | None = None,
) -> DataFrame:
    """-> (doc_id, mh_0..mh_{n-1}) via n universal-hash permutations of the
    shingle md5 hashes; min aggregated per doc (map-side partial agg).

    `shingles_df` lets a caller share one (doc_id, shingle) frame between
    the signature stage and a downstream exact-jaccard verify — the shingle
    explosion is the most expensive scan of the dedup path, so at corpus
    scale it must be computed (and usually persisted) once, not per stage."""
    sh = (shingles(df, shingle_n) if shingles_df is None else shingles_df).withColumn(
        "h", md5_int(F.col("shingle"))
    )
    aggs = []
    for i in range(n_hashes):
        a, b = hash_params(i)
        aggs.append(
            F.min(F.pmod(F.col("h") * F.lit(a) + F.lit(b), F.lit(MINHASH_P))).alias(f"mh_{i}")
        )
    return sh.groupBy("doc_id").agg(*aggs)


MAX_LSH_BUCKET = 200  # per-(band,bucket) membership cap; bounds pairs at cap^2


def _banded(sigs: DataFrame, bands: int, n_hashes: int) -> DataFrame:
    """(doc_id, band, bucket): every band's bucket of every signature, from
    one projection exploded map-side, so the signatures are read once."""
    rows_per_band = n_hashes // bands
    buckets = [
        F.md5(F.concat_ws("_", *[
            F.col(f"mh_{b * rows_per_band + r}").cast("string") for r in range(rows_per_band)
        ]))
        for b in range(bands)
    ]
    return sigs.select("doc_id", F.posexplode(F.array(*buckets)).alias("band", "bucket"))


def lsh_candidate_pairs(
    sigs: DataFrame,
    bands: int = LSH_BANDS,
    n_hashes: int = N_HASHES,
    max_bucket: int | None = MAX_LSH_BUCKET,
) -> DataFrame:
    """EAGER (runs a Spark job at call time, not at first action): bands the
    signature; docs colliding in any band become candidate pairs (a < b,
    distinct).  The signatures are read once, and the (band, bucket)
    grouping is one shuffle shared by the cap and the pairing.  The lineage cut
    pins a (local)checkpoint per call until GC — callers that loop should
    enable spark.cleaner.referenceTracking.cleanCheckpoints (the session
    builders in bench.py / scripts/ already do).

    Skew guard: buckets with more than `max_bucket` members are dropped from
    pair generation (mirrors ngram_jaccard_pairs' max_df cap) — a single
    degenerate bucket (boilerplate/near-empty docs sharing a band signature)
    otherwise explodes quadratically at corpus scale.  True near-dups in an
    over-full bucket normally still collide in other, smaller buckets, and
    the downstream exact-jaccard verify filters false positives anyway.
    Pass max_bucket=None to disable.  Because the cap changes recall, dropped
    buckets are LOGGED; the pairs' own checkpoint job counts them, so the
    warning costs no job."""
    # bucket member lists are capped at max_bucket — keep the grouped pair
    # generation a real hash aggregation (see ensure_object_agg_headroom)
    ensure_object_agg_headroom(sigs.sparkSession)
    banded = _banded(sigs, bands, n_hashes)
    if max_bucket is not None:
        # window count over (band,bucket) instead of groupBy + semi-join:
        # one shuffle, and the downstream grouped pair generation reuses
        # the same hash partitioning (no second exchange of the banded
        # frame).  Each member row of an over-full bucket adds 1/_n, so
        # the observed sum is the number of dropped buckets
        w = Window.partitionBy("band", "bucket")
        obs = Observation()
        banded = (
            banded.withColumn("_n", F.count("*").over(w))
            .observe(obs, F.sum(F.when(F.col("_n") > max_bucket, 1 / F.col("_n"))).alias("dropped"))
            .filter(F.col("_n") <= max_bucket)
            .drop("_n")
        )
    # pair generation: group each bucket's member list (bounded by the
    # cap filter above, so the collect_list buffer holds <= max_bucket
    # ids; unbounded only when the caller explicitly disabled the cap)
    # and explode ordered pairs map-side — same grouped idiom as
    # ngram_jaccard_pairs, reusing the window's (band,bucket)
    # partitioning instead of a second self-join shuffle + sort
    grouped = banded.groupBy("band", "bucket").agg(
        F.sort_array(F.collect_list("doc_id")).alias("docs")
    )
    pairs = (
        grouped.select(F.explode(ordered_pairs("docs")).alias("p"))
        .select(F.col("p.a").alias("a"), F.col("p.b").alias("b"))
        .distinct()
    )
    if max_bucket is None:
        return cut_lineage(pairs)
    pairs, seen = observed_cut(pairs, obs)
    if n_dropped := round(seen["dropped"] or 0):
        logging.getLogger(__name__).warning(
            "lsh_candidate_pairs: dropping %d buckets with > %d members"
            " (recall in those buckets relies on their other bands)",
            n_dropped, max_bucket,
        )
    return pairs


def minhash_jaccard_pairs(df: DataFrame, threshold: float = 0.5, shingle_n: int = 3) -> DataFrame:
    """EAGER (materializes via lineage cut before returning): LSH candidates
    verified with exact shingle jaccard.

    The (doc_id, shingle) frame is built and persisted ONCE and shared by
    the signature stage and the verify stage — previously each stage
    re-exploded the corpus, doubling the most expensive scan of the dedup
    path.  Eager materialization lets the shared cache be released before
    return instead of leaking for the session's life."""
    sh = shingles(df, shingle_n).persist()
    try:
        sigs = minhash_signatures(df, shingle_n=shingle_n, shingles_df=sh)
        cands = lsh_candidate_pairs(sigs)
        # map-side set sizes off the shingle array (r6) — see
        # ngram_jaccard_pairs; avoids re-shuffling the shingle frame
        sizes = _with_toks(df).select(
            "doc_id", F.size(shingle_array(shingle_n)).alias("n")
        )
        # count shared shingles via join on shingle, restricted to LSH candidates
        a_sh = sh.select(F.col("doc_id").alias("a"), "shingle")
        b_sh = sh.select(F.col("doc_id").alias("b"), "shingle")
        shared = (
            cands.join(a_sh, "a").join(b_sh, ["b", "shingle"])
            .groupBy("a", "b").agg(F.count("*").alias("inter"))
        )
        na = sizes.select(F.col("doc_id").alias("a"), F.col("n").alias("na"))
        nb = sizes.select(F.col("doc_id").alias("b"), F.col("n").alias("nb"))
        verified = (
            shared.join(na, "a").join(nb, "b")
            .withColumn("jaccard", F.round(F.col("inter") / (F.col("na") + F.col("nb") - F.col("inter")), 6))
            .filter(F.col("jaccard") >= threshold)
            .select("a", "b", "jaccard")
        )
        return cut_lineage(verified)
    finally:
        sh.unpersist()


# --- simhash -----------------------------------------------------------------

def simhash(df: DataFrame, bits: int = 16) -> DataFrame:
    """Bitwise-majority fingerprint over token hashes -> (doc_id, simhash)."""
    toks = tokens(df).withColumn("h", md5_int(F.col("tok")))
    bit_aggs = [
        F.sum(
            F.when((F.shiftright(F.col("h"), b).bitwiseAND(F.lit(1))) == 1, 1).otherwise(-1)
        ).alias(f"s_{b}")
        for b in range(bits)
    ]
    agg = toks.groupBy("doc_id").agg(*bit_aggs)
    sim = None
    for b in range(bits):
        term = F.when(F.col(f"s_{b}") > 0, F.lit(1 << b)).otherwise(F.lit(0))
        sim = term if sim is None else sim + term
    return agg.select("doc_id", sim.cast("long").alias("simhash"))


def simhash_dup_groups(df: DataFrame, bits: int = 16, max_exemplars: int = 100) -> DataFrame:
    """Exact-simhash collision groups; doc_ids is a LOSSY exemplar list
    capped at `max_exemplars` (see exact_dedup_groups — counts stay exact)."""
    return _bounded_groups(simhash(df, bits), "simhash", max_exemplars)


# --- n-gram jaccard (no LSH; DF-capped shingle self-join) ---------------------

def ngram_jaccard_pairs(
    df: DataFrame, n: int = 3, threshold: float = 0.5, max_df: int | None = None
) -> DataFrame:
    """All-pairs jaccard via shingle self-join, with a document-frequency cap
    on shingles (skew guard: a shingle seen in >max_df docs is dropped from
    pair generation, like stopword shingles in dedup literature).

    max_df=None (default) is SCALE-AWARE: max(50, n_docs // 100), i.e. 1% of
    the corpus — a fixed absolute cap silently drops every genuinely shared
    shingle once document frequencies outgrow it (observed at 10x scale: the
    old fixed 50 produced zero pairs at sf1, r4 verdict).  Costs one cheap
    count() job over the document frame."""
    if max_df is None:
        max_df = max(50, df.count() // 100)
    # per-shingle doc lists are capped at max_df — keep the grouped pair
    # generation a real hash aggregation (see ensure_object_agg_headroom)
    ensure_object_agg_headroom(df.sparkSession)
    sh = shingles(df, n)
    df_counts = sh.groupBy("shingle").agg(F.count("*").alias("df"))
    rare = sh.join(df_counts.filter(F.col("df") <= max_df), "shingle", "left_semi")
    # per-doc shingle-set size MAP-SIDE from the same array expression the
    # shingle frame explodes (r6): the old groupBy("doc_id") re-shuffled the
    # full shingle frame a second time to count rows that size() reads off
    # the per-row array for free
    sizes = _with_toks(df).select("doc_id", F.size(shingle_array(n)).alias("n"))
    # pair generation: group each surviving shingle's doc list (bounded by
    # max_df because the df-cap semi-join runs FIRST — the collect_list
    # buffer can never exceed max_df ids) and explode ordered pairs
    # map-side.  One groupBy on the same shingle key the semi-join already
    # shuffled on, instead of a second full shuffle + sort-merge self-join
    # of the shingle frame.
    docs_per_shingle = rare.groupBy("shingle").agg(
        F.sort_array(F.collect_list("doc_id")).alias("docs")
    )
    pair = F.explode(ordered_pairs("docs"))
    shared = (
        docs_per_shingle.select(pair.alias("p"))
        .groupBy(F.col("p.a").alias("a"), F.col("p.b").alias("b"))
        .agg(F.count("*").alias("inter"))
    )
    na = sizes.select(F.col("doc_id").alias("a"), F.col("n").alias("na"))
    nb = sizes.select(F.col("doc_id").alias("b"), F.col("n").alias("nb"))
    # SHUFFLE_HASH hint on the size side: at 10x scale the planner's size
    # estimate inverted and tried to BROADCAST the pair frame (observed:
    # 4g-driver broadcast OOM at sf1's ~1e8 pairs).  A broadcast hint on
    # `sizes` would fix the gate but not the design — sizes is one row per
    # document, corpus-sized at 10^12 docs.  Shuffle-hash keys both sides
    # on a/b and builds the hash table from the narrow size rows per
    # partition: correct at any corpus size, no driver-side build.
    return (
        shared.join(na.hint("shuffle_hash"), "a").join(nb.hint("shuffle_hash"), "b")
        .withColumn("jaccard", F.round(F.col("inter") / (F.col("na") + F.col("nb") - F.col("inter")), 6))
        .filter(F.col("jaccard") >= threshold)
        .select("a", "b", "jaccard")
    )


# --- embedding cosine ---------------------------------------------------------

def _dot(a, b):
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def cosine(a, b):
    return _dot(a, b) / (F.sqrt(_dot(a, a)) * F.sqrt(_dot(b, b)))


def embedding_cosine_pairs(emb: DataFrame, threshold: float = 0.9, block_on: str = "label") -> DataFrame:
    """Near-duplicate vectors: cosine >= threshold.  Blocked self-join on a
    coarse key (here the cluster label; at scale an IVF/LSH bucket) so the
    pair explosion is per-block, never corpus^2."""
    a = emb.select(F.col("vec_id").alias("a"), F.col("embedding").alias("ea"), F.col(block_on).alias("blk"))
    b = emb.select(F.col("vec_id").alias("b"), F.col("embedding").alias("eb"), F.col(block_on).alias("blk"))
    return (
        a.join(b, "blk")
        .filter(F.col("a") < F.col("b"))
        .withColumn("cos", F.round(cosine(F.col("ea"), F.col("eb")), 6))
        .filter(F.col("cos") >= threshold)
        .select("a", "b", "cos")
    )


# --- cluster resolution ------------------------------------------------------

def dup_clusters(spark, pairs: DataFrame, a_col: str = "a", b_col: str = "b") -> DataFrame:
    """Resolve candidate pairs into duplicate CLUSTERS: connected components
    over the pair graph, cluster_id = smallest doc_id in the component (the
    canonical doc a dedup pass keeps).  The standard final step after
    LSH/jaccard pair generation — transitive duplicates (A~B, B~C) land in
    one cluster even when (A,C) was never a candidate pair.

    Docs that appear in no pair are absent from the output (they dedup to
    themselves).  Reuses the pipeline's connected-components operator
    (driver union-find below 1M edges, distributed min-label fixpoint
    above); ids are zero-padded before labeling so lexicographic min-label
    propagation agrees with numeric min, then cast back."""
    from ..pipeline.canonicalize import connected_components

    def packed(col):
        # contract: non-negative integer ids.  bigint caps at 19 digits so
        # the 20-char pad can never truncate; a negative or non-integer id
        # would break the lexicographic-min == numeric-min property, so fail
        # loudly per-row instead of silently mis-clustering
        as_int = F.col(col).try_cast("bigint")
        checked = F.when(as_int.isNotNull() & (as_int >= 0), as_int).otherwise(
            F.raise_error(
                F.concat(
                    F.lit(f"dup_clusters: {col} must be a non-negative "
                          "integer id, got "),
                    F.col(col).cast("string"),
                )
            )
        )
        return F.lpad(checked.cast("string"), 20, "0")

    edges = pairs.select(
        packed(a_col).alias("src"), packed(b_col).alias("dst")
    )
    m = connected_components(spark, edges)
    return m.select(
        F.col("entity_id").cast("bigint").alias("doc_id"),
        F.col("canonical_id").cast("bigint").alias("cluster_id"),
    )
