"""Training-data ops: dedup, similarity, text analysis, multimodal plumbing."""

import pytest
from pyspark.sql import functions as F

from shacl_js_spark.ops.dedup import (
    LSH_BANDS,
    embedding_cosine_pairs,
    exact_dedup_groups,
    lsh_candidate_pairs,
    minhash_jaccard_pairs,
    minhash_signatures,
    ngram_jaccard_pairs,
    simhash,
    simhash_dup_groups,
)
from shacl_js_spark.ops.similarity import brute_force_topk, ivf_topk
from shacl_js_spark.ops.text import fingerprint, lang_id, quality_score, token_stats

from conftest import SF


@pytest.fixture(scope="module")
def docs(spark):
    return spark.read.parquet(f"{SF}/documents.parquet").cache()


@pytest.fixture(scope="module")
def emb(spark):
    return spark.read.parquet(f"{SF}/embeddings.parquet").cache()


def test_exact_dedup_detects_planted_dups(spark):
    df = spark.createDataFrame(
        [(1, "a b c"), (2, "a b c"), (3, "A  b c"), (4, "unique text")],
        "doc_id long, text string",
    )
    norm = F.regexp_replace(F.lower(F.col("text")), "\\s+", " ")
    groups = exact_dedup_groups(df, norm).collect()
    assert len(groups) == 1 and sorted(groups[0]["doc_ids"]) == [1, 2, 3]


def test_minhash_lsh_finds_near_dups(spark):
    base = "the quick brown fox jumps over the lazy dog again and again today"
    near = base.replace("today", "tomorrow")
    far = "completely different words appear in this sentence about spark plans"
    df = spark.createDataFrame(
        [(1, base), (2, near), (3, far)], "doc_id long, text string"
    )
    pairs = {(r["a"], r["b"]) for r in minhash_jaccard_pairs(df, threshold=0.4).collect()}
    assert (1, 2) in pairs
    assert (1, 3) not in pairs and (2, 3) not in pairs


def test_lsh_bucket_cap_bounds_degenerate_corpus(spark, caplog):
    # 1k identical docs share every band bucket; without the max_bucket guard
    # the bucketed self-join materializes ~500k pairs x bands. With the cap
    # the degenerate buckets are dropped entirely (0 candidate pairs), while
    # a distinct near-dup pair in its own small bucket survives.
    from test_pipeline import _jobs

    rows = [(i, "same words everywhere in all of these documents forever") for i in range(1000)]
    rows += [(2001, "a genuinely different sentence about spark physical plans"),
             (2002, "a genuinely different sentence about spark physical plans")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    sigs = minhash_signatures(df).persist()
    sigs.count()
    # over materialized signatures, the pairs and their dropped-bucket count
    # come from one checkpoint (its adaptive stages each a job) and count()
    # adds 2; a separate distinct().count() drop probe made it 8
    def capped_and_count():
        capped = lsh_candidate_pairs(sigs, max_bucket=200)
        return capped, capped.count()

    with caplog.at_level("WARNING", logger="shacl_js_spark.ops.dedup"):
        (capped, n), jobs = _jobs(spark, "test-lsh-cap", capped_and_count)
    sigs.unpersist()
    assert len(jobs) <= 5, len(jobs)
    # the 1,000 identical docs fill one bucket in every band
    assert f"dropping {LSH_BANDS} buckets with > 200 members" in caplog.text
    pairs = {(r["a"], r["b"]) for r in capped.collect()}
    assert len(pairs) == n
    assert (2001, 2002) in pairs
    assert not any(a < 2000 and b < 2000 for a, b in pairs)
    # uncapped on a small slice still yields the dense pairs (guard is opt-out)
    small = spark.createDataFrame(rows[:5], "doc_id long, text string")
    dense = lsh_candidate_pairs(minhash_signatures(small), max_bucket=None).count()
    assert dense == 10  # 5 choose 2


def test_minhash_signature_identical_for_identical_text(spark):
    df = spark.createDataFrame(
        [(1, "x y z w v u t s"), (2, "x y z w v u t s")], "doc_id long, text string"
    )
    sigs = minhash_signatures(df).collect()
    a, b = sorted(sigs, key=lambda r: r["doc_id"])
    assert all(a[f"mh_{i}"] == b[f"mh_{i}"] for i in range(16))


def test_simhash_close_for_near_dups(spark):
    df = spark.createDataFrame(
        [(1, "a b c d e f g h"), (2, "a b c d e f g h"), (3, "z y x w v u t q")],
        "doc_id long, text string",
    )
    rows = {r["doc_id"]: r["simhash"] for r in simhash(df).collect()}
    assert rows[1] == rows[2]
    assert rows[1] != rows[3]
    groups = simhash_dup_groups(df).collect()
    assert any(set(g["doc_ids"]) == {1, 2} for g in groups)


def test_ngram_jaccard(spark, docs):
    pairs = ngram_jaccard_pairs(docs.limit(200), n=3, threshold=0.2, max_df=100)
    for r in pairs.limit(5).collect():
        assert 0.2 <= r["jaccard"] <= 1.0


def test_embedding_cosine_pairs_blocked(spark, emb):
    pairs = embedding_cosine_pairs(emb.limit(200), threshold=0.5)
    rows = pairs.collect()
    for r in rows:
        assert r["cos"] >= 0.5


def test_brute_force_topk(spark, emb):
    top = brute_force_topk(emb, query_vec_id=0, k=5).collect()
    assert len(top) == 5
    sims = [r["cos"] for r in top]
    assert sims == sorted(sims, reverse=True)
    assert all(r["vec_id"] != 0 for r in top)


def test_ivf_topk_matches_bruteforce_mostly(spark, emb):
    bf = [r["vec_id"] for r in brute_force_topk(emb, 0, 10).collect()]
    ivf = [r["vec_id"] for r in ivf_topk(emb, 0, 10).collect()]
    # IVF probes one bucket: recall is approximate but must overlap the exact
    # top-10 for clustered data
    assert len(set(bf) & set(ivf)) >= 3


def test_text_ops(spark, docs):
    ts = token_stats(docs.limit(50))
    row = ts.filter(F.col("n_tokens") <= 0).count()
    assert row == 0
    q = quality_score(docs.limit(50)).collect()
    assert all(0.0 <= r["quality"] <= 1.0 for r in q)
    li = lang_id(docs.limit(50)).collect()
    assert all(r["lang_pred"] in ("en", "sql", "data", "unk") for r in li)
    fp = fingerprint(docs.limit(50))
    assert fp.select("fp_md5").distinct().count() == 50


def test_media_codecs_roundtrip():
    # REAL encode/decode without Spark: P6 PPM and RIFF/WAVE PCM16
    import numpy as np

    from shacl_js_spark.ops.multimodal import (
        decode_audio, decode_image, encode_ppm, encode_wav,
    )

    img = decode_image(encode_ppm("media://x/1", 20, 10))
    assert img.shape == (10, 20, 3) and img.dtype == np.float32
    assert 0 <= img.min() and img.max() <= 255
    au = decode_audio(encode_wav("media://x/2", duration_ms=100))
    assert au.shape == (800,)  # 8 kHz * 100 ms
    assert -1.0 <= au.min() and au.max() <= 1.0
    # determinism: same ref -> identical bytes
    assert encode_ppm("m", 4, 4) == encode_ppm("m", 4, 4)

    # REAL video: YUV4MPEG2 round-trip + per-timestamp frame seek
    from shacl_js_spark.ops.multimodal import (
        decode_video, decode_video_frame, encode_y4m,
    )

    vid = encode_y4m("media://x/3", width=8, height=6, duration_ms=120, fps=25)
    assert vid.startswith(b"YUV4MPEG2 W8 H6 F25:1")
    clip = decode_video(vid)
    assert clip.shape == (3, 6, 8, 3)  # 120ms @ 25fps -> 3 frames
    f0 = decode_video_frame(vid, 0)
    f_last = decode_video_frame(vid, 10_000)  # clamps to final frame
    assert f0.shape == (6, 8, 3)
    assert np.array_equal(f0, clip[0]) and np.array_equal(f_last, clip[-1])
    assert not np.array_equal(clip[0], clip[1])  # frames differ
    # FRAME lines may carry parameter bytes (y4m spec): the seek path must
    # walk markers, not assume a fixed stride
    vid_params = vid.replace(b"FRAME\n", b"FRAME Ixyz\n")
    assert np.array_equal(decode_video_frame(vid_params, 10_000), clip[-1])
    assert np.array_equal(decode_video(vid_params)[1], clip[1])

    # feature extraction decodes O(k) SAMPLED frames, never the whole clip
    from shacl_js_spark.ops.multimodal import decode, sampled_video_signal

    long_vid = encode_y4m("media://x/4", width=8, height=6, duration_ms=4000, fps=25)
    sig = sampled_video_signal(long_vid, k=4)
    assert len(sig) == 4 * 6 * 8 * 3  # 4 frames of a 100-frame clip
    long_clip = decode_video(long_vid)
    assert np.array_equal(sig[: 6 * 8 * 3], long_clip[0].ravel())   # first
    assert np.array_equal(sig[-6 * 8 * 3 :], long_clip[-1].ravel())  # last
    assert np.array_equal(decode(long_vid, "video"), sig)
    # short clip (fewer frames than k): every frame once, no repeats
    assert len(sampled_video_signal(vid, k=4)) == 3 * 6 * 8 * 3


def test_multimodal_plumbing(spark):
    from shacl_js_spark.ops.multimodal import (
        decode_audio, decode_image, extract_features, frame_sample_plan, synth_media_table,
    )
    from shacl_js_spark.pipeline.synth import interleaved_documents

    docs = interleaved_documents(spark, SF).limit(20)
    media = synth_media_table(docs)
    rows_media = media.collect()
    n = len(rows_media)
    assert n > 0
    # payloads are REAL encoded files consistent with the typed metadata
    for r in rows_media:
        if r["kind"] == "image":
            assert decode_image(r["payload"]).shape == (r["height"], r["width"], 3)
        elif r["kind"] == "audio":
            assert len(decode_audio(r["payload"])) == 8000 * r["duration_ms"] // 1000
    feats = extract_features(media)
    rows = feats.collect()
    assert len(rows) == n
    assert all(len(r["feature"]) == 8 and r["n_bytes"] > 0 for r in rows)
    frames = frame_sample_plan(media, every_ms=5000)
    if media.filter(F.col("kind") == "video").count() > 0:
        assert frames.count() > 0
        # real decode path: sampled frames carry the clip's true geometry
        from shacl_js_spark.ops.multimodal import sample_frames

        sampled = {r["media_ref"]: r for r in sample_frames(media, every_ms=50).collect()}
        vids = {r["media_ref"]: r for r in rows_media if r["kind"] == "video"}
        assert set(sampled) == set(vids)
        for ref, fr in sampled.items():
            assert (fr["height"], fr["width"]) == (vids[ref]["height"], vids[ref]["width"])


def test_curation_ops(spark):
    from shacl_js_spark.ops.curation import (
        contamination_check, pack_sequences, pii_scan, repetition_stats,
    )

    df = spark.createDataFrame(
        [
            (1, "reach me at bob@example.com or +1 (555) 123-4567 today"),
            (2, "spam spam spam spam spam spam spam spam"),
            (3, "a perfectly normal diverse sentence with many words here"),
        ],
        "doc_id long, text string",
    )
    pii = {r["doc_id"]: r for r in pii_scan(df).collect()}
    assert pii[1]["n_email"] == 1 and pii[1]["n_phone"] == 1 and pii[1]["any_pii"]
    assert "<EMAIL>" in pii[1]["text_redacted"] and "<PHONE>" in pii[1]["text_redacted"]
    assert "bob@example.com" not in pii[1]["text_redacted"]
    assert not pii[3]["any_pii"]

    rep = {r["doc_id"]: r for r in repetition_stats(df).collect()}
    assert rep[2]["n_distinct"] == 1 and rep[2]["top_share"] == 1.0
    assert rep[3]["distinct_ratio"] == 1.0

    # doc 2 IS the benchmark -> fully contaminated; doc 3 disjoint -> clean
    bench = df.filter(F.col("doc_id") == 2)
    cont = {r["doc_id"]: r for r in contamination_check(df, bench, n=3).collect()}
    assert cont[2]["contaminated"] and cont[2]["overlap"] == 1.0
    assert not cont[3]["contaminated"] and cont[3]["n_hit"] == 0

    packs = {r["doc_id"]: r for r in pack_sequences(df, budget=10).collect()}
    # tape layout (budget 10): doc1 = 9 tokens at [0,9); doc2 = 8 tokens at
    # [9,17) straddling into pack 1; doc3 starts at 17 -> pack 1 offset 7
    assert packs[1]["n_tokens"] == 9
    assert packs[1]["pack_id"] == 0 and packs[1]["pack_offset"] == 0
    assert packs[2]["pack_id"] == 0 and packs[2]["pack_offset"] == 9
    assert packs[3]["pack_id"] == 1 and packs[3]["pack_offset"] == 7


def test_dedup_groups_bounded_on_degenerate_key(spark):
    # 5k identical docs -> ONE group; the exemplar list must stay capped
    # while n_docs / min / max remain exact over all members
    from shacl_js_spark.ops.dedup import exact_dedup_groups

    df = spark.range(5000).select(
        F.col("id").alias("doc_id"), F.lit("same text every time").alias("text")
    )
    g = exact_dedup_groups(df, F.col("text"), max_exemplars=25).collect()
    assert len(g) == 1
    row = g[0]
    assert row["n_docs"] == 5000
    assert row["min_doc"] == 0 and row["max_doc"] == 4999
    assert len(row["doc_ids"]) == 25 and row["doc_ids"] == sorted(row["doc_ids"])


def test_pii_specificity_order(spark):
    # the generic phone pattern also matches SSN-shaped strings; specificity
    # ordering must label them <SSN_LIKE> and keep n_phone at zero
    from shacl_js_spark.ops.curation import pii_scan

    df = spark.createDataFrame(
        [(1, "ssn 123-45-6789 and ip 10.0.0.7 only")],
        "doc_id long, text string",
    )
    row = pii_scan(df).collect()[0]
    assert row["n_ssn_like"] == 1 and row["n_ipv4"] == 1
    assert row["n_phone"] == 0 and row["n_email"] == 0
    assert "<SSN_LIKE>" in row["text_redacted"] and "<IPV4>" in row["text_redacted"]
    assert "<PHONE>" not in row["text_redacted"]


def test_pack_sequences_partitioned_equals_global(spark):
    # the two-level prefix-sum packer must reproduce the global-cumsum packer
    # row-for-row, and its plan must contain no partition-less Window (the
    # single-task total order the scale path exists to eliminate)
    import random

    from shacl_js_spark.ops.curation import pack_sequences, pack_sequences_partitioned

    rng = random.Random(7)
    rows = [
        (i, " ".join(f"w{rng.randrange(50)}" for _ in range(rng.randrange(0, 40))))
        for i in range(500)
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string").repartition(8)
    part = pack_sequences_partitioned(df, budget=64, num_partitions=8)

    plan = part._jdf.queryExecution().optimizedPlan().toString()
    for line in plan.splitlines():
        if "windowspecdefinition(" in line:
            # a global-order window renders as windowspecdefinition(doc_id ...
            # with no partition columns before the ORDER BY spec; the
            # partitioned variant must always carry _pid partitioning
            assert "_pid" in line, f"partition-less window in plan: {line}"

    expect = {r["doc_id"]: r for r in pack_sequences(df, budget=64).collect()}
    got = {r["doc_id"]: r for r in part.collect()}
    assert len(got) == len(expect) == 500
    for k, e in expect.items():
        g = got[k]
        assert (g["n_tokens"], g["pack_id"], g["pack_offset"]) == (
            e["n_tokens"], e["pack_id"], e["pack_offset"]
        ), k


def test_shingles_short_docs_no_crash(spark):
    # 1- and 2-token docs previously crashed slice() via a descending
    # sequence(1,0); they now contribute one clamped shingle
    from shacl_js_spark.ops.dedup import shingles

    df = spark.createDataFrame(
        [(1, "solo"), (2, "two words"), (3, "three word doc"), (4, "")],
        "doc_id long, text string",
    )
    rows = {r["doc_id"]: r["shingle"] for r in shingles(df).collect()}
    assert rows[1] == "solo" and rows[2] == "two words" and rows[3] == "three word doc"
    assert 4 not in rows  # empty text -> no shingle
    # and the minhash path over the same frame completes
    assert minhash_signatures(df).count() == 3


def test_dup_clusters_transitive(spark):
    """A~B and B~C must land in one cluster keyed by the numeric-min doc id,
    even though (A,C) was never a pair; both the driver union-find and the
    distributed min-label path must agree (zero-padding makes lexicographic
    label propagation equal numeric min — 9 vs 10 would order wrong as
    bare strings)."""
    from shacl_js_spark.ops.dedup import dup_clusters

    pairs = spark.createDataFrame(
        [(10, 9), (9, 2), (100, 30)], "a bigint, b bigint"
    )
    expected = {(2, 2), (9, 2), (10, 2), (30, 30), (100, 30)}

    got = {tuple(r) for r in dup_clusters(spark, pairs).collect()}
    assert got == expected

    # distributed fixpoint path (driver_threshold=0 forces it)
    import shacl_js_spark.pipeline.canonicalize as cc
    from pyspark.sql import functions as F

    edges = pairs.select(
        F.lpad(F.col("a").cast("string"), 20, "0").alias("src"),
        F.lpad(F.col("b").cast("string"), 20, "0").alias("dst"),
    )
    m = cc.connected_components(spark, edges, driver_threshold=0)
    got_dist = {
        (int(r["entity_id"]), int(r["canonical_id"])) for r in m.collect()
    }
    assert got_dist == expected


def test_quality_percentile_filter_per_lang(spark, docs):
    from shacl_js_spark.ops.curation import (
        quality_percentile_filter,
        quality_threshold_filter,
    )

    kept = quality_percentile_filter(docs, keep_frac=0.8)
    per_lang = {r["lang"]: r["n"] for r in docs.groupBy("lang").agg(F.count("*").alias("n")).collect()}
    kept_lang = {r["lang"]: r["n"] for r in kept.groupBy("lang").agg(F.count("*").alias("n")).collect()}
    import math

    # exact rank semantics: ceil(0.8 * n) kept per language (IEEE double, as
    # both engines compute it)
    for lang, n in per_lang.items():
        assert kept_lang[lang] == math.ceil(0.8 * n), lang
    # the threshold (scale) path agrees with the exact path up to quantile
    # boundary ties: everything strictly above each lang's cutoff is kept
    thr = quality_threshold_filter(docs, keep_frac=0.8)
    exact_ids = {r["doc_id"] for r in kept.collect()}
    thr_ids = {r["doc_id"] for r in thr.collect()}
    cutoffs = {
        r["lang"]: r["m"]
        for r in kept.groupBy("lang").agg(F.min("quality").alias("m")).collect()
    }
    from shacl_js_spark.ops.text import quality_score

    scored = quality_score(docs).join(docs.select("doc_id", "lang"), "doc_id")
    for row in scored.collect():
        if row["quality"] > cutoffs[row["lang"]]:
            assert row["doc_id"] in exact_ids
            assert row["doc_id"] in thr_ids, (row["doc_id"], row["quality"])


def test_stratified_sample_deterministic_and_weighted(spark, docs):
    from shacl_js_spark.ops.curation import MIX_FRACTIONS, stratified_sample

    s1 = {(r["doc_id"], r["lang"], r["weight"]) for r in stratified_sample(docs).collect()}
    s2 = {(r["doc_id"], r["lang"], r["weight"]) for r in stratified_sample(docs).collect()}
    assert s1 == s2 and s1  # reproducible, non-empty
    # per-lang keep rates near the requested fractions (md5 uniformity);
    # weights are exactly 1/frac
    n_lang = {r["lang"]: r["n"] for r in docs.groupBy("lang").agg(F.count("*").alias("n")).collect()}
    kept = {}
    for doc_id, lang, w in s1:
        assert w == round(1.0 / MIX_FRACTIONS[lang], 6)
        kept[lang] = kept.get(lang, 0) + 1
    assert kept.get("en", 0) == n_lang["en"]  # frac 1.0 keeps everything
    for lang, frac in MIX_FRACTIONS.items():
        if lang == "en" or n_lang.get(lang, 0) < 20:
            continue
        rate = kept.get(lang, 0) / n_lang[lang]
        assert abs(rate - frac) < 0.35, (lang, rate, frac)  # tiny-corpus tolerance
    # zero fraction drops the language entirely, without a 1/0 weight
    none_kept = stratified_sample(docs, {"en": 0.0})
    assert none_kept.count() == 0
