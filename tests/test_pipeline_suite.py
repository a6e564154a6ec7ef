"""Training-data pipeline suite: oracle checks for exact operators,
property checks for approximate ones (LSH recall vs the exact oracle,
IVF vs brute force), plumbing checks for multimodal."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from dbt_maxcompute_spark.operators import dedup, multimodal, similarity
from dbt_maxcompute_spark.sources.registry import load_table
from dbt_maxcompute_spark.suite import pipeline_suite
from tests.oracle import compare_to_oracle


@pytest.mark.parametrize("name", sorted(pipeline_suite.ORACLES))
def test_pipeline_query_matches_oracle(spark, sf_dir, name):
    df = pipeline_suite.QUERIES[name](spark, sf_dir)
    compare_to_oracle(df, pipeline_suite.ORACLES[name], sf_dir)


def test_minhash_lsh_recall_vs_exact(spark, sf_dir):
    """LSH pairs must recover most exact jaccard pairs at the same
    threshold and shingle size, with zero false positives (candidates
    are re-verified with the exact measure). shingle_n=1 (token sets)
    so the word-salad fixture actually produces similar pairs."""
    docs = load_table(spark, sf_dir, "documents")
    exact = {
        (r.id_a, r.id_b)
        for r in dedup.ngram_jaccard_pairs(docs, "doc_id", "text", shingle_n=1, threshold=0.8)
        .collect()
    }
    got = {
        (r.id_a, r.id_b)
        for r in dedup.minhash_lsh_pairs(
            docs, "doc_id", "text", num_hashes=32, bands=16, shingle_n=1,
            jaccard_threshold=0.8,
        ).collect()
    }
    assert got <= exact  # zero false positives
    if exact:
        recall = len(got & exact) / len(exact)
        assert recall >= 0.8, f"LSH recall {recall:.2f} over {len(exact)} exact pairs"


def test_simhash_pairs_are_near_dups(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    pairs = dedup.simhash_pairs(docs, "doc_id", "text", max_hamming=3).collect()
    for r in pairs:
        assert r.hamming <= 3


def _simhash_fold(toks, hash_family: str = "xxhash64"):
    """Reference 64-bit SimHash, pure Catalyst: for each bit position,
    sum ±1 over token hash bits, take the sign — an aggregate fold over
    the token array (no Python).

    Bit positions are unrolled statically: PySpark's shiftright/
    shiftleft take literal ints only. The fold runs over PRE-HASHED
    tokens, counts ONE-bits with branch-free arithmetic ((h>>i)&1
    summed) and derives the majority sign at the end: bit i set iff
    2*ones > n."""
    ones = F.aggregate(
        F.transform(toks, lambda t: dedup.token_hash_expr(t, hash_family)),
        F.array_repeat(F.lit(0).cast("long"), 64),
        lambda acc, h: F.zip_with(
            acc,
            F.array(*[F.shiftright(h, i).bitwiseAND(F.lit(1)) for i in range(64)]),
            lambda a, b: a + b,
        ),
    )
    n = F.size(toks).cast("long")
    # two's-complement value of bit i (bit 63 = min-long sign bit)
    bit_val = [(1 << i) if i < 63 else -(1 << 63) for i in range(64)]
    fp = F.lit(0).cast("long")
    for i in range(64):
        fp = fp.bitwiseOR(
            F.when(
                F.element_at(ones, i + 1) * 2 > n, F.lit(bit_val[i]).cast("long")
            ).otherwise(F.lit(0).cast("long"))
        )
    return fp


def test_simhash_fast_matches_catalyst_fold(spark, sf_dir):
    """The Arrow fast path must be bit-identical to the pure-Catalyst
    reference fold (same xxhash64 token hashes, same majority rule)."""
    docs = load_table(spark, sf_dir, "documents").limit(50)
    toks = dedup.tokens(F.col("text"))
    got = docs.select(
        _simhash_fold(toks).alias("slow"), dedup.simhash_fast(toks).alias("fast")
    ).collect()
    assert got and all(r.slow == r.fast for r in got)


def test_ivf_recall_vs_brute_force(spark, sf_dir):
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5)
    exact = similarity.brute_force_topk(emb, queries, "vec_id", "embedding", k=10)
    approx = similarity.ivf_topk(
        emb, queries, "vec_id", "embedding", k=10, num_centroids=8, nprobe=4
    )
    e = {(r.query_id, r.neighbor_id) for r in exact.collect()}
    a = {(r.query_id, r.neighbor_id) for r in approx.collect()}
    recall = len(e & a) / len(e)
    assert recall >= 0.5, f"IVF recall {recall:.2f} (probing half the cells)"


def test_ivf_supports_string_ids(spark, sf_dir):
    """Tiebreak is by matrix index, not negated id value — string ids
    must plan and agree with the numeric-id run (ADVICE r3)."""
    emb = load_table(spark, sf_dir, "embeddings")
    s = emb.select(
        F.concat(F.lit("doc_"), F.format_string("%06d", "vec_id")).alias("vec_id"),
        "embedding",
    )
    queries = s.filter(F.col("vec_id") < "doc_000005")
    out = similarity.ivf_topk(
        s, queries, "vec_id", "embedding", k=10, num_centroids=8, nprobe=4
    ).collect()
    assert out and all(r.query_id != r.neighbor_id for r in out)
    # recall vs brute force must hold just as it does for numeric ids
    # (centroid SAMPLING hashes the id, so the cells differ from the
    # numeric run — recall is the invariant, not the exact pair set)
    exact = similarity.brute_force_topk(s, queries, "vec_id", "embedding", k=10)
    e = {(r.query_id, r.neighbor_id) for r in exact.collect()}
    a = {(r.query_id, r.neighbor_id) for r in out}
    assert len(e & a) / len(e) >= 0.5


def test_lsh_topk_subset_of_corpus(spark, sf_dir):
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 3)
    out = similarity.lsh_topk(emb, queries, "vec_id", "embedding", k=5).collect()
    assert all(r.rank <= 5 for r in out)
    assert all(r.query_id != r.neighbor_id for r in out)


def test_multimodal_unsupported_codec_raises_or_skips(spark, sf_dir):
    # a JPEG payload has no pure-numpy codec: error by default, droppable
    # with on_unsupported="skip" (the 100 TB crawl posture)
    jpeg = spark.createDataFrame(
        [(1, "image", bytearray(b"\xff\xd8\xff\xe0rest-of-jpeg"))],
        "media_id long, kind string, payload binary",
    )
    with pytest.raises(Exception, match="no codec|PythonException"):
        multimodal.decode_media(jpeg).collect()
    assert multimodal.decode_media(jpeg, on_unsupported="skip").count() == 0


def test_codec_bmp_golden():
    # 3x2, fill 100: stride pads 9 -> 12 bytes/row; padding must not
    # dilute the mean
    b = multimodal._encode_bmp(3, 2, 100)
    w, h, mean = multimodal._decode_bmp(b)
    assert (w, h, mean) == (3, 2, 100.0)
    assert len(b) == 14 + 40 + 12 * 2
    # top-down variant (negative height) decodes identically
    import struct

    neg = bytearray(b)
    struct.pack_into("<i", neg, 22, -2)
    assert multimodal._decode_bmp(bytes(neg)) == (3, 2, 100.0)


def test_codec_ppm_golden():
    b = multimodal._encode_ppm(4, 3, 7)
    assert multimodal._decode_ppm(b) == (4, 3, 7.0)
    # comment already embedded by the encoder; malformed magic raises
    with pytest.raises(ValueError):
        multimodal._decode_ppm(b"P5 1 1 255 x")


def test_codec_wav_golden():
    b = multimodal._encode_wav(-123, 50)
    ch, bits, n, mean = multimodal._decode_wav(b)
    assert (ch, bits, n, mean) == (1, 16, 50, 123.0)
    # the LIST chunk between fmt and data exercises real chunk walking
    assert b"LIST" in b


def test_multimodal_feature_pipeline_real(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents").limit(30)
    media = multimodal.synthesize_media_payload(docs, "text", "doc_id")
    n_media = media.count()
    feats = multimodal.decode_media(media)
    rows = {r["media_id"]: r for r in feats.collect()}
    assert len(rows) == n_media
    docs_rows = docs.select("doc_id", "text").collect()
    for d in docs_rows:
        i, n = d["doc_id"], len(d["text"].encode("utf-8"))
        r = rows[i]
        if i % 3 == 2:
            assert r["format"] == "wav" and r["n_frames"] == 500 + i % 1000
            assert r["mean_intensity"] == abs((n % 1000) - 500)
        else:
            assert r["format"] == ("bmp" if i % 3 == 0 else "ppm")
            assert (r["width"], r["height"]) == (8 + i % 24, 8 + (i // 7) % 24)
            assert r["mean_intensity"] == (n % 240) + 8


def test_repartition_by_size_balances(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    media = multimodal.attach_fake_payload(docs, "text", "doc_id")
    out = multimodal.repartition_by_size(media, 8)
    sizes = out.rdd.glom().map(len).collect()
    assert len(sizes) == 8 and max(sizes) <= 3 * (sum(sizes) / 8)


def test_hash_sample_deterministic_and_sized(spark, sf_dir):
    from dbt_maxcompute_spark.operators import sampling

    docs = load_table(spark, sf_dir, "documents")
    n = docs.count()
    s1 = sampling.hash_sample(docs, "doc_id", 0.2)
    s2 = sampling.hash_sample(docs.repartition(7), "doc_id", 0.2)
    ids1 = {r.doc_id for r in s1.select("doc_id").collect()}
    ids2 = {r.doc_id for r in s2.select("doc_id").collect()}
    assert ids1 == ids2  # stable under repartitioning
    assert 0.1 * n < len(ids1) < 0.3 * n


def test_hash_split_partitions_everything_once(spark, sf_dir):
    from dbt_maxcompute_spark.operators import sampling
    from pyspark.sql import functions as F

    docs = load_table(spark, sf_dir, "documents")
    split = sampling.hash_split(docs, "doc_id", {"a": 0.5, "b": 0.5})
    counts = {r.split: r.n for r in split.groupBy("split").agg(F.count("*").alias("n")).collect()}
    assert sum(counts.values()) == docs.count()
    assert set(counts) == {"a", "b"}


def test_hash_split_weights_validation(spark, sf_dir):
    from dbt_maxcompute_spark.operators import sampling

    docs = load_table(spark, sf_dir, "documents")
    import pytest as _pytest

    with _pytest.raises(ValueError, match="sum to 1"):
        sampling.hash_split(docs, "doc_id", {"a": 0.5, "b": 0.2})


def test_pack_sequences_boundary_semantics(spark):
    from dbt_maxcompute_spark.operators import training

    # 3 docs x 4 tokens, capacity 6: doc0 [0,4) seq0; doc1 [4,8) spans
    # the 6-boundary; doc2 [8,12) stays in seq1
    df = spark.createDataFrame(
        [(0, "a b c d"), (1, "e f g h"), (2, "i j k l")], "doc_id long, text string"
    )
    rows = {
        r["doc_id"]: r
        for r in training.pack_sequences(df, "doc_id", "text", capacity=6).collect()
    }
    assert (rows[0]["start_token"], rows[0]["seq_id"], rows[0]["spans_boundary"]) == (0, 0, False)
    assert (rows[1]["start_token"], rows[1]["seq_id"], rows[1]["spans_boundary"]) == (4, 0, True)
    assert (rows[2]["start_token"], rows[2]["seq_id"], rows[2]["spans_boundary"]) == (8, 1, False)


def test_pack_sequences_window_is_bucket_partitioned(spark, sf_dir):
    # the prefix sum must never be a single-partition global window
    from dbt_maxcompute_spark.operators import training

    docs = load_table(spark, sf_dir, "documents")
    df = training.pack_sequences(docs, "doc_id", "text")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "windowspecdefinition(__b" in plan, "window not partitioned by bucket"


def test_repetition_profile_crafted(spark):
    from dbt_maxcompute_spark.operators import training

    df = spark.createDataFrame(
        [(1, "x x x y"), (2, "a b c d")], "doc_id long, text string"
    )
    rows = {r["doc_id"]: r for r in training.repetition_profile(df, "doc_id", "text").collect()}
    # doc1: 4 tokens, 2 unique -> dup 0.5; bigrams [x x, x x, x y] -> top 2/3
    assert rows[1]["dup_token_ratio"] == 0.5
    assert rows[1]["top_bigram_frac"] == round(2 / 3, 6)
    assert rows[2]["dup_token_ratio"] == 0.0 and rows[2]["top_bigram_frac"] == round(1 / 3, 6)


def test_training_order_deterministic_and_sharded(spark, sf_dir):
    from dbt_maxcompute_spark.operators import training

    docs = load_table(spark, sf_dir, "documents").limit(200)
    a = training.training_order(docs, "doc_id", seed=7).collect()
    b = training.training_order(docs.repartition(13), "doc_id", seed=7).collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))  # layout-independent
    c = training.training_order(docs, "doc_id", seed=8).collect()
    assert sorted(map(tuple, a)) != sorted(map(tuple, c))  # seed changes order
    # ranks within each shard are 1..n dense
    from collections import defaultdict

    by_shard = defaultdict(list)
    for r in a:
        by_shard[r["shard"]].append(r["shuffle_rank"])
    assert all(sorted(v) == list(range(1, len(v) + 1)) for v in by_shard.values())


def test_repetition_profile_single_token_doc(spark):
    from dbt_maxcompute_spark.operators import training

    df = spark.createDataFrame([(1, "solo"), (2, "a a")], "doc_id long, text string")
    rows = {r["doc_id"]: r for r in training.repetition_profile(df, "doc_id", "text").collect()}
    assert rows[1]["n_tokens"] == 1 and rows[1]["top_bigram_frac"] == 0.0
    assert rows[2]["dup_token_ratio"] == 0.5 and rows[2]["top_bigram_frac"] == 1.0


def test_training_ops_empty_input(spark):
    from dbt_maxcompute_spark.operators import training

    empty = spark.createDataFrame([], "doc_id long, text string")
    assert training.pack_sequences(empty, "doc_id", "text").count() == 0
    assert training.repetition_profile(empty, "doc_id", "text").count() == 0
    assert training.training_order(empty, "doc_id").count() == 0


def test_lsh_dedup_against_store_near_and_exact(spark):
    # store: two docs; batch: an exact copy (jaccard 1.0 -> dropped), a
    # one-token append over a long doc (high jaccard -> dropped), a
    # half-overlap doc (jaccard < 0.5 -> kept), and a disjoint doc
    # (jaccard 0 -> kept). Verification makes the drop decision exact.
    base = " ".join(f"tok{i}" for i in range(40))
    store = spark.createDataFrame(
        [(1, base), (2, "completely different words here indeed truly")],
        "doc_id long, text string",
    )
    near = base + " extratok"          # shingle jaccard ~ 38/41 >> 0.5
    half = " ".join(f"tok{i}" for i in range(20)) + " " + " ".join(
        f"new{i}" for i in range(20)
    )                                   # shares half the tokens, far fewer shingles
    batch = spark.createDataFrame(
        [(10, base), (11, near), (12, half), (13, "zq xw yv wu")],
        "doc_id long, text string",
    )
    kept = dedup.lsh_dedup_against_store(
        batch, store, "doc_id", "text", jaccard_threshold=0.5
    )
    assert sorted(r.doc_id for r in kept.collect()) == [12, 13]


def test_lsh_dedup_against_store_empty_candidates(spark):
    # disjoint vocabularies: no bucket collisions survive verification,
    # the whole batch is kept
    store = spark.createDataFrame([(1, "alpha beta gamma delta")], "doc_id long, text string")
    batch = spark.createDataFrame([(9, "epsilon zeta eta theta")], "doc_id long, text string")
    kept = dedup.lsh_dedup_against_store(batch, store, "doc_id", "text")
    assert [r.doc_id for r in kept.collect()] == [9]
