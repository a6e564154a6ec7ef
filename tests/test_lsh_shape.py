"""Shape of the MinHash-LSH path and its tokenizing expressions.

- Each token-level expression splits its text once per row: a lambda
  that refers to a ``tokens(text)`` expression re-splits it per element,
  because higher-order functions are interpreted.
- ``banded_signatures`` (one SQL parse each for the signature and the
  bands) gives the rows of the element-wise Column-API reference below,
  so bucket ids are unchanged.
- The signatures are computed once per query, and no LSH operator
  leaves a persisted RDD behind.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from dbt_maxcompute_spark.operators import decontam, dedup, dsir
from dbt_maxcompute_spark.operators.textanalysis import tokens
from dbt_maxcompute_spark.sources.registry import load_table


@pytest.mark.parametrize(
    "expr",
    [
        lambda t: dedup.shingles(t, 3),
        lambda t: dsir.hashed_features(t, 1000),
        lambda t: decontam.word_ngrams(t, 3),
        lambda t: dedup._chunk_structs(t, 50),
    ],
    ids=["shingles", "hashed_features", "word_ngrams", "substring_chunks"],
)
def test_token_expressions_split_once(spark, expr):
    assert str(expr(F.col("text"))).count("split(") == 1


def _reference_banded(df, id_col, text_col, num_hashes, bands, shingle_n):
    """Element-wise Column-API build of the same signature family:
    h1 XOR rot_k(h2) min-folded over the shingles, Murmur3 per band."""
    toks = tokens(F.col(text_col))
    sh = F.when(F.size(toks) < shingle_n, F.array(F.concat_ws(" ", toks))).otherwise(
        F.transform(
            F.sequence(F.lit(1), F.greatest(F.size(toks) - (shingle_n - 1), F.lit(1))),
            lambda i: F.concat_ws(" ", F.slice(toks, i, shingle_n)),
        )
    )
    pre = F.transform(
        sh, lambda s: F.struct(F.xxhash64(s).alias("h1"), F.xxhash64(s, F.lit(1)).alias("h2"))
    )

    def mix(p, k):
        if k == 0:
            return p["h1"]
        rot = F.shiftleft(p["h2"], k).bitwiseOR(F.shiftrightunsigned(p["h2"], 64 - k))
        return p["h1"].bitwiseXOR(rot)

    sig = F.aggregate(
        pre,
        F.array_repeat(F.lit((1 << 63) - 1), num_hashes),
        lambda acc, p: F.zip_with(
            acc, F.array(*[mix(p, k) for k in range(num_hashes)]), lambda a, b: F.least(a, b)
        ),
    )
    r = num_hashes // bands
    sigs = df.select(F.col(id_col).alias("__id"), sig.alias("__sig"))
    return sigs.select(
        "__id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.hash(F.slice(F.col("__sig"), b * r + 1, r)).alias("bh"),
                    )
                    for b in range(bands)
                ]
            )
        ).alias("bb"),
    ).select("__id", "bb.band", "bb.bh")


def test_banded_signatures_match_columnwise_reference(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents").unionByName(
        spark.createDataFrame(
            [(-1, None), (-2, ""), (-3, "two words")], "doc_id long, text string"
        ),
        allowMissingColumns=True,
    )
    got = dedup.banded_signatures(docs, "doc_id", "text", 32, 8, 3)
    want = _reference_banded(docs, "doc_id", "text", 32, 8, 3)
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, want.collect()))


def test_signatures_computed_once(spark, sf_dir):
    # an oversized boilerplate bucket keeps the histogram's broadcast and
    # its anti-join in the final plan beside the bucket join
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    boiler = spark.range(5).select(
        (F.col("id") + 10_000_000).alias("doc_id"), F.lit("terms of service privacy").alias("text")
    )
    df = dedup.minhash_lsh_pairs(
        docs.unionByName(boiler), "doc_id", "text", num_hashes=16, bands=4, max_bucket=3
    )
    assert df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    final = plan[plan.index("== Final Plan ==") : plan.index("== Initial Plan ==")]
    band_exchanges = [ln for ln in final.splitlines() if "REPARTITION_BY_COL" in ln]
    # one band-row exchange runs; the histogram and both join sides reuse it
    assert len(band_exchanges) > 1
    assert sum("ReusedExchange" not in ln for ln in band_exchanges) == 1


def _store_dedup(docs):
    store = docs.filter("doc_id < 60")
    batch = docs.filter("doc_id >= 40 and doc_id < 80")
    return dedup.lsh_dedup_against_store(batch, store, "doc_id", "text")


@pytest.mark.parametrize(
    "op",
    [
        lambda d: dedup.minhash_lsh_pairs(d, "doc_id", "text"),
        lambda d: dedup.minhash_lsh_dedup(d, "doc_id", "text"),
        _store_dedup,
    ],
    ids=["minhash_lsh_pairs", "minhash_lsh_dedup", "lsh_dedup_against_store"],
)
def test_lsh_operators_leave_no_persisted_rdds(spark, sf_dir, op):
    # compared by RDD id, not by count: the context cleaner may release
    # frames earlier tests left behind while this one runs
    sc = spark.sparkContext
    before = set(sc._jsc.getPersistentRDDs().keys())
    op(load_table(spark, sf_dir, "documents")).collect()
    assert set(sc._jsc.getPersistentRDDs().keys()) - before == set()
