"""Product quantization: code shape/determinism, ADC score equivalence
with the python-side reference, and the scale-critical plan property —
encoding is a pure projection, no shuffle."""

from __future__ import annotations

from pyspark.sql import functions as F

from dbt_maxcompute_spark.operators import quantize, similarity
from dbt_maxcompute_spark.sources.registry import load_table
from tests.test_plan_quality import plan_of


def test_codes_shape_and_determinism(spark, sf_dir):
    emb = load_table(spark, sf_dir, "embeddings")
    cb = quantize.pq_codebook(emb, "vec_id", "embedding", m=8, ks=16)
    assert len(cb) == 8 and len(cb[0]) == 16 and len(cb[0][0]) == 8
    coded = quantize.pq_encode(emb.select("vec_id", "embedding"), "embedding", cb)
    a = {r.vec_id: list(r["__codes"]) for r in coded.collect()}
    b = {r.vec_id: list(r["__codes"]) for r in coded.collect()}
    assert a == b  # deterministic across runs
    assert all(len(c) == 8 and all(0 <= x < 16 for x in c) for c in a.values())


def test_adc_matches_python_reference(spark, sf_dir):
    # ADC score of a coded row == python dot(LUT row, codes) on a
    # handful of rows — the ADC kernel computes exactly
    # the Jegou formulation, not something approximately like it
    import math

    emb = load_table(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 20)
    cb = quantize.pq_codebook(emb, "vec_id", "embedding", m=8, ks=8)
    coded = quantize.pq_encode(emb.select("vec_id", "embedding"), "embedding", cb)
    q = quantize.pq_lut(
        emb.filter(F.col("vec_id") == 0).select(
            F.col("vec_id").alias("qid"), F.col("embedding").alias("qv")
        ),
        "qv",
        cb,
    )
    scored = coded.join(F.broadcast(q)).withColumn(
        "s", quantize.pq_adc_score(F.col("__lut"), F.col("__codes"))
    )
    rows = scored.select("vec_id", "__codes", "__lut", "s").collect()
    for r in rows:
        want = sum(r["__lut"][sub][code] for sub, code in enumerate(r["__codes"]))
        assert math.isclose(r.s, want, rel_tol=1e-12)


def test_encode_is_shuffle_free(spark, sf_dir):
    emb = load_table(spark, sf_dir, "embeddings")
    cb = quantize.pq_codebook(emb, "vec_id", "embedding", m=8, ks=16)

    # round-13: one Arrow stage per scan — never the row-pickling
    # BatchEvalPython — and still projection-only
    coded = quantize.pq_encode(emb.select("vec_id", "embedding"), "embedding", cb)
    plan = plan_of(spark, coded, "simple")
    assert "Exchange" not in plan.replace("BroadcastExchange", ""), (
        "PQ encoding must be a pure projection"
    )
    assert "ArrowEvalPython" in plan, "encode must be the Arrow kernel"
    assert "BatchEvalPython" not in plan, "row-pickling UDF path is forbidden"


def test_pq_topk_full_results_and_rerank_exact(spark, sf_dir):
    # every query returns a full k, and each returned cosine equals the
    # exact cosine (re-rank really is exact on the candidate set)
    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < 3)
    got = similarity.pq_topk(emb, q, "vec_id", "embedding", k=5, m=8, ks=16, cand_mult=8)
    rows = got.collect()
    by_q = {}
    for r in rows:
        by_q.setdefault(r.query_id, []).append(r)
    assert set(by_q) == {0, 1, 2} and all(len(v) == 5 for v in by_q.values())
    # spot-check one pair against brute force's exact cosine
    brute = similarity.brute_force_topk(emb, q, "vec_id", "embedding", k=200)
    exact = {(r.query_id, r.neighbor_id): r.cosine for r in brute.collect()}
    for r in rows:
        key = (r.query_id, r.neighbor_id)
        if key in exact:
            assert abs(r.cosine - exact[key]) < 1e-9
