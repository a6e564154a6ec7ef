"""Arrow vecmath kernels must be BIT-IDENTICAL to the Catalyst folds
whose IEEE-754 operation sequence they replay — every declared query
is value-hashed against its DuckDB oracle, so these are equality pins,
not closeness checks.

The second engine lives here, not in production: each kernel's per-row
output is compared with a pure-Python scalar replay of the fold,
written below without numpy so it is an independent implementation of
what the vectorized kernel computes. Replay rules:

- widen every element with ``float()`` (float32 -> float64 is exact);
- sum left to right, ``acc = acc + x*y`` (CPython performs each op
  separately in binary64 — no FMA contraction);
- take the FIRST extremum: ``index(max(...))`` / ``index(min(...))``,
  as ``array_position(arr, array_max/min(arr))`` does;
- NULL in gives NULL out;
- pair cosine follows ``zip_with``'s NULL padding when the two
  lengths differ.

Inputs are the fixture rows plus edge rows (zero vector, NULL vector,
duplicate vectors), and each matrix carries a duplicated row so first-
extremum tiebreaks are exercised on real ties. Results are compared as
raw bit patterns (``-0.0`` and ``0.0`` differ).
"""

from __future__ import annotations

import math
import struct
from itertools import zip_longest

import pytest
from pyspark.sql import functions as F

from dbt_maxcompute_spark.operators import (
    clustering,
    quantize,
    similarity,
    vecmath,
)
from dbt_maxcompute_spark.sources.registry import load_table

# ---------------------------------------------------------------------------
# scalar replay of the Catalyst folds
# ---------------------------------------------------------------------------


def _fold_sum(xs):
    """``aggregate(xs, 0.0, (acc, x) -> acc + x)``; a NULL element makes
    the accumulator (and so the result) NULL."""
    acc = 0.0
    for x in xs:
        if x is None:
            return None
        acc = acc + x
    return acc


def _dot(a, b):
    """``aggregate(zip_with(a, b, x*y), 0.0, +)`` — zip_with pads the
    shorter side with NULL, so mismatched lengths give NULL."""
    return _fold_sum(
        None if x is None or y is None else float(x) * float(y)
        for x, y in zip_longest(a, b)
    )


def _sqdist(a, c):
    acc = 0.0
    for x, y in zip(a, c):
        t = float(x) - float(y)
        acc = acc + t * t
    return acc


def _unit(v):
    """quantize._unit_expr: x / sqrt(fold x*x), 0.0 when the norm is 0."""
    n = math.sqrt(_dot(v, v))
    return [0.0 if n == 0.0 else float(x) / n for x in v]


def _argmax(xs):
    return xs.index(max(xs))


def _argmin(xs):
    return xs.index(min(xs))


def _ref_cosine(a, b):
    if a is None or b is None:
        return None
    denom = math.sqrt(_dot(a, a)) * math.sqrt(_dot(b, b))
    if denom == 0.0:
        return 0.0
    dot = _dot(a, b)
    return None if dot is None else dot / denom


def _ref_cell(v, ids, unit_mat):
    if v is None:
        return None
    return ids[_argmax([_dot(v, c) for c in unit_mat])]


def _ref_pq_codes(v, codebook, normalize=True):
    m, d0 = len(codebook), len(codebook[0][0])
    if v is None:
        return [None] * m
    u = _unit(v) if normalize else [float(x) for x in v]
    return [
        _argmin([_sqdist(u[s * d0 : (s + 1) * d0], c) for c in codebook[s]])
        for s in range(m)
    ]


def _ref_lut(v, codebook):
    m, ks, d0 = len(codebook), len(codebook[0]), len(codebook[0][0])
    if v is None:
        return [[None] * ks for _ in range(m)]
    u = _unit(v)
    return [[_dot(u[s * d0 : (s + 1) * d0], c) for c in codebook[s]] for s in range(m)]


def _ref_adc(lut, codes):
    if lut is None or codes is None:
        return None
    return _fold_sum(
        None if c is None else lut[s][c] for s, c in enumerate(codes)
    )


def _ref_argmin_d2(v, centroids):
    if v is None:
        return None, None
    d = [_sqdist(v, c) for c in centroids]
    return _argmin(d), min(d)


def _bits(x):
    """Raw binary64 patterns, recursively; ints and NULLs as-is."""
    if isinstance(x, float):
        return struct.pack("<d", x)
    if isinstance(x, (list, tuple)):
        return [_bits(y) for y in x]
    return x


# ---------------------------------------------------------------------------
# fixtures
# ---------------------------------------------------------------------------


@pytest.fixture()
def emb_with_edges(spark, sf_dir):
    emb = load_table(spark, sf_dir, "embeddings")
    dim = len(emb.select("embedding").first()[0])
    edge = spark.createDataFrame(
        [
            (90001, [0.0] * dim, 0),  # zero vector: cosine denom == 0
            (90002, None, 0),  # NULL vector
            (90003, [1.0] + [0.0] * (dim - 1), 0),  # tie-prone dup
            (90004, [1.0] + [0.0] * (dim - 1), 0),
        ],
        "vec_id long, embedding array<float>, label int",
    )
    return emb.unionByName(edge)


@pytest.fixture()
def vecs(emb_with_edges):
    """vec_id -> embedding (None for the NULL row), as collected."""
    return {
        r["vec_id"]: r["embedding"]
        for r in emb_with_edges.select("vec_id", "embedding").collect()
    }


def _codebook_with_tie(emb, ks):
    """pq_codebook with codeword 1 duplicated into slot ks-1 of every
    subspace: rows nearest to it hit a genuine argmin tie."""
    cb = quantize.pq_codebook(emb, "vec_id", "embedding", m=8, ks=ks, seed=42)
    for sub in cb:
        sub[-1] = list(sub[1])
    return cb


# ---------------------------------------------------------------------------
# per-kernel pins
# ---------------------------------------------------------------------------


def test_assign_cells_bit_identical(spark, sf_dir, emb_with_edges, vecs):
    emb = load_table(spark, sf_dir, "embeddings")
    centroids, _ = similarity.ivf_assign(emb, "vec_id", "embedding", 16, 42)
    cent = sorted(centroids.collect(), key=lambda r: r["centroid_id"])
    ids = [r["centroid_id"] for r in cent]
    umat = [
        similarity._unit([float(x) for x in r["centroid_vec"]]) for r in cent
    ]
    # duplicate cell: every row nearest to cell 2 ties with it
    ids.append(max(ids) + 1)
    umat.append(list(umat[2]))
    got = {
        r["vec_id"]: r["centroid_id"]
        for r in similarity._assign_cells(
            emb_with_edges, "embedding", ids, umat
        ).collect()
    }
    want = {i: _ref_cell(v, ids, umat) for i, v in vecs.items()}
    assert got == want
    assert got[90002] is None and got[90001] == ids[0]  # NULL; all-zero tie
    assert ids[-1] not in got.values()  # the duplicate cell never wins


def test_pq_codes_bit_identical(spark, sf_dir, emb_with_edges, vecs):
    emb = load_table(spark, sf_dir, "embeddings")
    cb = _codebook_with_tie(emb, ks=32)
    for normalize in (True, False):
        got = {
            r["vec_id"]: r["__codes"]
            for r in quantize.pq_encode(
                emb_with_edges.select("vec_id", F.col("embedding").alias("__cv")),
                "__cv",
                cb,
                normalize=normalize,
            ).collect()
        }
        want = {i: _ref_pq_codes(v, cb, normalize) for i, v in vecs.items()}
        assert got == want
        assert all(31 not in c for c in got.values())  # ties go to slot 1


def _pairs(emb_with_edges):
    # cross of 60 x 20 rows including the zero/NULL/dup edges
    edges = emb_with_edges.filter(F.col("vec_id") > 90000)
    side = emb_with_edges.orderBy("vec_id").limit(56).unionByName(edges)
    return side.select(
        F.col("vec_id").alias("ia"), F.col("embedding").alias("va")
    ).crossJoin(
        side.orderBy(F.col("vec_id").desc())
        .limit(20)
        .select(F.col("vec_id").alias("ib"), F.col("embedding").alias("vb"))
    )


def test_cosine_pairs_bit_identical(spark, emb_with_edges):
    # Catalyst cross-check: the fold helpers stay in production for
    # pipeline_suite, so the kernel must match them as well
    a, b = F.col("va"), F.col("vb")
    denom = similarity.norm_expr(a) * similarity.norm_expr(b)
    fold = F.when(denom == 0.0, F.lit(0.0)).otherwise(
        similarity.dot_expr(a, b) / denom
    )
    rows = (
        _pairs(emb_with_edges)
        .select(
            "ia", "ib", "va", "vb",
            similarity.cosine_expr(a, b).alias("c"),
            fold.alias("f"),
        )
        .collect()
    )
    assert len(rows) == 60 * 20
    for r in rows:
        want = _bits(_ref_cosine(r["va"], r["vb"]))
        assert _bits(r["c"]) == want, (r["ia"], r["ib"])
        assert _bits(r["f"]) == want, (r["ia"], r["ib"])
    assert {r["c"] for r in rows if 90001 in (r["ia"], r["ib"])} <= {0.0, None}


def test_cosine_mismatched_lengths_match_fold(spark):
    # zip_with null-padding semantics: dot is NULL when lengths differ,
    # so result is NULL unless the norm product is 0 (then 0.0)
    cases = [
        (1, [1.0, 2.0], [1.0, 2.0, 3.0]),
        (2, [0.0, 0.0], [0.0, 0.0, 0.0]),
        (3, [1.0], [1.0]),
        (4, [3.0, 4.0, 1e-3], [0.5, -2.0]),
        (5, [], [1.0]),
    ]
    df = spark.createDataFrame(cases, "i long, a array<double>, b array<double>")
    got = {
        r["i"]: r["c"]
        for r in df.select(
            "i", similarity.cosine_expr(F.col("a"), F.col("b")).alias("c")
        ).collect()
    }
    want = {i: _ref_cosine(a, b) for i, a, b in cases}
    assert _bits(got) == _bits(want)
    assert want == {1: None, 2: 0.0, 3: 1.0, 4: None, 5: 0.0}


def test_kmeans_assign_and_profile_bit_identical(
    spark, sf_dir, emb_with_edges, vecs
):
    emb = load_table(spark, sf_dir, "embeddings")
    cents = [
        [float(x) for x in r["embedding"]]
        for r in emb.orderBy("vec_id").limit(8).collect()
    ]
    cents.append(list(cents[3]))  # duplicate centroid: rows near 3 tie
    am = vecmath.argmin_dists_udf(spark, cents)
    got = {
        r["vec_id"]: (r["am"]["cluster"], r["am"]["d2"])
        for r in emb_with_edges.select(
            "vec_id", am(F.col("embedding")).alias("am")
        ).collect()
    }
    want = {i: _ref_argmin_d2(v, cents) for i, v in vecs.items()}
    assert _bits(got) == _bits(want)
    assert 8 not in {c for c, _ in got.values()}
    clusters = {
        r["vec_id"]: r["cluster"]
        for r in clustering.assign_clusters(
            emb_with_edges, "embedding", cents
        ).collect()
    }
    assert clusters == {i: c for i, (c, _) in want.items()}

    # profile over the fitted centroids: sizes exact; the mean is
    # Spark's avg (its own summation order) rounded to 6 decimals
    fit, _ = clustering.kmeans_fit(emb, "vec_id", "embedding", k=8, max_iter=4)
    prof = clustering.kmeans_cluster_profile(
        emb, "vec_id", "embedding", k=8, max_iter=4
    ).collect()
    members: dict[int, list[float]] = {}
    for r in emb.select("embedding").collect():
        c, d2 = _ref_argmin_d2(r["embedding"], fit)
        members.setdefault(c, []).append(d2)
    assert [r["cluster"] for r in prof] == sorted(members)
    for r in prof:
        d2s = members[r["cluster"]]
        assert r["n_members"] == len(d2s)
        assert r["mean_sq_dist"] == pytest.approx(sum(d2s) / len(d2s), abs=1e-6)


def test_pq_lut_bit_identical(spark, sf_dir, emb_with_edges, vecs):
    emb = load_table(spark, sf_dir, "embeddings")
    cb = _codebook_with_tie(emb, ks=16)
    got = {
        r["vec_id"]: r["__lut"]
        for r in quantize.pq_lut(
            emb_with_edges.select("vec_id", "embedding"), "embedding", cb
        ).collect()
    }
    want = {i: _ref_lut(v, cb) for i, v in vecs.items()}
    assert _bits(got) == _bits(want)


def test_adc_score_bit_identical(spark, sf_dir, emb_with_edges):
    emb = load_table(spark, sf_dir, "embeddings")
    cb = _codebook_with_tie(emb, ks=16)
    coded = quantize.pq_encode(
        emb_with_edges.select("vec_id", "embedding"), "embedding", cb
    )
    lut = quantize.pq_lut(
        emb_with_edges.filter(
            (F.col("vec_id") < 3) | F.col("vec_id").isin(90001, 90002)
        ).select(F.col("vec_id").alias("qid"), "embedding"),
        "embedding",
        cb,
    ).select("qid", "__lut")
    rows = (
        coded.crossJoin(F.broadcast(lut))
        .select(
            "vec_id", "qid", "__lut", "__codes",
            quantize.pq_adc_score(F.col("__lut"), F.col("__codes")).alias("s"),
        )
        .collect()
    )
    for r in rows:
        want = _ref_adc(r["__lut"], r["__codes"])
        assert _bits(r["s"]) == _bits(want), (r["vec_id"], r["qid"])
    assert all(r["s"] is None for r in rows if 90002 in (r["vec_id"], r["qid"]))


def test_lit_matrix_bit_identical_to_elementwise(spark):
    """_lit_matrix builds the C x dim literal matrix with ONE SQL parse
    (round-14 driver-time fix: the F.array(F.lit...) form costs C*dim+C
    py4j round trips, ~1 s per 16x64 probe). The repr->CAST('..' AS
    DOUBLE) round trip must reproduce the exact binary64 of every
    element, including negative zero, denormals, and max-magnitude
    doubles — compare raw bit patterns, not ==. ±inf and NaN render as
    'inf'/'-inf'/'nan', which the cast must read back as the special
    values F.lit produces, not NULL."""
    vals = [
        -0.0, 0.0, 5e-324, 1.7976931348623157e308, 0.1, 1 / 3,
        -2.2250738585072014e-308, 123456789.123456789, -1e-15,
        0.30000000000000004, 2.0 ** -1074 * 3, 9007199254740993.0,
        -1.0, 2.5, 1e16 + 2, 7.2,
    ]
    inf, nan = float("inf"), float("nan")
    mats = [
        [vals[i : i + 4] for i in range(0, len(vals), 4)],
        [[inf, 1.0, -0.0, 2.5], [0.1, -inf, nan, 5e-324]],
        [[nan]],
    ]
    for mat in mats:
        elementwise = F.array(
            *[F.array(*[F.lit(float(x)) for x in row]) for row in mat]
        )
        row = spark.range(1).select(
            elementwise.alias("a"), similarity._lit_matrix(mat).alias("b")
        ).first()
        assert _bits(row["a"]) == _bits(row["b"]) == _bits(mat)


def test_lit_ids_and_neg_idx_match_elementwise(spark):
    """_lit_ids/_neg_idx_arr (one SQL parse per array) must reproduce
    the element-wise F.lit forms exactly — values AND column types,
    since element_at's result type feeds the declared schemas."""
    cases = [
        [1, 2, 3],                                   # int
        [2**40, -5, 0],                              # long
        ["7", "c-1", "a b"],                         # safe strings
    ]
    for ids in cases:
        a, b = (
            spark.range(1)
            .select(
                F.array(*[F.lit(i) for i in ids]).alias("a"),
                similarity._lit_ids(ids).alias("b"),
            )
            .first()
        )
        assert a == b
        df = spark.range(1).select(
            F.array(*[F.lit(i) for i in ids]).alias("a"),
            similarity._lit_ids(ids).alias("b"),
        )
        assert df.schema["a"].dataType == df.schema["b"].dataType
    # string rendering of native ids (the _residual_expr site)
    sa, sb = (
        spark.range(1)
        .select(
            F.array(*[F.lit(str(i)) for i in [10, 11]]).alias("a"),
            similarity._lit_ids([10, 11], as_string=True).alias("b"),
        )
        .first()
    )
    assert sa == sb
    # quotes, backslashes and unicode render through sqltext.quote
    odd = ["it's", 'a"b', "back\\slash", "\\u0041", "x\\'y", "é😀", "--", "/*"]
    df = spark.range(1).select(
        F.array(*[F.lit(s) for s in odd]).alias("a"),
        similarity._lit_ids(odd).alias("b"),
    )
    oa, ob = df.first()
    assert oa == ob == odd
    assert df.schema["a"].dataType == df.schema["b"].dataType
    # negated index sequence: values and long type
    df = spark.range(1).select(
        F.array(*[F.lit(-i).cast("long") for i in range(5)]).alias("a"),
        similarity._neg_idx_arr(5).alias("b"),
    )
    r = df.first()
    assert r["a"] == r["b"]
    assert df.schema["a"].dataType == df.schema["b"].dataType
