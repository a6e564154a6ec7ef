"""Arrow-vectorized kernels for corpus-side vector math (round-13
optimization; guide §4.2/§4.5 — batch the Python boundary, ship the
model once per executor, keep only the needed columns crossing).

Catalyst's higher-order functions (transform / aggregate / zip_with)
are INTERPRETED — every element-lambda evaluation walks an expression
tree (~1-10 us). The engine's matrix-vs-corpus operators (IVF cell
assignment, PQ encoding, pair cosine, k-means distances) evaluate
C*dim / m*ks*d0 / dim lambdas PER ROW, so corpus scans pay seconds per
2k rows where compiled math pays milliseconds. These kernels move that
math behind one `ArrowEvalPython` stage per scan (never the
row-pickling `BatchEvalPython`).

BIT-EXACTNESS CONTRACT (the driver re-hashes every query against the
DuckDB oracle, so results must be IDENTICAL): every kernel replays the
exact IEEE-754 binary64 operation sequence of the Catalyst fold it
replaces, by looping over DIMENSIONS (metadata-sized) and vectorizing
over ROWS — each numpy elementwise step performs, per row, the same
correctly-rounded float64 operation the interpreted fold performed at
that position:

- fold ``acc <- acc + f(x_j)`` becomes ``acc = acc + f(X[:, j])`` in
  dimension order — per row the same adds in the same order;
- float32 inputs widen to float64 exactly (every float32 is
  representable), matching the fold's ``x.cast("double")``;
- numpy elementwise ops are strict per-op IEEE binary64 (no FMA
  contraction), the same semantics as JVM doubles;
- ``np.argmin``/``np.argmax`` return the FIRST extremum, matching
  ``array_position(arr, array_min/max(arr))``'s first-match;
- NULL inputs produce NULL outputs exactly where the fold would.

These kernels are each operator's only production path. The fold
they replay lives test-side: tests/test_vecmath.py pins every kernel
bit-exact against a pure-Python scalar replay of the fold's IEEE
sequence, on fixture rows plus edge cases (zero vectors, ties,
NULLs). The matrices ship once per executor as Spark broadcasts;
only the vector columns cross the Arrow boundary.
"""

from __future__ import annotations

from typing import Iterator, Tuple  # noqa: UP035 — pyspark resolves pandas_udf hints

import numpy as np
import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F


def _stack_f64(s: pd.Series) -> tuple[np.ndarray | None, np.ndarray]:
    """(X, ok): X is n x dim float64 (zeros where ~ok), ok marks
    non-null rows. float32 -> float64 widening is exact."""
    vals = s.values
    n = len(vals)
    ok = np.empty(n, dtype=bool)
    rows = []
    dim = 0
    for i in range(n):
        v = vals[i]
        if v is None:
            ok[i] = False
            rows.append(None)
        else:
            ok[i] = True
            rows.append(np.asarray(v, dtype=np.float64))
            dim = max(dim, rows[-1].shape[0])
    if not ok.any():
        return None, ok
    X = np.zeros((n, dim), dtype=np.float64)
    for i in range(n):
        if ok[i]:
            X[i, : rows[i].shape[0]] = rows[i]
    return X, ok


def _dots_matrix(X: np.ndarray, mat: np.ndarray) -> np.ndarray:
    """n x C sims where sims[:, c] replays the fold
    ``acc <- acc + x_j * mat[c, j]`` in dimension order."""
    n, dim = X.shape
    C = mat.shape[0]
    sims = np.empty((n, C), dtype=np.float64)
    for c in range(C):
        acc = np.zeros(n, dtype=np.float64)
        row = mat[c]
        for j in range(dim):
            acc = acc + X[:, j] * row[j]
        sims[:, c] = acc
    return sims


def _sqdists_matrix(X: np.ndarray, mat: np.ndarray) -> np.ndarray:
    """n x C squared L2 where each column replays
    ``acc <- acc + (x_j - c_j) * (x_j - c_j)`` in dimension order."""
    n, dim = X.shape
    C = mat.shape[0]
    d = np.empty((n, C), dtype=np.float64)
    for c in range(C):
        acc = np.zeros(n, dtype=np.float64)
        row = mat[c]
        for j in range(dim):
            t = X[:, j] - row[j]
            acc = acc + t * t
        d[:, c] = acc
    return d


def _unit_rows(X: np.ndarray) -> np.ndarray:
    """Replays quantize._unit_expr: norm = sqrt(fold(x_j * x_j));
    u_j = 0.0 when norm == 0 else x_j / norm."""
    n, dim = X.shape
    acc = np.zeros(n, dtype=np.float64)
    for j in range(dim):
        acc = acc + X[:, j] * X[:, j]
    nrm = np.sqrt(acc)
    nz = nrm != 0.0
    safe = np.where(nz, nrm, 1.0)
    U = np.empty_like(X)
    for j in range(dim):
        U[:, j] = np.where(nz, X[:, j] / safe, 0.0)
    return U


def argmax_sims_udf(spark, unit_mat: list[list[float]]):
    """vec -> 1-based index (int) of the first-maximum dot against the
    id-ordered unit-centroid matrix — the Arrow form of
    ``array_position(sims, array_max(sims))`` over
    ``similarity._sims_col``. The matrix ships once per executor as a
    Spark broadcast; NULL vec -> NULL index."""
    bc = spark.sparkContext.broadcast(
        np.asarray(unit_mat, dtype=np.float64)
    )

    @F.pandas_udf("int")
    def _assign(batches: Iterator[pd.Series]) -> Iterator[pd.Series]:
        mat = bc.value  # once per task; broadcast caches per worker
        for vecs in batches:
            X, ok = _stack_f64(vecs)
            out = np.full(len(vecs), np.nan)
            if X is not None:
                sims = _dots_matrix(X, mat)
                out[ok] = np.argmax(sims[ok], axis=1) + 1
            yield pd.Series(out).astype("Int32")

    return _assign


def pq_codes_udf(spark, codebook: list[list[list[float]]], normalize: bool):
    """vec -> array<int> of m PQ codes (quantize.pq_encode):
    unit-normalize (optional), slice into m subvectors, first-minimum
    squared-L2 codeword per subspace. Codebook ships once per executor
    as a Spark broadcast; NULL vec -> array of m NULLs (what F.array
    over null positions yields in the fold form)."""
    cb = [np.asarray(sub, dtype=np.float64) for sub in codebook]
    m = len(cb)
    d0 = cb[0].shape[1]
    bc = spark.sparkContext.broadcast(cb)

    @F.pandas_udf("array<int>")
    def _enc(batches: Iterator[pd.Series]) -> Iterator[pd.Series]:
        cbv = bc.value
        for vecs in batches:
            X, ok = _stack_f64(vecs)
            n = len(vecs)
            out: list = [None] * n
            if X is not None:
                U = _unit_rows(X) if normalize else X
                codes = np.empty((n, m), dtype=np.int32)
                for s in range(m):
                    ds = _sqdists_matrix(U[:, s * d0 : (s + 1) * d0], cbv[s])
                    codes[:, s] = np.argmin(ds, axis=1)
                for i in range(n):
                    if ok[i]:
                        out[i] = codes[i].tolist()
                    else:
                        out[i] = [None] * m
            else:
                out = [[None] * m] * n
            yield pd.Series(out)

    return _enc


def pq_lut_udf(spark, codebook: list[list[list[float]]]):
    """vec -> array<array<double>> (m x ks) ADC lookup table
    (quantize.pq_lut): unit-normalize, slice into m
    subvectors, LUT[s][j] = dot-fold(subvector, codebook[s][j]) in
    dimension order. A Catalyst fold would embed the codebook as
    m*ks*d0 literal nodes whose ANALYSIS alone cost ~2 s per plan; here it
    ships once per executor as a Spark broadcast and the plan carries
    one expression. NULL vec -> m arrays of ks NULLs (what the fold's
    zip_with-null propagation yields)."""
    cb = [np.asarray(sub, dtype=np.float64) for sub in codebook]
    m = len(cb)
    ks = cb[0].shape[0]
    d0 = cb[0].shape[1]
    bc = spark.sparkContext.broadcast(cb)

    @F.pandas_udf("array<array<double>>")
    def _lut(batches: Iterator[pd.Series]) -> Iterator[pd.Series]:
        cbv = bc.value
        null_row = [[None] * ks for _ in range(m)]
        for vecs in batches:
            X, ok = _stack_f64(vecs)
            n = len(vecs)
            out: list = [null_row] * n
            if X is not None:
                U = _unit_rows(X)
                luts = np.empty((n, m, ks), dtype=np.float64)
                for s in range(m):
                    luts[:, s, :] = _dots_matrix(
                        U[:, s * d0 : (s + 1) * d0], cbv[s]
                    )
                out = [
                    luts[i].tolist() if ok[i] else null_row for i in range(n)
                ]
            yield pd.Series(out)

    return _lut


#: lazily-built singleton (same device as _COSINE_UDF below)
_ADC_UDF = None


def adc_score_udf(lut: Column, codes: Column) -> Column:
    """(lut m x ks, codes m ints) -> double (quantize.pq_adc_score):
    the fold ``acc <- acc + lut[s][codes[s]]`` in
    subspace order. The fold is interpreted per SCORED row (the probed
    cells' candidates — corpus-scale at 100 TB), m element_at walks
    each; here one numpy gather per batch. NULL lut/codes (or a NULL
    code element) -> NULL, matching element_at-over-null's propagation
    through the fold."""
    global _ADC_UDF
    if _ADC_UDF is None:
        _ADC_UDF = F.pandas_udf(_adc_batches, "double")
    return _ADC_UDF(lut, codes)


def _adc_batches(
    batches: Iterator[Tuple[pd.Series, pd.Series]],
) -> Iterator[pd.Series]:
    for lut, codes in batches:
        n = len(lut)
        lv, cv = lut.values, codes.values
        ok = np.empty(n, dtype=bool)
        crows: list = [None] * n
        for i in range(n):
            li, ci = lv[i], cv[i]
            if li is None or ci is None:
                ok[i] = False
                continue
            # a NULL code element arrives as None (object array) or NaN
            # (float array) depending on Arrow's conversion — both mean
            # the fold would yield NULL
            ca = np.asarray(ci, dtype=np.float64)
            crows[i] = ca
            ok[i] = not np.isnan(ca).any()
        out = np.full(n, np.nan)
        if ok.any():
            idx = np.flatnonzero(ok)
            # Arrow yields each lut row as an object array of per-sub
            # arrays — concatenate per row (C-speed), then one reshape
            flat = [
                np.concatenate([np.asarray(s, dtype=np.float64) for s in lv[i]])
                for i in idx
            ]
            C = np.asarray([crows[i] for i in idx]).astype(np.int64)
            m = C.shape[1]
            L = np.asarray(flat, dtype=np.float64).reshape(len(idx), m, -1)
            acc = np.zeros(len(idx), dtype=np.float64)
            rows = np.arange(len(idx))
            for s in range(m):
                acc = acc + L[rows, s, C[:, s]]
            out[idx] = acc
        yield pd.Series(out, dtype="float64")


#: lazily-built singleton — pandas_udf parses its return type against
#: the ACTIVE session, so the decorator cannot run at import time
_COSINE_UDF = None


def cosine_pairs_udf(a: Column, b: Column) -> Column:
    """(vec_a, vec_b) -> cosine — the Arrow form of
    similarity.cosine_expr: dot / (sqrt(dot(a,a)) * sqrt(dot(b,b))),
    0.0 when the denominator is 0, NULL when either vector is NULL
    (the fold's zip_with-null propagation).

    Zero-padded stacking is EXACT for these sums: a padded slot
    contributes ``acc + 0.0`` which is the identity for the
    non-negative square sums and for the dot — so ragged rows of EQUAL
    pair length still reproduce the fold bit-for-bit. Rows whose two
    lengths DIFFER replay zip_with's null padding: dot is NULL, so the
    result is 0.0 if the norm product is 0 and NULL otherwise."""
    global _COSINE_UDF
    if _COSINE_UDF is None:
        _COSINE_UDF = F.pandas_udf(_cosine_batches, "double")
    return _COSINE_UDF(a, b)


def _cosine_batches(
    batches: Iterator[Tuple[pd.Series, pd.Series]],
) -> Iterator[pd.Series]:
    for a, b in batches:
        A, ok_a = _stack_f64(a)
        B, ok_b = _stack_f64(b)
        n = len(a)
        la = np.array(
            [len(v) if v is not None else -1 for v in a.values], dtype=np.int64
        )
        lb = np.array(
            [len(v) if v is not None else -1 for v in b.values], dtype=np.int64
        )
        out = np.full(n, np.nan)
        ok = ok_a & ok_b
        if A is not None and B is not None and ok.any():
            dim = min(A.shape[1], B.shape[1])
            dot = np.zeros(n, dtype=np.float64)
            na = np.zeros(n, dtype=np.float64)
            nb = np.zeros(n, dtype=np.float64)
            # norms over each side's full padded width (exact, see above)
            for j in range(A.shape[1]):
                na = na + A[:, j] * A[:, j]
            for j in range(B.shape[1]):
                nb = nb + B[:, j] * B[:, j]
            for j in range(dim):
                dot = dot + A[:, j] * B[:, j]
            denom = np.sqrt(na) * np.sqrt(nb)
            z = denom == 0.0
            safe = np.where(z, 1.0, denom)
            cos = np.where(z, 0.0, dot / safe)
            mismatch = ok & (la != lb)
            cos = np.where(mismatch & ~z, np.nan, cos)
            out[ok] = cos[ok]
        yield pd.Series(out, dtype="float64")


def argmin_dists_udf(spark, centroids: list[list[float]]):
    """vec -> struct(cluster long, d2 double): first-minimum squared-L2
    centroid index (0-based, matching ``array_position - 1``) and the
    minimum itself — the Arrow form of a squared-L2 fold per centroid +
    array_min/array_position. NULL vec -> NULL struct fields."""
    bc = spark.sparkContext.broadcast(
        np.asarray(centroids, dtype=np.float64)
    )

    @F.pandas_udf("cluster long, d2 double")
    def _am(batches: Iterator[pd.Series]) -> Iterator[pd.DataFrame]:
        mat = bc.value
        for vecs in batches:
            X, ok = _stack_f64(vecs)
            n = len(vecs)
            cl = np.full(n, np.nan)
            d2 = np.full(n, np.nan)
            if X is not None:
                d = _sqdists_matrix(X, mat)
                cl[ok] = np.argmin(d[ok], axis=1)
                d2[ok] = np.min(d[ok], axis=1)
            yield pd.DataFrame(
                {"cluster": pd.Series(cl).astype("Int64"), "d2": d2}
            )

    return _am
