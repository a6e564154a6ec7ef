"""Deduplication operators for large-scale training-data pipelines.

No counterpart in the reference (extension per BASELINE.json): exact
dedup, MinHash+LSH near-dup, SimHash near-dup, n-gram Jaccard
verification, embedding-cosine near-dup.

Scale design (the whole point of these):
- Exact dedup = hash-groupBy — one shuffle on a 64-bit content hash,
  never on the full text.
- MinHash+LSH: signatures are computed per row in one projection of
  built-in Catalyst expressions (split → shingle via
  transform/sequence/slice → xxhash64 → min-fold), no Python. The
  array lambdas are higher-order functions, which Spark INTERPRETS
  (CodegenFallback): no subexpression elimination reaches inside them,
  so an expression a lambda refers to is re-evaluated per element.
  Hence the tokens are bound once per row as a lambda variable
  (``textanalysis.bind``), the shingle array and the signature
  are projected to named columns before their consumers, and the
  signature and band expressions are each one SQL parse (a handful of
  py4j round trips instead of thousands). Banding turns the O(n²)
  pair space into per-bucket joins: the band rows are shuffled ONCE on
  (band, band_hash), and the bucket histogram and both self-join sides
  read that one exchange. At 100 TB the histogram is the thing to
  watch: a degenerate bucket (all-identical boilerplate docs) creates
  a quadratic bucket — cap bucket size and route overflow to a
  quarantine output rather than joining it.
- Candidate verification computes exact shingle-set Jaccard only on
  LSH candidates (tiny fraction of pairs): each pair explodes into its
  two sides, joins the documents once, and regroups per pair. Nothing
  is persisted, so no cached block outlives the query.
- "Dedup" keeps the smallest doc_id of each duplicate group: a row
  drops iff it has a verified duplicate with a smaller id — one
  anti-join, no iterative connected components (documented
  approximation: transitive chains collapse to their minimum only if
  each link sees a smaller partner; standard for near-dup pipelines).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from dbt_maxcompute_spark.operators.textanalysis import bind, tokens


def spread(df: DataFrame, min_parallelism: int | None = None) -> DataFrame:
    """Ensure enough partitions for CPU-heavy per-row expressions.

    A small local fixture arrives as ONE file split and would pin all
    signature/verification work to one core; at 100 TB the input
    already has thousands of splits and this is a no-op. The exchange
    also acts as a materialization barrier: expressions computed below
    it are evaluated once, not re-inlined per consumer.
    """
    target = min_parallelism or df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < target:
        return df.repartition(target)
    return df


# ---------------------------------------------------------------------------
# exact dedup
# ---------------------------------------------------------------------------


def exact_dedup(df: DataFrame, cols: list[str], id_col: str) -> DataFrame:
    """Keep the min-id row per distinct value of `cols`. Hash-groupBy:
    the shuffle key is xxhash64(cols), not the payload."""
    h = F.xxhash64(*[F.col(c) for c in cols])
    win_min = df.withColumn("__h", h).groupBy("__h").agg(F.min(id_col).alias(id_col))
    return df.join(win_min, id_col, "left_semi")


# ---------------------------------------------------------------------------
# shingles and MinHash signatures (shared, pure Catalyst expressions)
# ---------------------------------------------------------------------------


def shingles(text: Column, n: int = 3) -> Column:
    """Word n-grams of ``tokens(text)``; a doc shorter than n tokens
    contributes its full token join as a single shingle. The tokens are
    bound once per row (``textanalysis.bind``): referring to the token
    expression inside the per-position lambda would re-split the text
    once per shingle."""

    def grams(toks: Column) -> Column:
        ngrams = F.transform(
            F.sequence(F.lit(1), F.greatest(F.size(toks) - (n - 1), F.lit(1))),
            lambda i: F.concat_ws(" ", F.slice(toks, i, n)),
        )
        return F.when(F.size(toks) < n, F.array(F.concat_ws(" ", toks))).otherwise(ngrams)

    return bind(tokens(text), grams)


_MAX_LONG = (1 << 63) - 1


def _mix_sql(k: int) -> str:
    # the k-th hash of the family: h1 XOR rot_k(h2) (k = 0 is h1 alone)
    if k == 0:
        return "p.h1"
    return f"(p.h1 ^ (shiftleft(p.h2, {k}) | shiftrightunsigned(p.h2, {64 - k})))"


def minhash_signature(shingle_col: str, num_hashes: int = 32) -> Column:
    """num_hashes independent min-hashes of the shingle array in column
    ``shingle_col``: array<bigint>, built by ONE SQL parse.

    Two-base-hash family: the k-th hash is h1 XOR rot_k(h2), with h1 =
    xxhash64(s) and h2 = xxhash64(s, 1) — 2 hash calls per shingle
    instead of num_hashes, and pure bit ops (ANSI mode forbids wrapping
    arithmetic). The pair is materialized per shingle as a struct, so
    the k combinations read lambda-variable fields, not recomputed
    hashes; one fold with a num_hashes-wide min accumulator then reads
    the shingle array ONCE (a per-k array_min over the shingles would
    walk it num_hashes times). Built element-wise through the Column
    API the same expression costs ~2,000 py4j round trips."""
    mixes = ", ".join(_mix_sql(k) for k in range(num_hashes))
    return F.expr(
        f"aggregate(transform(`{shingle_col}`,"
        " s -> named_struct('h1', xxhash64(s), 'h2', xxhash64(s, 1))),"
        f" array_repeat({_MAX_LONG}L, {int(num_hashes)}),"
        f" (acc, p) -> zip_with(acc, array({mixes}), (a, b) -> least(a, b)))"
    )


def _band_rows(sig_col: str, num_hashes: int, bands: int) -> Column:
    """Generator of one (band int, bh int) row per band of the signature
    in column ``sig_col``: bh is the Murmur3 ``hash`` of the band's
    slice of r = num_hashes/bands min-hashes. ONE SQL parse."""
    r = num_hashes // bands
    structs = ", ".join(
        f"named_struct('band', {b}, 'bh', hash(slice(`{sig_col}`, {b * r + 1}, {r})))"
        for b in range(bands)
    )
    return F.expr(f"inline(array({structs}))")


# ---------------------------------------------------------------------------
# MinHash + LSH near-dup
# ---------------------------------------------------------------------------


def banded_signatures(
    df: DataFrame,
    id_col: str,
    text_col: str,
    num_hashes: int,
    bands: int,
    shingle_n: int,
) -> DataFrame:
    """(__id, band, bh) LSH band rows for every document — the compact
    form that enters bucket joins (ids and two ints; shingle arrays
    never leave the signature projection). In a production crawl loop
    this is the table you PERSIST between batches: the store side of
    incremental near-dup dedup is a read, not a recompute.

    The shingles and the signature are projected to named columns
    first, so the signature fold and the per-band slices refer to
    attributes instead of re-inlining the expression below them."""
    return (
        df.select(
            F.col(id_col).alias("__id"),
            shingles(F.col(text_col), shingle_n).alias("__sh"),
        )
        .select("__id", minhash_signature("__sh", num_hashes).alias("__sig"))
        .select("__id", _band_rows("__sig", num_hashes, bands))
    )


def _capped_buckets(banded: DataFrame, max_bucket: int) -> DataFrame:
    """The band rows outside buckets of more than max_bucket rows.

    The band rows are shuffled ONCE on (band, bh), and the signatures
    under that exchange are computed once with nothing persisted. The
    bucket histogram is a hash aggregate over the exchange, and its few
    oversized keys are broadcast into a left-anti join — NOT a window
    count, which would sort every banded row just to tag the rare
    overflow.

    Spark pushes a left-anti join below a repartition. Pushed there, the
    join's side would sit on an exchange of its own, and the signatures
    would be computed twice. Re-emitting the rows through a generator
    after the exchange keeps the join above it: a join on a generator's
    output cannot move below the generator. The histogram counts
    ``__id`` (never NULL in a bucket that can pair) so that column
    pruning leaves both consumers the same subtree, which Spark then
    runs once (exchange reuse)."""
    banded = banded.repartition("band", "bh")
    oversized = F.broadcast(
        banded.groupBy("band", "bh")
        .agg(F.count("__id").alias("__n"))
        .filter(F.col("__n") > max_bucket)
        .select("band", "bh")
    )
    rows = banded.select(F.inline(F.array(F.struct("__id", "band", "bh"))))
    return rows.join(oversized, ["band", "bh"], "left_anti")


def _verified(
    cand: DataFrame,
    sides: list[tuple[int, str]],
    docs: DataFrame,
    shingle_n: int,
    jaccard_threshold: float,
) -> DataFrame:
    """Candidate pairs whose exact shingle-set Jaccard clears the
    threshold, with a ``jaccard`` column. ``sides`` names the pair's
    two id columns with a side tag each; ``docs`` holds (__side, __tid,
    __text) rows. Each pair explodes into its two sides, joins the
    documents once, shingles after the join (only candidate docs are
    shingled) and regroups per pair. The shingle sets are aggregate
    outputs, so the Jaccard filter reads them as attributes: a
    projected set would be re-inlined into the pushed-down filter and
    rebuilt per reference. A NULL text has NULL shingles, which
    ``collect_list`` drops, so its pairs get a NULL Jaccard and no
    match."""
    keys = [c for _, c in sides]
    side = F.explode(
        F.array(*[F.struct(F.lit(t).alias("__side"), F.col(c).alias("__tid")) for t, c in sides])
    )
    sets = (
        cand.select(*keys, side.alias("__s"))
        .select(*keys, "__s.__side", "__s.__tid")
        .join(docs, ["__side", "__tid"])
        .groupBy(*keys)
        .agg(F.collect_list(F.array_distinct(shingles(F.col("__text"), shingle_n))).alias("__sets"))
    )
    a, b = F.get("__sets", 0), F.get("__sets", 1)
    return (
        sets.withColumn("jaccard", F.size(F.array_intersect(a, b)) / F.size(F.array_union(a, b)))
        .filter(F.col("jaccard") >= jaccard_threshold)
        .select(*keys, "jaccard")
    )


def _doc_texts(df: DataFrame, id_col: str, text_col: str, side: int) -> DataFrame:
    return df.select(
        F.lit(side).alias("__side"), F.col(id_col).alias("__tid"), F.col(text_col).alias("__text")
    )


def minhash_lsh_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    num_hashes: int = 32,
    bands: int = 8,
    shingle_n: int = 3,
    jaccard_threshold: float = 0.5,
    max_bucket: int = 1000,
) -> DataFrame:
    """Verified near-duplicate pairs (id_a < id_b, jaccard >= threshold).

    bands of r = num_hashes/bands rows each; a pair collides if any
    band matches. Collision prob = 1-(1-j^r)^b (S-curve around
    (1/b)^(1/r)). Candidates get exact shingle-SET Jaccard
    verification (the same measure the signatures approximate), so
    false positives are 0 by construction; threshold recall is the
    usual LSH trade. shingle_n=1 degrades to token-set Jaccard.
    """
    if num_hashes % bands:
        raise ValueError("num_hashes must divide into bands")
    src = spread(df)

    # Band rows carry ONLY (id, band, bh): the shingle sets (wide
    # arrays) never enter the bucket shuffle. Degenerate buckets —
    # boilerplate-identical docs — would go quadratic at scale; they are
    # quarantined, not joined.
    banded = _capped_buckets(
        banded_signatures(src, id_col, text_col, num_hashes, bands, shingle_n), max_bucket
    )
    a = banded.select("band", "bh", F.col("__id").alias("id_a"))
    b = banded.select("band", "bh", F.col("__id").alias("id_b"))
    cand = (
        a.join(b, ["band", "bh"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .dropDuplicates(["id_a", "id_b"])
    )
    docs = _doc_texts(src, id_col, text_col, 0)
    return _verified(cand, [(0, "id_a"), (0, "id_b")], docs, shingle_n, jaccard_threshold)


def dedup_against_store(
    new_df: DataFrame,
    store_df: DataFrame,
    text_col: str,
) -> DataFrame:
    """Incremental (cross-batch) dedup: drop new documents whose exact
    text hash OR order-insensitive token-bag fingerprint already exists
    in the corpus store — the production shape for growing a corpus
    batch by batch without re-deduplicating history.

    Scale posture: both anti-joins key on a 32-hex digest, never the
    payload (the store side reduces to DISTINCT digests before the
    join — at 100 TB the store's fingerprint table is what you persist
    between crawls, not the text). Digest keys are uniform by
    construction, so the shuffle has no skew; when the store's digest
    table fits, Spark's AQE broadcasts it and the batch never shuffles
    at all.
    """
    from dbt_maxcompute_spark.operators.textanalysis import fingerprint

    exact = F.md5(F.col(text_col))
    bag = fingerprint(F.col(text_col))
    # NULL-text store rows yield NULL digests; drop them so the anti-join
    # keeps the documented "digest already seen" semantics (a NULL store
    # key must not match anything, unlike SQL NOT IN which would nuke the
    # whole batch).
    store_keys = store_df.filter(F.col(text_col).isNotNull()).select(
        exact.alias("__h"), bag.alias("__fp")
    )
    batch = new_df.withColumn("__h", exact).withColumn("__fp", bag)
    out = batch.join(
        store_keys.select("__h").distinct(), "__h", "left_anti"
    ).join(store_keys.select("__fp").distinct(), "__fp", "left_anti")
    return out.drop("__h", "__fp")


def lsh_dedup_against_store(
    new_df: DataFrame,
    store_df: DataFrame,
    id_col: str,
    text_col: str,
    num_hashes: int = 32,
    bands: int = 8,
    shingle_n: int = 3,
    jaccard_threshold: float = 0.5,
    max_bucket: int = 1000,
) -> DataFrame:
    """Incremental NEAR-dup dedup: drop new documents whose verified
    shingle-Jaccard against ANY store document clears the threshold —
    the LSH extension of :func:`dedup_against_store` (which only
    catches exact/bag-identical text).

    Shape mirrors :func:`minhash_lsh_pairs`, but the bucket join is
    batch x store instead of a self-join: band rows carry (id, band,
    bh) only, oversized store buckets are quarantined via hash-agg +
    broadcast anti-join, and exact-Jaccard verification shingles only
    candidate docs. Zero false drops by construction (a band-hash
    collision is discarded by verification); recall at the threshold is
    the standard LSH S-curve — identical texts are caught
    structurally, every band matching.

    100 TB loop: persist ``banded_signatures(store)`` between crawls —
    history is never re-shingled; each batch computes its own bands,
    joins the stored table, and appends its survivors' band rows.
    """
    new_src, store_src = spread(new_df), spread(store_df)
    nb = banded_signatures(new_src, id_col, text_col, num_hashes, bands, shingle_n)
    # a batch row in an oversized store bucket meets no capped store row
    sb = _capped_buckets(
        banded_signatures(store_src, id_col, text_col, num_hashes, bands, shingle_n), max_bucket
    )
    cand = (
        nb.select("band", "bh", F.col("__id").alias("new_id"))
        .join(sb.select("band", "bh", F.col("__id").alias("store_id")), ["band", "bh"])
        .select("new_id", "store_id")
        .dropDuplicates(["new_id", "store_id"])
    )
    # side 0 = batch, 1 = store: a batch id may also be a store id
    docs = _doc_texts(new_src, id_col, text_col, 0).unionByName(
        _doc_texts(store_src, id_col, text_col, 1)
    )
    dup_new = (
        _verified(cand, [(0, "new_id"), (1, "store_id")], docs, shingle_n, jaccard_threshold)
        .select(F.col("new_id").alias(id_col))
        .distinct()
    )
    return new_df.join(dup_new, id_col, "left_anti")


def minhash_lsh_dedup(
    df: DataFrame, id_col: str, text_col: str, **kwargs
) -> DataFrame:
    """Drop every row having a verified duplicate with a smaller id."""
    pairs = minhash_lsh_pairs(df, id_col, text_col, **kwargs)
    losers = pairs.select(F.col("id_b").alias(id_col)).distinct()
    return df.join(losers, id_col, "left_anti")


# ---------------------------------------------------------------------------
# n-gram Jaccard (exact, for candidate sets or small inputs)
# ---------------------------------------------------------------------------


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    shingle_n: int = 3,
    threshold: float = 0.5,
) -> DataFrame:
    """Exact all-pairs shingle-set Jaccard — the brute-force oracle for
    LSH recall tests. O(n²): ONLY for verification/sampled audits; the
    scale path is minhash_lsh_pairs."""
    sh = F.array_distinct(shingles(F.col(text_col), shingle_n))
    base = df.select(F.col(id_col).alias("__id"), sh.alias("__sh"))
    a = base.select(F.col("__id").alias("id_a"), F.col("__sh").alias("sh_a"))
    b = base.select(F.col("__id").alias("id_b"), F.col("__sh").alias("sh_b"))
    pairs = a.crossJoin(b).filter(F.col("id_a") < F.col("id_b"))
    jac = F.size(F.array_intersect("sh_a", "sh_b")) / F.size(F.array_union("sh_a", "sh_b"))
    return pairs.withColumn("jaccard", jac).filter(F.col("jaccard") >= threshold).select(
        "id_a", "id_b", "jaccard"
    )


# ---------------------------------------------------------------------------
# SimHash near-dup
# ---------------------------------------------------------------------------


def token_hash_expr(t: Column, family: str = "xxhash64") -> Column:
    """64-bit token hash for SimHash, selectable family.

    - ``xxhash64``: cheapest (one codegen'd hash call) — the production
      default.
    - ``md5``: lower 64 bits of md5(token), assembled from two 32-bit
      hex chunks so ``conv`` stays inside signed-long range. Slower,
      but reproducible in any engine with md5 — the DuckDB oracle
      computes the identical value via
      ``('0x' || substr(md5(t), 17, 16))::UBIGINT``, which is what
      makes the SimHash suite query driver-hash-checkable.
    """
    if family == "xxhash64":
        return F.xxhash64(t)
    if family == "md5":
        hx = F.md5(t)
        hi = F.conv(F.substring(hx, 17, 8), 16, 10).cast("long")
        lo = F.conv(F.substring(hx, 25, 8), 16, 10).cast("long")
        return F.shiftleft(hi, 32).bitwiseOR(lo)
    raise ValueError(f"unknown token-hash family: {family!r}")


def simhash_fast(toks: Column, hash_family: str = "xxhash64") -> Column:
    """SimHash fingerprint, Arrow fast path: token hashing stays
    JVM-side (xxhash64 inside whole-stage codegen); only the 64-bit
    majority vote crosses to Python, where numpy unpackbits/packbits
    vectorizes it.  Bit-identical to the pure-Catalyst fold replayed in
    ``tests/test_pipeline_suite.py`` (same token hashes, same majority
    rule), which evaluates 64 interpreted zip_with lambdas per token,
    ~10x slower.
    """
    import numpy as np
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    def _majority(hashes):
        out = np.zeros(len(hashes), dtype=np.int64)
        for i, h in enumerate(hashes):
            a = np.asarray(h, dtype=np.int64)
            if a.size == 0:
                continue
            # n x 64 bit matrix via byte view (x86/Arrow are little-endian)
            bits = np.unpackbits(a.view(np.uint8).reshape(-1, 8), axis=1, bitorder="little")
            maj = (2 * bits.sum(axis=0, dtype=np.int64) > a.size).astype(np.uint8)
            out[i] = np.packbits(maj, bitorder="little").view(np.int64)[0]
        return pd.Series(out)

    # real (non-string) annotations: the module-level `from __future__
    # import annotations` would stringify inline hints, which PySpark's
    # pandas_udf signature parser rejects
    _majority.__annotations__ = {"hashes": pd.Series, "return": pd.Series}
    _majority = pandas_udf(_majority, "long")

    return _majority(F.transform(toks, lambda t: token_hash_expr(t, hash_family)))


def simhash_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    max_hamming: int = 3,
    chunks: int = 4,
    hash_family: str = "xxhash64",
) -> DataFrame:
    """Near-dup pairs by SimHash: band the 64-bit fingerprint into
    `chunks` 16-bit blocks (pigeonhole: hamming<=chunks-1 guarantees an
    exact block match), bucket-join on matching blocks, verify true
    hamming distance via bit_count(xor).

    Pigeonhole makes the pair set EXHAUSTIVE for hamming <= chunks-1,
    so with the md5 hash family the output is fully oracle-checkable:
    it equals the all-pairs hamming filter an independent engine
    computes from the same md5-derived token hashes."""
    fp = simhash_fast(tokens(F.col(text_col)), hash_family)
    # The fingerprint table is 16 bytes/doc — persist it so the
    # self-join's two sides consume one computation of the 64-way
    # SimHash fold instead of re-evaluating it per side (exchange
    # reuse does not kick in across the rename-only branches). At
    # 100 TB the fp table is ~0.02% of the corpus: persisting it is
    # the same call a production pipeline would make.
    base = (
        spread(df).select(F.col(id_col).alias("__id"), fp.alias("__fp")).persist()
    )
    width = 64 // chunks
    blocks = base.select(
        "__id",
        "__fp",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(c).alias("blk"),
                        F.shiftright(F.col("__fp"), c * width)
                        .bitwiseAND(F.lit((1 << width) - 1))
                        .alias("bv"),
                    )
                    for c in range(chunks)
                ]
            )
        ).alias("bb"),
    ).select("__id", "__fp", F.col("bb.blk").alias("blk"), F.col("bb.bv").alias("bv"))
    a = blocks.select("blk", "bv", F.col("__id").alias("id_a"), F.col("__fp").alias("fp_a"))
    b = blocks.select("blk", "bv", F.col("__id").alias("id_b"), F.col("__fp").alias("fp_b"))
    cand = (
        a.join(b, ["blk", "bv"])
        .filter(F.col("id_a") < F.col("id_b"))
        .dropDuplicates(["id_a", "id_b"])
    )
    ham = F.bit_count(F.col("fp_a").bitwiseXOR(F.col("fp_b")))
    return cand.withColumn("hamming", ham).filter(F.col("hamming") <= max_hamming).select(
        "id_a", "id_b", "hamming"
    )


# ---------------------------------------------------------------------------
# embedding-cosine near-dup (delegates to similarity.cosine machinery)
# ---------------------------------------------------------------------------


def embedding_cosine_pairs(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    threshold: float = 0.95,
    planes: int = 16,
    seed: int = 42,
    tables: int = 1,
) -> DataFrame:
    """Near-identical vectors via random-hyperplane LSH buckets + exact
    cosine verification. See similarity.py for the signing path.

    OR-amplification: `tables` independent plane sets; a pair is a
    candidate if it collides in ANY table. Per-pair recall at cosine c
    is 1-(1-(1-θ/π)^planes)^tables (θ = arccos c) — fewer planes +
    more tables trades candidate volume for recall. Exact cosine
    verification keeps precision at 1.0 regardless. The candidate
    shuffle carries (table, sig, id) only; vectors re-attach per
    bucket via the persisted signature frame."""
    from dbt_maxcompute_spark.operators.similarity import (
        cosine_expr,
        hyperplane_signature,
    )

    base = spread(df).select(F.col(id_col).alias("__id"), F.col(vec_col).alias("__v"))
    sigs = F.array(
        *[
            F.struct(
                F.lit(t).alias("t"),
                hyperplane_signature(F.col("__v"), planes, seed + t).alias("sig"),
            )
            for t in range(tables)
        ]
    )
    # persisted: both self-join sides reuse one signature computation
    signed = (
        base.withColumn("__s", F.explode(sigs))
        .select(
            "__id", "__v", F.col("__s.t").alias("__t"), F.col("__s.sig").alias("__sig")
        )
        .persist()
    )
    a = signed.select(
        "__t", "__sig", F.col("__id").alias("id_a"), F.col("__v").alias("v_a")
    )
    b = signed.select(
        "__t", "__sig", F.col("__id").alias("id_b"), F.col("__v").alias("v_b")
    )
    cand = (
        a.join(b, ["__t", "__sig"])
        .filter(F.col("id_a") < F.col("id_b"))
        .dropDuplicates(["id_a", "id_b"])
    )
    cos = cosine_expr(F.col("v_a"), F.col("v_b"))
    return cand.withColumn("cosine", cos).filter(F.col("cosine") >= threshold).select(
        "id_a", "id_b", "cosine"
    )


# ---------------------------------------------------------------------------
# semantic dedup (SemDeDup: cluster-bucketed cosine near-dup)
# ---------------------------------------------------------------------------


def semantic_dedup(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    centroids: list[list[float]],
    threshold: float = 0.9,
    max_cell: int = 10000,
) -> DataFrame:
    """SemDeDup-style semantic deduplication (Abbas et al. 2023,
    arXiv:2303.09540): assign every embedding to its nearest centroid,
    then mark near-duplicates WITHIN each cluster cell — a row is a
    semantic duplicate iff some same-cluster row with a SMALLER id has
    cosine similarity >= ``threshold`` (greedy keep-lowest-id, the
    same documented approximation as the MinHash path above).

    Returns ``df`` + ``cluster`` (long) + ``is_semdup`` (boolean).

    Scale design: the all-pairs space is bounded to each cluster cell
    — the single shuffle is the self-join on the cell key, and pair
    volume is sum(|cell|^2), never |corpus|^2. At 100 TB you size k so
    cells stay ~constant (the paper uses k ~ sqrt(n)).

    DEGENERATE-CELL CAP (the same quadratic hazard as an LSH bucket —
    a boilerplate-heavy corpus concentrates near-identical embeddings
    in ONE cell): any cell larger than ``max_cell`` is hash SUB-SPLIT
    into ``ceil(n/max_cell)`` sub-cells and pairs are only compared
    within a sub-cell, so per-key pair volume is bounded by
    ~``max_cell^2`` regardless of skew.  Contract under the cap: for
    the all-identical bomb every sub-cell still flags all but its
    minimum id (s survivors instead of 1 — a vanishing fraction);
    near-dup pairs that land in DIFFERENT sub-cells of a hot cell are
    missed, the analogue of the LSH quarantine's recall contract.  The
    cell histogram is a map-side-combinable hash-agg whose oversized
    output (rare by construction) is broadcast — no window, no extra
    sort of the corpus.
    """
    from dbt_maxcompute_spark.operators.clustering import assign_clusters
    from dbt_maxcompute_spark.operators.similarity import cosine_expr

    base = assign_clusters(spread(df), vec_col, centroids)
    hot = (
        base.groupBy("cluster")
        .agg(F.count(F.lit(1)).alias("__n"))
        .filter(F.col("__n") > int(max_cell))
        .select(
            "cluster",
            F.ceil(F.col("__n") / int(max_cell)).cast("long").alias("__splits"),
        )
    )
    sub = base.join(F.broadcast(hot), "cluster", "left").withColumn(
        "__sub",
        F.when(F.col("__splits").isNull(), F.lit(0)).otherwise(
            F.pmod(F.xxhash64(F.col(id_col)), F.col("__splits"))
        ),
    )
    a = sub.select(
        F.col("cluster").alias("__c"),
        F.col("__sub").alias("__s"),
        F.col(id_col).alias("__id_a"),
        F.col(vec_col).alias("__v_a"),
    )
    b = sub.select(
        F.col("cluster").alias("__c"),
        F.col("__sub").alias("__s"),
        F.col(id_col).alias("__id_b"),
        F.col(vec_col).alias("__v_b"),
    )
    dup_ids = (
        a.join(b, ["__c", "__s"])
        .filter(F.col("__id_a") < F.col("__id_b"))
        .filter(
            cosine_expr(F.col("__v_a"), F.col("__v_b")) >= F.lit(float(threshold))
        )
        .select(F.col("__id_b").alias(id_col))
        .distinct()
    )
    flag = dup_ids.withColumn("is_semdup", F.lit(True))
    return base.join(flag, id_col, "left").withColumn(
        "is_semdup", F.coalesce(F.col("is_semdup"), F.lit(False))
    )


# ---------------------------------------------------------------------------
# chunk-level exact substring dedup (Lee et al. 2022)
# ---------------------------------------------------------------------------


def _chunk_structs(text: Column, w: int) -> Column:
    """array<struct<idx, chunk>> of the NON-OVERLAPPING w-token windows
    of ``text``'s tokens. The tokens are bound once per row
    (``textanalysis.bind``): the per-window lambda slicing a
    ``tokens(text)`` expression would re-split the text once per
    chunk."""
    return bind(tokens(text), lambda toks: _windows(toks, w))


def _windows(toks: Column, w: int) -> Column:
    nch = F.ceil(F.size(toks) / F.lit(w)).cast("int")
    # nch >= 1 guard: F.sequence(0, nch-1) at nch=0 would DESCEND to
    # [0, -1] and slice at a non-positive start; nch IS NULL (null
    # text: size() = -1 is a lie, tokens() of null is null) must also
    # not silently vanish. Policy (explicit, round-12 advisory): docs
    # with no chunkable text still get an output row with n_chunks=0
    # and an empty clean_col — explode_outer keeps them.
    idxs = F.when(nch >= 1, F.sequence(F.lit(0), nch - 1)).otherwise(
        F.array().cast("array<int>")
    )
    return F.transform(
        idxs,
        lambda c: F.struct(
            c.alias("idx"),
            F.concat_ws(" ", F.slice(toks, c * w + 1, w)).alias("chunk"),
        ),
    )


def dedup_substring_chunks(
    df: DataFrame,
    id_col: str,
    text_col: str,
    chunk_tokens: int = 50,
    min_docs: int = 2,
    clean_col: str = "clean_text",
) -> DataFrame:
    """Chunk-level EXACT substring dedup (the tractable approximation
    of Lee et al. 2022, "Deduplicating Training Data Makes Language
    Models Better", which removes >=50-token spans repeated across the
    corpus — their exact tool is a suffix array, which does not
    distribute; fixed-stride chunk hashing is the standard scale-out
    substitute).

    Tokenize, cut NON-OVERLAPPING ``chunk_tokens``-token windows (the
    trailing partial window included), and drop every chunk whose text
    recurs in >= ``min_docs`` DISTINCT docs; survivors reassemble in
    order into ``clean_col``. Returns one row per input doc with
    ``n_chunks``, ``n_dup_chunks``, and ``clean_col``.

    Scale shape: chunk spans shuffle as md5 DIGESTS (32 bytes
    regardless of chunk width), never the 50-token strings — shuffle
    #1 computes distinct-doc counts per digest (partial-agg friendly:
    (digest, doc) distinct then count), shuffle #2 regroups survivor
    chunks per doc. Both key on high-cardinality hashes, so AQE's
    skew split covers a pathological hot chunk. No Python, no
    collect; a 100 TB corpus is two bounded shuffles.
    """
    w = int(chunk_tokens)
    chunks = _chunk_structs(F.col(text_col), w)
    ch = (
        df.select(F.col(id_col), F.explode_outer(chunks).alias("__c"))
        .select(
            id_col,
            F.col("__c.idx").alias("__idx"),
            F.col("__c.chunk").alias("__chunk"),
        )
        .withColumn("__h", F.md5(F.col("__chunk")))
    )
    rep = (
        ch.select("__h", id_col)
        .distinct()
        .groupBy("__h")
        .agg(F.count(F.lit(1)).alias("__nd"))
        .filter(F.col("__nd") >= int(min_docs))
        .select("__h", F.lit(True).alias("__dup"))
    )
    flagged = ch.join(rep, "__h", "left")
    return (
        flagged.groupBy(id_col)
        .agg(
            # count(__idx), not count(1): the explode_outer padding row
            # of a zero-chunk doc has a NULL index and is not a chunk
            F.count(F.col("__idx")).cast("long").alias("n_chunks"),
            F.sum(F.when(F.col("__dup"), 1).otherwise(0))
            .cast("long")
            .alias("n_dup_chunks"),
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(
                            F.when(
                                F.col("__dup").isNull()
                                & F.col("__idx").isNotNull(),
                                F.struct(
                                    F.col("__idx").alias("idx"),
                                    F.col("__chunk").alias("chunk"),
                                ),
                            )
                        )
                    ),
                    lambda x: x["chunk"],
                ),
                " ",
            ).alias(clean_col),
        )
    )
