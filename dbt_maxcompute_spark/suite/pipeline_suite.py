"""Training-data pipeline suite (extensions beyond reference parity):
dedup, similarity search, text analysis, multimodal plumbing — over the
`documents` and `embeddings` fixture tables.

Every operator here — including the approximate ones — pairs with a
DuckDB oracle: exact operators mirror the formula term-by-term, and
approximate operators (MinHash-LSH, SimHash, IVF/LSH ANN) emit
deterministic bounded-error verdicts (recall floors vs exact baselines,
structural-collision thresholds) the oracle predicts outright.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from dbt_maxcompute_spark.operators import (
    dedup,
    multimodal,
    similarity,
    textanalysis as ta,
    training,
)
from dbt_maxcompute_spark.sources.registry import load_table

# ---------------------------------------------------------------------------
# dedup
# ---------------------------------------------------------------------------


def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return dedup.exact_dedup(docs, ["text"], "doc_id").select(
        "doc_id", "lang", "source", "n_chars"
    )


ORACLE_DEDUP_EXACT = """
SELECT doc_id, lang, source, n_chars FROM documents
WHERE doc_id IN (SELECT min(doc_id) FROM documents GROUP BY text)
"""


def q_dedup_token_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Exact all-pairs token-set Jaccard on a bounded subset (O(n²) —
    # the LSH path is the scale story; this is its accuracy oracle).
    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 100)
    toks = F.array_distinct(ta.tokens(F.col("text")))
    base = docs.select(F.col("doc_id").alias("id"), toks.alias("tok"))
    a = base.select(F.col("id").alias("id_a"), F.col("tok").alias("tok_a"))
    b = base.select(F.col("id").alias("id_b"), F.col("tok").alias("tok_b"))
    icnt = F.size(F.array_intersect("tok_a", "tok_b"))
    ucnt = F.size("tok_a") + F.size("tok_b") - icnt
    jac = icnt.cast("double") / ucnt.cast("double")
    return (
        a.crossJoin(b)
        .filter(F.col("id_a") < F.col("id_b"))
        .withColumn("jaccard", F.round(jac, 6))
        .filter(F.col("jaccard") >= 0.8)
        .select("id_a", "id_b", "jaccard")
    )


ORACLE_DEDUP_JACCARD = """
WITH base AS (
  SELECT doc_id AS id,
         list_distinct(string_split_regex(lower(trim(text)), '\\s+')) AS tok
  FROM documents WHERE doc_id < 100
), pairs AS (
  SELECT a.id AS id_a, b.id AS id_b,
         len(list_intersect(a.tok, b.tok)) AS icnt,
         len(a.tok) + len(b.tok) - len(list_intersect(a.tok, b.tok)) AS ucnt
  FROM base a, base b WHERE a.id < b.id
)
SELECT id_a, id_b,
       round(CAST(icnt AS DOUBLE) / CAST(ucnt AS DOUBLE), 6) AS jaccard
FROM pairs
WHERE round(CAST(icnt AS DOUBLE) / CAST(ucnt AS DOUBLE), 6) >= 0.8
"""


def q_dedup_keep_canonical(spark: SparkSession, sf_dir: str) -> DataFrame:
    # The resolution step that turns dup DETECTION into a clean corpus:
    # cluster the oracle-checked exact near-dup pairs (min-label
    # propagation), then keep ONE canonical survivor per cluster —
    # longest text, ties to the lowest doc_id (prefer-the-fullest-copy,
    # the usual curation rule). Output is the per-cluster audit row:
    # representative, survivor, survivor length, members, dropped.
    # The oracle rebuilds clusters with a recursive-CTE closure and
    # applies the same rule, so the whole pairs -> clusters -> keep
    # decision chain is value-hash-checked.
    from pyspark.sql import Window as W

    from dbt_maxcompute_spark.operators import graph

    pairs = q_dedup_token_jaccard(spark, sf_dir).select("id_a", "id_b")
    labels = graph.connected_components(pairs, "id_a", "id_b")
    docs = load_table(spark, sf_dir, "documents").select(
        F.col("doc_id").alias("node"), F.length("text").cast("long").alias("text_len")
    )
    ranked = labels.join(docs, "node")
    win = W.partitionBy("comp").orderBy(F.col("text_len").desc(), F.col("node"))
    return (
        ranked.withColumn("rk", F.row_number().over(win))
        .groupBy("comp")
        .agg(
            F.max(F.when(F.col("rk") == 1, F.col("node"))).alias("kept_doc_id"),
            F.max(F.when(F.col("rk") == 1, F.col("text_len"))).alias("kept_len"),
            F.count(F.lit(1)).alias("n_members"),
        )
        .select(
            F.col("comp").alias("representative"),
            "kept_doc_id",
            "kept_len",
            "n_members",
            (F.col("n_members") - 1).alias("n_dropped"),
        )
        .orderBy("representative")
    )


ORACLE_KEEP_CANONICAL = """
WITH RECURSIVE base AS (
  SELECT doc_id AS id,
         list_distinct(string_split_regex(lower(trim(text)), '\\s+')) AS tok
  FROM documents WHERE doc_id < 100
), jp AS (
  SELECT a.id AS id_a, b.id AS id_b,
         len(list_intersect(a.tok, b.tok)) AS icnt,
         len(a.tok) + len(b.tok) - len(list_intersect(a.tok, b.tok)) AS ucnt
  FROM base a, base b WHERE a.id < b.id
), jpairs AS (
  SELECT id_a, id_b FROM jp
  WHERE round(CAST(icnt AS DOUBLE) / CAST(ucnt AS DOUBLE), 6) >= 0.8
), sym AS (
  SELECT id_a AS a, id_b AS b FROM jpairs UNION SELECT id_b, id_a FROM jpairs
), reach(a, b) AS (
  SELECT a, b FROM sym
  UNION
  SELECT r.a, e.b FROM reach r JOIN sym e ON r.b = e.a
), closure AS (
  SELECT a, b FROM reach UNION SELECT DISTINCT a, a FROM sym
), comp AS (
  SELECT a AS node, min(b) AS comp FROM closure GROUP BY a
), m AS (
  SELECT c.comp, c.node, CAST(length(d.text) AS BIGINT) AS text_len
  FROM comp c JOIN documents d ON d.doc_id = c.node
), r AS (
  SELECT *, row_number() OVER (PARTITION BY comp ORDER BY text_len DESC, node) AS rk
  FROM m
)
SELECT comp AS representative,
       max(CASE WHEN rk = 1 THEN node END) AS kept_doc_id,
       max(CASE WHEN rk = 1 THEN text_len END) AS kept_len,
       CAST(count(*) AS BIGINT) AS n_members,
       CAST(count(*) - 1 AS BIGINT) AS n_dropped
FROM r GROUP BY comp ORDER BY representative
"""


def q_dedup_lsh_recall_pinned(spark: SparkSession, sf_dir: str) -> DataFrame:
    # LSH quality pin with a HARD oracle: at b=16/r=2 a pair with
    # jaccard >= 0.8 collides in some band with prob 1-(1-0.8^2)^16
    # ~ 1-8e-8 (deterministic here: fixed xxhash64 seeds), and
    # verification is the exact measure, so the verified pair set on
    # the bounded subset must EQUAL the exact all-pairs answer —
    # recall pinned at 1.0 via rows/hash match, false positives
    # impossible by construction. threshold passed 0.79 then the same
    # round-to-6-then-filter as the exact query, so boundary pairs
    # can't straddle the rounding.
    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 100)
    pairs = dedup.minhash_lsh_pairs(
        docs, "doc_id", "text",
        num_hashes=32, bands=16, shingle_n=1, jaccard_threshold=0.79,
    )
    return (
        pairs.withColumn("jaccard", F.round("jaccard", 6))
        .filter(F.col("jaccard") >= 0.8)
        .select("id_a", "id_b", "jaccard")
    )


def q_dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Full-corpus MinHash-LSH dedup with a HARD oracle: at b=16/r=2 a
    # pair with jaccard >= 0.8 collides in some band with prob
    # 1-(1-0.8^2)^16 ~ 1-8e-8 (deterministic fixed-seed hashes), and
    # candidate verification applies the EXACT shingle-set Jaccard.
    # The surviving-doc set therefore equals the exact O(n^2) jaccard
    # dedup the oracle computes — recall pinned through the driver
    # hash, false drops impossible by construction.
    docs = load_table(spark, sf_dir, "documents")
    return dedup.minhash_lsh_dedup(
        docs, "doc_id", "text", num_hashes=32, bands=16, jaccard_threshold=0.8
    ).select("doc_id", "lang", "n_chars")


ORACLE_MINHASH_DEDUP = """
WITH base AS (
  SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS toks
  FROM documents
), sh AS (
  SELECT doc_id,
         CASE WHEN len(toks) < 3 THEN [array_to_string(toks, ' ')]
              ELSE list_distinct(list_transform(range(1, len(toks) - 1),
                                 i -> array_to_string(toks[i:i+2], ' ')))
         END AS s
  FROM base
), pairs AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
         len(list_intersect(a.s, b.s)) AS icnt,
         len(a.s) + len(b.s) - len(list_intersect(a.s, b.s)) AS ucnt
  FROM sh a JOIN sh b ON a.doc_id < b.doc_id
), losers AS (
  SELECT DISTINCT id_b FROM pairs
  WHERE CAST(icnt AS DOUBLE) / CAST(ucnt AS DOUBLE) >= 0.8
)
SELECT d.doc_id, d.lang, d.n_chars FROM documents d
WHERE d.doc_id NOT IN (SELECT id_b FROM losers)
"""


def q_dedup_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Exhaustive-by-pigeonhole: 4 blocks of 16 bits guarantee every
    # pair with hamming <= 3 shares an exact block, so the bucketed
    # pair set equals the all-pairs hamming filter. The md5 token-hash
    # family makes the fingerprints engine-reproducible — the oracle
    # recomputes the identical 64-bit SimHash in DuckDB from
    # ('0x' || substr(md5(token), 17, 16))::UBIGINT.
    docs = load_table(spark, sf_dir, "documents")
    return dedup.simhash_pairs(
        docs, "doc_id", "text", max_hamming=3, hash_family="md5"
    ).withColumn("hamming", F.col("hamming").cast("long"))


ORACLE_SIMHASH = """
WITH base AS (
  SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS toks
  FROM documents
), th AS (
  SELECT doc_id, ('0x' || substr(md5(t.tok), 17, 16))::UBIGINT AS h
  FROM base, unnest(toks) AS t(tok)
), bits AS (
  SELECT doc_id, r.i AS i,
         sum(CAST((h >> r.i) & 1 AS BIGINT)) AS ones,
         count(*) AS n
  FROM th, unnest(range(0, 64)) AS r(i)
  GROUP BY doc_id, r.i
), fp AS (
  SELECT doc_id,
         bit_or(CASE WHEN 2 * ones > n THEN (1::UBIGINT << CAST(i AS INTEGER))
                     ELSE 0::UBIGINT END) AS f
  FROM bits GROUP BY doc_id
)
SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       CAST(bit_count(xor(a.f, b.f)) AS BIGINT) AS hamming
FROM fp a JOIN fp b ON a.doc_id < b.doc_id
WHERE bit_count(xor(a.f, b.f)) <= 3
"""


# ---------------------------------------------------------------------------
# similarity search
# ---------------------------------------------------------------------------


def q_ann_ivfpq(spark: SparkSession, sf_dir: str) -> DataFrame:
    # The FAISS-style IVF-PQ composition: coarse cells prune the corpus
    # to nprobe/num_centroids, PQ codes keep vectors out of the scoring
    # pass, exact re-rank fixes precision on the candidate pool. Same
    # bounded-recall driver contract as IVF and PQ alone; the compound
    # approximation is the honest price of composing both reductions —
    # measured per-query hits at nprobe=10/16, m=8/ks=32/cand_mult=32
    # are >=6/10 at sf0.001, sf0.01 AND sf0.1, so the 0.5 floor holds
    # with margin on every fixture.
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5)
    k = 10
    pq = similarity.ivfpq_topk(
        emb, queries, "vec_id", "embedding",
        k=k, num_centroids=16, nprobe=10, m=8, ks=32, cand_mult=32,
    )
    # the search frame feeds BOTH the recall/mismatch check and the
    # returned agg below — a lazy localCheckpoint materializes the
    # k*|queries|-row result at its first action so the full search
    # pipeline (corpus-scale assign/encode/score) executes once, not
    # per consumer (guide §5; same device as the CC label rounds)
    pq = pq.localCheckpoint(eager=False)
    brute = similarity.brute_force_topk(emb, queries, "vec_id", "embedding", k=k)
    hits = (
        pq.join(
            brute.select("query_id", "neighbor_id"),
            ["query_id", "neighbor_id"],
            "left_semi",
        )
        .groupBy("query_id")
        .agg(F.count(F.lit(1)).alias("__hits"))
    )
    return (
        pq.groupBy("query_id")
        .agg(F.count(F.lit(1)).alias("n_results"))
        .join(hits, "query_id", "left")
        .select(
            "query_id",
            "n_results",
            (F.coalesce("__hits", F.lit(0)) >= F.lit(int(0.5 * k))).alias("recall_ok"),
        )
        .orderBy("query_id")
    )


ORACLE_ANN_IVFPQ = """
SELECT vec_id AS query_id,
       CAST(10 AS BIGINT) AS n_results,
       TRUE AS recall_ok
FROM embeddings WHERE vec_id < 5 ORDER BY vec_id
"""


def q_dedup_incremental_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Cross-batch NEAR-dup dedup against a historical store, with a
    # HARD oracle via structural outcomes: the batch is 30 synthetic
    # novel docs (tokens like 'zqa7' that appear nowhere in the
    # fixture, so max store-Jaccard is 0) plus copies of store docs
    # (identical text, new ids — identical minhash signatures land in
    # the same bucket of EVERY band, and verification scores exactly
    # 1.0, so every copy is dropped structurally, not probabilistically;
    # copies are taken from docs with >100 chars so the shingle set is
    # never empty). Survivors are therefore EXACTLY the novels —
    # recall at the threshold needs no floor here because both outcome
    # classes are pinned by construction, while the whole LSH pipeline
    # (banding, batch x store bucket join, bucket cap, exact-Jaccard
    # verify, anti-join) executes for real.
    from dbt_maxcompute_spark.operators import dedup

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    store = docs.filter(F.col("doc_id") < 300)
    copies = store.filter(
        (F.col("doc_id") % 10 == 0) & F.col("text").isNotNull() & (F.length("text") > 100)
    ).select((F.col("doc_id") + F.lit(1_000_000)).alias("doc_id"), "text")
    novels = spark.range(30).select(
        (F.col("id") + F.lit(2_000_000)).alias("doc_id"),
        F.format_string("zqa%d xwb%d yvc%d wud%d", "id", "id", "id", "id").alias("text"),
    )
    batch = copies.unionByName(novels)
    kept = dedup.lsh_dedup_against_store(
        batch, store, "doc_id", "text", jaccard_threshold=0.5
    )
    return kept.select("doc_id").orderBy("doc_id")


ORACLE_INCR_LSH = """
SELECT CAST(2000000 + i AS BIGINT) AS doc_id
FROM range(30) t(i) ORDER BY doc_id
"""


def q_ann_brute_force(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5)
    return similarity.brute_force_topk(emb, queries, "vec_id", "embedding", k=10)


ORACLE_ANN_BRUTE = """
WITH scored AS (
  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         list_sum(list_transform(list_zip(q.embedding, c.embedding),
                                 x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE)))
         / (sqrt(list_sum(list_transform(q.embedding,
                                         x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
            * sqrt(list_sum(list_transform(c.embedding,
                                           x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))))
           AS cos
  FROM embeddings q, embeddings c
  WHERE q.vec_id < 5 AND c.vec_id != q.vec_id
), ranked AS (
  SELECT query_id, neighbor_id, cos,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY cos DESC, neighbor_id) AS rank
  FROM scored
)
SELECT query_id, neighbor_id, rank, round(cos, 4) AS cosine
FROM ranked WHERE rank <= 10
"""


def q_ann_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    # IVF is approximate by construction (a true neighbor in an
    # unprobed cell is missed), so the driver-checkable claim is the
    # bounded-error contract itself: per query, IVF returns a full
    # top-k and its recall against the exact brute-force top-k clears
    # a pinned floor. Both sides of the recall are computed in-engine
    # (brute force is the oracle-green exact baseline); the DuckDB
    # oracle predicts the (query_id, n_results, recall_ok) surface.
    # Deterministic: fixed xxhash64 centroid sample, fixed tiebreaks.
    # The fixture embeddings are near-uniform (no cluster structure),
    # so IVF recall ~ nprobe/num_centroids; measured per-query hits at
    # nprobe=12/16 are >=7/10 at both sf0.001 and sf0.01, so the 0.5
    # floor holds with margin on both fixtures.
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5)
    k = 10
    ivf = similarity.ivf_topk(
        emb, queries, "vec_id", "embedding", k=k, num_centroids=16, nprobe=12
    )
    # the search frame feeds BOTH the recall/mismatch check and the
    # returned agg below — a lazy localCheckpoint materializes the
    # k*|queries|-row result at its first action so the full search
    # pipeline (corpus-scale assign/encode/score) executes once, not
    # per consumer (guide §5; same device as the CC label rounds)
    ivf = ivf.localCheckpoint(eager=False)
    brute = similarity.brute_force_topk(emb, queries, "vec_id", "embedding", k=k)
    hits = (
        ivf.join(
            brute.select("query_id", "neighbor_id"),
            ["query_id", "neighbor_id"],
            "left_semi",
        )
        .groupBy("query_id")
        .agg(F.count(F.lit(1)).alias("__hits"))
    )
    return (
        ivf.groupBy("query_id")
        .agg(F.count(F.lit(1)).alias("n_results"))
        .join(hits, "query_id", "left")
        .select(
            "query_id",
            "n_results",
            (F.coalesce("__hits", F.lit(0)) >= F.lit(int(0.5 * k))).alias("recall_ok"),
        )
        .orderBy("query_id")
    )


ORACLE_ANN_IVF = """
SELECT vec_id AS query_id,
       CAST(10 AS BIGINT) AS n_results,
       TRUE AS recall_ok
FROM embeddings WHERE vec_id < 5 ORDER BY vec_id
"""


def q_ann_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Product-quantization ANN (Jegou et al., TPAMI 2011): corpus
    # encoded once into 8 subspace codes (m ints instead of 64 floats —
    # the approx-scoring pass never touches vectors), ADC-scored
    # against the query LUT, then exact-cosine re-rank of the
    # cand_mult*k survivors. Same bounded-error driver contract as
    # IVF: per query a full top-k whose recall against the in-engine
    # exact brute force clears a pinned floor. Deterministic: xxhash64
    # codebook sample, first-match argmin code ties, fixed re-rank
    # tiebreaks. Measured per-query hits at m=8/ks=32/cand_mult=24 are
    # >=6/10 at sf0.001, sf0.01 AND sf0.1, so the 0.5 floor holds with
    # margin on every fixture.
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5)
    k = 10
    pq = similarity.pq_topk(
        emb, queries, "vec_id", "embedding", k=k, m=8, ks=32, cand_mult=24
    )
    # the search frame feeds BOTH the recall/mismatch check and the
    # returned agg below — a lazy localCheckpoint materializes the
    # k*|queries|-row result at its first action so the full search
    # pipeline (corpus-scale assign/encode/score) executes once, not
    # per consumer (guide §5; same device as the CC label rounds)
    pq = pq.localCheckpoint(eager=False)
    brute = similarity.brute_force_topk(emb, queries, "vec_id", "embedding", k=k)
    hits = (
        pq.join(
            brute.select("query_id", "neighbor_id"),
            ["query_id", "neighbor_id"],
            "left_semi",
        )
        .groupBy("query_id")
        .agg(F.count(F.lit(1)).alias("__hits"))
    )
    return (
        pq.groupBy("query_id")
        .agg(F.count(F.lit(1)).alias("n_results"))
        .join(hits, "query_id", "left")
        .select(
            "query_id",
            "n_results",
            (F.coalesce("__hits", F.lit(0)) >= F.lit(int(0.5 * k))).alias("recall_ok"),
        )
        .orderBy("query_id")
    )


ORACLE_ANN_PQ = """
SELECT vec_id AS query_id,
       CAST(10 AS BIGINT) AS n_results,
       TRUE AS recall_ok
FROM embeddings WHERE vec_id < 5 ORDER BY vec_id
"""


def q_emb_cosine_dup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Hyperplane-LSH near-dup pairs at the operator's REAL operating
    # point — near-identical vectors (cosine >= 0.98) — with a HARD
    # oracle. The synthetic fixture has no true near-dups (max pairwise
    # cosine ~0.5), so the query seeds them deterministically: every
    # 10th vector gets a 1.5x-scaled copy (id + 10_000_000), built with
    # the same double arithmetic in both engines. Positive scaling
    # preserves every hyperplane sign bit, so original and copy land in
    # the SAME bucket of EVERY table — recall at the threshold is
    # structurally 1.0, not probabilistically ~1 — and exact-cosine
    # verification keeps precision at 1.0. Unrelated pairs stay below
    # ~0.5 cosine, far under the threshold, so the LSH pair set equals
    # the predictable exact answer: one pair per seeded copy at
    # round(cosine,4) = 1.0. An earlier formulation chased recall~1 at
    # cosine 0.45 via 20 OR-tables x 3 planes; at theta=63 deg that is
    # inherently near-quadratic (196 s at sf0.1) — a scale-killer, not
    # an operating point.
    emb = load_table(spark, sf_dir, "embeddings")
    seeded = emb.select("vec_id", "embedding").unionByName(
        emb.filter(F.col("vec_id") % 10 == 0).select(
            (F.col("vec_id") + F.lit(10_000_000)).alias("vec_id"),
            F.transform(
                "embedding", lambda x: x.cast("double") * F.lit(1.5)
            ).alias("embedding"),
        )
    )
    return dedup.embedding_cosine_pairs(
        seeded, "vec_id", "embedding", threshold=0.98, planes=12, tables=2
    ).select("id_a", "id_b", F.round("cosine", 4).alias("cosine"))


ORACLE_EMB_DUP = """
WITH seeded AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
  FROM embeddings
  UNION ALL
  SELECT vec_id + 10000000,
         list_transform(embedding, x -> CAST(x AS DOUBLE) * 1.5)
  FROM embeddings WHERE vec_id % 10 = 0
), pairs AS (
  SELECT a.vec_id AS id_a, b.vec_id AS id_b,
         list_sum(list_transform(list_zip(a.v, b.v), x -> x[1] * x[2]))
         / (sqrt(list_sum(list_transform(a.v, x -> x * x)))
            * sqrt(list_sum(list_transform(b.v, x -> x * x)))) AS cosine
  FROM seeded a JOIN seeded b ON a.vec_id < b.vec_id
)
SELECT id_a, id_b, round(cosine, 4) AS cosine
FROM pairs WHERE cosine >= 0.98
"""


# ---------------------------------------------------------------------------
# text analysis
# ---------------------------------------------------------------------------


def q_emb_cosine_exact_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Exact, oracle-checked companion to the LSH variant above: all pairs
    # with cosine >= threshold *within a blocking key* (label).  Blocked
    # self-join is the scale pattern — at 100 TB the blocking key would be
    # an LSH bucket; the join shuffles both sides on the key instead of a
    # full cross product, and the JVM-side F.aggregate dot product keeps
    # the comparison inside codegen (no Python).
    from dbt_maxcompute_spark.operators.similarity import dot_expr, norm_expr

    # Norms are computed ONCE per vector before the self-join (n folds),
    # not per pair inside it (2 x n^2/bucket folds): the interpreted
    # aggregate lambda is the unit of cost here, and the pair side then
    # pays a single dot fold.  Same arithmetic and order as the oracle.
    from dbt_maxcompute_spark.operators.dedup import spread

    # spread(): the fixture arrives as one file split and would pin all
    # pair folds to one core (no-op at scale, where splits abound)
    emb = spread(load_table(spark, sf_dir, "embeddings")).withColumn(
        "norm", norm_expr(F.col("embedding"))
    )
    a = emb.select(
        "label", F.col("vec_id").alias("id_a"),
        F.col("embedding").alias("v_a"), F.col("norm").alias("norm_a"),
    )
    b = emb.select(
        "label", F.col("vec_id").alias("id_b"),
        F.col("embedding").alias("v_b"), F.col("norm").alias("norm_b"),
    )
    denom = F.col("norm_a") * F.col("norm_b")
    return (
        a.join(b, "label")
        .filter(F.col("id_a") < F.col("id_b"))
        .withColumn(
            "cosine",
            F.when(denom == 0.0, F.lit(0.0)).otherwise(
                dot_expr(F.col("v_a"), F.col("v_b")) / denom
            ),
        )
        .filter(F.col("cosine") >= 0.40)
        .select("label", "id_a", "id_b", F.round("cosine", 4).alias("cosine"))
        .orderBy("label", "id_a", "id_b")
    )


ORACLE_EMB_EXACT = """
WITH pairs AS (
  SELECT a.label, a.vec_id AS id_a, b.vec_id AS id_b,
         list_sum(list_transform(list_zip(a.embedding, b.embedding),
                                 x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE)))
         / (sqrt(list_sum(list_transform(a.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
            * sqrt(list_sum(list_transform(b.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))))
           AS cosine
  FROM embeddings a JOIN embeddings b
    ON a.label = b.label AND a.vec_id < b.vec_id
)
SELECT label, id_a, id_b, round(cosine, 4) AS cosine
FROM pairs WHERE cosine >= 0.40
ORDER BY label, id_a, id_b
"""


def q_text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    t = F.col("text")
    return docs.select(
        "doc_id",
        ta.token_count(t).alias("n_tokens"),
        ta.tokens_estimate(t).alias("n_tokens_bpe"),
        F.round(ta.alpha_ratio(t), 6).alias("alpha_ratio"),
        F.round(ta.punct_ratio(t), 6).alias("punct_ratio"),
        F.round(ta.quality_score(t), 6).alias("quality"),
    )


_SW_ALL = sorted({w for ws in ta.STOPWORDS.values() for w in ws})


def _sql_list(words) -> str:
    return "[" + ", ".join(f"'{w}'" for w in words) + "]"


ORACLE_TEXT_STATS = f"""
WITH t AS (
  SELECT doc_id, text,
         string_split_regex(lower(trim(text)), '\\s+') AS toks,
         CAST(length(text) AS DOUBLE) AS n_chars
  FROM documents
), m AS (
  SELECT doc_id,
         len(toks) AS n_tokens,
         len(regexp_extract_all(text, '{ta.TOKEN_REGEX}')) AS n_tokens_bpe,
         CASE WHEN n_chars = 0 THEN 0.0
              ELSE length(regexp_replace(text, '[^A-Za-z]', '', 'g')) / n_chars
         END AS alpha_ratio,
         CASE WHEN n_chars = 0 THEN 0.0
              ELSE length(regexp_replace(text, '[^.,;:!?]', '', 'g')) / n_chars
         END AS punct_ratio,
         CASE WHEN len(toks) = 0 THEN 0.0
              ELSE CAST(len(list_filter(toks, x -> list_contains({_sql_list(_SW_ALL)}, x)))
                        AS DOUBLE) / len(toks)
         END AS sw_ratio
  FROM t
)
SELECT doc_id, n_tokens, n_tokens_bpe,
       round(alpha_ratio, 6) AS alpha_ratio,
       round(punct_ratio, 6) AS punct_ratio,
       round(0.35 * alpha_ratio
             + 0.25 * least(sw_ratio * 4.0, 1.0)
             + 0.25 * (1.0 - least(punct_ratio * 5.0, 1.0))
             + 0.15 * least(n_tokens / 100.0, 1.0), 6) AS quality
FROM m
"""


def q_text_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id", "lang", ta.lang_id(F.col("text")).alias("lang_pred")
    )


_HITS = {
    code: f"len(list_filter(toks, x -> list_contains({_sql_list(ta.STOPWORDS[code])}, x)))"
    for code in sorted(ta.STOPWORDS)
}

ORACLE_TEXT_LANGID = f"""
WITH t AS (
  SELECT doc_id, lang,
         string_split_regex(lower(trim(text)), '\\s+') AS toks
  FROM documents
), h AS (
  SELECT doc_id, lang,
         {", ".join(f"{expr} AS h_{code}" for code, expr in _HITS.items())}
  FROM t
)
SELECT doc_id, lang,
       CASE WHEN greatest(h_de, h_en, h_es, h_fr) = 0 THEN 'und'
            WHEN h_de = greatest(h_de, h_en, h_es, h_fr) THEN 'de'
            WHEN h_en = greatest(h_de, h_en, h_es, h_fr) THEN 'en'
            WHEN h_es = greatest(h_de, h_en, h_es, h_fr) THEN 'es'
            ELSE 'fr'
       END AS lang_pred
FROM h
"""


def q_text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id", ta.fingerprint(F.col("text")).alias("fingerprint")
    )


ORACLE_TEXT_FINGERPRINT = """
SELECT doc_id,
       md5(array_to_string(
             list_sort(list_distinct(string_split_regex(lower(trim(text)), '\\s+'))),
             ' ')) AS fingerprint
FROM documents
"""


# ---------------------------------------------------------------------------
# multimodal
# ---------------------------------------------------------------------------


def q_multimodal_metadata(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return multimodal.attach_fake_payload(docs, "text", "doc_id").select(
        "media_id", "kind", "byte_len", "content_md5"
    )


ORACLE_MULTIMODAL_META = """
SELECT doc_id AS media_id,
       (['image', 'audio', 'video'])[CAST(doc_id % 3 AS INT) + 1] AS kind,
       CAST(octet_length(encode(text)) AS BIGINT) AS byte_len,
       md5(text) AS content_md5
FROM documents
"""


def q_multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    # REAL codec path: synthesize genuine BMP/PPM/WAV bytes per document
    # (deterministic in doc_id + utf8 length), then parse them back with
    # the pure-numpy decoders — header walk, row-padding strip, RIFF
    # chunk scan all exercised. The oracle predicts every feature from
    # the generation formula, so a decode bug (e.g. counting BMP padding
    # bytes in the mean) breaks the hash. spread: the fixture is one
    # file split; the Arrow decode batches must fan out across cores.
    docs = dedup.spread(load_table(spark, sf_dir, "documents"))
    media = multimodal.synthesize_media_payload(docs, "text", "doc_id")
    return multimodal.decode_media(media)


ORACLE_MULTIMODAL_FEATURES = """
WITH base AS (
  SELECT doc_id, octet_length(encode(text)) AS n FROM documents
)
SELECT doc_id AS media_id,
       CASE WHEN doc_id % 3 = 2 THEN 'audio' ELSE 'image' END AS kind,
       CASE CAST(doc_id % 3 AS INT) WHEN 0 THEN 'bmp' WHEN 1 THEN 'ppm' ELSE 'wav' END AS format,
       CAST(CASE WHEN doc_id % 3 = 2 THEN 1 ELSE 8 + doc_id % 24 END AS BIGINT) AS width,
       CAST(CASE WHEN doc_id % 3 = 2 THEN 16 ELSE 8 + (doc_id // 7) % 24 END AS BIGINT) AS height,
       CAST(CASE WHEN doc_id % 3 = 2 THEN 500 + doc_id % 1000 ELSE 1 END AS BIGINT) AS n_frames,
       CAST(CASE WHEN doc_id % 3 = 2 THEN abs((n % 1000) - 500)
                 ELSE (n % 240) + 8 END AS DOUBLE) AS mean_intensity
FROM base
"""


def q_text_chunking(spark: SparkSession, sf_dir: str) -> DataFrame:
    # token-window chunking (size 64, overlap 8) — the standard
    # long-document preprocessing step before tokenizer/packing stages.
    docs = load_table(spark, sf_dir, "documents")
    toks = ta.tokens(F.col("text"))
    base = docs.select("doc_id", toks.alias("toks"))
    ex = base.select(
        "doc_id",
        F.size("toks").alias("n_tokens"),
        "toks",
        F.explode(ta.chunk_starts(F.col("toks"), 64, 8)).alias("start"),
    )
    chunk = ta.chunk_tokens(F.col("toks"), F.col("start"), 64)
    return ex.select(
        "doc_id",
        "n_tokens",
        ((F.col("start") - 1) / (64 - 8)).cast("int").alias("chunk_idx"),
        F.size(chunk).alias("chunk_tokens"),
        F.concat_ws(" ", chunk).alias("chunk_text"),
    ).orderBy("doc_id", "chunk_idx")


ORACLE_TEXT_CHUNKING = """
WITH t AS (
  SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS toks
  FROM documents
), s AS (
  SELECT doc_id, toks, len(toks) AS n_tokens,
         unnest(generate_series(1, greatest(len(toks) - 8, 1), 56)) AS start
  FROM t
)
SELECT doc_id, n_tokens,
       CAST((start - 1) / 56 AS INT) AS chunk_idx,
       len(toks[start:start+63]) AS chunk_tokens,
       array_to_string(toks[start:start+63], ' ') AS chunk_text
FROM s ORDER BY doc_id, chunk_idx
"""


def q_dedup_shared_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Paragraph-level (chunk-level) dedup audit: non-overlapping
    # 32-token chunks, digested, counted — the pass that finds
    # boilerplate shared ACROSS documents that document-level dedup
    # cannot see (licence headers, navigation chrome). Shuffle carries
    # 32-hex digests, never chunk text; the affected-docs count comes
    # from one broadcast semi-join of the flagged digests.
    docs = load_table(spark, sf_dir, "documents")
    base = docs.select("doc_id", ta.tokens(F.col("text")).alias("toks"))
    ex = base.select(
        "doc_id", "toks",
        F.explode(ta.chunk_starts(F.col("toks"), 32, 0)).alias("start"),
    )
    ch = ex.select(
        "doc_id",
        F.md5(F.concat_ws(" ", ta.chunk_tokens(F.col("toks"), F.col("start"), 32))).alias("d"),
    )
    ch = ch.persist()
    per = ch.groupBy("d").agg(
        F.count(F.lit(1)).alias("occ"), F.countDistinct("doc_id").alias("nd")
    )
    per = per.persist()
    summary = per.agg(
        F.sum("occ").alias("n_chunks"),
        F.count(F.lit(1)).alias("n_distinct"),
        F.count(F.when(F.col("occ") > 1, 1)).alias("n_dup_digests"),
        F.count(F.when(F.col("nd") > 1, 1)).alias("n_cross_doc"),
    )
    affected = (
        ch.join(F.broadcast(per.filter(F.col("nd") > 1).select("d")), "d", "left_semi")
        .agg(F.countDistinct("doc_id").alias("n_docs_affected"))
    )
    return summary.join(F.broadcast(affected))


ORACLE_SHARED_CHUNKS = """
WITH t AS (
  SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS toks
  FROM documents
), s AS (
  SELECT doc_id, toks,
         unnest(generate_series(1, greatest(len(toks), 1), 32)) AS start
  FROM t
), c AS (
  SELECT doc_id, md5(array_to_string(toks[start:start+31], ' ')) AS d FROM s
), p AS (
  SELECT d, count(*) AS occ, count(DISTINCT doc_id) AS nd FROM c GROUP BY d
)
SELECT (SELECT CAST(count(*) AS BIGINT) FROM c) AS n_chunks,
       (SELECT CAST(count(*) AS BIGINT) FROM p) AS n_distinct,
       (SELECT CAST(count(*) AS BIGINT) FROM p WHERE occ > 1) AS n_dup_digests,
       (SELECT CAST(count(*) AS BIGINT) FROM p WHERE nd > 1) AS n_cross_doc,
       (SELECT CAST(count(DISTINCT doc_id) AS BIGINT) FROM c
        WHERE d IN (SELECT d FROM p WHERE nd > 1)) AS n_docs_affected
"""


def q_hash_split_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dbt_maxcompute_spark.operators import sampling

    docs = load_table(spark, sf_dir, "documents")
    split = sampling.hash_split(
        docs, "doc_id", {"train": 0.9, "valid": 0.05, "test": 0.05}
    )
    return (
        split.groupBy("split")
        .agg(F.count(F.lit(1)).alias("n_docs"), F.min("doc_id").alias("min_doc"))
        .orderBy("split")
    )


def q_group_split_leakage_safe(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Leakage-safe splits: hash on the GROUP key (source domain), not
    # the row id, so near-duplicate documents from one domain can never
    # straddle train/valid/test — the split-contamination guard every
    # eval pipeline needs. The audit emits per-split doc/source counts
    # plus a global no_leakage boolean (sum of per-split distinct
    # sources == total distinct sources, which can only hold when no
    # source appears in two splits). Pure per-row md5 expression: no
    # shuffle for the assignment itself, engine-reproducible.
    from dbt_maxcompute_spark.operators import sampling

    docs = load_table(spark, sf_dir, "documents")
    split = sampling.hash_split(
        docs, "source", {"train": 0.9, "valid": 0.05, "test": 0.05}
    )
    per = split.groupBy("split").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.countDistinct("source").alias("n_sources"),
    )
    tot = split.groupBy().agg(F.countDistinct("source").alias("__tot"))
    sums = per.groupBy().agg(F.sum("n_sources").alias("__sum"))
    return (
        per.crossJoin(F.broadcast(tot))
        .crossJoin(F.broadcast(sums))
        .select(
            "split",
            "n_docs",
            "n_sources",
            (F.col("__sum") == F.col("__tot")).alias("no_leakage"),
        )
        .orderBy("split")
    )


ORACLE_GROUP_SPLIT = """
WITH b AS (
  SELECT source,
         CAST(('0x' || substr(md5(source), 1, 6)) AS BIGINT) % 10000 AS bucket
  FROM documents
), s AS (
  SELECT CASE WHEN bucket < 9000 THEN 'train'
              WHEN bucket < 9500 THEN 'valid'
              ELSE 'test' END AS split, source
  FROM b
)
SELECT split, CAST(count(*) AS BIGINT) AS n_docs,
       CAST(count(DISTINCT source) AS BIGINT) AS n_sources,
       TRUE AS no_leakage
FROM s GROUP BY split ORDER BY split
"""


ORACLE_HASH_SPLIT = """
WITH b AS (
  SELECT doc_id,
         CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 6)) AS BIGINT)
           % 10000 AS bucket
  FROM documents
)
SELECT CASE WHEN bucket < 9000 THEN 'train'
            WHEN bucket < 9500 THEN 'valid'
            ELSE 'test' END AS split,
       count(*) AS n_docs, min(doc_id) AS min_doc
FROM b GROUP BY 1 ORDER BY 1
"""


# ---------------------------------------------------------------------------
# training-set preparation (operators/training.py)
# ---------------------------------------------------------------------------


def q_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    # distributed prefix sum: bucketed offsets + K-way partitioned
    # window — the oracle's global `sum() OVER (ORDER BY)` is the
    # semantics, NOT the plan (that would be a one-task sort at scale)
    docs = load_table(spark, sf_dir, "documents")
    return training.pack_sequences(docs, "doc_id", "text", capacity=512)


ORACLE_PACK = """
WITH t AS (
  SELECT doc_id,
         CAST(len(string_split_regex(lower(trim(text)), '\\s+')) AS BIGINT) AS n_tokens
  FROM documents
), c AS (
  SELECT doc_id, n_tokens,
         COALESCE(sum(n_tokens) OVER (ORDER BY doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS start_token
  FROM t
)
SELECT doc_id, n_tokens, CAST(start_token AS BIGINT) AS start_token,
       CAST(start_token // 512 AS BIGINT) AS seq_id,
       start_token // 512 != (start_token + n_tokens - 1) // 512 AS spans_boundary
FROM c
"""


def q_text_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return training.repetition_profile(docs, "doc_id", "text")


ORACLE_REPETITION = """
WITH t AS (
  SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS toks FROM documents
), m AS (
  SELECT doc_id, CAST(len(toks) AS BIGINT) AS n_tokens,
         CAST(len(list_distinct(toks)) AS BIGINT) AS n_unique_tokens
  FROM t
), bg AS (
  SELECT doc_id, toks[i] || ' ' || toks[i+1] AS bigram
  FROM t, UNNEST(range(1, len(toks))) AS u(i)
), bc AS (
  SELECT doc_id, bigram, count(*) AS c FROM bg GROUP BY doc_id, bigram
), bt AS (
  SELECT doc_id, max(c) AS top_c, sum(c) AS tot FROM bc GROUP BY doc_id
)
SELECT m.doc_id, n_tokens, n_unique_tokens,
       round(1 - CAST(n_unique_tokens AS DOUBLE) / n_tokens, 6) AS dup_token_ratio,
       round(COALESCE(CAST(top_c AS DOUBLE) / tot, 0), 6) AS top_bigram_frac
FROM m LEFT JOIN bt USING (doc_id)
"""


def q_train_shuffle_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return training.training_order(docs, "doc_id", seed=42)


ORACLE_SHUFFLE = """
WITH k AS (
  SELECT doc_id, md5(concat(CAST(doc_id AS VARCHAR), '-42')) AS h FROM documents
)
SELECT doc_id, substr(h, 1, 2) AS shard,
       CAST(row_number() OVER (PARTITION BY substr(h, 1, 2) ORDER BY h, doc_id)
            AS BIGINT) AS shuffle_rank
FROM k
"""


_MIX_TARGETS = {"en": 0.5, "de": 0.15, "es": 0.15, "fr": 0.1, "zh": 0.1}
_MIX_BUDGET_FRAC = 0.4


def q_mixture_sample_langs(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Data-mixture sampling (operators/mixture.py): select documents so
    # each language contributes its target share of a 40%-of-corpus
    # char budget, in a portable-hash deterministic order. The operator
    # runs the two-phase histogram-threshold plan (no group-wide sort);
    # the oracle runs the equivalent single-window cumsum — provably the
    # same selection, so every kept row, mass, and achieved share is
    # value-hash-checked.
    from dbt_maxcompute_spark.operators import mixture

    docs = load_table(spark, sf_dir, "documents")
    total = docs.agg(F.sum("n_chars")).collect()[0][0]  # metadata-sized
    budget = float(total) * _MIX_BUDGET_FRAC
    rep = mixture.mixture_report(
        docs, "doc_id", "lang", "n_chars", _MIX_TARGETS, budget
    )
    return rep.orderBy("lang")


def _mixture_oracle() -> str:
    from dbt_maxcompute_spark.operators import mixture

    inner = mixture.oracle_sql_for_mixture(
        "documents",
        "doc_id",
        "lang",
        "n_chars",
        _MIX_TARGETS,
        # same IEEE order as the Spark side: float(total) * 0.4
        f"SELECT CAST(sum(n_chars) AS DOUBLE) * {_MIX_BUDGET_FRAC!r} FROM documents",
    )
    return f"SELECT * FROM ({inner}) ORDER BY lang"


ORACLE_MIXTURE = _mixture_oracle()


QUERIES = {
    "dedup_exact_documents": q_dedup_exact,
    "dedup_token_jaccard_pairs": q_dedup_token_jaccard,
    "dedup_lsh_recall_pinned": q_dedup_lsh_recall_pinned,
    "dedup_keep_canonical": q_dedup_keep_canonical,
    "dedup_minhash_lsh": q_dedup_minhash_lsh,
    "dedup_simhash_pairs": q_dedup_simhash_pairs,
    "ann_brute_force_cosine": q_ann_brute_force,
    "ann_ivf_topk": q_ann_ivf,
    "ann_pq_topk": q_ann_pq,
    "ann_ivfpq_topk": q_ann_ivfpq,
    "dedup_incremental_lsh": q_dedup_incremental_lsh,
    "dedup_shared_chunks": q_dedup_shared_chunks,
    "emb_cosine_dup_pairs": q_emb_cosine_dup_pairs,
    "emb_cosine_exact_pairs": q_emb_cosine_exact_pairs,
    "pack_sequences": q_pack_sequences,
    "text_repetition": q_text_repetition,
    "train_shuffle_order": q_train_shuffle_order,
    "text_stats": q_text_stats,
    "text_langid": q_text_langid,
    "text_fingerprint": q_text_fingerprint,
    "multimodal_metadata": q_multimodal_metadata,
    "multimodal_features": q_multimodal_features,
    "text_chunking": q_text_chunking,
    "hash_split_counts": q_hash_split_counts,
    "group_split_leakage_safe": q_group_split_leakage_safe,
    "mixture_sample_langs": q_mixture_sample_langs,
}

ORACLES = {
    "text_chunking": ORACLE_TEXT_CHUNKING,
    "hash_split_counts": ORACLE_HASH_SPLIT,
    "group_split_leakage_safe": ORACLE_GROUP_SPLIT,
    "dedup_exact_documents": ORACLE_DEDUP_EXACT,
    "dedup_token_jaccard_pairs": ORACLE_DEDUP_JACCARD,
    # the recall pin shares the exact-measure oracle: LSH-verified pairs
    # must equal the exact all-pairs set at the same threshold
    "dedup_lsh_recall_pinned": ORACLE_DEDUP_JACCARD,
    "dedup_keep_canonical": ORACLE_KEEP_CANONICAL,
    "dedup_minhash_lsh": ORACLE_MINHASH_DEDUP,
    "dedup_simhash_pairs": ORACLE_SIMHASH,
    "ann_ivf_topk": ORACLE_ANN_IVF,
    "ann_pq_topk": ORACLE_ANN_PQ,
    "ann_ivfpq_topk": ORACLE_ANN_IVFPQ,
    "dedup_incremental_lsh": ORACLE_INCR_LSH,
    "dedup_shared_chunks": ORACLE_SHARED_CHUNKS,
    "emb_cosine_dup_pairs": ORACLE_EMB_DUP,
    "ann_brute_force_cosine": ORACLE_ANN_BRUTE,
    "emb_cosine_exact_pairs": ORACLE_EMB_EXACT,
    "text_stats": ORACLE_TEXT_STATS,
    "text_langid": ORACLE_TEXT_LANGID,
    "text_fingerprint": ORACLE_TEXT_FINGERPRINT,
    "multimodal_metadata": ORACLE_MULTIMODAL_META,
    "multimodal_features": ORACLE_MULTIMODAL_FEATURES,
    "pack_sequences": ORACLE_PACK,
    "text_repetition": ORACLE_REPETITION,
    "train_shuffle_order": ORACLE_SHUFFLE,
    "mixture_sample_langs": ORACLE_MIXTURE,
}
