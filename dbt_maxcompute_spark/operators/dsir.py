"""DSIR — Data Selection via Importance Resampling (Xie et al. 2023,
"Data Selection for Language Models via Importance Resampling").

Selects pretraining documents from a large SOURCE corpus that look
like a small TARGET corpus: featurize each doc as a hashed bag of
n-grams, fit unigram multinomials over the hash buckets for target
(p) and source (q), weight each source doc by
log w = sum_f count_f * (log p_f - log q_f), and keep the top-k by
log w + Gumbel noise (resampling without replacement).

No counterpart in the reference (extension per BASELINE.json).

Scale shape mirrors the engine's other table-driven scorers:
- featurization is a pure Catalyst fold (tokens + joined bigrams ->
  md5-prefix buckets) — the md5/conv device is chosen over xxhash64
  because it is reproducible in ANSI SQL, so oracles can replay it;
- profile fitting is explode -> groupBy(bucket) with map-side partial
  aggregation: the shuffle carries at most `buckets` partial counts
  per task, never corpus-scale rows;
- the log-ratio table (= the model, `buckets` entries) rides as ONE
  broadcast single-row map column, never a create_map plan literal
  (the classifier_score / lm_perplexity device);
- scoring is one fold per row, no shuffle; selection is a global
  top-k (sort of scores only — k-bounded, the same posture as the
  ANN rows' rank-k).
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from dbt_maxcompute_spark.localframe import local_frame

from dbt_maxcompute_spark.operators.textanalysis import tokens, with_tokens


def hashed_features(text: Column, buckets: int, orders: tuple = (1, 2)) -> Column:
    """Array of hash buckets, one per n-gram occurrence: bucket =
    (first 8 hex chars of md5(ngram) as int) % buckets. Bigrams are
    space-joined token pairs. The md5-prefix device is deliberately
    SQL-reproducible (DuckDB: CAST('0x'||substring(md5(f),1,8) AS
    UBIGINT) % m) so every driver row over this path has a strict
    oracle; 32 hash bits over m<=1e6 buckets is uniform enough for a
    multinomial feature space (DSIR's own default is 1e4 buckets)."""

    def bucket(f: Column) -> Column:
        return F.conv(F.substring(F.md5(f), 1, 8), 16, 10).cast("long") % int(
            buckets
        )

    def features(toks: Column) -> Column:
        parts = []
        if 1 in orders:
            parts.append(F.transform(toks, bucket))
        if 2 in orders:
            bigrams = F.when(
                F.size(toks) >= 2,
                F.transform(
                    F.sequence(F.lit(1), F.size(toks) - 1),
                    lambda i: bucket(F.concat_ws(" ", F.slice(toks, i, 2))),
                ),
            ).otherwise(F.array().cast("array<bigint>"))
            parts.append(bigrams)
        if not parts:
            raise ValueError("orders must include 1 and/or 2")
        out = parts[0]
        for p in parts[1:]:
            out = F.concat(out, p)
        return out

    # tokens bound once per row: the bigram lambda slicing a
    # tokens(text) expression would re-split the text per position
    return with_tokens(text, features)


def _bucket_col(f: Column, buckets: int) -> Column:
    """Row-context bucket of one n-gram string — identical arithmetic
    to :func:`hashed_features`'s per-element lambda, but evaluated as a
    plain projected expression, which Catalyst CODEGENS. Inside an
    array higher-order function the same md5/conv chain is interpreted
    per element (~10x slower — the r13 profile measured the fold-side
    bucketing at 2.9 s per profile sync vs 0.6 s for explode-then-
    bucket on the same corpus slice)."""
    return F.conv(F.substring(F.md5(f), 1, 8), 16, 10).cast("long") % int(buckets)


def _ngram_rows(df: DataFrame, text_col: str, orders: tuple, carry: list[str]) -> DataFrame:
    """One row per n-gram OCCURRENCE: ``carry`` columns + ``__f`` (the
    n-gram string). Same multiset of n-grams as
    ``explode(hashed_features(...))`` — unigrams then bigrams — but the
    only array lambda left is a cheap string concat (zip_with of the
    two shifted token slices); the expensive md5 bucketing happens
    after the explode via :func:`_bucket_col`."""
    toks = tokens(F.col(text_col))
    grams = []
    if 1 in orders:
        grams.append(toks)
    if 2 in orders:
        n = F.size(toks)
        bigrams = F.when(
            n >= 2,
            F.zip_with(
                F.slice(toks, 1, n - 1),
                F.slice(toks, 2, n - 1),
                lambda a, b: F.concat_ws(" ", a, b),
            ),
        ).otherwise(F.array().cast("array<string>"))
        grams.append(bigrams)
    if not grams:
        raise ValueError("orders must include 1 and/or 2")
    allg = grams[0] if len(grams) == 1 else F.concat(*grams)
    return df.select(*carry, F.explode(allg).alias("__f"))


def fit_profile(
    df: DataFrame, text_col: str, buckets: int, orders: tuple = (1, 2)
) -> DataFrame:
    """Hash-bucket occurrence counts over a corpus: one row per
    OBSERVED bucket (bucket, cnt). Partial aggregation bounds the
    shuffle at `buckets` rows per task. Bucketing runs AFTER the
    explode (row context, codegen) — see :func:`_bucket_col`."""
    return (
        _ngram_rows(df, text_col, orders, [])
        .select(_bucket_col(F.col("__f"), buckets).alias("bucket"))
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
    )


def log_ratio_table(
    target_counts: dict[int, int],
    source_counts: dict[int, int],
    buckets: int,
    quantum: float = 1.0 / 64,
) -> dict[int, float]:
    """Driver-side table build from the two fitted profiles (each at
    most `buckets` entries — model-sized, not data-sized): add-one
    smoothed log(p_f / q_f), QUANTIZED to dyadic multiples of
    `quantum` so downstream score sums are order-exact (the same
    dyadic discipline as the LM/classifier tables). Only buckets
    observed in either profile get entries — unobserved buckets have
    log-ratio log(T_smooth/S_smooth)=const which the scorer applies
    as its default."""
    t_tot = sum(target_counts.values()) + buckets
    s_tot = sum(source_counts.values()) + buckets
    out: dict[int, float] = {}
    for b in set(target_counts) | set(source_counts):
        lr = math.log(
            ((target_counts.get(b, 0) + 1) / t_tot)
            / ((source_counts.get(b, 0) + 1) / s_tot)
        )
        out[int(b)] = round(lr / quantum) * quantum
    return out


def importance_score(
    df: DataFrame,
    text_col: str,
    table: dict[int, float],
    buckets: int,
    orders: tuple = (1, 2),
    default_logratio: float = 0.0,
    score_col: str = "dsir_logw",
) -> DataFrame:
    """log w per doc = sum over feature occurrences of
    table[bucket] (missing buckets contribute `default_logratio`).
    The table rides as ONE broadcast single-row map column; scoring
    is a single Catalyst fold — no shuffle, no Python."""
    from dbt_maxcompute_spark.operators.textanalysis import _shard_count

    spark = df.sparkSession
    # crc32-style sharding with integer keys (bucket = key % B, B a
    # power of two — trivially identical on both build and probe
    # sides): Catalyst's GetMapValue probe is a LINEAR scan over the
    # map keys, so a flat 1e5-entry table costs O(|table|) per feature
    # — the measured round-12 cliff in textanalysis._sharded_str_map
    nshards = _shard_count(len(table))
    shards: list[dict[int, float]] = [{} for _ in range(nshards)]
    for k, v in table.items():
        shards[int(k) % nshards][int(k)] = float(v)
    wdf = local_frame(spark, [(shards,)], "__dsir_m array<map<bigint,double>>")
    out = df.crossJoin(F.broadcast(wdf))

    def lookup(b: Column) -> Column:
        if nshards == 1:
            return F.element_at(F.element_at(F.col("__dsir_m"), 1), b)
        idx = F.pmod(b, F.lit(nshards)).cast("int")
        return F.element_at(F.element_at(F.col("__dsir_m"), idx + 1), b)

    feats = hashed_features(F.col(text_col), buckets, orders)
    score = F.aggregate(
        feats,
        F.lit(0.0),
        lambda acc, b: acc
        + F.coalesce(lookup(b), F.lit(float(default_logratio))),
    )
    return out.withColumn(score_col, score).drop("__dsir_m")


def _delta_partitions(buckets: int) -> int:
    """Final-agg task count for the incremental-profile delta: one task
    per ~64k buckets, capped at 32 — small profiles keep the single
    store file (guide §6 small-files), huge ones (1e6+ buckets) don't
    funnel the final aggregate through one straggler task (round-13
    verdict item 10)."""
    return max(1, min(32, buckets // 65536))


def update_profile_incremental(
    profile_store,
    changes: DataFrame,
    text_col: str,
    buckets: int,
    orders: tuple = (1, 2),
    batch_id: int | None = None,
    app_id: str = "dsir_profile",
) -> None:
    """Maintain a :func:`fit_profile` count store from a transaction-
    table CHANGE FEED instead of corpus rescans (round-12 verdict item
    8) — the profile tracks a mutating source corpus the way the
    engine's other incremental stores (boilerplate counts, LSH
    signatures) track theirs.

    ``changes`` is a net change feed (``TxnTable.change_feed``): rows
    with ``_change_type='insert'`` add their bucket counts, rows with
    ``'delete'`` subtract them (an update is its delete+insert pair,
    so the net is exact). The per-bucket delta upserts into
    ``profile_store`` — a txn table ``(bucket, cnt)`` — via ONE keyed
    DV commit; a bucket driven to 0 keeps its row (the store is
    model-sized, at most ``buckets`` entries) and readers filter
    ``cnt > 0`` via :func:`read_profile`.

    Scale shape: the delta aggregation is explode → groupBy(bucket)
    with map-side partials (≤ ``buckets`` rows per task, like
    :func:`fit_profile`); the feed itself costs O(|changes|) — the
    append fast path / DV pruning in ``change_feed`` — so a profile
    sync over a 100 TB corpus is proportional to the churn, never the
    corpus. ``batch_id`` (the corpus version synced through) rides the
    txn ledger for exactly-once replay, the same device as the
    engine's streaming sinks.
    """
    if batch_id is not None and profile_store.exists():
        last = profile_store.last_batch(str(app_id))
        if last is not None and int(batch_id) <= last:
            return  # replayed sync: deltas already applied exactly once
    sign = F.when(F.col("_change_type") == "insert", F.lit(1)).otherwise(
        F.lit(-1)
    )
    # explode-then-bucket (codegen md5, see _bucket_col) instead of
    # bucketing inside hashed_features' interpreted array lambdas —
    # identical bucket multiset, ~5x less CPU on the feed scan
    deltas = (
        _ngram_rows(
            changes.select(sign.alias("__s"), F.col(text_col)),
            text_col,
            orders,
            ["__s"],
        )
        .select("__s", _bucket_col(F.col("__f"), buckets).alias("bucket"))
        .groupBy("bucket")
        .agg(F.sum("__s").cast("long").alias("__delta"))
        .filter(F.col("__delta") != 0)
    )
    # the upsert path runs THREE actions over the delta frame (the
    # broadcast key probe, the DV write, the staging write); persisting
    # the aggregated deltas — model-sized, at most `buckets` rows —
    # pays the feed scan once instead of three times (guide §2: don't
    # recompute a lineage you can hold in memory at model size).
    # coalesce first: a persisted frame pins its partitioning, and
    # 32 near-empty post-shuffle partitions would otherwise stage 32
    # tiny store files PER SYNC (guide §6 small-files) — the map-side
    # partials stay parallel, only the ≤`buckets`-row final agg runs
    # in the coalesced tasks. Bounded, not 1 (round-13 verdict item
    # 10): one task per ~64k buckets caps the final-agg funnel at
    # large profiles while small profiles keep the single store file.
    deltas = deltas.coalesce(_delta_partitions(buckets)).persist()
    try:
        txn = (
            {"app_id": str(app_id), "batch_id": int(batch_id)}
            if batch_id is not None
            else None
        )
        if profile_store.exists():
            current = profile_store.read().select("bucket", "cnt")
            merged = deltas.join(current, on="bucket", how="left").select(
                "bucket",
                (F.coalesce(F.col("cnt"), F.lit(0)) + F.col("__delta"))
                .cast("long")
                .alias("cnt"),
            )
            profile_store.delete_insert_dv(merged, ["bucket"], txn=txn)
        else:
            profile_store.create(
                deltas.select(
                    "bucket", F.col("__delta").cast("long").alias("cnt")
                ),
                txn=txn,
            )
    finally:
        deltas.unpersist()


def read_profile(profile_store) -> DataFrame:
    """The live profile: zero-count buckets (fully churned away) are
    dead rows awaiting the next upsert, not observations."""
    return profile_store.read().filter(F.col("cnt") > 0).select("bucket", "cnt")


def gumbel_key(id_col: Column, score: Column, seed: int = 0) -> Column:
    """Gumbel top-k resampling key: score + G where G = -ln(-ln(u))
    and u in (0,1) derives from md5(id, seed) — deterministic given
    the seed, independent across ids; top-k by this key IS sampling
    without replacement with probability proportional to exp(score)
    (Vieira 2014). Pure Catalyst."""
    u_int = F.conv(
        F.substring(F.md5(F.concat_ws("\x1f", id_col, F.lit(str(seed)))), 1, 8),
        16,
        10,
    ).cast("double")
    u = (u_int + 0.5) / float(1 << 32)
    return score + (-F.log(-F.log(u)))


def select_top_k(
    scored: DataFrame,
    id_col: str,
    k: int,
    score_col: str = "dsir_logw",
    seed: int | None = None,
) -> DataFrame:
    """Keep the k source docs with the highest selection key —
    deterministic top-k when `seed` is None (ties break on id), Gumbel
    resampling when seeded. orderBy+limit compiles to
    TakeOrderedAndProject — per-partition partial top-k merged at the
    driver, k-bounded — NEVER a global row_number window (which would
    funnel the whole corpus through one reducer)."""
    key = (
        F.col(score_col)
        if seed is None
        else gumbel_key(F.col(id_col), F.col(score_col), seed)
    )
    return (
        scored.withColumn("__key", key)
        .orderBy(F.desc("__key"), F.col(id_col))
        .limit(int(k))
        .drop("__key")
    )
