"""Persisted IVF index: identical results to the inline path, and the
partition-pruning contract — probes prune the file listing, the scan
never touches unprobed cells (SCALE.md's promised artifact form)."""

from __future__ import annotations

from pyspark.sql import functions as F

from dbt_maxcompute_spark.operators import similarity
from tests.test_plan_quality import plan_of


def _emb(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/embeddings.parquet")


def test_cached_bench_index_hits_and_matches_fresh_build(
    spark, sf_dir, tmp_path, monkeypatch
):
    """The bench rows' index cache (round-11): a second resolve with
    the same (corpus fingerprint, params) is a pure cache hit — no new
    build — and searches against the cached artifact equal a fresh
    build_ivf_index of the same corpus (the build is deterministic)."""
    import os
    import tempfile as _tf

    from dbt_maxcompute_spark.suite.extras10_suite import _cached_ivf_index

    monkeypatch.setenv("TMPDIR", str(tmp_path))  # isolate the cache root
    _tf.tempdir = None
    try:
        idx1 = _cached_ivf_index(
            spark, sf_dir, num_centroids=8, pq_m=8, pq_ks=32
        )
        mtime = os.path.getmtime(os.path.join(idx1, "_ivf_meta.json"))
        idx2 = _cached_ivf_index(
            spark, sf_dir, num_centroids=8, pq_m=8, pq_ks=32
        )
        assert idx1 == idx2
        assert os.path.getmtime(os.path.join(idx1, "_ivf_meta.json")) == mtime

        fresh = str(tmp_path / "fresh")
        similarity.build_ivf_index(
            _emb(spark, sf_dir).select("vec_id", "embedding"),
            "vec_id", "embedding", fresh, num_centroids=8, pq_m=8, pq_ks=32,
        )
        q = _emb(spark, sf_dir).filter(F.col("vec_id") < 3)
        a = sorted(map(tuple, similarity.ivfpq_indexed_topk(spark, idx1, q, k=5, nprobe=4).collect()))
        b = sorted(map(tuple, similarity.ivfpq_indexed_topk(spark, fresh, q, k=5, nprobe=4).collect()))
        assert a == b and len(a) == 15

        # different params = different artifact, not a collision
        idx3 = _cached_ivf_index(
            spark, sf_dir, num_centroids=8, pq_m=8, pq_ks=32, pq_residual=True
        )
        assert idx3 != idx1
    finally:
        _tf.tempdir = None


def test_indexed_matches_inline(spark, sf_dir, tmp_path):
    emb = _emb(spark, sf_dir)
    queries = emb.filter(F.col("vec_id") < 3)
    idx_path = str(tmp_path / "ivf")
    similarity.build_ivf_index(emb, "vec_id", "embedding", idx_path, num_centroids=8)
    got = sorted(
        (r.query_id, r.neighbor_id, r.rank, r.cosine)
        for r in similarity.ivf_indexed_topk(
            spark, idx_path, queries, k=5, nprobe=3
        ).collect()
    )
    want = sorted(
        (r.query_id, r.neighbor_id, r.rank, r.cosine)
        for r in similarity.ivf_topk(
            emb, queries, "vec_id", "embedding", k=5, num_centroids=8, nprobe=3
        ).collect()
    )
    assert got == want and len(got) == 3 * 5


def test_indexed_scan_prunes_partitions(spark, sf_dir, tmp_path):
    emb = _emb(spark, sf_dir)
    queries = emb.filter(F.col("vec_id") < 2)
    idx_path = str(tmp_path / "ivf")
    meta = similarity.build_ivf_index(
        emb, "vec_id", "embedding", idx_path, num_centroids=8
    )
    out = similarity.ivf_indexed_topk(spark, idx_path, queries, k=5, nprobe=2)
    # the scan must carry a LITERAL partition IN-filter over at most
    # |queries| x nprobe cells — pruning in the file listing, before a
    # byte of data is read (inputFiles() reports pre-pruning files, so
    # the plan is the thing to pin)
    import re

    plan = plan_of(spark, out)
    pf_line = plan.split("PartitionFilters:", 1)[1].splitlines()[0]
    m = re.search(r"centroid_id[^ ]* as bigint\) IN \(([^)]*)\)|centroid_id#\d+ IN \(([^)]*)\)", pf_line)
    assert m, pf_line
    in_list = (m.group(1) or m.group(2)).split(",")
    assert 0 < len(in_list) <= 2 * 2 < meta["num_centroids"]


# -- round-8: incremental maintenance ---------------------------------------

def _cell_listing(idx_path):
    """cell dir -> sorted (file, size) pairs, data files only."""
    import os

    out = {}
    for d in os.listdir(idx_path):
        if not d.startswith("centroid_id="):
            continue
        p = os.path.join(idx_path, d)
        out[d] = sorted(
            (f, os.path.getsize(os.path.join(p, f)))
            for f in os.listdir(p)
            if f.endswith(".parquet")
        )
    return out


def _changes(emb):
    """Keyed-CDF batch: delete %7==0 of the base, negate %11==1
    (update pair), insert the held-out %5==4 slice."""
    base = emb.filter(F.col("vec_id") % 5 != 4)
    dels = base.filter(F.col("vec_id") % 7 == 0).withColumn(
        "_change_type", F.lit("delete")
    )
    upd_keys = base.filter(
        (F.col("vec_id") % 7 != 0) & (F.col("vec_id") % 11 == 1)
    )
    pre = upd_keys.withColumn("_change_type", F.lit("update_preimage"))
    post = upd_keys.withColumn(
        "embedding", F.transform("embedding", lambda x: (-x).cast("float"))
    ).withColumn("_change_type", F.lit("update_postimage"))
    ins = emb.filter(F.col("vec_id") % 5 == 4).withColumn(
        "_change_type", F.lit("insert")
    )
    return dels.unionByName(pre).unionByName(post).unionByName(ins)


def _final_corpus(emb):
    kept = emb.filter((F.col("vec_id") % 5 != 4) & (F.col("vec_id") % 7 != 0))
    flipped = kept.withColumn(
        "embedding",
        F.when(
            F.col("vec_id") % 11 == 1,
            F.transform("embedding", lambda x: (-x).cast("float")),
        ).otherwise(F.col("embedding")),
    )
    return flipped.unionByName(emb.filter(F.col("vec_id") % 5 == 4))


def test_maintain_matches_fresh_assignment(spark, sf_dir, tmp_path):
    """Maintained index content == the final corpus assigned under the
    ORIGINAL (sidecar) centroids — cell placement and vectors both,
    via signed-count multiset equality."""
    import json
    import os

    emb = _emb(spark, sf_dir).select("vec_id", "embedding")
    base = emb.filter(F.col("vec_id") % 5 != 4)
    idx_path = str(tmp_path / "ivf")
    similarity.build_ivf_index(base, "vec_id", "embedding", idx_path, num_centroids=8)
    res = similarity.maintain_ivf_index(spark, idx_path, _changes(emb))
    assert res["touched_cells"]

    with open(os.path.join(idx_path, "_ivf_meta.json")) as fh:
        meta = json.load(fh)
    want = similarity.assign_with_meta(_final_corpus(emb), meta)
    got = spark.read.parquet(idx_path)
    cols = ["vec_id", "centroid_id"]
    net = (
        got.select(*cols, F.hash("embedding").alias("eh")).withColumn("__s", F.lit(1))
        .unionByName(
            want.select(*cols, F.hash("embedding").alias("eh")).withColumn(
                "__s", F.lit(-1)
            )
        )
        .groupBy(*cols, "eh")
        .agg(F.sum("__s").alias("net"))
        .filter(F.col("net") != 0)
        .count()
    )
    assert net == 0
    # search still works against the maintained artifact
    queries = _final_corpus(emb).filter(F.col("vec_id").isin(1, 2, 3))
    out = similarity.ivf_indexed_topk(spark, idx_path, queries, k=5, nprobe=3)
    per_q = {r.query_id: r.n for r in out.groupBy("query_id").agg(F.count("*").alias("n")).collect()}
    assert per_q == {1: 5, 2: 5, 3: 5}


def test_maintain_touches_only_changed_cells(spark, sf_dir, tmp_path):
    """Untouched cell directories are byte-identical after maintenance
    (same files, same sizes) — the rewrite set is the touched cells,
    nothing else."""
    emb = _emb(spark, sf_dir).select("vec_id", "embedding")
    base = emb.filter(F.col("vec_id") % 5 != 4)
    idx_path = str(tmp_path / "ivf")
    similarity.build_ivf_index(base, "vec_id", "embedding", idx_path, num_centroids=16)
    before = _cell_listing(idx_path)
    # a small, cell-local batch: delete + reinsert two specific rows
    two = base.filter(F.col("vec_id").isin(10, 20))
    batch = two.withColumn("_change_type", F.lit("delete")).unionByName(
        two.withColumn("_change_type", F.lit("insert"))
    )
    res = similarity.maintain_ivf_index(spark, idx_path, batch)
    after = _cell_listing(idx_path)
    touched_dirs = {f"centroid_id={c}" for c in res["touched_cells"]}
    assert 0 < len(touched_dirs) <= 2
    for d, listing in before.items():
        if d not in touched_dirs:
            assert after[d] == listing, f"untouched cell {d} was rewritten"
    # content unchanged overall (delete+reinsert is a no-op)
    assert spark.read.parquet(idx_path).count() == base.count()


def test_sync_from_txn_table_exactly_once(spark, sf_dir, tmp_path):
    """Round-8: the cursor-based sync — a transactional corpus table's
    keyed change feed drives touched-cell maintenance; the sidecar
    cursor makes replays no-ops, and a crash BETWEEN the cell swap and
    the cursor write (simulated by re-applying the same feed) changes
    nothing thanks to the idempotent upsert."""
    import json
    import os

    from dbt_maxcompute_spark.txnlog import TxnTable

    emb = _emb(spark, sf_dir).select("vec_id", "embedding")
    t = TxnTable(spark, str(tmp_path / "corpus"))
    t.create(emb.filter(F.col("vec_id") % 5 != 4))
    idx = str(tmp_path / "ivf")
    similarity.build_ivf_index(
        t.read(), "vec_id", "embedding", idx,
        num_centroids=8, cursor=t.latest_version(),
    )
    t.delete_where_dv("vec_id % 7 = 0")
    upd = t.read().filter(F.col("vec_id") % 11 == 1).withColumn(
        "embedding", F.transform("embedding", lambda x: (x + 1.0).cast("float"))
    )
    t.delete_insert_dv(upd, ["vec_id"])
    t.append(emb.filter(F.col("vec_id") % 5 == 4))

    n1 = similarity.sync_ivf_index_from_table(spark, idx, t)
    assert n1 > 0
    assert similarity.sync_ivf_index_from_table(spark, idx, t) == 0  # replay

    with open(os.path.join(idx, "_ivf_meta.json")) as fh:
        meta = json.load(fh)
    assert meta["cursor"] == t.latest_version()
    want = similarity.assign_with_meta(t.read(), meta)
    got = spark.read.parquet(idx)
    cols = ["vec_id"]
    net = (
        got.select(*cols, F.col("centroid_id").cast("string").alias("c"),
                   F.hash("embedding").alias("eh")).withColumn("__s", F.lit(1))
        .unionByName(
            want.select(*cols, F.col("centroid_id").cast("string").alias("c"),
                        F.hash("embedding").alias("eh")).withColumn("__s", F.lit(-1))
        )
        .groupBy("vec_id", "c", "eh")
        .agg(F.sum("__s").alias("net"))
        .filter(F.col("net") != 0)
        .count()
    )
    assert net == 0
    # crash-window simulation: the swap happened but the cursor write
    # didn't — re-applying the SAME feed is a no-op on content
    feed = t.change_feed_keyed(["vec_id"], 0, t.latest_version())
    before = got.count()
    similarity.maintain_ivf_index(spark, idx, feed)
    assert spark.read.parquet(idx).count() == before


def test_maintain_empties_cell_and_noop_batch(spark, sf_dir, tmp_path):
    """Deleting every row of a cell removes its directory; an empty
    change batch touches nothing."""
    import os

    emb = _emb(spark, sf_dir).select("vec_id", "embedding")
    base = emb.filter(F.col("vec_id") < 200)
    idx_path = str(tmp_path / "ivf")
    similarity.build_ivf_index(base, "vec_id", "embedding", idx_path, num_centroids=4)
    cells = spark.read.parquet(idx_path)
    victim = cells.groupBy("centroid_id").count().orderBy("count").first()
    victim_rows = cells.filter(F.col("centroid_id") == victim["centroid_id"])
    batch = victim_rows.drop("centroid_id").withColumn(
        "_change_type", F.lit("delete")
    )
    res = similarity.maintain_ivf_index(spark, idx_path, batch)
    # session reads partition values back as strings (type inference
    # off); the maintenance assignment yields the native id type —
    # same cell, same directory name
    assert [str(c) for c in res["touched_cells"]] == [str(victim["centroid_id"])]
    assert not os.path.exists(
        os.path.join(idx_path, f"centroid_id={victim['centroid_id']}")
    )
    assert (
        spark.read.parquet(idx_path).count()
        == base.count() - victim["count"]
    )
    # empty batch: no touched cells, listing unchanged
    before = _cell_listing(idx_path)
    res = similarity.maintain_ivf_index(spark, idx_path, batch.limit(0))
    assert res == {"touched_cells": [], "n_changes": 0}
    assert _cell_listing(idx_path) == before


def test_cell_swap_is_crash_atomic(spark, sf_dir, tmp_path, monkeypatch):
    """Round-9 advisory fix: a crash between the aside-rename and the
    staged move-in must not lose the cell's pre-existing rows. The old
    dir is renamed aside (never deleted first); _heal_ivf_cells on the
    next maintain/search restores it, and the replayed batch then
    applies cleanly."""
    import os
    import shutil

    emb = _emb(spark, sf_dir).select("vec_id", "embedding")
    base = emb.filter(F.col("vec_id") < 300)
    idx_path = str(tmp_path / "ivf")
    similarity.build_ivf_index(base, "vec_id", "embedding", idx_path, num_centroids=4)
    before_rows = spark.read.parquet(idx_path).count()
    two = base.filter(F.col("vec_id").isin(10, 20))
    batch = two.withColumn("_change_type", F.lit("delete")).unionByName(
        two.withColumn("_change_type", F.lit("insert"))
    )

    def exploding_move(src, dst):
        raise RuntimeError("simulated crash between aside-rename and move-in")

    monkeypatch.setattr(shutil, "move", exploding_move)
    try:
        similarity.maintain_ivf_index(spark, idx_path, batch)
        raise AssertionError("simulated crash did not fire")
    except RuntimeError:
        pass
    monkeypatch.undo()
    # crash window: some cell's live dir is gone but its aside survives
    asides = [d for d in os.listdir(idx_path) if d.endswith(".old")]
    assert asides, "crash should have left an aside dir"
    # search heals before probing — full corpus visible again
    q = base.filter(F.col("vec_id") == 1)
    out = similarity.ivf_indexed_topk(spark, idx_path, q, k=3, nprobe=4)
    assert out.count() == 3
    assert not [d for d in os.listdir(idx_path) if d.endswith(".old")]
    assert spark.read.parquet(idx_path).count() == before_rows
    # replaying the batch after heal applies cleanly (delete+reinsert
    # is content-neutral)
    similarity.maintain_ivf_index(spark, idx_path, batch)
    assert spark.read.parquet(idx_path).count() == before_rows


def test_heal_drops_stale_aside_when_swap_completed(tmp_path):
    """Other crash window: the staged dir moved in but the aside was
    not yet dropped — heal keeps the NEW live dir and removes the
    stale aside."""
    import os

    idx = tmp_path / "ivf"
    live = idx / "centroid_id=3"
    aside = idx / ".centroid_id=3.old"
    live.mkdir(parents=True)
    aside.mkdir()
    (live / "part-new.parquet").write_bytes(b"new")
    (aside / "part-old.parquet").write_bytes(b"old")
    assert similarity._heal_ivf_cells(str(idx)) == 1
    assert os.listdir(idx) == ["centroid_id=3"]
    assert os.listdir(live) == ["part-new.parquet"]


# -- round-9: stats-triggered coarse-quantizer rebalance ---------------------

def _inflate_one_cell(spark, base, idx_path, mult=3):
    """Insert mult*|base| copies of one vector via maintenance — the
    churn pattern that skews cell sizes while centroids stay fixed."""
    v = base.filter(F.col("vec_id") == 1).collect()[0]["embedding"]
    n = base.count()
    dup = spark.range(1_000_000, 1_000_000 + mult * n).select(
        F.col("id").alias("vec_id"),
        F.lit([float(x) for x in v]).cast("array<float>").alias("embedding"),
    )
    similarity.maintain_ivf_index(
        spark, idx_path, dup.withColumn("_change_type", F.lit("insert"))
    )


def test_rebalance_triggers_and_matches_fresh_build(spark, sf_dir, tmp_path):
    """A skewed index (one hot cell from churn) trips the row-count
    skew trigger; the rebalanced index is IDENTICAL to a fresh build of
    the final corpus (deterministic id-hash centroid pick); a second
    call is a no-op that touches no cell directory."""
    import json
    import os

    emb = _emb(spark, sf_dir).select("vec_id", "embedding")
    base = emb.filter(F.col("vec_id") % 5 != 4)
    idx = str(tmp_path / "ivf")
    similarity.build_ivf_index(
        base, "vec_id", "embedding", idx, num_centroids=8, cursor=7
    )
    _inflate_one_cell(spark, base, idx)
    res = similarity.maybe_rebalance_ivf_index(spark, idx, skew_threshold=3.0)
    assert res["rebalanced"] and res["skew"] > 3.0
    # cursor carried over: the CDF sync cadence survives the rebalance
    with open(os.path.join(idx, "_ivf_meta.json")) as fh:
        assert json.load(fh)["cursor"] == 7
    # identical to a fresh build of the same corpus
    fresh = str(tmp_path / "fresh")
    similarity.build_ivf_index(
        spark.read.parquet(idx).drop("centroid_id"),
        "vec_id", "embedding", fresh, num_centroids=8,
    )
    with open(os.path.join(idx, "_ivf_meta.json")) as fh:
        m1 = json.load(fh)
    with open(os.path.join(fresh, "_ivf_meta.json")) as fh:
        m2 = json.load(fh)
    assert m1["ids"] == m2["ids"] and m1["unit_mat"] == m2["unit_mat"]
    q = base.filter(F.col("vec_id").isin(1, 2, 3))
    a = sorted(map(tuple, similarity.ivf_indexed_topk(spark, idx, q, k=5, nprobe=3).collect()))
    b = sorted(map(tuple, similarity.ivf_indexed_topk(spark, fresh, q, k=5, nprobe=3).collect()))
    assert a == b and len(a) == 15
    # balanced now: same threshold no-ops and rewrites nothing
    before = _cell_listing(idx)
    res2 = similarity.maybe_rebalance_ivf_index(spark, idx, skew_threshold=3.0)
    assert not res2["rebalanced"] and res2["skew"] < 3.0
    assert _cell_listing(idx) == before


def test_rebalance_noop_below_threshold_touches_nothing(spark, sf_dir, tmp_path):
    emb = _emb(spark, sf_dir).select("vec_id", "embedding")
    idx = str(tmp_path / "ivf")
    similarity.build_ivf_index(emb, "vec_id", "embedding", idx, num_centroids=8)
    before = _cell_listing(idx)
    res = similarity.maybe_rebalance_ivf_index(spark, idx, skew_threshold=1e9)
    assert res == {"rebalanced": False, "skew": res["skew"]}
    assert _cell_listing(idx) == before


def test_rebalance_swap_crash_heals(spark, sf_dir, tmp_path):
    """Crash windows of the whole-index swap: (a) old index renamed
    aside, new not yet in place — heal restores the old; (b) swap
    completed, stale aside left — heal drops it; leftover stage dirs
    are garbage-collected."""
    import os
    import shutil

    emb = _emb(spark, sf_dir).select("vec_id", "embedding")
    idx = str(tmp_path / "ivf")
    similarity.build_ivf_index(emb, "vec_id", "embedding", idx, num_centroids=4)
    rows = spark.read.parquet(idx).count()
    # (a) crash between the two renames
    os.replace(idx, idx + ".rebal.old")
    q = emb.filter(F.col("vec_id") == 1)
    out = similarity.ivf_indexed_topk(spark, idx, q, k=3, nprobe=4)
    assert out.count() == 3
    assert not os.path.exists(idx + ".rebal.old")
    assert spark.read.parquet(idx).count() == rows
    # (b) stale aside next to a live index + a leftover stage
    os.makedirs(idx + ".rebal.old")
    shutil.copytree(idx, idx + ".rebal.tmp")
    similarity.maybe_rebalance_ivf_index(spark, idx, skew_threshold=1e9)
    assert not os.path.exists(idx + ".rebal.old")
    assert not os.path.exists(idx + ".rebal.tmp")
    assert spark.read.parquet(idx).count() == rows


# ---------------------------------------------------------------------------
# round-10: PQ codes + codebook persisted in the index artifact
# ---------------------------------------------------------------------------


def test_pq_indexed_matches_per_call_ivfpq(spark, sf_dir, tmp_path):
    """A pq_m build persists the codebook in the sidecar and the m-int
    codes per row; ivfpq_indexed_topk trains NOTHING at query time yet
    returns exactly what the per-call ivfpq_topk computes with the same
    parameters (codebook training is deterministic by id-hash, so the
    persisted and per-call codebooks coincide)."""
    emb = _emb(spark, sf_dir)
    queries = emb.filter(F.col("vec_id") < 3)
    idx = str(tmp_path / "ivfpq")
    meta = similarity.build_ivf_index(
        emb, "vec_id", "embedding", idx, num_centroids=8, pq_m=8, pq_ks=32
    )
    assert meta["pq"]["m"] == 8 and len(meta["pq"]["codebook"]) == 8
    got = sorted(
        map(
            tuple,
            similarity.ivfpq_indexed_topk(
                spark, idx, queries, k=5, nprobe=4, cand_mult=8
            ).collect(),
        )
    )
    want = sorted(
        map(
            tuple,
            similarity.ivfpq_topk(
                emb, queries, "vec_id", "embedding",
                k=5, num_centroids=8, nprobe=4, m=8, ks=32, cand_mult=8,
            ).collect(),
        )
    )
    assert got == want and len(got) == 3 * 5


def test_pq_index_scoring_scan_skips_vector_column(spark, sf_dir, tmp_path):
    """The ADC scoring scan must read (id, codes, centroid) ONLY — the
    dim-float vector column stays out of its ReadSchema (parquet column
    pruning), and the probed-cell partition filter still applies. The
    re-rank scan reads vectors for the candidate short list alone."""
    emb = _emb(spark, sf_dir)
    queries = emb.filter(F.col("vec_id") < 2)
    idx = str(tmp_path / "ivfpq")
    similarity.build_ivf_index(
        emb, "vec_id", "embedding", idx, num_centroids=8, pq_m=8, pq_ks=32
    )
    out = similarity.ivfpq_indexed_topk(spark, idx, queries, k=5, nprobe=2)
    plan = plan_of(spark, out)
    scans = [
        blk for blk in plan.split("(") if "ReadSchema" in blk and "__pq_codes" in blk
    ]
    assert scans, plan
    assert all("embedding" not in blk.split("ReadSchema:", 1)[1].splitlines()[0]
               for blk in scans), plan
    assert "PartitionFilters" in plan


def test_pq_index_maintenance_encodes_with_fixed_codebook(
    spark, sf_dir, tmp_path
):
    """Touched-cell maintenance on a pq index: the sidecar codebook
    stays FIXED (same posture as the fixed centroids — only rebalance
    retrains), batch rows get codes from it, every stored row keeps a
    codes column, and every stored code equals a re-encode of its own
    vector under the sidecar codebook (old rows and maintained rows
    are indistinguishable)."""
    import json
    import os

    from dbt_maxcompute_spark.operators import quantize

    emb = _emb(spark, sf_dir).select("vec_id", "embedding")
    base = emb.filter(F.col("vec_id") % 5 != 4)
    idx = str(tmp_path / "ivfpq")
    m0 = similarity.build_ivf_index(
        base, "vec_id", "embedding", idx, num_centroids=8, pq_m=8, pq_ks=32
    )
    similarity.maintain_ivf_index(spark, idx, _changes(emb))
    with open(os.path.join(idx, "_ivf_meta.json")) as fh:
        m1 = json.load(fh)
    assert m1["pq"]["codebook"] == m0["pq"]["codebook"]  # fixed, no retrain

    stored = spark.read.parquet(idx)
    assert stored.filter(F.col("__pq_codes").isNull()).count() == 0
    # content matches the final corpus (ids + vectors), codes included
    want_ids = {r.vec_id for r in _final_corpus(emb).collect()}
    assert {r.vec_id for r in stored.collect()} == want_ids
    recoded = quantize.pq_encode(
        stored.select("vec_id", "embedding", F.col("__pq_codes").alias("__stored")),
        "embedding",
        m1["pq"]["codebook"],
    )
    assert recoded.filter(F.col("__stored") != F.col("__codes")).count() == 0


def test_pq_index_rebalance_retrains_codebook(spark, sf_dir, tmp_path):
    """The drift rebalance retrains centroids AND codebook (both are
    quantizers over the same drifted corpus); the rebalanced pq index
    matches a fresh pq build of the final corpus."""
    import json
    import os

    emb = _emb(spark, sf_dir).select("vec_id", "embedding")
    base = emb.filter(F.col("vec_id") % 5 != 4)
    idx = str(tmp_path / "ivfpq")
    similarity.build_ivf_index(
        base, "vec_id", "embedding", idx, num_centroids=8, pq_m=8, pq_ks=32
    )
    _inflate_one_cell(spark, base, idx)
    res = similarity.maybe_rebalance_ivf_index(spark, idx, skew_threshold=3.0)
    assert res["rebalanced"]
    fresh = str(tmp_path / "fresh")
    similarity.build_ivf_index(
        spark.read.parquet(idx).drop("centroid_id", "__pq_codes"),
        "vec_id", "embedding", fresh, num_centroids=8, pq_m=8, pq_ks=32,
    )
    with open(os.path.join(idx, "_ivf_meta.json")) as fh:
        m1 = json.load(fh)
    with open(os.path.join(fresh, "_ivf_meta.json")) as fh:
        m2 = json.load(fh)
    assert m1["pq"]["codebook"] == m2["pq"]["codebook"]
    assert m1["ids"] == m2["ids"]
    q = base.filter(F.col("vec_id").isin(1, 2, 3))
    a = sorted(map(tuple, similarity.ivfpq_indexed_topk(spark, idx, q, k=5, nprobe=3).collect()))
    b = sorted(map(tuple, similarity.ivfpq_indexed_topk(spark, fresh, q, k=5, nprobe=3).collect()))
    assert a == b and len(a) == 15


# ---------------------------------------------------------------------------
# property: any DML sequence + any sync cadence == full re-assignment
# ---------------------------------------------------------------------------

import json as _json  # noqa: E402
import os as _os  # noqa: E402
import tempfile as _tempfile  # noqa: E402

from hypothesis import HealthCheck, given, settings  # noqa: E402
from hypothesis import strategies as st  # noqa: E402

from dbt_maxcompute_spark.txnlog import TxnTable  # noqa: E402


def _vec(i: int, salt: int) -> list[float]:
    # deterministic, never all-zero (consecutive components differ)
    return [float((i * 7 + salt * 3 + d) % 13 - 6) for d in range(4)]


def _mk_corpus(spark, ids, salt):
    rows = [(int(i), _vec(i, salt.get(i, 0))) for i in sorted(ids)]
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>")


_IVF_OP = st.one_of(
    st.tuples(st.just("append"), st.integers(1, 3)),
    st.tuples(st.just("delete_mod"), st.integers(0, 2)),
    st.tuples(
        st.just("upsert"),
        st.lists(st.integers(0, 14), min_size=1, max_size=3, unique=True),
    ),
)


@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(ops=st.lists(st.tuples(_IVF_OP, st.booleans()), min_size=1, max_size=4))
def test_ivf_sync_equals_reassignment_for_any_dml_sequence(spark, ops):
    """For ANY interleaving of appends / predicate deletes / key
    upserts on the corpus table, and ANY sync cadence (each op may or
    may not be followed by a sync — multi-commit feed intervals
    included), the synced index content equals assigning the final
    corpus under the sidecar centroids."""
    base_dir = _tempfile.mkdtemp(prefix="ivfh_")
    t = TxnTable(spark, base_dir + "/corpus")
    ids = set(range(12))
    salt: dict[int, int] = {}
    t.create(_mk_corpus(spark, ids, salt))
    idx = base_dir + "/ivf"
    similarity.build_ivf_index(
        t.read(), "vec_id", "embedding", idx,
        num_centroids=4, cursor=t.latest_version(),
    )
    next_id = 100
    for (op, arg), do_sync in ops:
        if op == "append":
            new = list(range(next_id, next_id + arg))
            next_id += arg
            ids.update(new)
            t.append(_mk_corpus(spark, new, salt))
        elif op == "delete_mod":
            t.delete_where_dv(f"vec_id % 3 = {arg}")
            ids = {i for i in ids if i % 3 != arg}
        else:
            for i in arg:
                salt[i] = salt.get(i, 0) + 1
            t.delete_insert_dv(_mk_corpus(spark, arg, salt), ["vec_id"])
            ids.update(arg)
        if do_sync:
            similarity.sync_ivf_index_from_table(spark, idx, t)
    similarity.sync_ivf_index_from_table(spark, idx, t)

    with open(_os.path.join(idx, "_ivf_meta.json")) as fh:
        meta = _json.load(fh)
    cell_dirs = [d for d in _os.listdir(idx) if d.startswith("centroid_id=")]
    if not ids:
        assert cell_dirs == []
        return
    want = {
        (r["vec_id"], str(r["centroid_id"]), tuple(r["embedding"]))
        for r in similarity.assign_with_meta(
            _mk_corpus(spark, ids, salt), meta
        ).collect()
    }
    got = {
        (r["vec_id"], str(r["centroid_id"]), tuple(r["embedding"]))
        for r in spark.read.parquet(idx).collect()
    }
    assert got == want


def test_pq_residual_index_roundtrip_and_better_quantization(spark, sf_dir, tmp_path):
    """Residual IVFADC (Jegou §V): codes quantize x̂ - ĉ_cell; stored
    codes equal a re-encode of the residuals under the sidecar
    codebook, search returns full top-k with the per-cell constant
    added back, and the residual reconstruction error is no worse than
    the raw-vector codes' on the same corpus (residuals concentrate
    near the origin — the point of the formulation)."""
    import json
    import os

    from pyspark.sql import functions as FF

    from dbt_maxcompute_spark.operators import quantize

    emb = _emb(spark, sf_dir).select("vec_id", "embedding")
    queries = emb.filter(F.col("vec_id") < 3)
    idx = str(tmp_path / "res")
    meta = similarity.build_ivf_index(
        emb, "vec_id", "embedding", idx,
        num_centroids=8, pq_m=8, pq_ks=32, pq_residual=True,
    )
    assert meta["pq"]["residual"] is True

    # stored codes == re-encode of residuals (fixed codebook, no drift)
    stored = spark.read.parquet(idx)
    recoded = quantize.pq_encode(
        stored.withColumn(
            "__pq_res",
            similarity._residual_expr("embedding", meta["ids"], meta["unit_mat"]),
        ).select("vec_id", "__pq_res", FF.col("__pq_codes").alias("__stored")),
        "__pq_res",
        meta["pq"]["codebook"],
        normalize=False,
    )
    assert recoded.filter(FF.col("__stored") != FF.col("__codes")).count() == 0

    out = similarity.ivfpq_indexed_topk(spark, idx, queries, k=5, nprobe=4)
    rows = out.collect()
    assert len(rows) == 3 * 5
    assert {r.rank for r in rows} == {1, 2, 3, 4, 5}

    # search quality: residual codes' recall against exact top-k must
    # not collapse below the raw-codes index's on the same
    # corpus/queries (small slack absorbs tie reshuffles)
    def _recall_hits(index_path):
        res = similarity.ivfpq_indexed_topk(
            spark, index_path, queries, k=5, nprobe=8, cand_mult=8
        )
        brute = similarity.brute_force_topk(emb, queries, "vec_id", "embedding", k=5)
        return res.join(
            brute.select("query_id", "neighbor_id"),
            ["query_id", "neighbor_id"],
            "left_semi",
        ).count()  # hits out of 15

    raw = str(tmp_path / "raw")
    similarity.build_ivf_index(
        emb, "vec_id", "embedding", raw, num_centroids=8, pq_m=8, pq_ks=32
    )
    assert _recall_hits(idx) >= _recall_hits(raw) - 2


def test_pq_residual_maintenance_and_rebalance(spark, sf_dir, tmp_path):
    """Maintenance encodes batch residuals against FIXED centroids +
    FIXED codebook; rebalance retrains both and the rebalanced index
    matches a fresh residual build of the final corpus."""
    import json
    import os

    emb = _emb(spark, sf_dir).select("vec_id", "embedding")
    base = emb.filter(F.col("vec_id") % 5 != 4)
    idx = str(tmp_path / "res")
    m0 = similarity.build_ivf_index(
        base, "vec_id", "embedding", idx,
        num_centroids=8, pq_m=8, pq_ks=32, pq_residual=True,
    )
    similarity.maintain_ivf_index(spark, idx, _changes(emb))
    with open(os.path.join(idx, "_ivf_meta.json")) as fh:
        m1 = json.load(fh)
    assert m1["pq"]["codebook"] == m0["pq"]["codebook"]
    stored = spark.read.parquet(idx)
    assert stored.filter(F.col("__pq_codes").isNull()).count() == 0
    assert {r.vec_id for r in stored.collect()} == {
        r.vec_id for r in _final_corpus(emb).collect()
    }

    _inflate_one_cell(spark, base, idx)
    res = similarity.maybe_rebalance_ivf_index(spark, idx, skew_threshold=3.0)
    assert res["rebalanced"]
    with open(os.path.join(idx, "_ivf_meta.json")) as fh:
        m2 = json.load(fh)
    assert m2["pq"]["residual"] is True  # survives the retrain
    fresh = str(tmp_path / "fresh")
    similarity.build_ivf_index(
        spark.read.parquet(idx).drop("centroid_id", "__pq_codes"),
        "vec_id", "embedding", fresh,
        num_centroids=8, pq_m=8, pq_ks=32, pq_residual=True,
    )
    with open(os.path.join(fresh, "_ivf_meta.json")) as fh:
        m3 = json.load(fh)
    assert m2["pq"]["codebook"] == m3["pq"]["codebook"]
    q = base.filter(F.col("vec_id").isin(1, 2, 3))
    a = sorted(map(tuple, similarity.ivfpq_indexed_topk(spark, idx, q, k=5, nprobe=3).collect()))
    b = sorted(map(tuple, similarity.ivfpq_indexed_topk(spark, fresh, q, k=5, nprobe=3).collect()))
    assert a == b and len(a) == 15


def test_maintain_and_search_survive_fully_emptied_index(spark, sf_dir, tmp_path):
    """Round-10 (hypothesis-found): deleting EVERY row leaves the index
    with no cell dirs — the parquet reader cannot infer a schema from
    zero files. Maintenance must still apply the next batch (rebuilding
    cells from the batch alone), and search over the emptied index must
    return an empty result, not crash."""
    emb = _emb(spark, sf_dir).select("vec_id", "embedding")
    base = emb.filter(F.col("vec_id") < 50)
    idx = str(tmp_path / "ivf")
    similarity.build_ivf_index(base, "vec_id", "embedding", idx, num_centroids=4)
    # delete everything
    similarity.maintain_ivf_index(
        spark, idx, base.withColumn("_change_type", F.lit("delete"))
    )
    import os

    assert not any(d.startswith("centroid_id=") for d in os.listdir(idx))
    q = emb.filter(F.col("vec_id") < 2)
    assert similarity.ivf_indexed_topk(spark, idx, q, k=3, nprobe=2).count() == 0
    # re-insert a slice: maintenance rebuilds cells from the batch
    back = emb.filter(F.col("vec_id") < 20)
    res = similarity.maintain_ivf_index(
        spark, idx, back.withColumn("_change_type", F.lit("insert"))
    )
    assert res["n_changes"] == 20
    assert spark.read.parquet(idx).count() == 20
    out = similarity.ivf_indexed_topk(spark, idx, q, k=3, nprobe=4)
    per_q = {r.query_id: r.n for r in
             out.groupBy("query_id").agg(F.count("*").alias("n")).collect()}
    assert per_q == {0: 3, 1: 3}
    # same guards on the pq path
    pqi = str(tmp_path / "pq")
    similarity.build_ivf_index(
        base, "vec_id", "embedding", pqi, num_centroids=4, pq_m=8, pq_ks=16
    )
    similarity.maintain_ivf_index(
        spark, pqi, base.withColumn("_change_type", F.lit("delete"))
    )
    assert similarity.ivfpq_indexed_topk(spark, pqi, q, k=3, nprobe=2).count() == 0
    similarity.maintain_ivf_index(
        spark, pqi, back.withColumn("_change_type", F.lit("insert"))
    )
    assert similarity.ivfpq_indexed_topk(spark, pqi, q, k=3, nprobe=4).count() == 6


def test_cached_bench_index_key_is_salted_by_build_recipe(
    spark, sf_dir, tmp_path, monkeypatch
):
    """Round-12 (r11 advisory): the cache key includes a hash of the
    build CODE — a recipe change must be a cache miss, never a stale
    artifact served from a long-lived /tmp cache. A rename failure
    that is NOT a concurrent-winner signature re-raises instead of
    discarding the stage and crashing later on a missing meta file."""
    import os
    import tempfile as _tf

    from dbt_maxcompute_spark.suite import extras10_suite as e10

    monkeypatch.setenv("TMPDIR", str(tmp_path))
    _tf.tempdir = None
    try:
        idx1 = e10._cached_ivf_index(
            spark, sf_dir, num_centroids=8, pq_m=8, pq_ks=32
        )
        monkeypatch.setattr(
            e10, "_build_recipe_hash", lambda: "new-recipe-version"
        )
        idx2 = e10._cached_ivf_index(
            spark, sf_dir, num_centroids=8, pq_m=8, pq_ks=32
        )
        assert idx1 != idx2, "recipe change must miss the cache"
        assert os.path.exists(os.path.join(idx2, "_ivf_meta.json"))

        # non-winner rename failure surfaces instead of being eaten
        real_rename = os.rename

        def deny(src, dst):
            raise PermissionError(13, "denied", src)

        monkeypatch.setattr(e10, "_build_recipe_hash", lambda: "v3")
        monkeypatch.setattr(os, "rename", deny)
        try:
            import pytest as _pt

            with _pt.raises(PermissionError):
                e10._cached_ivf_index(
                    spark, sf_dir, num_centroids=8, pq_m=8, pq_ks=32
                )
        finally:
            monkeypatch.setattr(os, "rename", real_rename)
    finally:
        _tf.tempdir = None


def test_maintain_kept_checkpoint_matches_fresh_assignment(
    spark, sf_dir, tmp_path
):
    """r13 §13: `kept` (touched-cell read minus removals) feeds both the
    idempotence anti-join and the written union; the lazy localCheckpoint
    that makes it evaluate once must not change the maintained artifact.
    After the full keyed-CDF batch (deletes, update pairs, inserts) the
    index must hold exactly the post-change corpus placed by
    ``assign_with_meta``, and replaying the batch must change nothing."""
    import json

    emb = _emb(spark, sf_dir).select("vec_id", "embedding")
    base = emb.filter(F.col("vec_id") % 5 != 4)
    idx_path = str(tmp_path / "ivf")
    similarity.build_ivf_index(
        base, "vec_id", "embedding", idx_path, num_centroids=8
    )
    with open(f"{idx_path}/_ivf_meta.json") as fh:
        meta = json.load(fh)

    def index_rows():
        return sorted(
            (r.vec_id, r.centroid_id, tuple(r.embedding))
            for r in spark.read.parquet(idx_path).collect()
        )

    res = similarity.maintain_ivf_index(spark, idx_path, _changes(emb))
    rows = index_rows()
    # partition values read back as strings (no partition type inference)
    want = sorted(
        (r.vec_id, str(r.centroid_id), tuple(r.embedding))
        for r in similarity.assign_with_meta(_final_corpus(emb), meta).collect()
    )
    assert rows == want
    assert res["touched_cells"]
    # replay the same batch: the idempotent upsert (which consumes
    # `kept` a second way) must be a no-op
    res2 = similarity.maintain_ivf_index(spark, idx_path, _changes(emb))
    assert res2["touched_cells"] == res["touched_cells"]
    assert index_rows() == rows
