"""Round-3 hardening: star-contraction connected components, durable
checkpointing, quadratic-baseline guards, scoped cache release, dmdt
mega-key cap, IVF seed validation."""

import os

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F


def _perm(n: int, seed: int = 7) -> list[int]:
    """Deterministic permutation of range(n) (no RNG in tests either)."""
    keys = (np.arange(n, dtype=np.int64) * 48271 + seed) % 2147483647
    return [int(x) for x in np.argsort(keys, kind="stable")]


def test_dedup_clusters_star_chain_converges_in_log_rounds(spark):
    """A 1000-link chain (diameter 1000) must converge in O(log n)
    large-star/small-star rounds — label propagation would need ~1000."""
    from light_curve_spark.operators.dedup import _star_labels

    ids = _perm(1001)
    pairs = spark.createDataFrame(
        pd.DataFrame({"doc_a": ids[:-1], "doc_b": ids[1:]})
    ).repartition(4)
    labels, rounds, _ckpts = _star_labels(pairs, "doc_a", "doc_b", max_iter=50)
    out = {r.doc_id: r.keep_id for r in labels.collect()}
    assert rounds <= 16, f"star contraction took {rounds} rounds on a 1000-chain"
    assert len(out) == 1001
    assert set(out.values()) == {0}


def test_dedup_clusters_default_is_star_on_chain(spark):
    """dedup_clusters (star contraction) must converge on a
    1000-link chain within the 50-round cap — label propagation needs
    ~1000 rounds there, so correct labels prove dedup_clusters cannot
    be DoS'd by a high-diameter pair graph (r3 verdict item 7)."""
    from light_curve_spark.operators.dedup import dedup_clusters

    ids = _perm(1001)
    pairs = spark.createDataFrame(
        pd.DataFrame({"doc_a": ids[:-1], "doc_b": ids[1:]})
    ).repartition(4)
    out = {r.doc_id: r.keep_id for r in dedup_clusters(pairs).collect()}
    assert len(out) == 1001 and set(out.values()) == {0}


def test_star_cc_cleans_superseded_round_checkpoints(spark, tmp_path):
    """With a reliable checkpoint dir, a ~10-round star contraction must
    NOT leave one edge-set copy per round behind (r3 ADVICE): superseded
    round checkpoints are deleted as rounds advance, leaving at most the
    final labels checkpoint."""
    from light_curve_spark.operators.dedup import dedup_clusters

    sc = spark.sparkContext
    ckpt = str(tmp_path / "ckpt")
    sc.setCheckpointDir(ckpt)
    try:
        ids = _perm(1001)
        pairs = spark.createDataFrame(
            pd.DataFrame({"doc_a": ids[:-1], "doc_b": ids[1:]})
        ).repartition(4)
        labels = dedup_clusters(pairs)
        out = {r.doc_id: r.keep_id for r in labels.collect()}
        assert len(out) == 1001 and set(out.values()) == {0}
        # walk <ckpt>/<app-uuid>/rdd-* — every surviving dir is one
        # materialized checkpoint; ~10 rounds without cleanup leaves ~11
        rdd_dirs = [
            os.path.join(dp, d)
            for dp, dirs, _ in os.walk(ckpt)
            for d in dirs
            if d.startswith("rdd-")
        ]
        assert len(rdd_dirs) <= 2, f"checkpoint dirs accumulated: {rdd_dirs}"
    finally:
        getattr(sc._jsc.sc(), "checkpointDir_$eq")(
            sc._jvm.scala.Option.apply(None)
        )


def test_dedup_clusters_matches_scalar_ref(spark):
    import sys

    from light_curve_spark.operators.dedup import dedup_clusters

    sys.path.insert(
        0,
        os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "scripts"),
    )
    from oracle_impl import dedup_clusters_ref

    a, b = [1, 2, 9, 20, 40, 41], [2, 3, 1, 21, 41, 42]
    pairs = spark.createDataFrame(pd.DataFrame({"doc_a": a, "doc_b": b}))
    got = {r.doc_id: r.keep_id for r in dedup_clusters(pairs).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 9: 1, 20: 20, 21: 20, 40: 40, 41: 40, 42: 40}
    assert sorted(got.items()) == dedup_clusters_ref(list(zip(a, b)))


def test_truncate_lineage_uses_reliable_checkpoint_when_configured(spark, tmp_path):
    """With a checkpoint dir configured the lineage cut must be a real
    (fault-tolerant) checkpoint — files land in the dir; localCheckpoint
    (executor-local blocks) is only the local-mode fallback."""
    from light_curve_spark.operators.dedup import _truncate_lineage, dedup_clusters

    sc = spark.sparkContext
    assert sc.getCheckpointDir() is None
    df = spark.range(10)
    out = _truncate_lineage(df)
    assert out.count() == 10  # localCheckpoint fallback path

    ckpt = str(tmp_path / "ckpt")
    sc.setCheckpointDir(ckpt)
    try:
        out = _truncate_lineage(spark.range(10))
        assert out.count() == 10
        files = [
            os.path.join(dp, f)
            for dp, _, fs in os.walk(ckpt)
            for f in fs
        ]
        assert files, "reliable checkpoint wrote nothing to the checkpoint dir"
        # end-to-end: the operator's result survives with the same values
        pairs = spark.createDataFrame(
            pd.DataFrame({"doc_a": [1, 2], "doc_b": [2, 3]})
        )
        out = {r.doc_id: r.keep_id for r in dedup_clusters(pairs).collect()}
        assert out == {1: 1, 2: 1, 3: 1}
    finally:
        # restore the local-mode posture for the rest of the session
        # ($-named scala setter is not a valid python identifier)
        getattr(sc._jsc.sc(), "checkpointDir_$eq")(
            sc._jvm.scala.Option.apply(None)
        )
    assert sc.getCheckpointDir() is None


def test_dmdt_kernel_auto_cap_bounds_mega_key(spark):
    """Default max_points='auto' must cap the per-key pair expansion so a
    100k-point key completes with a bounded pair matrix instead of
    materializing 10^10 pairs; the capped result equals an explicit
    max_points=DEFAULT_MAX_POINTS run."""
    from light_curve_spark.operators.dmdt import DEFAULT_MAX_POINTS, dmdt_kernel

    n = 100_000
    series = (
        spark.range(n)
        .select(
            F.lit("k").alias("doc_id"),
            F.col("id").cast("double").alias("t"),
            F.pmod(F.col("id") * 37, F.lit(101)).cast("double").alias("v"),
        )
    )
    args = dict(dt_width=1e4, dm_width=20.0, n_dt=10, n_dm=10, dm_offset=100.0)
    got = {
        (r.dt_bin, r.dm_bin): r.n_pairs for r in dmdt_kernel(series, **args).collect()
    }
    total = sum(got.values())
    step = -(-n // DEFAULT_MAX_POINTS)  # ceil
    kept = -(-n // step)
    assert 0 < total <= kept * (kept - 1) // 2
    explicit = {
        (r.dt_bin, r.dm_bin): r.n_pairs
        for r in dmdt_kernel(series, max_points=DEFAULT_MAX_POINTS, **args).collect()
    }
    assert got == explicit


def test_quadratic_oracle_baselines_refuse_oversized_input(spark):
    from light_curve_spark.operators.dmdt import dmdt_relational
    from light_curve_spark.operators.similarity import embedding_cosine_pairs

    series = spark.range(10).select(
        F.lit("k").alias("doc_id"),
        F.col("id").cast("double").alias("t"),
        F.col("id").cast("double").alias("v"),
    )
    with pytest.raises(ValueError, match="quadratic oracle baseline"):
        dmdt_relational(
            series, dt_width=1.0, dm_width=1.0, n_dt=2, n_dm=2, dm_offset=1.0,
            max_input_rows=5,
        )

    emb = spark.range(10).select(
        F.col("id").alias("vec_id"),
        F.array(F.col("id").cast("double"), F.lit(1.0)).alias("embedding"),
    )
    with pytest.raises(ValueError, match="quadratic oracle baseline"):
        embedding_cosine_pairs(emb, max_input_rows=5)


def test_interval_join_rejects_non_inner(spark):
    from light_curve_spark.operators.rangejoin import interval_join

    pts = spark.range(3).select(F.lit("k").alias("key"), F.col("id").cast("double").alias("t"))
    iv = spark.range(1).select(
        F.lit("k").alias("key"), F.lit(0.0).alias("start"), F.lit(5.0).alias("end")
    )
    with pytest.raises(ValueError, match="inner"):
        interval_join(pts, iv, keys=["key"], bucket_width=1.0, how="left")


def test_cache_scope_releases_only_inner_caches(spark):
    from light_curve_spark.plans.caching import (
        cache_scope,
        cached,
        release_operator_caches,
    )

    outer = cached(spark.range(5))
    try:
        with cache_scope():
            inner = cached(spark.range(7))
            assert inner.is_cached
        assert not inner.is_cached
        assert outer.is_cached, "scope released a cache it did not register"
    finally:
        release_operator_caches()
    assert not outer.is_cached


def test_ivf_seed_validation_and_distinct_seeds(spark):
    from light_curve_spark.operators.similarity import train_ivf_centroids

    emb = spark.createDataFrame(
        pd.DataFrame(
            {
                "vec_id": [0, 1, 2, 3],
                "embedding": [[1.0, 0.0], [1.0, 0.0], [0.0, 1.0], [2.0, 2.0]],
            }
        )
    )
    with pytest.raises(ValueError, match="n_centroids"):
        train_ivf_centroids(emb, n_centroids=8)
    # duplicate leading vectors must not seed duplicate centroids
    cents = train_ivf_centroids(emb, n_centroids=3, iters=0)
    assert [list(c) for c in cents] == [[1.0, 0.0], [0.0, 1.0], [2.0, 2.0]]
    # and fewer DISTINCT vectors than centroids is an error too
    with pytest.raises(ValueError, match="distinct"):
        train_ivf_centroids(emb, n_centroids=4)


def test_simhash_weighted_discriminates_hot_word_saturation(spark):
    """Docs sharing a mass of hot words but differing in rare words:
    unweighted simhash collapses them to one hash (majority votes ride
    the hot words), the IDF-weighted variant keeps them apart — while
    true near-dups still land within banding distance. Null docs keep
    the sh=0 convention."""
    from light_curve_spark.functions import hamming64
    from light_curve_spark.operators.dedup import (
        simhash_kernel,
        simhash_weighted_kernel,
    )

    hot = " ".join("the of and to in a is it" for _ in range(30))
    shared = " ".join(f"shared{k}" for k in range(150))
    other = " ".join(f"other{k}" for k in range(150))
    rows = [
        (0, f"{hot} {shared} " + " ".join(f"onlyA{k}" for k in range(5))),
        (1, f"{hot} {other} " + " ".join(f"onlyB{k}" for k in range(5))),
        (2, f"{hot} {shared} " + " ".join(f"onlyC{k}" for k in range(5))),
        (3, None),
    ]
    # 50 filler docs carrying the hot words (df(hot) = n_docs -> weight 0)
    rows += [
        (10 + i, hot + " " + " ".join(f"bg{i}_{j}" for j in range(20)))
        for i in range(50)
    ]
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    unw = {r.doc_id: r.sh for r in simhash_kernel(docs).collect()}
    wgt = {r.doc_id: r.sh for r in simhash_weighted_kernel(docs).collect()}

    def ham(a, b):
        return bin((a ^ b) & ((1 << 64) - 1)).count("1")

    # unweighted: the 240 hot-word votes drag the UNRELATED docs 0 and 1
    # deceptively close (measured 10/64 bits); idf weighting zeroes the
    # hot words and separates them on their disjoint informative vocab
    # (measured 35) ...
    assert ham(unw[0], unw[1]) <= 16
    assert ham(wgt[0], wgt[1]) >= 2 * ham(unw[0], unw[1])
    # ...while the genuine near-dup (150 shared informative words, 5
    # substitutions) stays within banding distance
    assert ham(wgt[0], wgt[2]) <= 8
    assert wgt[3] == 0  # null text convention shared with the unweighted kernel

    # spec parity with the independent scalar reference
    import os
    import sys

    sys.path.insert(
        0,
        os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "scripts"),
    )
    from oracle_impl import simhash_weighted_ref

    assert wgt == simhash_weighted_ref(rows)

    # the banded pair path accepts the weighted kernel; 8-bit bands so
    # the hamming-7 near-dup is pigeonhole-guaranteed to collide in at
    # least one of the 8 bands
    from light_curve_spark.operators.dedup import simhash_dedup

    pairs = {
        (r.doc_a, r.doc_b)
        for r in simhash_dedup(
            docs, band_bits=8, max_hamming=8, weighted=True
        ).collect()
    }
    assert (0, 2) in pairs and (0, 1) not in pairs


def test_rollup_distinct_sketch_cascade_is_lossless_and_bounded(spark):
    """HLL tier cascade: the unioned-sketch estimate at a coarse tier
    must EQUAL the direct-aggregation estimate (HLL union of same-
    precision sketches is lossless), and the estimate error at real
    cardinality stays within the published ~1.04/sqrt(2^12) bound."""
    from light_curve_spark.operators.rollup import rollup_distinct
    from light_curve_spark.plans.caching import release_operator_caches

    n = 120_000
    series = spark.range(n).select(
        (F.col("id") % 200).cast("double").alias("t"),
        # ~59k distinct values spread over 200 base buckets
        F.pmod(F.col("id") * 2654435761, F.lit(59_999)).alias("u"),
        F.lit(0.0).alias("v"),
    )
    cascaded = {
        (r.tier, r.bucket): r.n_distinct
        for r in rollup_distinct(
            series, "u", keys=[], base_width=2.0, tiers=(1, 10, 100)
        ).collect()
    }
    release_operator_caches()
    direct100 = {
        r.bucket: r.n_distinct
        for r in rollup_distinct(
            series, "u", keys=[], base_width=200.0, tiers=(1,)
        ).collect()
    }
    # losslessness: cascaded tier-100 == direct aggregation at that width
    got100 = {b: v for (t, b), v in cascaded.items() if t == 100}
    assert got100 == direct100
    # accuracy at ~59k true distinct in the single tier-100 bucket
    true_distinct = 59_999 if n >= 59_999 else n
    est = got100[0]
    assert abs(est - true_distinct) / true_distinct < 0.05
    # partition independence holds in the sparse/coupon regime (the
    # contract query's regime: per-bucket cardinality << 2^lgK/4);
    # dense-regime estimates may shift a few counts with partitioning
    # (sparse->dense promotion order — DataSketches HLL property)
    # 300 distinct/bucket: safely inside lgK=12's coupon capacity
    # (promotion lands near ~384; 400 already drifted by 1 — measured)
    small = spark.range(6000).select(
        (F.col("id") % 20).cast("double").alias("t"),
        F.pmod(F.col("id") * 2654435761, F.lit(300)).alias("u"),
        F.lit(0.0).alias("v"),
    )
    one = {
        (r.tier, r.bucket): r.n_distinct
        for r in rollup_distinct(small, "u", keys=[], base_width=2.0).collect()
    }
    release_operator_caches()
    two = {
        (r.tier, r.bucket): r.n_distinct
        for r in rollup_distinct(
            small.repartition(13), "u", keys=[], base_width=2.0
        ).collect()
    }
    release_operator_caches()
    assert one == two
    # and in that regime the estimate IS the exact distinct count
    assert one[(100, 0)] == 300


def test_bm25_ranking_properties(spark):
    """BM25 sanity: a doc with more query-term mass outranks a longer
    doc with less; docs without any term are absent; null text safe."""
    from light_curve_spark.operators.text import bm25_scores

    rows = [
        (0, "spark merge window spark"),
        (1, "spark " + "filler " * 50),
        (2, "nothing relevant here"),
        (3, None),
    ]
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {r.doc_id: r.score for r in bm25_scores(docs, ["spark", "merge"]).collect()}
    assert set(out) == {0, 1}
    assert out[0] > out[1] > 0.0
    with pytest.raises(ValueError, match="term"):
        bm25_scores(docs, [])


def test_incremental_minhash_matches_one_shot(spark, tmp_path):
    """Feeding the corpus through incremental_minhash_pairs in two
    batches (near-dup partners deliberately split ACROSS batches) must
    yield exactly the one-shot minhash_lsh_pairs output — incremental
    processing changes the schedule, not the result — and the second
    batch must reuse the persisted index rather than re-mining batch 1."""
    from light_curve_spark.operators.dedup import (
        incremental_minhash_pairs,
        minhash_lsh_pairs,
    )
    from light_curve_spark.plans.caching import release_operator_caches
    from light_curve_spark.sources.catalog import ParquetSnapshotStorage

    rows = []
    for i in range(20):
        base = " ".join(f"w{i}_{j}" for j in range(30))
        rows.append((2 * i, base))
        if i % 3 == 0:  # plant a near-dup partner on the ODD id
            rows.append((2 * i + 1, base.replace(f"w{i}_7 ", "xx ")))
        else:
            rows.append((2 * i + 1, " ".join(f"u{i}_{j}" for j in range(30))))
    docs = spark.createDataFrame(rows, ["doc_id", "text"])

    one_shot = {
        (r.doc_a, r.doc_b): round(r.jaccard, 9)
        for r in minhash_lsh_pairs(docs, threshold=0.5).collect()
    }
    release_operator_caches()
    assert one_shot, "corpus must contain planted near-dups"

    storage = ParquetSnapshotStorage(spark, str(tmp_path / "mhidx"))
    got = {}
    for parity in (0, 1):  # partners split across batches -> cross pairs
        batch = docs.filter(F.col("doc_id") % 2 == parity)
        for r in incremental_minhash_pairs(storage, batch, threshold=0.5).collect():
            got[(r.doc_a, r.doc_b)] = round(r.jaccard, 9)
        release_operator_caches()
    assert got == one_shot
    # every planted pair is a CROSS-batch pair (even base, odd partner)
    assert all(a % 2 == 0 and b % 2 == 1 for (a, b) in got)
    # the index holds both batches' rows now, under distinct batch ids
    idx = storage.read("mh_index")
    assert idx.select("doc_id").distinct().count() == 40
    assert idx.select("batch_id").distinct().count() == 2


def test_incremental_minhash_reappend_is_noop(spark, tmp_path):
    """Re-submitting an already-folded batch must NOT duplicate index
    rows (content-derived batch_id + skip-append), and must still return
    the batch's pairs (recomputed against the index minus its own rows)."""
    from light_curve_spark.operators.dedup import incremental_minhash_pairs
    from light_curve_spark.plans.caching import release_operator_caches
    from light_curve_spark.sources.catalog import ParquetSnapshotStorage

    rows = []
    for i in range(10):
        base = " ".join(f"w{i}_{j}" for j in range(30))
        rows.append((2 * i, base))
        rows.append((2 * i + 1, base.replace(f"w{i}_7 ", "xx ")))
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    storage = ParquetSnapshotStorage(spark, str(tmp_path / "mhidx"))

    batch0 = docs.filter(F.col("doc_id") % 2 == 0)
    batch1 = docs.filter(F.col("doc_id") % 2 == 1)

    first = {(r.doc_a, r.doc_b) for r in
             incremental_minhash_pairs(storage, batch0, threshold=0.5).collect()}
    release_operator_caches()
    n_rows = storage.read("mh_index").count()
    n_snaps = len(storage.snapshots("mh_index"))

    # re-run the SAME batch (different partitioning must not change the id)
    again = {(r.doc_a, r.doc_b) for r in
             incremental_minhash_pairs(
                 storage, batch0.repartition(7), threshold=0.5).collect()}
    release_operator_caches()
    assert again == first
    assert storage.read("mh_index").count() == n_rows, "index rows duplicated"
    assert len(storage.snapshots("mh_index")) == n_snaps, "extra snapshot appended"

    # a genuinely new batch still folds and pairs across
    cross = {(r.doc_a, r.doc_b) for r in
             incremental_minhash_pairs(storage, batch1, threshold=0.5).collect()}
    release_operator_caches()
    assert cross and all(a % 2 == 0 and b % 2 == 1 for (a, b) in cross)
    assert storage.read("mh_index").select("doc_id").distinct().count() == 20

    # re-running batch0 NOW sees batch1 in the index -> returns the
    # cross pairs too, but still appends nothing
    n_rows2 = storage.read("mh_index").count()
    rerun = {(r.doc_a, r.doc_b) for r in
             incremental_minhash_pairs(storage, batch0, threshold=0.5).collect()}
    release_operator_caches()
    assert rerun == first | cross
    assert storage.read("mh_index").count() == n_rows2
