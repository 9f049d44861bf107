"""Continuous-aggregate rollups at 1x/10x/100x retention tiers.

north_rule: "rolls them into continuous aggregates at 1x/10x/100x
retention tiers". A tier-T bucket is ``floor(t / (base_width * T))``.

Cascade discipline (SURVEY.md §2.5): coarser tiers are computed FROM the
next-finer tier's partials — sum-of-sums, min-of-mins, max-of-maxs,
count-of-counts — never by re-scanning raw data. At 100 TB this is the
difference between one raw scan plus two tiny shuffles and three raw
scans; it is also exactly Spark's partial/final aggregate shape, so each
cascade step is a single hash-aggregate exchange that AQE coalesces.

Non-decomposable statistics (median, MAD) cannot cascade; policy is
recompute-from-raw per tier (:func:`rollup_quantiles`) — exactness beats
sketches for the golden-parity gate (SURVEY.md §7 phase 4).
"""

from __future__ import annotations

from functools import reduce

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from light_curve_spark.functions import bucketize

ROLLUP_AGG_COLS = ("n_points", "v_sum", "v_min", "v_max")


def _int_width(base_width) -> int:
    """Array-native rollups bucket on integer token positions; a
    fractional width would silently shift bucket boundaries vs the
    relational path (r2 review finding) — reject it loudly."""
    bw = int(base_width)
    if bw != base_width or bw <= 0:
        raise ValueError(
            f"array-native rollups need a positive integral base_width; got {base_width!r}"
        )
    return bw


def _flat_token_segments(b):
    """(flat f64 values, lengths, starts, elem, pos) from an Arrow
    batch's ``tokens`` ListArray — the shared segment preamble of every
    array-native kernel in this module."""
    toks = b.column(b.schema.get_field_index("tokens"))
    off = toks.offsets.to_numpy()
    lengths = (off[1:] - off[:-1]).astype(np.int64)
    flat = toks.flatten().to_numpy().astype(np.float64)
    starts = np.cumsum(lengths) - lengths
    elem = np.repeat(np.arange(lengths.shape[0]), lengths)
    pos = np.arange(flat.shape[0], dtype=np.int64) - starts[elem]
    return flat, lengths, starts, elem, pos


def _base_rollup(series: DataFrame, keys: list[str], width: float) -> DataFrame:
    return series.groupBy(
        *keys, bucketize("t", width).alias("bucket")
    ).agg(
        F.count("v").alias("n_points"),
        F.sum("v").alias("v_sum"),
        F.min("v").alias("v_min"),
        F.max("v").alias("v_max"),
    )


def _cascade(finer: DataFrame, keys: list[str], factor: int) -> DataFrame:
    """One cascade step: partials of partials, no raw re-scan."""
    return finer.groupBy(
        *keys,
        F.floor(F.col("bucket") / F.lit(factor)).alias("bucket"),
    ).agg(
        F.sum("n_points").alias("n_points"),
        F.sum("v_sum").alias("v_sum"),
        F.min("v_min").alias("v_min"),
        F.max("v_max").alias("v_max"),
    )


def rollup_tiers(
    series: DataFrame,
    keys: list[str] | None = None,
    base_width: float = 16.0,
    tiers: tuple[int, ...] = (1, 10, 100),
    persist_intermediate: bool = True,
) -> DataFrame:
    """(key..., tier, bucket, n_points, v_sum, v_min, v_max, v_mean) for
    every retention tier, cascaded. ``tiers`` must be ascending and each
    divisible by its predecessor.

    ``persist_intermediate`` caches each finer tier so the physical plan
    scans the raw series ONCE: without it, the union's three branches
    each recompute their full lineage (3 raw scans + 6 exchanges at 3
    tiers — verified in PLANS.md). Cached partials are tiny relative to
    raw (1/base_width per tier); they are registered in the session-scoped
    cache registry — call plans.caching.release_operator_caches() at a
    batch boundary to unpersist (the pipeline does)."""
    from light_curve_spark.plans.caching import cached

    keys = keys or ["doc_id", "source"]
    tiered: list[DataFrame] = []
    cur = _base_rollup(series, keys, base_width * tiers[0])
    if persist_intermediate and len(tiers) > 1:
        cur = cached(cur)
    tiered.append(cur.withColumn("tier", F.lit(tiers[0])))
    for i, (prev_t, t) in enumerate(zip(tiers, tiers[1:])):
        if t % prev_t != 0:
            raise ValueError(f"tier {t} not a multiple of {prev_t}")
        cur = _cascade(cur, keys, t // prev_t)
        if persist_intermediate and i < len(tiers) - 2:
            cur = cached(cur)
        tiered.append(cur.withColumn("tier", F.lit(t)))
    out = reduce(lambda a, b: a.unionByName(b), tiered)
    return out.select(
        *keys,
        "tier",
        "bucket",
        "n_points",
        "v_sum",
        "v_min",
        "v_max",
        (F.col("v_sum") / F.col("n_points")).alias("v_mean"),
    )


def retract_from_rollup(
    rollup: DataFrame,
    deleted: DataFrame,
    retained: DataFrame,
    keys: list[str] | None = None,
    base_width: float = 16.0,
    tiers: tuple[int, ...] = (1, 10, 100),
) -> DataFrame:
    """Remove DELETED raw events from an already-computed tier rollup —
    the continuous-aggregate side of the right-to-be-forgotten surface
    (round 6; the dedup/vector twins are the tombstone operators). The
    result EQUALS ``rollup_tiers(retained, ...)`` (pytest + SQL oracle)
    without re-rolling the corpus:

    - decomposable stats subtract: the deleted rows' own tier partials
      (one ``rollup_tiers`` over just the deleted rows — tiny, AQE
      broadcasts it) come off ``n_points``/``v_sum``; emptied buckets
      drop;
    - extrema cannot subtract: a bucket needs its min (max) recomputed
      ONLY when a deleted row achieved it (``deleted_min <= v_min``) —
      everywhere else the stored extremum stands. The base tier
      recomputes from ``retained`` raw SEMI-JOINED to exactly the
      affected buckets (the 100 TB posture: the raw rescan is bounded
      by the delete's bucket footprint, and partition pruning on time
      keeps it to those ranges); every coarser tier recomputes from the
      already-ADJUSTED base-tier partials, never from raw — a tier-T
      extremum is the min/max over its surviving tier-1 children.

    ``rollup`` must carry the ``rollup_tiers`` row shape (a ``v_mean``
    column is ignored and re-derived); ``retained`` is the raw series
    minus ``deleted``, in the same long form the rollup was built
    from.

    Float tolerance (round-6 ADVICE low): ``v_sum`` is computed by
    SUBTRACTION (stored sum minus the deleted rows' partials), while
    ``rollup_tiers(retained)`` re-adds the retained rows — floating-point
    non-associativity means the two can diverge up to the cancellation
    error of the bucket's sum, i.e. ~|v_sum_stored| * 2^-52 amplified by
    how much of the bucket's mass was deleted. Equality with a re-roll is
    therefore exact for ``n_points``/``v_min``/``v_max`` and holds for
    ``v_sum``/``v_mean`` to within that cancellation bound (well under
    the oracle's 1e-6 rounding unless a delete cancels nearly all of a
    large-magnitude bucket); deployments deleting most of a high-|sum|
    bucket should re-roll those buckets from raw instead."""
    from light_curve_spark.plans.caching import cached

    keys = keys or ["doc_id", "source"]
    on = [*keys, "tier", "bucket"]
    # persist_intermediate=False (round 7): the deleted-rows rollup is
    # small by construction (a delete's footprint), so re-deriving its
    # cascade branches from the base aggregate is cheaper than the two
    # blocking cache-materialization stages the default would insert —
    # measured 18 s -> 11 s on the cold sf1.0 retraction query
    d = (
        rollup_tiers(deleted, keys, base_width, tiers, persist_intermediate=False)
        .select(
            *on,
            F.col("n_points").alias("_dn"),
            F.col("v_sum").alias("_dsum"),
            F.col("v_min").alias("_dmin"),
            F.col("v_max").alias("_dmax"),
        )
    )
    adj = (
        rollup.drop("v_mean")
        .join(d, on, "left")
        .select(
            *on,
            (F.col("n_points") - F.coalesce("_dn", F.lit(0))).alias("n_points"),
            (F.col("v_sum") - F.coalesce("_dsum", F.lit(0.0))).alias("v_sum"),
            "v_min",
            "v_max",
            (
                F.col("_dmin").isNotNull() & (F.col("_dmin") <= F.col("v_min"))
            ).alias("_remin"),
            (
                F.col("_dmax").isNotNull() & (F.col("_dmax") >= F.col("v_max"))
            ).alias("_remax"),
        )
        .filter(F.col("n_points") > 0)
    )
    # consumed once per tier below plus the recompute prunes — cache so
    # the rollup/deleted join runs once (session-scoped registry)
    adj = cached(adj)

    def _fix(tier_df: DataFrame, re_df: DataFrame) -> DataFrame:
        """Swap recomputed extrema into the affected rows."""
        return tier_df.join(re_df, on, "left").select(
            *on,
            "n_points",
            "v_sum",
            F.when(F.col("_remin"), F.col("_nmin"))
            .otherwise(F.col("v_min"))
            .alias("v_min"),
            F.when(F.col("_remax"), F.col("_nmax"))
            .otherwise(F.col("v_max"))
            .alias("v_max"),
        )

    t1 = tiers[0]
    aff1 = adj.filter(
        (F.col("tier") == t1) & (F.col("_remin") | F.col("_remax"))
    ).select(*keys, "bucket")
    raw1 = retained.select(
        *keys, bucketize("t", base_width * t1).alias("bucket"), "v"
    ).join(aff1, [*keys, "bucket"], "left_semi")
    re1 = (
        raw1.groupBy(*keys, "bucket")
        .agg(F.min("v").alias("_nmin"), F.max("v").alias("_nmax"))
        .withColumn("tier", F.lit(t1))
    )
    fixed1 = cached(_fix(adj.filter(F.col("tier") == t1), re1))
    out = [fixed1]
    for t in tiers[1:]:
        afft = adj.filter(
            (F.col("tier") == t) & (F.col("_remin") | F.col("_remax"))
        ).select(*keys, "bucket")
        children = fixed1.select(
            *keys,
            F.floor(F.col("bucket") / F.lit(t // t1)).alias("bucket"),
            "v_min",
            "v_max",
        ).join(afft, [*keys, "bucket"], "left_semi")
        ret = (
            children.groupBy(*keys, "bucket")
            .agg(F.min("v_min").alias("_nmin"), F.max("v_max").alias("_nmax"))
            .withColumn("tier", F.lit(t))
        )
        out.append(_fix(adj.filter(F.col("tier") == t), ret))
    res = reduce(lambda a, b: a.unionByName(b), out)
    return res.select(
        *keys,
        "tier",
        "bucket",
        "n_points",
        "v_sum",
        "v_min",
        "v_max",
        (F.col("v_sum") / F.col("n_points")).alias("v_mean"),
    )


def rollup_tiers_arrays(
    seq: DataFrame,
    base_width: int = 16,
    tiers: tuple[int, ...] = (1, 10, 100),
) -> DataFrame:
    """Array-native tier cascade for the SEQUENCES table: zero shuffle.

    A sequence's time axis is its own token positions, so every tier
    bucket of a given doc lives inside that one row — groupBy would
    shuffle 6M exploded points to co-locate data that is already
    co-located. Instead the whole 1x/10x/100x cascade runs inside one
    mapInPandas pass, segment-vectorized (reduceat over bucket
    boundaries; coarser tiers reduce the finer tier's partials, same
    cascade math as :func:`rollup_tiers`). ~25x fewer rows ever leave
    the kernel, and none of them cross an exchange.

    At 100 TB this is the difference between the rollup being a free
    rider on the feature-extraction scan and being the job's largest
    shuffle. Results are identical to rollup_tiers(explode_series(seq))
    (tested). Output: (doc_id, source, tier, bucket, n_points, v_sum,
    v_min, v_max, v_mean).
    """
    import pyarrow as pa
    from pyspark.sql.types import (
        DoubleType,
        IntegerType,
        LongType,
        StringType,
        StructField,
        StructType,
    )

    schema = StructType(
        [
            StructField("doc_id", StringType(), False),
            StructField("source", StringType(), True),
            StructField("tier", IntegerType(), False),
            StructField("bucket", LongType(), False),
            StructField("n_points", LongType(), False),
            StructField("v_sum", DoubleType(), False),
            StructField("v_min", DoubleType(), False),
            StructField("v_max", DoubleType(), False),
            StructField("v_mean", DoubleType(), False),
        ]
    )
    out_names = [f.name for f in schema.fields]

    for prev_t, t in zip(tiers, tiers[1:]):
        if t % prev_t != 0:
            raise ValueError(f"tier {t} not a multiple of {prev_t}")

    base_width = _int_width(base_width)

    def fn(batches):
        for b in batches:
            if b.num_rows == 0:
                continue
            flat, lengths, starts, elem, pos = _flat_token_segments(b)
            if flat.shape[0] == 0:
                continue  # all-empty batch: no buckets (reduceat([0]) would throw)
            doc_col = b.column(b.schema.get_field_index("doc_id"))
            src_col = b.column(b.schema.get_field_index("source"))

            parts = []
            # tier 1 from raw, segment boundaries where (row, bucket) changes
            width = base_width * tiers[0]
            bucket = pos // width
            gid = elem * (1 << 40) | bucket  # composite, monotone within batch
            seg = np.flatnonzero(np.r_[True, gid[1:] != gid[:-1]])
            s_elem = elem[seg]
            s_bucket = bucket[seg]
            s_n = np.diff(np.r_[seg, flat.shape[0]])
            s_sum = np.add.reduceat(flat, seg)
            s_min = np.minimum.reduceat(flat, seg)
            s_max = np.maximum.reduceat(flat, seg)

            parts.append((tiers[0], s_elem, s_bucket, s_n, s_sum, s_min, s_max))
            for prev_t, t in zip(tiers, tiers[1:]):
                f = t // prev_t
                cb = s_bucket // f
                cg = s_elem * (1 << 40) | cb
                cseg = np.flatnonzero(np.r_[True, cg[1:] != cg[:-1]])
                s_n = np.add.reduceat(s_n, cseg)
                s_sum = np.add.reduceat(s_sum, cseg)
                s_min = np.minimum.reduceat(s_min, cseg)
                s_max = np.maximum.reduceat(s_max, cseg)
                s_elem = s_elem[cseg]
                s_bucket = cb[cseg]
                parts.append((t, s_elem, s_bucket, s_n, s_sum, s_min, s_max))

            e_all = np.concatenate([p[1] for p in parts])
            tier_all = np.concatenate(
                [np.full(p[1].shape[0], p[0], dtype=np.int32) for p in parts]
            )
            idx = pa.array(e_all)
            arrays = [
                doc_col.take(idx),
                src_col.take(idx),
                pa.array(tier_all),
                pa.array(np.concatenate([p[2] for p in parts])),
                pa.array(np.concatenate([p[3] for p in parts])),
                pa.array(np.concatenate([p[4] for p in parts])),
                pa.array(np.concatenate([p[5] for p in parts])),
                pa.array(np.concatenate([p[6] for p in parts])),
                pa.array(
                    np.concatenate([p[4] / p[3] for p in parts])
                ),
            ]
            yield pa.RecordBatch.from_arrays(arrays, out_names)

    return seq.select("doc_id", "source", "tokens", "n_tok").mapInArrow(
        fn, schema=schema
    )


def rollup_quantiles_arrays(
    seq: DataFrame,
    base_width: int = 16,
    tiers: tuple[int, ...] = (1, 10, 100),
) -> DataFrame:
    """Array-native exact median/MAD per tier bucket for the SEQUENCES
    table: zero shuffle (the non-decomposable companion to
    :func:`rollup_tiers_arrays`).

    The relational :func:`rollup_quantiles` explodes sequences to long
    form and shuffles EVERY point once per tier (median is
    non-decomposable, so it was the pipeline's largest exchange — the
    stage that hit the 1 GB-heap OOM at the 500k-sequence stress run).
    But a sequence's buckets are contiguous runs of its own row, so the
    exact per-bucket median/MAD reduce inside one mapInArrow pass: one
    ``np.lexsort`` per tier per batch for the medians, one more for the
    MADs (the same segment-median machinery as kernels feature_frame).
    Results bit-match the relational path (tested) — token values are
    integer-valued f64, and both paths take the exact mean-of-two-middles
    median."""
    import pyarrow as pa
    from pyspark.sql.types import (
        DoubleType,
        IntegerType,
        LongType,
        StringType,
        StructField,
        StructType,
    )

    schema = StructType(
        [
            StructField("doc_id", StringType(), False),
            StructField("source", StringType(), True),
            StructField("tier", IntegerType(), False),
            StructField("bucket", LongType(), False),
            StructField("v_median", DoubleType(), False),
            StructField("v_mad", DoubleType(), False),
        ]
    )

    base_width = _int_width(base_width)

    def fn(batches):
        from light_curve_spark.kernels.features import segment_median

        for b in batches:
            if b.num_rows == 0:
                continue
            flat, lengths, starts, elem, pos = _flat_token_segments(b)
            if flat.shape[0] == 0:
                continue  # all-empty batch: no buckets (empty medians would throw)
            doc_col = b.column(b.schema.get_field_index("doc_id"))
            src_col = b.column(b.schema.get_field_index("source"))
            e_parts, t_parts, b_parts, med_parts, mad_parts = [], [], [], [], []
            for t in tiers:
                width = base_width * t
                bucket = pos // width
                gid = elem * (1 << 40) | bucket  # monotone within batch
                seg = np.flatnonzero(np.r_[True, gid[1:] != gid[:-1]])
                seg_len = np.diff(np.r_[seg, flat.shape[0]])
                med = segment_median(flat, gid, seg, seg_len)
                seg_of = np.repeat(np.arange(seg.shape[0]), seg_len)
                absd = np.abs(flat - med[seg_of])
                mad = segment_median(absd, gid, seg, seg_len)
                e_parts.append(elem[seg])
                t_parts.append(np.full(seg.shape[0], t, dtype=np.int32))
                b_parts.append(bucket[seg])
                med_parts.append(med)
                mad_parts.append(mad)
            idx = pa.array(np.concatenate(e_parts))
            yield pa.RecordBatch.from_arrays(
                [
                    doc_col.take(idx),
                    src_col.take(idx),
                    pa.array(np.concatenate(t_parts)),
                    pa.array(np.concatenate(b_parts)),
                    pa.array(np.concatenate(med_parts)),
                    pa.array(np.concatenate(mad_parts)),
                ],
                [f.name for f in schema.fields],
            )

    return seq.select("doc_id", "source", "tokens").mapInArrow(fn, schema=schema)


def rollup_distinct(
    series: DataFrame,
    distinct_col: str,
    keys: list[str] | None = None,
    base_width: float = 16.0,
    tiers: tuple[int, ...] = (1, 10, 100),
    lg_config_k: int = 12,
) -> DataFrame:
    """Distinct-count continuous aggregate per retention tier via HLL
    sketches: (key..., tier, bucket, n_distinct).

    Distinct counts are non-decomposable exactly but MERGEABLE as
    sketches, so this follows the same cascade discipline as
    :func:`rollup_tiers`: the raw series is scanned ONCE into base-tier
    ``hll_sketch_agg`` sketches; every coarser tier is
    ``hll_union_agg`` over the next-finer tier's sketches (HLL union is
    lossless for same-precision sketches, so the cascaded estimate
    EQUALS the direct-aggregation estimate — pytest-asserted). At 100 TB
    that is one raw shuffle plus tiny sketch-table shuffles, versus a
    full re-shuffle of raw values per tier for exact count_distinct.

    Determinism is regime-dependent (measured, tests/test_round3.py):
    in the sparse/coupon regime (per-bucket cardinality well under
    2^lg_config_k/4) the sketch stores exact hashes, so estimates are
    EXACT and partition-independent — that is the sf0.01 contract
    query's regime, which is what lets it oracle against DuckDB's exact
    COUNT(DISTINCT). In the dense regime the estimate carries the
    standard ~1.04/sqrt(2^lg_config_k) relative error and can shift by
    a few counts with input partitioning (partials cross the
    sparse->dense promotion at different points — a DataSketches HLL
    property, not an engine bug). The cascade itself is lossless in
    BOTH regimes: unioned sketches give the same estimate as direct
    aggregation."""
    from light_curve_spark.plans.caching import cached

    keys = keys or []
    cur = series.groupBy(
        *keys, bucketize("t", base_width * tiers[0]).alias("bucket")
    ).agg(F.hll_sketch_agg(distinct_col, F.lit(lg_config_k)).alias("_sk"))
    if len(tiers) > 1:
        cur = cached(cur)
    tiered = [cur.withColumn("tier", F.lit(tiers[0]))]
    for i, (prev_t, t) in enumerate(zip(tiers, tiers[1:])):
        if t % prev_t != 0:
            raise ValueError(f"tier {t} not a multiple of {prev_t}")
        cur = cur.groupBy(
            *keys, F.floor(F.col("bucket") / F.lit(t // prev_t)).alias("bucket")
        ).agg(F.hll_union_agg("_sk").alias("_sk"))
        if i < len(tiers) - 2:
            cur = cached(cur)
        tiered.append(cur.withColumn("tier", F.lit(t)))
    out = reduce(lambda a, b: a.unionByName(b), tiered)
    return out.select(
        *keys,
        "tier",
        "bucket",
        F.hll_sketch_estimate("_sk").alias("n_distinct"),
    )


def rollup_quantiles(
    series: DataFrame,
    keys: list[str] | None = None,
    base_width: float = 16.0,
    tiers: tuple[int, ...] = (1, 10, 100),
) -> DataFrame:
    """Exact median/MAD per tier bucket, recomputed from raw (the
    non-decomposable companion to :func:`rollup_tiers`)."""
    keys = keys or ["doc_id", "source"]
    out = None
    for t in tiers:
        bucketed = series.withColumn(
            "bucket", bucketize("t", base_width * t)
        )
        med = bucketed.groupBy(*keys, "bucket").agg(F.median("v").alias("v_median"))
        mad = (
            bucketed.join(med, [*keys, "bucket"])
            .groupBy(*keys, "bucket")
            .agg(F.median(F.abs(F.col("v") - F.col("v_median"))).alias("v_mad"))
        )
        tier_df = med.join(mad, [*keys, "bucket"]).withColumn("tier", F.lit(t))
        out = tier_df if out is None else out.unionByName(tier_df)
    return out.select(*keys, "tier", "bucket", "v_median", "v_mad")
