"""Continuous-aggregate rollups at 1x/10x/100x retention tiers.

north_rule: "rolls them into continuous aggregates at 1x/10x/100x
retention tiers". A tier-T bucket is ``floor(t / (base_width * T))``.

One aggregate for every tier (SURVEY.md §2.5): tiers nest — base bucket
``b`` lies in bucket ``b // (T / tiers[0])`` at tier ``T`` — so the raw
series is aggregated ONCE into base-tier partials (:func:`_base_partials`),
each is expanded to one row per tier (:func:`_expand_tiers`) and one
``groupBy(keys, tier, bucket)`` folds them through the partial monoid
(:func:`_merge_partials`): one raw shuffle plus one partials shuffle
whatever the number of tiers, nothing persisted. The stored-state fold
(``merge_rollups``) uses the same monoid; the retraction fixes the base
tier only and rebuilds the rest through the same expansion and merge.

Non-decomposable statistics (median, MAD) cannot fold from partials;
policy is recompute-from-raw (:func:`rollup_quantiles`) — exactness
beats sketches for the golden-parity gate (SURVEY.md §7 phase 4).
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    DoubleType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from light_curve_spark.functions import bucketize
from light_curve_spark.kernels.features import padded_segment_median

ROLLUP_AGG_COLS = ("n_points", "v_sum", "v_min", "v_max")


def _check_tiers(tiers) -> None:
    """The one plan-time tier check: a non-empty tuple of positive ints,
    strictly ascending, each a multiple of its predecessor (so the tiers
    nest; a repeated tier would double-count every bucket)."""
    ok = isinstance(tiers, tuple) and tiers and all(
        type(t) is int and t > 0 for t in tiers
    )
    if not ok or any(t <= p or t % p for p, t in zip(tiers, tiers[1:])):
        raise ValueError(
            "tiers must be a non-empty tuple of positive ints, ascending, "
            f"each a multiple of the one before; got {tiers!r}"
        )


def _expand_tiers(
    base: DataFrame, cols: list[str], base_tier: int, tiers: tuple[int, ...]
) -> DataFrame:
    """The nesting rule: each base-tier row (``cols`` plus ``bucket``)
    becomes one row per tier ``T`` in ``tiers``, carrying ``tier`` and
    ``bucket = floor(base_bucket / (T // base_tier))``."""
    per_tier = [
        F.struct(
            F.lit(t).alias("tier"),
            F.floor(F.col("bucket") / F.lit(t // base_tier)).alias("bucket"),
        )
        for t in tiers
    ]
    return base.select(*cols, F.inline(F.array(*per_tier)))


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


def _base_partials(series: DataFrame, keys: list[str], width: float) -> DataFrame:
    """The base aggregate: (key..., bucket, n_points, v_sum, v_min,
    v_max) of the long-form ``series`` at bucket width ``width``."""
    return series.groupBy(*keys, bucketize("t", width).alias("bucket")).agg(
        F.count("v").alias("n_points"),
        F.sum("v").alias("v_sum"),
        F.min("v").alias("v_min"),
        F.max("v").alias("v_max"),
    )


def _merge_partials(df: DataFrame, group_cols: list[str]) -> DataFrame:
    """The partial monoid: rows sharing ``group_cols`` fold to one (sum
    of counts and sums, min of mins, max of maxs); ``v_mean`` derived."""
    return (
        df.groupBy(*group_cols)
        .agg(
            F.sum("n_points").alias("n_points"),
            F.sum("v_sum").alias("v_sum"),
            F.min("v_min").alias("v_min"),
            F.max("v_max").alias("v_max"),
        )
        .withColumn("v_mean", F.col("v_sum") / F.col("n_points"))
    )


def _tiers_from_base(base: DataFrame, keys: list[str], tiers: tuple[int, ...]) -> DataFrame:
    """Every tier of ``tiers`` from base-tier partials: one expansion,
    one merge."""
    return _merge_partials(
        _expand_tiers(base, [*keys, *ROLLUP_AGG_COLS], tiers[0], tiers),
        [*keys, "tier", "bucket"],
    )


def rollup_tiers(
    series: DataFrame,
    keys: list[str] | None = None,
    base_width: float = 16.0,
    tiers: tuple[int, ...] = (1, 10, 100),
) -> DataFrame:
    """(key..., tier, bucket, n_points, v_sum, v_min, v_max, v_mean) for
    every retention tier (``tiers``: see :func:`_check_tiers`). One base
    aggregate at width ``base_width * tiers[0]``, expanded to every tier,
    then one ``groupBy(keys, tier, bucket)``: the coarser tiers come from
    the base partials in the same aggregate, and nothing is persisted."""
    _check_tiers(tiers)
    keys = keys or ["doc_id", "source"]
    return _tiers_from_base(_base_partials(series, keys, base_width * tiers[0]), keys, tiers)


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
    without re-rolling the corpus. Only the BASE tier is retracted, and
    only in the delete's footprint — the ``(keys, base bucket)`` pairs
    of ``deleted``, broadcast to both joins:

    - every stored base bucket outside the footprint stands as stored
      (one broadcast anti-join: the state is scanned once);
    - every footprint bucket is re-aggregated from ``retained`` raw
      SEMI-JOINED to the footprint (the 100 TB posture: the raw rescan
      is bounded by the delete's bucket footprint, and partition pruning
      on time keeps it to those ranges) through the same base aggregate
      as :func:`rollup_tiers`; a bucket with no retained row drops.

    The fixed base then goes through the same expansion and merge as
    :func:`rollup_tiers`, so every coarser tier comes from its surviving
    base children and the stored coarser tiers are never read. Cost: one
    shuffle of the state's base tier per partial redact (the shape of
    one fold) instead of a join plan per tier. The footprint is not made
    distinct: a semi- or anti-join gives the same rows with duplicate
    build rows, and a distinct would plan its own aggregate and shuffle
    under the broadcast. The trade-off is a broadcast of one row per
    deleted point rather than one per deleted base bucket (up to
    ``base_width`` times more rows for unit-spaced ``t``).

    ``rollup`` must carry the ``rollup_tiers`` row shape (a ``v_mean``
    column is ignored and re-derived); ``retained`` is the raw series
    minus ``deleted``, in the same long form the rollup was built
    from.

    Float tolerance (round-6 ADVICE low): a footprint bucket's partials
    are exactly those ``rollup_tiers(retained)`` computes, but an
    untouched base bucket keeps the ``v_sum`` stored when the state was
    folded, which may have added the same rows in another order, and
    coarser sums are re-added from the fixed base as ``rollup_tiers``
    adds its base partials. Equality with a re-roll is therefore exact
    for ``n_points``/``v_min``/``v_max``, exact for ``v_sum``/``v_mean``
    on integer-valued input (tokens), and otherwise within float
    summation-order error (well under the oracle's 1e-6 rounding)."""
    _check_tiers(tiers)
    keys = keys or ["doc_id", "source"]
    on = [*keys, "bucket"]
    width = base_width * tiers[0]
    footprint = F.broadcast(deleted.select(*keys, bucketize("t", width).alias("bucket")))
    kept = (
        rollup.filter(F.col("tier") == tiers[0])
        .select(*on, *ROLLUP_AGG_COLS)
        .join(footprint, on, "left_anti")
    )
    touched = retained.select(*keys, "t", "v", bucketize("t", width).alias("bucket"))
    redone = _base_partials(touched.join(footprint, on, "left_semi"), keys, width)
    return _tiers_from_base(kept.unionByName(redone), keys, tiers)


ROLLUP_ARRAYS_SCHEMA = StructType(
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

QUANTILES_ARRAYS_SCHEMA = StructType(
    [
        StructField("doc_id", StringType(), False),
        StructField("source", StringType(), True),
        StructField("tier", IntegerType(), False),
        StructField("bucket", LongType(), False),
        StructField("v_median", DoubleType(), False),
        StructField("v_mad", DoubleType(), False),
    ]
)


def check_array_tiers(base_width, tiers: tuple[int, ...]) -> int:
    """The plan-time argument check of the array-native rollups; returns
    the integral base width their batch functions take."""
    _check_tiers(tiers)
    return _int_width(base_width)


def rollup_tiers_batch(b, base_width: int, tiers: tuple[int, ...]) -> pa.RecordBatch | None:
    """One Arrow batch of sequences -> its tier rows
    (``ROLLUP_ARRAYS_SCHEMA``), or None when it holds no token. Tier 1
    reduces the raw tokens over (row, bucket) runs; each coarser tier
    reduces the finer tier's partials."""
    if b.num_rows == 0:
        return None
    flat, lengths, starts, elem, pos = _flat_token_segments(b)
    if flat.shape[0] == 0:
        return None  # all-empty batch: no buckets (reduceat([0]) would throw)
    parts = []
    # tier 1 from raw, segment boundaries where (row, bucket) changes
    bucket = pos // (base_width * tiers[0])
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

    idx = pa.array(np.concatenate([p[1] for p in parts]))
    tier_all = np.concatenate(
        [np.full(p[1].shape[0], p[0], dtype=np.int32) for p in parts]
    )
    arrays = [
        b.column(b.schema.get_field_index("doc_id")).take(idx),
        b.column(b.schema.get_field_index("source")).take(idx),
        pa.array(tier_all),
        pa.array(np.concatenate([p[2] for p in parts])),
        pa.array(np.concatenate([p[3] for p in parts])),
        pa.array(np.concatenate([p[4] for p in parts])),
        pa.array(np.concatenate([p[5] for p in parts])),
        pa.array(np.concatenate([p[6] for p in parts])),
        pa.array(np.concatenate([p[4] / p[3] for p in parts])),
    ]
    return pa.RecordBatch.from_arrays(arrays, ROLLUP_ARRAYS_SCHEMA.fieldNames())


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
    mapInArrow pass (:func:`rollup_tiers_batch` per Arrow batch),
    segment-vectorized (reduceat over bucket boundaries; coarser tiers
    reduce the finer tier's partials, the same nesting rule as
    :func:`rollup_tiers`). ~25x fewer rows ever leave the kernel, and
    none of them cross an exchange.

    At 100 TB this is the difference between the rollup being a free
    rider on the feature-extraction scan and being the job's largest
    shuffle. Results are identical to rollup_tiers(explode_series(seq))
    (tested). Output: ``ROLLUP_ARRAYS_SCHEMA``, (doc_id, source, tier,
    bucket, n_points, v_sum, v_min, v_max, v_mean).
    """
    width = check_array_tiers(base_width, tiers)

    def fn(batches):
        for b in batches:
            out = rollup_tiers_batch(b, width, tiers)
            if out is not None:
                yield out

    return seq.select("doc_id", "source", "tokens", "n_tok").mapInArrow(
        fn, schema=ROLLUP_ARRAYS_SCHEMA
    )


def rollup_quantiles_batch(
    b, base_width: int, tiers: tuple[int, ...]
) -> pa.RecordBatch | None:
    """One Arrow batch of sequences -> its exact per-bucket median/MAD
    rows (``QUANTILES_ARRAYS_SCHEMA``), or None when it holds no token.
    Two :func:`padded_segment_median` passes per tier: the medians, then
    the medians of the absolute deviations from them."""
    if b.num_rows == 0:
        return None
    flat, lengths, starts, elem, pos = _flat_token_segments(b)
    if flat.shape[0] == 0:
        return None  # all-empty batch: no buckets (empty medians would throw)
    e_parts, t_parts, b_parts, med_parts, mad_parts = [], [], [], [], []
    for t in tiers:
        bucket = pos // (base_width * t)
        gid = elem * (1 << 40) | bucket  # monotone within batch
        seg = np.flatnonzero(np.r_[True, gid[1:] != gid[:-1]])
        seg_len = np.diff(np.r_[seg, flat.shape[0]])
        med = padded_segment_median(flat, seg_len)
        absd = np.abs(flat - np.repeat(med, seg_len))
        e_parts.append(elem[seg])
        t_parts.append(np.full(seg.shape[0], t, dtype=np.int32))
        b_parts.append(bucket[seg])
        med_parts.append(med)
        mad_parts.append(padded_segment_median(absd, seg_len))
    idx = pa.array(np.concatenate(e_parts))
    return pa.RecordBatch.from_arrays(
        [
            b.column(b.schema.get_field_index("doc_id")).take(idx),
            b.column(b.schema.get_field_index("source")).take(idx),
            pa.array(np.concatenate(t_parts)),
            pa.array(np.concatenate(b_parts)),
            pa.array(np.concatenate(med_parts)),
            pa.array(np.concatenate(mad_parts)),
        ],
        QUANTILES_ARRAYS_SCHEMA.fieldNames(),
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
    exact per-bucket median/MAD reduce inside one mapInArrow pass
    (:func:`rollup_quantiles_batch` per Arrow batch). Results bit-match
    the relational path (tested) — token values are integer-valued f64,
    and both paths take the exact mean-of-two-middles median."""
    width = check_array_tiers(base_width, tiers)

    def fn(batches):
        for b in batches:
            out = rollup_quantiles_batch(b, width, tiers)
            if out is not None:
                yield out

    return seq.select("doc_id", "source", "tokens").mapInArrow(
        fn, schema=QUANTILES_ARRAYS_SCHEMA
    )


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
    sketches, so this follows the same one-aggregate shape as
    :func:`rollup_tiers`: the raw series is scanned ONCE into base-tier
    ``hll_sketch_agg`` sketches, expanded to every tier and merged by
    one ``hll_union_agg`` (HLL union is lossless for
    same-precision sketches, so the unioned estimate EQUALS the
    direct-aggregation estimate — pytest-asserted). At 100 TB that is
    one raw shuffle plus one tiny sketch-table shuffle, versus a full
    re-shuffle of raw values per tier for exact count_distinct.

    Determinism is regime-dependent (measured, tests/test_round3.py):
    in the sparse/coupon regime (per-bucket cardinality well under
    2^lg_config_k/4) the sketch stores exact hashes, so estimates are
    EXACT and partition-independent — that is the sf0.01 contract
    query's regime, which is what lets it oracle against DuckDB's exact
    COUNT(DISTINCT). In the dense regime the estimate carries the
    standard ~1.04/sqrt(2^lg_config_k) relative error and can shift by
    a few counts with input partitioning (partials cross the
    sparse->dense promotion at different points — a DataSketches HLL
    property, not an engine bug). The sketch union itself is lossless
    in BOTH regimes: unioned sketches give the same estimate as direct
    aggregation."""
    _check_tiers(tiers)
    keys = keys or []
    base = series.groupBy(
        *keys, bucketize("t", base_width * tiers[0]).alias("bucket")
    ).agg(F.hll_sketch_agg(distinct_col, F.lit(lg_config_k)).alias("_sk"))
    return (
        _expand_tiers(base, [*keys, "_sk"], tiers[0], tiers)
        .groupBy(*keys, "tier", "bucket")
        .agg(F.hll_sketch_estimate(F.hll_union_agg("_sk")).alias("n_distinct"))
    )


def rollup_quantiles(
    series: DataFrame,
    keys: list[str] | None = None,
    base_width: float = 16.0,
    tiers: tuple[int, ...] = (1, 10, 100),
) -> DataFrame:
    """Exact median/MAD per tier bucket, recomputed from raw (the
    non-decomposable companion to :func:`rollup_tiers`): raw rows are
    expanded once to every ``(tier, bucket)`` by the same nesting rule,
    then one median aggregate, one join and one MAD aggregate."""
    _check_tiers(tiers)
    keys = keys or ["doc_id", "source"]
    on = [*keys, "tier", "bucket"]
    expanded = _expand_tiers(
        series.select(*keys, "v", bucketize("t", base_width * tiers[0]).alias("bucket")),
        [*keys, "v"],
        tiers[0],
        tiers,
    )
    med = expanded.groupBy(*on).agg(F.median("v").alias("v_median"))
    return (
        expanded.join(med, on)
        .groupBy(*on, "v_median")
        .agg(F.median(F.abs(F.col("v") - F.col("v_median"))).alias("v_mad"))
        .select(*on, "v_median", "v_mad")
    )
