"""Driver contract for the spark-graft builder (PySpark target).

``entry`` runs the flagship tier-rollup over sf0.001; ``queries`` maps
every implemented operator from SURVEY.md §2 (plus the training-data
pipeline ops) to a callable; ``oracle_sql`` provides a DuckDB oracle for
EVERY query: SQL twins where the math is SQL-expressible, and
``read_parquet`` fixture oracles elsewhere (MinHash/SimHash LSH,
fingerprints, ANN probing, kernel periodogram moments, LTTB, media
stubs, synthetic-roundtrip) — the fixtures are materialized by an
INDEPENDENT naive pure-Python implementation of each spec
(scripts/oracle_impl.py + scripts/export_oracle_fixtures.py) over the
sf0.01 driver tables, the scale the driver's correctness gate runs at.

Float policy: every computed float column is wrapped in round(·, 6) on
BOTH sides so cross-engine reduction-order noise cannot flip the
value-hash; raw pass-through columns stay exact.
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

DAY_US = 86_400_000_000.0


def _r6(c):
    # epsilon-shift before rounding: means/ratios of 2-decimal data land
    # EXACTLY on the x.xxxxxx5 boundary, where 1-ulp cross-engine noise
    # flips the rounded digit. The same shift is applied to every round()
    # in the oracle SQL (see oracle_sql()), so both sides move together.
    if isinstance(c, str):
        c = F.col(c)
    return F.round(c + F.lit(1e-9), 6)


def _utc(spark: SparkSession) -> None:
    """Pin the session timezone: events.ts is TIMESTAMP_NTZ and
    ``cast(ntz AS timestamp)`` interprets wall time in the SESSION zone —
    the driver's session may not be UTC, while the DuckDB oracle's
    epoch_us(ntz) always treats it as UTC. Runtime-settable config."""
    spark.conf.set("spark.sql.session.timeZone", "UTC")


def _events_series(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events as a long-form series: (user_id, t = epoch micros double,
    v = value). Microsecond-integer t is exact in f64 (< 2^53)."""
    _utc(spark)
    ev = spark.read.parquet(os.path.join(sf_dir, "events.parquet"))
    return ev.select(
        "user_id",
        F.unix_micros(F.col("ts").cast("timestamp")).cast("double").alias("t"),
        F.col("value").alias("v"),
    )


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))


def _emb(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(os.path.join(sf_dir, "embeddings.parquet"))


def _query_vec(spark: SparkSession, sf_dir: str) -> list[float]:
    row = _emb(spark, sf_dir).filter(F.col("vec_id") == 0).head()
    return [float(x) for x in row.embedding]


# ---------------------------------------------------------------------------
# queries
# ---------------------------------------------------------------------------

def q_amplitude_lineitem(spark, sf_dir):
    li = spark.read.parquet(os.path.join(sf_dir, "lineitem.parquet"))
    p = F.col("l_extendedprice")
    return li.groupBy("l_returnflag").agg(
        _r6((F.max(p) - F.min(p)) / 2.0).alias("amplitude"),
        F.count("*").alias("n_rows"),
        F.min(p).alias("v_min"),
        F.max(p).alias("v_max"),
    )


def q_features_events(spark, sf_dir):
    from light_curve_spark.operators.features import extract_features_relational

    out = extract_features_relational(_events_series(spark, sf_dir), keys=["user_id"])
    keep_exact = {"min", "max", "count"}
    return out.select(
        "user_id",
        *[
            (F.col(c) if c in keep_exact else _r6(F.col(c))).alias(c)
            for c in out.columns
            if c != "user_id"
        ],
    )


def q_features_events_kernel(spark, sf_dir):
    """Kernel-path twin of features_events: collect_list + mapInArrow +
    the segment-vectorized feature_frame (one Arrow crossing per batch)."""
    from light_curve_spark.kernels.features import FEATURE_NAMES
    from light_curve_spark.operators.features import extract_features_grouped

    out = extract_features_grouped(_events_series(spark, sf_dir), keys=["user_id"])
    keep_exact = {"min", "max", "count"}
    return out.select(
        "user_id",
        *[
            (F.col(c) if c in keep_exact else _r6(F.col(c))).alias(c)
            for c in FEATURE_NAMES
        ],
    )


def _round_rollup(df):
    # v_mean derives from the ROUNDED sum so cross-engine 1-ulp noise in
    # the unrounded sums cannot straddle a rounding boundary in the mean
    return df.select(
        "user_id",
        "tier",
        "bucket",
        "n_points",
        _r6("v_sum").alias("v_sum"),
        "v_min",
        "v_max",
        _r6(_r6("v_sum") / F.col("n_points")).alias("v_mean"),
    )


def q_rollup_tiers_events(spark, sf_dir):
    from light_curve_spark.operators.rollup import rollup_tiers

    out = rollup_tiers(
        _events_series(spark, sf_dir),
        keys=["user_id"],
        base_width=DAY_US,
        tiers=(1, 10, 100),
    )
    return _round_rollup(out)


def q_rollup_retract_events(spark, sf_dir):
    """GDPR retraction on the continuous aggregate (round 6,
    operators/rollup.retract_from_rollup): roll up the FULL events
    series, then retract every event whose epoch-second % 7 == 3 —
    ~1/7 of rows scattered INSIDE buckets, so plenty of bucket extrema
    sit on deleted rows and the footprint-pruned recompute actually
    runs. The result must equal the tier rollup over the retained rows
    (oracle: the rollup SQL with the deletion predicate inverted): only
    the base tier is retracted — decomposables subtract, extrema
    recompute only where a deleted row achieved them, from retained raw
    semi-joined to those buckets — and every coarser tier is rebuilt
    from the fixed base partials by the tier rollup's own expansion and
    aggregate."""
    from light_curve_spark.operators.rollup import (
        retract_from_rollup,
        rollup_tiers,
    )

    from light_curve_spark.plans.caching import cached
    from light_curve_spark.plans.salting import ensure_min_splits

    # the series feeds THREE consumers (full rollup, deleted partials,
    # retained extrema rescan); uncached each re-reads the single-row-
    # group parquet serially and repeats the epoch projection (round 7,
    # guide §5: reuse justifies the persist — a retraction deployment
    # materializes the retained/deleted split rather than scanning raw
    # three times). ensure_min_splits parallelizes the one real pass.
    series = cached(ensure_min_splits(_events_series(spark, sf_dir)))
    cond = (
        F.pmod(F.floor(F.col("t") / F.lit(1e6)).cast("long"), F.lit(7)) == 3
    )
    full = rollup_tiers(
        series, keys=["user_id"], base_width=DAY_US, tiers=(1, 10, 100)
    )
    out = retract_from_rollup(
        full,
        series.filter(cond),
        series.filter(~cond),
        keys=["user_id"],
        base_width=DAY_US,
        tiers=(1, 10, 100),
    )
    return _round_rollup(out)


def q_rollup_distinct_events(spark, sf_dir):
    """Distinct-user continuous aggregate per tier bucket via the HLL
    sketch cascade (coarser tiers are lossless sketch UNIONS of the base
    tier — never a raw re-scan). At sf0.01 cardinalities HLL++ sparse
    mode is exact, so the oracle is DuckDB's exact COUNT(DISTINCT)."""
    from light_curve_spark.operators.rollup import rollup_distinct

    # lg_config_k=16: the sketch's exact (coupon) regime covers per-
    # bucket cardinalities ≲ 2^14, so the DuckDB COUNT(DISTINCT) oracle
    # holds through sf0.1/sf1 user counts, not just sf0.01 (measured:
    # promotion at ~3/8 * 2^(lgK-3) coupons ends exactness — lgK=12
    # already drifts by 1 at 400 distinct)
    return rollup_distinct(
        _events_series(spark, sf_dir),
        distinct_col="user_id",
        keys=[],
        base_width=DAY_US,
        tiers=(1, 10, 100),
        lg_config_k=16,
    )


def q_rollup_quantiles_events(spark, sf_dir):
    from light_curve_spark.operators.rollup import rollup_quantiles

    out = rollup_quantiles(
        _events_series(spark, sf_dir),
        keys=["user_id"],
        base_width=DAY_US,
        tiers=(1, 10, 100),
    )
    return out.select(
        "user_id",
        "tier",
        "bucket",
        _r6("v_median").alias("v_median"),
        _r6("v_mad").alias("v_mad"),
    )


def q_rollup_percentiles_events(spark, sf_dir):
    """Exact interpolated quartiles per daily bucket (ANSI percentile /
    quantile_cont semantics — both engines use linear interpolation)."""
    s = _events_series(spark, sf_dir).withColumn(
        "bucket", F.floor(F.col("t") / F.lit(DAY_US))
    )
    return s.groupBy("user_id", "bucket").agg(
        _r6(F.percentile("v", F.lit(0.25))).alias("p25"),
        _r6(F.percentile("v", F.lit(0.5))).alias("p50"),
        _r6(F.percentile("v", F.lit(0.75))).alias("p75"),
    )


def q_merge_rollups_events(spark, sf_dir):
    """Incremental continuous-aggregate fold: rollup two halves of events
    independently, merge — must equal the direct rollup (same oracle)."""
    from light_curve_spark.operators.rollup import rollup_tiers
    from light_curve_spark.streaming.incremental import merge_rollups

    _utc(spark)
    ev = spark.read.parquet(os.path.join(sf_dir, "events.parquet"))
    mk = lambda df: rollup_tiers(  # noqa: E731
        df.select(
            "user_id",
            F.unix_micros(F.col("ts").cast("timestamp")).cast("double").alias("t"),
            F.col("value").alias("v"),
        ),
        keys=["user_id"],
        base_width=DAY_US,
        tiers=(1, 10, 100),
    )
    half_a = mk(ev.filter(F.col("event_id") % 2 == 0))
    half_b = mk(ev.filter(F.col("event_id") % 2 == 1))
    return _round_rollup(merge_rollups(half_a, half_b, keys=["user_id"]))


def q_locf_events_daily(spark, sf_dir):
    from pyspark.sql import Window

    _utc(spark)
    ev = spark.read.parquet(os.path.join(sf_dir, "events.parquet"))
    daily = (
        ev.withColumn("day", F.floor(F.unix_micros(F.col("ts").cast("timestamp")) / F.lit(DAY_US)))
        .groupBy("user_id", "day")
        .agg(F.max_by("value", "event_id").alias("v"))
    )
    bounds = daily.groupBy("user_id").agg(
        F.min("day").alias("d0"), F.max("day").alias("d1")
    )
    grid = bounds.select(
        "user_id", F.explode(F.sequence("d0", "d1")).alias("day")
    )
    joined = grid.join(daily, ["user_id", "day"], "left")
    w = (
        Window.partitionBy("user_id")
        .orderBy("day")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return joined.select(
        "user_id", "day", F.last("v", ignorenulls=True).over(w).alias("v_filled")
    )


def q_interpolate_events(spark, sf_dir):
    from light_curve_spark.operators.gapfill import interpolate_relational

    s = _events_series(spark, sf_dir)
    b = s.groupBy("user_id").agg(F.min("t").alias("t0"), F.max("t").alias("t1"))
    grid = b.select(
        "user_id",
        F.explode(
            F.transform(
                F.sequence(F.lit(0), F.lit(24)),
                lambda i: F.col("t0")
                + ((F.col("t1") - F.col("t0")) / F.lit(24.0)) * i.cast("double"),
            )
        ).alias("t"),
    )
    # t stays UNROUNDED: the grid doubles are bitwise identical across
    # engines, while round(1e15-scale, 6) is itself lossy in DuckDB
    out = interpolate_relational(s, grid, left=-1.0, right=-1.0, keys=["user_id"])
    return out.select("user_id", "t", _r6("v").alias("v"))


def q_regrid_events_kernel(spark, sf_dir):
    """Strategy-K regrid (reference-exact kernel) exploded back to rows;
    oracle is the relational SQL — cross-validates kernel vs SQL."""
    from light_curve_spark.operators.gapfill import regrid_kernel

    s = _events_series(spark, sf_dir)
    t0, t1 = s.agg(F.min("t"), F.max("t")).head()
    n = 33
    step = (t1 - t0) / (n - 1)
    out = regrid_kernel(s, t0, t1, n, left=-1.0, right=-1.0, keys=["user_id"])
    return out.select(
        "user_id", F.posexplode("grid_v").alias("i", "v")
    ).select(
        "user_id",
        (F.lit(t0) + F.lit(step) * F.col("i").cast("double")).alias("t"),
        _r6("v").alias("v"),
    )


_PG_FREQS = (0.5, 1.0, 2.0, 3.0)  # cycles per day


def q_periodogram_events(spark, sf_dir):
    """Relational trig-sum periodogram (the same math as the kernel's
    "Lomb-Scargle-free" spectrum, SURVEY §2.5) — per user, normalized
    amplitude sqrt(P(f))/N at fixed frequencies. Time is re-based to
    days-from-user-start so the trig arguments stay small (cross-libm
    cos/sin parity degrades for huge arguments)."""
    from pyspark.sql import Window
    import math

    s = _events_series(spark, sf_dir)
    w = Window.partitionBy("user_id")
    s = s.withColumn("mu", F.mean("v").over(w)).withColumn(
        "td", (F.col("t") - F.min("t").over(w)) / F.lit(DAY_US)
    )
    md = F.col("v") - F.col("mu")
    agg = s.groupBy("user_id").agg(
        F.count("v").alias("n"),
        *[
            F.sum(md * F.cos(F.lit(2.0 * math.pi * f) * F.col("td"))).alias(f"c{i}")
            for i, f in enumerate(_PG_FREQS)
        ],
        *[
            F.sum(md * F.sin(F.lit(2.0 * math.pi * f) * F.col("td"))).alias(f"s{i}")
            for i, f in enumerate(_PG_FREQS)
        ],
    )
    parts = [
        agg.select(
            "user_id",
            F.lit(float(f)).alias("freq"),
            _r6(
                F.sqrt(
                    F.col(f"c{i}") * F.col(f"c{i}") + F.col(f"s{i}") * F.col(f"s{i}")
                )
                / F.col("n")
            ).alias("amp_norm"),
        )
        for i, f in enumerate(_PG_FREQS)
    ]
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def q_retention_events(spark, sf_dir):
    """Tiered retention over the events rollup: tier 1 keeps 7 days,
    tier 10 keeps 15 days, tier 100 keeps everything — relative to the
    max event time (the watermark)."""
    from light_curve_spark.operators.rollup import rollup_tiers
    from light_curve_spark.operators.retention import apply_retention

    s = _events_series(spark, sf_dir)
    wm = s.agg(F.max("t")).head()[0]
    rolled = rollup_tiers(s, keys=["user_id"], base_width=DAY_US, tiers=(1, 10, 100))
    kept = apply_retention(
        rolled,
        watermark=wm,
        horizons={1: 7 * DAY_US, 10: 15 * DAY_US},
        base_width=DAY_US,
    )
    return _round_rollup(kept)


def q_sessions_events(spark, sf_dir):
    """Sessionization (SURVEY §2.6): per-user sessions split at 2-day
    inactivity gaps, summarized as (user_id, session_id, n_events,
    duration_us, v_sum)."""
    from light_curve_spark.operators.series import sessionize

    s = sessionize(_events_series(spark, sf_dir), gap=2.0 * DAY_US, keys=["user_id"])
    return s.groupBy("user_id", "session_id").agg(
        F.count("*").alias("n_events"),
        (F.max("t") - F.min("t")).alias("duration_us"),
        _r6(F.sum("v")).alias("v_sum"),
    )


def q_rolling_mean_events(spark, sf_dir):
    """4-row trailing rolling mean per user in time order (window frame
    rowsBetween(-3, 0) — SURVEY §2.6 frame-spec coverage)."""
    from pyspark.sql import Window

    s = _events_series(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy("t").rowsBetween(-3, 0)
    return s.select(
        "user_id",
        F.col("t").cast("long").alias("t"),
        _r6(F.avg("v").over(w)).alias("rolling_mean"),
        F.count("v").over(w).alias("window_n"),
    )


def q_asof_join_events(spark, sf_dir):
    """For every 'error' event: value/time of the latest prior (or
    simultaneous) 'signup' event of the same user — backward as-of join.
    Oracle: DuckDB's NATIVE ASOF JOIN."""
    from light_curve_spark.operators.asof import asof_join

    _utc(spark)
    ev = spark.read.parquet(os.path.join(sf_dir, "events.parquet"))
    base = ev.select(
        "user_id",
        F.unix_micros(F.col("ts").cast("timestamp")).alias("t"),
        F.col("value").alias("v"),
        "event_type",
    )
    errors = base.filter(F.col("event_type") == "error").select("user_id", "t", "v")
    signups = base.filter(F.col("event_type") == "signup").select("user_id", "t", "v")
    out = asof_join(errors, signups, keys=["user_id"], value_cols=["v"])
    return out.select(
        "user_id", "t", "v", F.col("asof_v").alias("signup_v"), F.col("asof_t").alias("signup_t")
    )


# ---------------------------------------------------------------------------
# adversarial tie corpora: the events tables carry no duplicate
# timestamps or tied values, so the asof/sessionize/interpolate tie rules
# were previously proven only in pytest. Quantizing t to a 2-day grid and
# v to 25-wide integer steps plants BOTH (every value exactly f64-
# representable, identical across engines), putting the tie rules under
# the driver's value-hash gate too.
# ---------------------------------------------------------------------------

_TIE_T_US = 2.0 * DAY_US  # 172800000000


def _events_series_ties(spark, sf_dir):
    s = _events_series(spark, sf_dir)
    return s.select(
        "user_id",
        (F.floor(F.col("t") / F.lit(_TIE_T_US)) * F.lit(_TIE_T_US)).alias("t"),
        F.floor(F.col("v") / F.lit(25.0)).cast("double").alias("v"),
    )


def q_sessions_events_ties(spark, sf_dir):
    """Per-ROW session assignment over the tie-planted series: duplicate
    timestamps within a session and across boundary candidates must get
    identical session ids regardless of partitioning (tie order (t, v) is
    pinned in both engines)."""
    from light_curve_spark.operators.series import sessionize

    s = sessionize(
        _events_series_ties(spark, sf_dir), gap=4.0 * DAY_US, keys=["user_id"]
    )
    return s.select(
        "user_id",
        F.col("t").cast("long").alias("t"),
        "v",
        F.col("session_id").cast("long").alias("session_id"),
    )


def q_asof_join_events_ties(spark, sf_dir):
    """Backward as-of join where the right side has MULTIPLE rows at the
    matching timestamp: the operator's documented winner is the
    lexicographically-greatest (value..., t) whole row — the oracle
    reduces duplicates to max(v) per (user, t) and applies DuckDB's
    native ASOF join."""
    from light_curve_spark.operators.asof import asof_join

    _utc(spark)
    ev = spark.read.parquet(os.path.join(sf_dir, "events.parquet"))
    base = ev.select(
        "user_id",
        (
            F.floor(
                F.unix_micros(F.col("ts").cast("timestamp")) / F.lit(_TIE_T_US)
            )
            * F.lit(_TIE_T_US)
        ).alias("t"),
        F.floor(F.col("value") / F.lit(25.0)).cast("double").alias("v"),
        "event_type",
    )
    errors = base.filter(F.col("event_type") == "error").select("user_id", "t", "v")
    signups = base.filter(F.col("event_type") == "signup").select("user_id", "t", "v")
    out = asof_join(errors, signups, keys=["user_id"], value_cols=["v"])
    return out.select(
        "user_id",
        F.col("t").cast("long").alias("t"),
        "v",
        F.col("asof_v").alias("signup_v"),
        F.col("asof_t").cast("long").alias("signup_t"),
    )


def q_interpolate_events_ties(spark, sf_dir):
    """Strategy-R interpolation over a series with DUPLICATE knot
    timestamps: exact hits / right neighbors must take the FIRST
    duplicate, left neighbors the LAST (reference rule,
    light-curve-interpol/src/lib.rs:55) — under the hash gate."""
    from light_curve_spark.operators.gapfill import interpolate_relational

    s = _events_series_ties(spark, sf_dir)
    b = s.groupBy("user_id").agg(F.min("t").alias("t0"), F.max("t").alias("t1"))
    grid = b.select(
        "user_id",
        F.explode(
            F.transform(
                F.sequence(F.lit(0), F.lit(24)),
                lambda i: F.col("t0")
                + ((F.col("t1") - F.col("t0")) / F.lit(24.0)) * i.cast("double"),
            )
        ).alias("t"),
    )
    out = interpolate_relational(s, grid, left=-1.0, right=-1.0, keys=["user_id"])
    return out.select("user_id", "t", _r6("v").alias("v"))


def q_events_in_signup_windows(spark, sf_dir):
    """Range join (SURVEY §2.4): every event falling inside the 3-day
    window after any signup of the same user, counted per signup. The
    operator bucketizes both sides and equi-joins (no
    BroadcastNestedLoopJoin — plan-asserted in tests); the oracle is the
    naive theta join DuckDB can afford at sf0.01."""
    from light_curve_spark.operators.rangejoin import interval_join

    s = _events_series(spark, sf_dir)
    _utc(spark)
    ev = spark.read.parquet(os.path.join(sf_dir, "events.parquet"))
    signups = ev.filter(F.col("event_type") == "signup").select(
        "user_id",
        F.col("event_id").alias("signup_id"),
        F.unix_micros(F.col("ts").cast("timestamp")).cast("double").alias("start"),
        (
            F.unix_micros(F.col("ts").cast("timestamp")).cast("double")
            + F.lit(3.0 * DAY_US)
        ).alias("end"),
    )
    joined = interval_join(
        s, signups, keys=["user_id"], bucket_width=3.0 * DAY_US
    )
    return joined.groupBy("user_id", "signup_id").agg(
        F.count("*").alias("n_events"),
        _r6(F.sum("v")).alias("v_sum"),
    )


def q_eta_trend_events(spark, sf_dir):
    from light_curve_spark.operators.features import series_dynamics_relational

    out = series_dynamics_relational(_events_series(spark, sf_dir), keys=["user_id"])
    return out.select("user_id", _r6("eta").alias("eta"), _r6("trend").alias("trend"))


_DMDT_ARGS = dict(
    dt_width=2.6e11, dm_width=40.0, n_dt=10, n_dm=10, dm_offset=200.0
)


def q_dmdt_events(spark, sf_dir):
    from light_curve_spark.operators.dmdt import dmdt_relational

    return dmdt_relational(
        _events_series(spark, sf_dir), keys=["user_id"], **_DMDT_ARGS
    )


def q_dmdt_events_kernel(spark, sf_dir):
    from light_curve_spark.operators.dmdt import dmdt_kernel

    # max_points=None pins the EXACT path for the oracle hash; the
    # library default is a bounded "auto" cap (mega-key OOM guard)
    return dmdt_kernel(
        _events_series(spark, sf_dir), keys=["user_id"], max_points=None, **_DMDT_ARGS
    )


def q_exact_dedup_documents(spark, sf_dir):
    from light_curve_spark.operators.dedup import exact_dedup

    # min_dups=1: audit every digest group (cross-engine md5+normalization
    # parity on all 500 docs; the corpus has no exact dups)
    return exact_dedup(_docs(spark, sf_dir), min_dups=1)


def q_ngram_jaccard_documents(spark, sf_dir):
    from light_curve_spark.operators.dedup import ngram_jaccard_pairs

    # max_df=100: with the corpus's small vocabulary, grams shared by
    # >100 docs carry no dedup signal and quadratically inflate the
    # inverted-index self-join (same constant in the oracle SQL)
    out = ngram_jaccard_pairs(_docs(spark, sf_dir), n=3, threshold=0.5, max_df=100)
    return out.select("doc_a", "doc_b", _r6("jaccard").alias("jaccard"))


def q_dedup_clusters_documents(spark, sf_dir):
    """Connected components over the exact ngram-jaccard near-dup pairs:
    (doc_id, keep_id = cluster-min survivor). Oracle: plain union-find
    over the same pairs (fixture)."""
    from light_curve_spark.operators.dedup import dedup_clusters, ngram_jaccard_pairs

    pairs = ngram_jaccard_pairs(_docs(spark, sf_dir), n=3, threshold=0.5, max_df=100)
    return dedup_clusters(pairs)


def q_contamination_documents(spark, sf_dir):
    """Train/eval decontamination over a parity split of the corpus:
    eval docs (odd ids) sharing >= 2 distinct 3-grams with a train doc
    (even ids). SQL twin mirrors the inverted-index plan with string
    grams (hash-vs-string equivalence, as with ngram_jaccard)."""
    from light_curve_spark.operators.dedup import cross_ngram_contamination

    docs = _docs(spark, sf_dir)
    out = cross_ngram_contamination(
        docs.filter(F.col("doc_id") % 2 == 0),
        docs.filter(F.col("doc_id") % 2 == 1),
        n=3, max_df=100, min_shared=2,
    )
    return out.select("eval_id", "train_id", "n_shared")


def q_minhash_lsh_documents(spark, sf_dir):
    from light_curve_spark.operators.dedup import minhash_lsh_pairs

    return minhash_lsh_pairs(
        _docs(spark, sf_dir), n=3, num_hashes=16, bands=4, threshold=0.5
    ).select("doc_a", "doc_b", _r6("jaccard").alias("jaccard"))


def q_minhash_incremental_documents(spark, sf_dir):
    """Incremental MinHash dedup fed the SAME corpus in two batches
    (split by doc_id parity) through a fresh persisted index — the
    union of per-batch pairs must hash-match the ONE-SHOT fixture
    oracle, proving incremental processing changes the schedule, not
    the result."""
    import tempfile

    from light_curve_spark.operators.dedup import incremental_minhash_pairs
    from light_curve_spark.sources.catalog import ParquetSnapshotStorage

    docs = _docs(spark, sf_dir)
    storage = ParquetSnapshotStorage(spark, tempfile.mkdtemp(prefix="mhidx-"))
    out = None
    for parity in (0, 1):
        batch = docs.filter(F.col("doc_id") % 2 == parity)
        p = incremental_minhash_pairs(storage, batch, threshold=0.5)
        out = p if out is None else out.unionByName(p)
    return out.select("doc_a", "doc_b", _r6("jaccard").alias("jaccard"))


def q_minhash_compacted_documents(spark, sf_dir):
    """Two-batch incremental MinHash feed with a fold-to-snapshot
    COMPACTION between the deliveries
    (streaming/compact.compact_stream_state — round-6): batch 2 folds
    against the compacted one-snapshot index, and the union of
    per-batch pairs must still hash-match the ONE-SHOT fixture oracle.
    Compaction changes the storage layout (snapshot count, pre-applied
    distinct), never the result. Batch 1's pairs are materialized
    eagerly because the compaction commit expires the snapshot files
    its lazy plan would read."""
    import tempfile

    from light_curve_spark.operators.dedup import incremental_minhash_pairs
    from light_curve_spark.sources.catalog import ParquetSnapshotStorage
    from light_curve_spark.streaming.compact import compact_stream_state

    docs = _docs(spark, sf_dir)
    storage = ParquetSnapshotStorage(spark, tempfile.mkdtemp(prefix="mhcmp-"))
    p0 = incremental_minhash_pairs(
        storage, docs.filter(F.col("doc_id") % 2 == 0), threshold=0.5
    ).localCheckpoint(eager=True)
    compact_stream_state(storage, prefix="mh")
    p1 = incremental_minhash_pairs(
        storage, docs.filter(F.col("doc_id") % 2 == 1), threshold=0.5
    )
    out = p0.unionByName(p1)
    return out.select("doc_a", "doc_b", _r6("jaccard").alias("jaccard"))


def q_simhash_documents(spark, sf_dir):
    from light_curve_spark.operators.dedup import simhash_dedup

    # max_hamming inside the operator: the filter runs BEFORE the pair
    # dedup, keeping far-apart band collisions out of the shuffle
    return simhash_dedup(_docs(spark, sf_dir), max_hamming=8)


def q_simhash_weighted_documents(spark, sf_dir):
    """IDF-weighted SimHash (doc_id, sh) — integer log2-idf votes, the
    Zipf-saturation remedy (BENCH.md round-3 finding). Oracle: naive
    scalar re-derivation (exact int sums both sides)."""
    from light_curve_spark.operators.dedup import simhash_weighted_kernel

    return simhash_weighted_kernel(_docs(spark, sf_dir))


def q_language_id_documents(spark, sf_dir):
    from light_curve_spark.operators.text import language_id

    out = language_id(_docs(spark, sf_dir))
    return out.select("doc_id", "lang_pred", _r6("lang_score").alias("lang_score"))


def q_quality_score_documents(spark, sf_dir):
    from light_curve_spark.operators.text import quality_score

    out = quality_score(_docs(spark, sf_dir))
    return out.select(
        "doc_id",
        *[_r6(c).alias(c) for c in out.columns if c != "doc_id"],
    )


def q_token_count_documents(spark, sf_dir):
    from light_curve_spark.operators.text import token_count

    return token_count(_docs(spark, sf_dir))


_BM25_TERMS = ("spark", "window", "merge")


def q_bm25_documents(spark, sf_dir):
    """Okapi BM25 corpus ranking against a 3-term query — one scan +
    single-row broadcast stats, no explode/shuffle of document rows.
    SQL twin mirrors tf/df/idf/score formulas textually."""
    from light_curve_spark.operators.text import bm25_scores

    out = bm25_scores(_docs(spark, sf_dir), list(_BM25_TERMS))
    return out.select("doc_id", _r6("score").alias("score"))


def q_fingerprint_documents(spark, sf_dir):
    from light_curve_spark.operators.text import fingerprint

    return fingerprint(_docs(spark, sf_dir))


def q_cosine_topk_embeddings(spark, sf_dir):
    from light_curve_spark.operators.similarity import cosine_topk

    out = cosine_topk(_emb(spark, sf_dir), _query_vec(spark, sf_dir), k=10)
    return out.select("vec_id", _r6("cosine").alias("cosine"))


def q_lsh_ann_embeddings(spark, sf_dir):
    from light_curve_spark.operators.similarity import lsh_ann_topk

    out = lsh_ann_topk(
        _emb(spark, sf_dir), _query_vec(spark, sf_dir), k=10, n_planes=8
    )
    return out.select("vec_id", _r6("cosine").alias("cosine"))


def q_ivf_ann_embeddings(spark, sf_dir):
    """IVF-bucketed ANN (second scale path next to LSH): deterministic
    train-on-sample centroids, zero-shuffle assignment, nprobe bucket
    pruning, exact cosine inside candidates."""
    from light_curve_spark.operators.similarity import ivf_ann_topk

    out = ivf_ann_topk(
        _emb(spark, sf_dir), _query_vec(spark, sf_dir), k=10,
        n_centroids=16, nprobe=4,
    )
    return out.select("vec_id", _r6("cosine").alias("cosine"))


def q_ivf_relayout_embeddings(spark, sf_dir):
    """IVF layout lifecycle end-to-end (round-6 drift-loop close,
    operators/similarity.relayout_ivf): train centroids on the first
    half of the table, write the bucket-partitioned layout,
    frozen-centroid append the second half, then RELAYOUT — retrain on
    a uniform draw of the grown table and rewrite under a new path.
    Probing ALL buckets of the new layout must reproduce the exact
    cosine top-10 (oracle: the same SQL as cosine_topk): the rewrite
    moves rows between bucket directories, never changes them.
    Pruned-probe (nprobe < n_centroids) recall is bench evidence, not
    an exact oracle — BENCH.md."""
    import tempfile

    from light_curve_spark.operators.similarity import (
        append_ivf_partitioned,
        cosine_topk,
        read_ivf_probe,
        relayout_ivf,
        train_ivf_centroids,
        write_ivf_partitioned,
    )

    emb = _emb(spark, sf_dir)
    root = tempfile.mkdtemp(prefix="ivfrl-")
    v1, v2 = f"{root}/v1", f"{root}/v2"
    first = emb.filter(F.col("vec_id") % 2 == 0)
    cents = train_ivf_centroids(first, n_centroids=8)
    write_ivf_partitioned(first, cents, v1)
    append_ivf_partitioned(emb.filter(F.col("vec_id") % 2 == 1), cents, v1)
    new_cents = relayout_ivf(spark, v1, v2, n_centroids=8)
    q = _query_vec(spark, sf_dir)
    grown = read_ivf_probe(spark, v2, new_cents, q, nprobe=8).drop("_bucket")
    out = cosine_topk(grown, q, k=10)
    return out.select("vec_id", _r6("cosine").alias("cosine"))


def q_ivf_tombstone_embeddings(spark, sf_dir):
    """Right-to-be-forgotten lifecycle on the IVF ANN layout (round 6,
    operators/similarity.tombstone_ivf): write the bucket-partitioned
    layout, tombstone every ``vec_id % 7 == 3``, RE-APPEND exactly the
    deleted rows (the `_ivf_tombstones` sidecar must refuse to
    resurrect them), then relayout — the physical-erasure point — and
    probe ALL buckets of the new layout. The top-10 must equal the
    exact cosine top-10 over the corpus WITHOUT the deleted ids
    (oracle SQL below): a deleted row surviving the rewrite, or
    re-entering through the append, breaks the value hash."""
    import tempfile

    from light_curve_spark.operators.similarity import (
        append_ivf_partitioned,
        cosine_topk,
        read_ivf_probe,
        relayout_ivf,
        tombstone_ivf,
        train_ivf_centroids,
        write_ivf_partitioned,
    )

    emb = _emb(spark, sf_dir)
    root = tempfile.mkdtemp(prefix="ivftb-")
    v1, v2 = f"{root}/v1", f"{root}/v2"
    cents = train_ivf_centroids(emb, n_centroids=8)
    write_ivf_partitioned(emb, cents, v1)
    deleted = emb.filter(F.col("vec_id") % 7 == 3)
    tombstone_ivf(spark, v1, deleted.select("vec_id"))
    append_ivf_partitioned(deleted, None, v1)
    relayout_ivf(spark, v1, v2, n_centroids=8)
    q = _query_vec(spark, sf_dir)
    probed = read_ivf_probe(spark, v2, None, q, nprobe=8).drop("_bucket")
    out = cosine_topk(probed, q, k=10)
    return out.select("vec_id", _r6("cosine").alias("cosine"))


def q_embedding_pairs_exact(spark, sf_dir):
    from light_curve_spark.operators.similarity import embedding_cosine_pairs

    out = embedding_cosine_pairs(_emb(spark, sf_dir), threshold=0.4)
    return out.select("id_a", "id_b", _r6("cosine").alias("cosine"))


def q_embedding_pairs_lsh(spark, sf_dir):
    from light_curve_spark.operators.similarity import embedding_cosine_pairs_lsh

    out = embedding_cosine_pairs_lsh(_emb(spark, sf_dir), threshold=0.4, n_planes=4)
    return out.select("id_a", "id_b", _r6("cosine").alias("cosine"))


def q_chunk_roundtrip_sequences(spark, sf_dir):
    """Per-row invariant on synthetic sequences: decode(encode(tokens))
    == tokens exactly, through the persisted-shape chunk structs."""
    from light_curve_spark.operators.compress import (
        decode_chunks,
        encode_chunks,
        reassemble,
    )
    from light_curve_spark.sources.synthetic import synthetic_sequences

    seq = synthetic_sequences(spark, 300, seed=42)
    back = reassemble(decode_chunks(encode_chunks(seq, max_len=512)))
    orig = seq.select("doc_id", F.col("tokens").alias("tokens_orig"))
    return (
        back.join(orig, "doc_id")
        .select(
            "doc_id",
            F.col("n_tok"),
            (F.col("tokens") == F.col("tokens_orig")).alias("roundtrip_ok"),
        )
    )


def q_periodogram_sequences(spark, sf_dir):
    import numpy as np

    from light_curve_spark.operators.features import extract_features
    from light_curve_spark.sources.synthetic import synthetic_sequences

    seq = synthetic_sequences(spark, 300, seed=42)
    out = extract_features(seq, freqs=np.linspace(0.05, 0.45, 9))
    return out.select(
        "doc_id",
        _r6("pg_mean").alias("pg_mean"),
        _r6("pg_std").alias("pg_std"),
        _r6("pg_skew").alias("pg_skew"),
        _r6("pg_kurt").alias("pg_kurt"),
        _r6("pg_peak_freq").alias("pg_peak_freq"),
    )


def q_media_features_real(spark, sf_dir):
    """REAL media decode — kernels/media.py's pure-numpy WAV/PCM, BMP,
    PPM and YUV4MPEG2 parsers over the committed fixtures/media files,
    ingested through Spark's binaryFile source (the actual media-blob
    ingest path at scale). Oracle: scalar stdlib-only reference decoders
    (scripts/oracle_impl.py wav/image/y4m_features_ref). Feature sums
    accumulate in exact int64 on both sides, so values match raw; _r6 is
    belt-and-braces on the derived floats."""
    from light_curve_spark.operators.multimodal import decode_and_featurize

    media_dir = os.path.join(
        os.path.dirname(os.path.abspath(__file__)), "fixtures", "media"
    )
    pat = r"(\d+)_(audio|image|video)\.\w+$"
    media = (
        spark.read.format("binaryFile")
        .load(media_dir)
        .select(
            F.regexp_extract("path", pat, 1).cast("long").alias("media_id"),
            F.regexp_extract("path", pat, 2).alias("kind"),
            F.col("content").alias("payload"),
        )
    )
    out = decode_and_featurize(media, fake=False)
    return out.select(
        "media_id",
        "kind",
        "n_bytes",
        *[_r6(F.col("feature")[i]).alias(f"f{i}") for i in range(8)],
    )


def q_rollup_quantiles_sequences(spark, sf_dir):
    """Array-native exact per-tier median/MAD over the synthetic
    sequences (zero shuffle; 4.3x pipeline speedup vs the exploded
    relational path at stress scale). Medians of integer-valued tokens
    are exact halves, so values compare RAW against the scalar-reference
    fixture — no rounding."""
    from light_curve_spark.operators.rollup import rollup_quantiles_arrays
    from light_curve_spark.sources.synthetic import synthetic_sequences

    seq = synthetic_sequences(spark, 300, seed=42)
    return rollup_quantiles_arrays(seq, base_width=16, tiers=(1, 10, 100))


def q_sample_documents(spark, sf_dir):
    """Deterministic corpus subsample: 20 docs per source, ranked by
    md5(doc_id) — a pure function of the data (re-runs, resizes, and the
    DuckDB twin select the same rows), unlike seed-based df.sample()."""
    from light_curve_spark.operators.sampling import deterministic_sample

    out = deterministic_sample(
        _docs(spark, sf_dir), strata_cols=["source"], k=20, id_col="doc_id"
    )
    return out.select("doc_id", "source", "n_chars")


def q_topk_events_per_user(spark, sf_dir):
    """Per-key top-k (SURVEY §2.7): each user's 3 highest-value events,
    ties broken by event_id."""
    from light_curve_spark.operators.sampling import top_k_per_key

    _utc(spark)
    ev = spark.read.parquet(os.path.join(sf_dir, "events.parquet"))
    out = top_k_per_key(
        ev.select("user_id", "event_id", "value"),
        keys=["user_id"], order_col="value", k=3,
        tiebreak_cols=["event_id"],
    )
    return out.select("user_id", "event_id", "value")


def q_downsample_lttb_events(spark, sf_dir):
    """LTTB downsample every user's series to 40 points, exploded back to
    rows. t/v are raw pass-throughs of selected observations, so the
    fixture oracle (independent pure-Python LTTB) matches bit-exactly."""
    from light_curve_spark.operators.downsample import downsample_lttb

    out = downsample_lttb(_events_series(spark, sf_dir), n_out=40, keys=["user_id"])
    return out.select(
        "user_id", F.explode(F.arrays_zip("t_ds", "v_ds")).alias("p")
    ).select("user_id", F.col("p.t_ds").alias("t"), F.col("p.v_ds").alias("v"))


def q_validate_events(spark, sf_dir):
    """Ingest validation (SURVEY §2.7 reject-at-ingest policy): corrupt
    the events series deterministically (null times / NaN values keyed on
    event_id), then report reject counts by reason plus the clean count."""
    from light_curve_spark.operators.validate import validate_series

    from light_curve_spark.functions import epoch_us

    _utc(spark)
    ev = spark.read.parquet(os.path.join(sf_dir, "events.parquet"))
    t = epoch_us("ts")
    corrupted = ev.select(
        "user_id",
        F.when(F.col("event_id") % 101 == 3, F.lit(None).cast("double"))
        .otherwise(t)
        .alias("t"),
        F.when(F.col("event_id") % 97 == 5, F.lit(float("nan")))
        .otherwise(F.col("value"))
        .alias("v"),
    )
    clean, rejects = validate_series(corrupted)
    clean_row = clean.select(F.lit("clean").alias("reason")).groupBy("reason").agg(
        F.count("*").alias("n_rejected")
    )
    return rejects.unionByName(clean_row)


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: tier-cascade rollup of the events series at sf0.001."""
    return q_rollup_tiers_events(spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {
        "amplitude_lineitem": q_amplitude_lineitem,
        # features_events retired round 6 (registry cap: the relational
        # twin's parity with the kernel path stays pytest-gated —
        # tests/test_spark_operators.py::test_relational_matches_kernel_
        # features — and it is still benched via its q_ function; slot
        # reused for the rollup retraction)
        "features_events_kernel": q_features_events_kernel,
        "rollup_tiers_events": q_rollup_tiers_events,
        "rollup_retract_events": q_rollup_retract_events,
        "rollup_distinct_events": q_rollup_distinct_events,
        "rollup_quantiles_events": q_rollup_quantiles_events,
        "rollup_percentiles_events": q_rollup_percentiles_events,
        "merge_rollups_events": q_merge_rollups_events,
        "locf_events_daily": q_locf_events_daily,
        "interpolate_events": q_interpolate_events,
        "regrid_events_kernel": q_regrid_events_kernel,
        "periodogram_events": q_periodogram_events,
        "retention_events": q_retention_events,
        "rolling_mean_events": q_rolling_mean_events,
        "sessions_events": q_sessions_events,
        "sessions_events_ties": q_sessions_events_ties,
        "asof_join_events": q_asof_join_events,
        "asof_join_events_ties": q_asof_join_events_ties,
        "interpolate_events_ties": q_interpolate_events_ties,
        "events_in_signup_windows": q_events_in_signup_windows,
        "eta_trend_events": q_eta_trend_events,
        # dmdt_events_kernel retired round 6 (registry cap: the kernel
        # twin's parity with dmdt_events stays pytest-gated —
        # tests/test_spark_operators.py — and its plan is still audited
        # by scripts/dump_plans.py; slot reused for compaction)
        "dmdt_events": q_dmdt_events,
        "minhash_compacted_documents": q_minhash_compacted_documents,
        "exact_dedup_documents": q_exact_dedup_documents,
        "ngram_jaccard_documents": q_ngram_jaccard_documents,
        "dedup_clusters_documents": q_dedup_clusters_documents,
        "contamination_documents": q_contamination_documents,
        "minhash_lsh_documents": q_minhash_lsh_documents,
        # minhash_incremental_documents retired round 6 (registry cap:
        # minhash_compacted_documents runs the same two-batch incremental
        # feed PLUS a compaction against the same one-shot fixture, so
        # the plain-fold equality it pinned stays covered there and in
        # tests/test_round5.py; slot reused for the IVF tombstone
        # lifecycle)
        "simhash_documents": q_simhash_documents,
        "simhash_weighted_documents": q_simhash_weighted_documents,
        "language_id_documents": q_language_id_documents,
        "quality_score_documents": q_quality_score_documents,
        "token_count_documents": q_token_count_documents,
        "fingerprint_documents": q_fingerprint_documents,
        "bm25_documents": q_bm25_documents,
        # cosine_topk_embeddings_kernel retired round 6 (cap: the
        # pandas-kernel twin's parity stays pytest-gated —
        # tests/test_training_ops.py; slot reused for the IVF relayout)
        "cosine_topk_embeddings": q_cosine_topk_embeddings,
        "ivf_relayout_embeddings": q_ivf_relayout_embeddings,
        "ivf_tombstone_embeddings": q_ivf_tombstone_embeddings,
        "lsh_ann_embeddings": q_lsh_ann_embeddings,
        "ivf_ann_embeddings": q_ivf_ann_embeddings,
        "embedding_pairs_exact": q_embedding_pairs_exact,
        "embedding_pairs_lsh": q_embedding_pairs_lsh,
        "chunk_roundtrip_sequences": q_chunk_roundtrip_sequences,
        "rollup_quantiles_sequences": q_rollup_quantiles_sequences,
        "periodogram_sequences": q_periodogram_sequences,
        "media_features_real": q_media_features_real,
        "downsample_lttb_events": q_downsample_lttb_events,
        "sample_documents": q_sample_documents,
        "topk_events_per_user": q_topk_events_per_user,
        "validate_events": q_validate_events,
        # NOTE: the driver sweeps at most 50 queries per round (r3/r4 recorded
        # 50 rows, dropping any entry past the 50th).  The fake-media query
        # (media_features) was REMOVED in round 5: it was a strict subset of
        # media_features_real's real-decoder coverage, and keeping it pushed
        # the dict to 51 entries, silently excluding one query from the
        # driver's independent cross-engine gate.  The fake decode path stays
        # pytest-gated (tests/test_oracle_impl.py, tests/test_training_ops.py).
        # tests/test_entry_contract.py pins len(queries()) <= 50 so any new
        # entry that would overflow the sweep fails loudly, not silently.
    }


# ---------------------------------------------------------------------------
# DuckDB oracles
# ---------------------------------------------------------------------------

_NORM = "regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')"
_WORDS = "regexp_split_to_array(lower(trim(text)), '\\s+')"

_FEATURES_EVENTS_SQL = """
WITH s AS (
  SELECT user_id, value AS v,
         avg(value) OVER w AS mu,
         stddev_samp(value) OVER w AS sigma,
         median(value) OVER w AS med
  FROM events
  WINDOW w AS (PARTITION BY user_id)
)
SELECT user_id,
  round(any_value(mu), 6) AS "mean",
  round(any_value(sigma), 6) AS "std",
  min(v) AS "min",
  max(v) AS "max",
  round(any_value(med), 6) AS "median",
  CAST(count(v) AS DOUBLE) AS "count",
  round((max(v) - min(v)) / 2.0, 6) AS amplitude,
  round(avg(CASE WHEN abs(v - mu) > sigma THEN 1.0 ELSE 0.0 END), 6) AS beyond_1_std,
  round(avg(CASE WHEN abs(v - mu) > 2.0 * sigma THEN 1.0 ELSE 0.0 END), 6) AS beyond_2_std,
  round(median(abs(v - med)), 6) AS mad,
  round(avg(abs(v - mu)) / sqrt(avg((v - mu) * (v - mu))), 6) AS stetson_k
FROM s
GROUP BY user_id
"""

_ROLLUP_TIER_SQL = """
SELECT user_id, {tier} AS tier,
       CAST(floor(epoch_us(ts) / {width}) AS BIGINT) AS bucket,
       CAST(count(*) AS BIGINT) AS n_points,
       round(sum(value), 6) AS v_sum,
       min(value) AS v_min,
       max(value) AS v_max,
       round(round(sum(value), 6) / count(*), 6) AS v_mean
FROM events GROUP BY 1, 3
"""

_ROLLUP_TIERS_SQL = " UNION ALL ".join(
    _ROLLUP_TIER_SQL.format(tier=t, width=f"{86400000000.0 * t!r}")
    for t in (1, 10, 100)
)

# retraction twin: the SAME rollup, computed by DuckDB directly over the
# retained rows — the Spark side instead SUBTRACTS the deleted partials
# from the full rollup and recomputes only the affected extrema
_ROLLUP_RETRACT_TIER_SQL = """
SELECT user_id, {tier} AS tier,
       CAST(floor(epoch_us(ts) / {width}) AS BIGINT) AS bucket,
       CAST(count(*) AS BIGINT) AS n_points,
       round(sum(value), 6) AS v_sum,
       min(value) AS v_min,
       max(value) AS v_max,
       round(round(sum(value), 6) / count(*), 6) AS v_mean
FROM events
WHERE CAST(floor(epoch_us(ts) / 1000000.0) AS BIGINT) % 7 <> 3
GROUP BY 1, 3
"""

_ROLLUP_RETRACT_SQL = " UNION ALL ".join(
    _ROLLUP_RETRACT_TIER_SQL.format(tier=t, width=f"{86400000000.0 * t!r}")
    for t in (1, 10, 100)
)

_ROLLUP_Q_TIER_SQL = """
SELECT user_id, {tier} AS tier, bucket,
       round(any_value(med), 6) AS v_median,
       round(median(abs(v - med)), 6) AS v_mad
FROM (
  SELECT user_id,
         CAST(floor(epoch_us(ts) / {width}) AS BIGINT) AS bucket,
         value AS v,
         median(value) OVER (
           PARTITION BY user_id, CAST(floor(epoch_us(ts) / {width}) AS BIGINT)
         ) AS med
  FROM events
)
GROUP BY user_id, bucket
"""

_ROLLUP_QUANTILES_SQL = " UNION ALL ".join(
    _ROLLUP_Q_TIER_SQL.format(tier=t, width=f"{86400000000.0 * t!r}")
    for t in (1, 10, 100)
)

_ROLLUP_PCT_SQL = """
SELECT user_id,
       CAST(floor(epoch_us(ts) / 86400000000.0) AS BIGINT) AS bucket,
       round(quantile_cont(value, 0.25), 6) AS p25,
       round(quantile_cont(value, 0.5), 6) AS p50,
       round(quantile_cont(value, 0.75), 6) AS p75
FROM events GROUP BY 1, 2
"""

_LOCF_SQL = """
WITH d AS (
  SELECT user_id,
         CAST(floor(epoch_us(ts) / 86400000000.0) AS BIGINT) AS day,
         arg_max(value, event_id) AS v
  FROM events GROUP BY 1, 2
),
b AS (SELECT user_id, min(day) AS d0, max(day) AS d1 FROM d GROUP BY 1),
g AS (SELECT user_id, unnest(generate_series(d0, d1)) AS day FROM b),
j AS (SELECT g.user_id, g.day, d.v FROM g LEFT JOIN d USING (user_id, day))
SELECT user_id, day,
       last_value(v IGNORE NULLS) OVER (
         PARTITION BY user_id ORDER BY day
         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
       ) AS v_filled
FROM j
"""

_INTERP_BODY_SQL = """
u AS (
  SELECT user_id, t, v, 0 AS is_grid FROM s
  UNION ALL
  SELECT user_id, t, CAST(NULL AS DOUBLE), 1 FROM g
),
w AS (
  -- grid rows sort BEFORE knots at equal t (is_grid DESC) so an exact
  -- hit resolves via next_v to the FIRST duplicate knot; ties among
  -- duplicate knots ordered by v — same semantics as
  -- operators/gapfill.interpolate_relational (reference-exact)
  SELECT user_id, t, is_grid,
    last_value(v IGNORE NULLS) OVER wp AS prev_v,
    last_value(CASE WHEN v IS NOT NULL THEN t END IGNORE NULLS) OVER wp AS prev_t,
    first_value(v IGNORE NULLS) OVER wn AS next_v,
    first_value(CASE WHEN v IS NOT NULL THEN t END IGNORE NULLS) OVER wn AS next_t
  FROM u
  WINDOW
    wp AS (PARTITION BY user_id ORDER BY t, is_grid DESC, v
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
    wn AS (PARTITION BY user_id ORDER BY t, is_grid DESC, v
           ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
)
SELECT user_id, t,
  round(CASE
    WHEN next_t = t THEN next_v
    WHEN prev_t IS NULL THEN -1.0
    WHEN next_t IS NULL THEN -1.0
    ELSE ((next_t - t) / (next_t - prev_t)) * prev_v
         + (1.0 - (next_t - t) / (next_t - prev_t)) * next_v
  END, 6) AS v
FROM w WHERE is_grid = 1
"""

_INTERPOLATE_SQL = f"""
WITH s AS (
  SELECT user_id, CAST(epoch_us(ts) AS DOUBLE) AS t, value AS v FROM events
),
b AS (SELECT user_id, min(t) AS t0, max(t) AS t1 FROM s GROUP BY 1),
g AS (
  SELECT user_id, t0 + ((t1 - t0) / 24.0) * CAST(i AS DOUBLE) AS t
  FROM b, unnest(range(0, 25)) AS u(i)
),
{_INTERP_BODY_SQL}
"""

_REGRID_SQL = f"""
WITH s AS (
  SELECT user_id, CAST(epoch_us(ts) AS DOUBLE) AS t, value AS v FROM events
),
bb AS (SELECT min(t) AS t0, max(t) AS t1 FROM s),
b AS (SELECT DISTINCT user_id, bb.t0, bb.t1 FROM s, bb),
g AS (
  SELECT user_id, t0 + ((t1 - t0) / 32.0) * CAST(i AS DOUBLE) AS t
  FROM b, unnest(range(0, 33)) AS u(i)
),
{_INTERP_BODY_SQL}
"""

def _periodogram_sql() -> str:
    import math

    base = """
WITH s AS (
  SELECT user_id, value AS v,
         avg(value) OVER (PARTITION BY user_id) AS mu,
         (epoch_us(ts) - min(epoch_us(ts)) OVER (PARTITION BY user_id))
           / 86400000000.0 AS td
  FROM events
)
"""
    parts = []
    for f in (0.5, 1.0, 2.0, 3.0):
        w = 2.0 * math.pi * f
        parts.append(
            f"""SELECT user_id, {float(f)!r} AS freq,
  round(sqrt(pow(sum((v - mu) * cos({w!r} * td)), 2)
           + pow(sum((v - mu) * sin({w!r} * td)), 2)) / count(v), 6) AS amp_norm
FROM s GROUP BY user_id"""
        )
    return base + " UNION ALL ".join(parts)


_RETENTION_SQL = f"""
WITH r AS ({_ROLLUP_TIERS_SQL}),
wm AS (SELECT CAST(max(epoch_us(ts)) AS DOUBLE) AS w FROM events)
SELECT r.* FROM r, wm
WHERE (tier = 1   AND (bucket + 1) * 86400000000.0  > w - 7.0  * 86400000000.0)
   OR (tier = 10  AND (bucket + 1) * 864000000000.0 > w - 15.0 * 86400000000.0)
   OR tier = 100
"""

_ROLLING_SQL = """
SELECT user_id,
  CAST(epoch_us(ts) AS BIGINT) AS t,
  round(avg(value) OVER w, 6) AS rolling_mean,
  CAST(count(value) OVER w AS BIGINT) AS window_n
FROM events
WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts)
             ROWS BETWEEN 3 PRECEDING AND CURRENT ROW)
"""

_ASOF_SQL = """
WITH e AS (
  SELECT user_id, epoch_us(ts) AS t, value AS v
  FROM events WHERE event_type = 'error'
),
s AS (
  SELECT user_id, epoch_us(ts) AS t, value AS v
  FROM events WHERE event_type = 'signup'
)
SELECT e.user_id, CAST(e.t AS BIGINT) AS t, e.v AS v,
       s.v AS signup_v, CAST(s.t AS BIGINT) AS signup_t
FROM e ASOF LEFT JOIN s
  ON e.user_id = s.user_id AND e.t >= s.t
"""

def _bm25_sql(terms=_BM25_TERMS, k1=1.2, b=0.75) -> str:
    tf_cols = ",\n         ".join(
        f"len(list_filter(words, x -> x = '{t}')) AS tf{i}"
        for i, t in enumerate(terms)
    )
    df_cols = ",\n         ".join(
        f"CAST(sum(CASE WHEN tf{i} > 0 THEN 1 ELSE 0 END) AS BIGINT) AS df{i}"
        for i in range(len(terms))
    )
    score = " + ".join(
        f"ln(1.0 + (n - df{i} + 0.5) / (df{i} + 0.5)) * tf{i} * {k1 + 1.0!r}"
        f" / (tf{i} + {k1!r} * ({1.0 - b!r} + {b!r} * dl / (sum_dl / n)))"
        for i in range(len(terms))
    )
    any_hit = " OR ".join(f"tf{i} > 0" for i in range(len(terms)))
    # coalesce(text, '') so null-text docs contribute dl=1 to the corpus
    # stats exactly like the engine's coalesce (N and sum_dl must match)
    norm_nn = "regexp_replace(lower(trim(coalesce(text, ''))), '\\s+', ' ', 'g')"
    return f"""
WITH w AS (SELECT doc_id, string_split({norm_nn}, ' ') AS words FROM documents),
base AS (
  SELECT doc_id, CAST(len(words) AS BIGINT) AS dl,
         {tf_cols}
  FROM w
),
stats AS (
  SELECT CAST(count(*) AS BIGINT) AS n,
         CAST(sum(dl) AS BIGINT) AS sum_dl,
         {df_cols}
  FROM base
)
SELECT doc_id, round({score}, 6) AS score
FROM base, stats WHERE {any_hit}
"""


_ROLLUP_DISTINCT_SQL = " UNION ALL ".join(
    f"""SELECT {t} AS tier,
  CAST(floor(epoch_us(ts) / {86400000000.0 * t!r}) AS BIGINT) AS bucket,
  count(DISTINCT user_id) AS n_distinct
FROM events GROUP BY 2"""
    for t in (1, 10, 100)
)

# tie-planted twin source: MUST stay textually in sync with
# _events_series_ties (2-day t grid, 25-wide v steps — all exact in f64)
_TIES_SRC_SQL = """
  SELECT user_id,
         floor(epoch_us(ts) / 172800000000.0) * 172800000000.0 AS t,
         CAST(floor(value / 25.0) AS DOUBLE) AS v
  FROM events
"""

_SESSIONS_TIES_SQL = f"""
WITH s AS ({_TIES_SRC_SQL}),
flagged AS (
  SELECT user_id, t, v,
         CASE WHEN t - lag(t) OVER w > 4.0 * 86400000000.0 THEN 1 ELSE 0 END AS is_new
  FROM s WINDOW w AS (PARTITION BY user_id ORDER BY t, v)
)
SELECT user_id, CAST(t AS BIGINT) AS t, v,
       CAST(sum(is_new) OVER (PARTITION BY user_id ORDER BY t, v
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
         AS session_id
FROM flagged
"""

_ASOF_TIES_SQL = """
WITH b AS (
  SELECT user_id,
         floor(epoch_us(ts) / 172800000000.0) * 172800000000.0 AS t,
         CAST(floor(value / 25.0) AS DOUBLE) AS v,
         event_type
  FROM events
),
e AS (SELECT user_id, t, v FROM b WHERE event_type = 'error'),
s0 AS (SELECT user_id, t, v FROM b WHERE event_type = 'signup'),
-- the operator's duplicate-timestamp winner is the greatest (v, t) row;
-- collapsing right dups to max(v) makes native ASOF deterministic and
-- equivalent
s AS (SELECT user_id, t, max(v) AS v FROM s0 GROUP BY 1, 2)
SELECT e.user_id, CAST(e.t AS BIGINT) AS t, e.v AS v,
       s.v AS signup_v, CAST(s.t AS BIGINT) AS signup_t
FROM e ASOF LEFT JOIN s
  ON e.user_id = s.user_id AND e.t >= s.t
"""

_INTERPOLATE_TIES_SQL = f"""
WITH s AS ({_TIES_SRC_SQL}),
b AS (SELECT user_id, min(t) AS t0, max(t) AS t1 FROM s GROUP BY 1),
g AS (
  SELECT user_id, t0 + ((t1 - t0) / 24.0) * CAST(i AS DOUBLE) AS t
  FROM b, unnest(range(0, 25)) AS u(i)
),
{_INTERP_BODY_SQL}
"""

_ETA_TREND_SQL = """
WITH d AS (
  SELECT user_id, value AS v, CAST(epoch_us(ts) AS DOUBLE) AS t,
         value - lag(value) OVER (PARTITION BY user_id ORDER BY epoch_us(ts)) AS dd
  FROM events
)
SELECT user_id,
  round(sum(dd * dd) / ((count(v) - 1) * var_samp(v)), 6) AS eta,
  round(regr_slope(v, t), 6) AS trend
FROM d GROUP BY user_id
"""

_DMDT_SQL = """
WITH s AS (
  SELECT user_id, CAST(epoch_us(ts) AS DOUBLE) AS t, value AS v FROM events
),
p AS (
  SELECT a.user_id,
         CAST(floor((b.t - a.t) / 2.6e11) AS BIGINT) AS dt_bin,
         CAST(floor((b.v - a.v + 200.0) / 40.0) AS BIGINT) AS dm_bin
  FROM s a JOIN s b ON a.user_id = b.user_id AND a.t < b.t
)
SELECT user_id, dt_bin, dm_bin, CAST(count(*) AS BIGINT) AS n_pairs
FROM p
WHERE dt_bin >= 0 AND dt_bin < 10 AND dm_bin >= 0 AND dm_bin < 10
GROUP BY 1, 2, 3
"""


_CONTAMINATION_SQL = f"""
WITH w AS (SELECT doc_id, string_split({_NORM}, ' ') AS words FROM documents),
g0 AS (
  SELECT doc_id,
         CASE WHEN len(words) < 3 THEN [] ELSE
           list_distinct(list_transform(range(1, len(words) - 1),
                                        i -> array_to_string(words[i:i+2], ' ')))
         END AS grams
  FROM w
),
g AS (SELECT doc_id, unnest(grams) AS gram FROM g0),
f AS (SELECT gram FROM g GROUP BY gram HAVING count(*) <= 100),
gg AS (SELECT g.doc_id, g.gram FROM g JOIN f USING (gram))
SELECT e.doc_id AS eval_id, t.doc_id AS train_id,
       CAST(count(*) AS BIGINT) AS n_shared
FROM gg e JOIN gg t ON e.gram = t.gram
WHERE e.doc_id % 2 = 1 AND t.doc_id % 2 = 0
GROUP BY 1, 2 HAVING count(*) >= 2
"""

_EXACT_DEDUP_SQL = f"""
SELECT md5({_NORM}) AS digest,
       CAST(count(*) AS BIGINT) AS n_dups,
       min(doc_id) AS keep_id
FROM documents GROUP BY 1 HAVING count(*) >= 1
"""

_NGRAM_JACCARD_SQL = f"""
WITH w AS (SELECT doc_id, string_split({_NORM}, ' ') AS words FROM documents),
g0 AS (
  SELECT doc_id,
         CASE WHEN len(words) < 3 THEN [] ELSE
           list_distinct(list_transform(range(1, len(words) - 1),
                                        i -> array_to_string(words[i:i+2], ' ')))
         END AS grams
  FROM w
),
g AS (SELECT doc_id, unnest(grams) AS gram FROM g0),
f AS (SELECT gram FROM g GROUP BY gram HAVING count(*) <= 100),
gg AS (SELECT g.doc_id, g.gram FROM g JOIN f USING (gram)),
sz AS (SELECT doc_id, count(*) AS n_grams FROM gg GROUP BY 1),
i AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_inter
  FROM gg a JOIN gg b ON a.gram = b.gram AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT doc_a, doc_b,
       round(CAST(n_inter AS DOUBLE) / (sa.n_grams + sb.n_grams - n_inter), 6) AS jaccard
FROM i
JOIN sz sa ON sa.doc_id = doc_a
JOIN sz sb ON sb.doc_id = doc_b
WHERE CAST(n_inter AS DOUBLE) / (sa.n_grams + sb.n_grams - n_inter) >= 0.5
"""


def _lang_sql() -> str:
    from light_curve_spark.operators.text import _LANG_MARKERS

    score_exprs = []
    for lang, markers in _LANG_MARKERS.items():
        lst = ", ".join(f"'{m}'" for m in markers)
        score_exprs.append(
            f"CAST(len(list_filter(words, w -> list_contains([{lst}], w))) AS DOUBLE)"
            f" / greatest(len(words), 1) AS score_{lang}"
        )
    langs = list(_LANG_MARKERS)
    best = "greatest(" + ", ".join(f"score_{la}" for la in langs) + ")"
    case = f"CASE WHEN {best} <= 0.0 THEN 'und' "
    for la in langs:
        case += f"WHEN score_{la} = {best} THEN '{la}' "
    case += "END"
    return f"""
WITH w AS (SELECT doc_id, {_WORDS} AS words FROM documents),
sc AS (SELECT doc_id, {", ".join(score_exprs)} FROM w)
SELECT doc_id, {case} AS lang_pred, round({best}, 6) AS lang_score FROM sc
"""


def _quality_sql() -> str:
    from light_curve_spark.operators.text import _LANG_MARKERS

    lst = ", ".join(f"'{m}'" for m in _LANG_MARKERS["en"])
    return f"""
WITH base AS (
  SELECT doc_id,
    CAST(length(text) AS DOUBLE) AS n_chars,
    greatest(CAST(length(text) AS DOUBLE), 1.0) AS safe_chars,
    CAST(len({_WORDS}) AS DOUBLE) AS n_words,
    greatest(CAST(len({_WORDS}) AS DOUBLE), 1.0) AS safe_words,
    CAST(length(regexp_replace(text, '[^.,;:!?]', '', 'g')) AS DOUBLE) AS punct,
    CAST(length(regexp_replace(text, '[^A-Z]', '', 'g')) AS DOUBLE) AS upper_c,
    CAST(len(list_filter({_WORDS}, w -> list_contains([{lst}], w))) AS DOUBLE) AS stop
  FROM documents
)
SELECT doc_id,
  round(n_chars, 6) AS n_chars_m,
  round(n_words, 6) AS n_words,
  round((n_chars - (n_words - 1)) / safe_words, 6) AS mean_word_len,
  round(punct / safe_chars, 6) AS punct_ratio,
  round(stop / safe_words, 6) AS stopword_ratio,
  round(upper_c / safe_chars, 6) AS upper_ratio,
  round(greatest(least(0.5 + stop / safe_words
                       - abs((n_chars - (n_words - 1)) / safe_words - 5.0) / 20.0
                       - punct / safe_chars
                       - upper_c / safe_chars, 1.0), 0.0), 6) AS quality
FROM base
"""


_TOKEN_COUNT_SQL = r"""
SELECT doc_id,
  CAST(CASE WHEN length(trim(text)) = 0 THEN 0
            ELSE len(regexp_split_to_array(trim(text), '\s+')) END AS BIGINT) AS ws_tokens,
  CAST(len(regexp_extract_all(trim(text), '[A-Za-z]+|[0-9]|[^\sA-Za-z0-9]')) AS BIGINT) AS bpe_tokens
FROM documents
"""

_COSINE_SQL = """
WITH q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
d AS (
  SELECT e.vec_id,
    list_sum(list_transform(list_zip(e.embedding, q.qe),
                            p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE))) AS dot,
    sqrt(list_sum(list_transform(e.embedding,
                                 x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS na,
    sqrt(list_sum(list_transform(q.qe,
                                 x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS nb
  FROM embeddings e, q
)
SELECT vec_id, round(dot / (na * nb), 6) AS cosine
FROM d ORDER BY dot / (na * nb) DESC, vec_id LIMIT 10
"""

# the IVF tombstone lifecycle must answer from the corpus WITHOUT the
# deleted ids — same exact-cosine top-10 as _COSINE_SQL, reduced corpus
_COSINE_TOMB_SQL = _COSINE_SQL.replace(
    "FROM embeddings e, q", "FROM embeddings e, q WHERE e.vec_id % 7 <> 3"
)

_EMB_PAIRS_SQL = """
WITH n AS (
  SELECT vec_id,
    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v,
    sqrt(list_sum(list_transform(embedding,
                                 x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS nv
  FROM embeddings
)
SELECT a.vec_id AS id_a, b.vec_id AS id_b,
  round(list_sum(list_transform(list_zip(a.v, b.v),
                                p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)))
        / (a.nv * b.nv), 6) AS cosine
FROM n a JOIN n b ON a.vec_id < b.vec_id
WHERE list_sum(list_transform(list_zip(a.v, b.v),
                              p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)))
      / (a.nv * b.nv) >= 0.4
"""

# ---------------------------------------------------------------------------
# fixture-backed oracles: pure-Python reference implementations
# (scripts/oracle_impl.py — naive loops, zero code shared with the
# engine) materialized to parquet by scripts/export_oracle_fixtures.py
# over the sf0.01 driver tables. DuckDB reads them with read_parquet, so
# the driver's compare works exactly like the SQL twins. Bound to
# sf0.01 — the driver's correctness-gate scale.
# ---------------------------------------------------------------------------

_FIXTURES = os.path.join(
    os.path.dirname(os.path.abspath(__file__)), "fixtures", "oracle"
)


def _fixture_sql(fname: str, select: str) -> str:
    return f"SELECT {select} FROM read_parquet('{_FIXTURES}/{fname}')"


_VALIDATE_SQL = """
WITH c AS (
  SELECT CASE WHEN event_id % 101 = 3 THEN NULL
              ELSE CAST(epoch_us(ts) AS DOUBLE) END AS t,
         CASE WHEN event_id % 97 = 5 THEN CAST('nan' AS DOUBLE)
              ELSE value END AS v
  FROM events
),
tagged AS (
  SELECT CASE WHEN t IS NULL OR isnan(t) THEN 'bad_time'
              WHEN v IS NULL OR isnan(v) THEN 'bad_value'
              ELSE 'clean' END AS reason
  FROM c
)
SELECT reason, CAST(count(*) AS BIGINT) AS n_rejected
FROM tagged GROUP BY reason
"""

_AMPLITUDE_LINEITEM_SQL = """
SELECT l_returnflag,
       round((max(l_extendedprice) - min(l_extendedprice)) / 2.0, 6) AS amplitude,
       CAST(count(*) AS BIGINT) AS n_rows,
       min(l_extendedprice) AS v_min,
       max(l_extendedprice) AS v_max
FROM lineitem GROUP BY l_returnflag
"""


def oracle_sql() -> dict[str, str]:
    import re

    def eps(sql: str) -> str:
        # mirror _r6's epsilon shift into every round( of the oracle SQL
        return re.sub(r"\bround\(", "round(1e-9 + ", sql)

    return {
        name: eps(sql)
        for name, sql in _raw_oracles().items()
    }


def _raw_oracles() -> dict[str, str]:
    return {
        "amplitude_lineitem": _AMPLITUDE_LINEITEM_SQL,
        "rollup_retract_events": _ROLLUP_RETRACT_SQL,
        "features_events_kernel": _FEATURES_EVENTS_SQL,
        "rollup_tiers_events": _ROLLUP_TIERS_SQL,
        "rollup_distinct_events": _ROLLUP_DISTINCT_SQL,
        "bm25_documents": _bm25_sql(),
        "rollup_quantiles_events": _ROLLUP_QUANTILES_SQL,
        "rollup_percentiles_events": _ROLLUP_PCT_SQL,
        "merge_rollups_events": _ROLLUP_TIERS_SQL,
        "locf_events_daily": _LOCF_SQL,
        "interpolate_events": _INTERPOLATE_SQL,
        "regrid_events_kernel": _REGRID_SQL,
        "periodogram_events": _periodogram_sql(),
        "retention_events": _RETENTION_SQL,
        "rolling_mean_events": _ROLLING_SQL,
        "sessions_events": """
WITH s AS (
  SELECT user_id, CAST(epoch_us(ts) AS DOUBLE) AS t, value AS v FROM events
),
flagged AS (
  SELECT user_id, t, v,
         CASE WHEN t - lag(t) OVER w > 2.0 * 86400000000.0 THEN 1 ELSE 0 END AS is_new
  FROM s WINDOW w AS (PARTITION BY user_id ORDER BY t, v)
),
sess AS (
  SELECT user_id, t, v,
         sum(is_new) OVER (PARTITION BY user_id ORDER BY t, v
                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
  FROM flagged
)
SELECT user_id, CAST(session_id AS BIGINT) AS session_id,
       CAST(count(*) AS BIGINT) AS n_events,
       max(t) - min(t) AS duration_us,
       round(sum(v), 6) AS v_sum
FROM sess GROUP BY 1, 2
""",
        "sessions_events_ties": _SESSIONS_TIES_SQL,
        "asof_join_events": _ASOF_SQL,
        "asof_join_events_ties": _ASOF_TIES_SQL,
        "interpolate_events_ties": _INTERPOLATE_TIES_SQL,
        "events_in_signup_windows": """
WITH p AS (
  SELECT user_id, CAST(epoch_us(ts) AS DOUBLE) AS t, value AS v FROM events
),
s AS (
  SELECT user_id, event_id AS signup_id,
         CAST(epoch_us(ts) AS DOUBLE) AS st,
         CAST(epoch_us(ts) AS DOUBLE) + 3.0 * 86400000000.0 AS en
  FROM events WHERE event_type = 'signup'
)
SELECT p.user_id, s.signup_id,
       CAST(count(*) AS BIGINT) AS n_events,
       round(sum(p.v), 6) AS v_sum
FROM p JOIN s ON p.user_id = s.user_id AND p.t >= s.st AND p.t <= s.en
GROUP BY 1, 2
""",
        "eta_trend_events": _ETA_TREND_SQL,
        "dmdt_events": _DMDT_SQL,
        "exact_dedup_documents": _EXACT_DEDUP_SQL,
        "ngram_jaccard_documents": _NGRAM_JACCARD_SQL,
        "contamination_documents": _CONTAMINATION_SQL,
        "language_id_documents": _lang_sql(),
        "quality_score_documents": _quality_sql(),
        "token_count_documents": _TOKEN_COUNT_SQL,
        "embedding_pairs_exact": _EMB_PAIRS_SQL,
        "cosine_topk_embeddings": _COSINE_SQL,
        # full-probe top-10 over the relayouted IVF table == exact
        # cosine top-10 (layout lifecycle changes placement, not rows)
        "ivf_relayout_embeddings": _COSINE_SQL,
        "ivf_tombstone_embeddings": _COSINE_TOMB_SQL,
        "validate_events": _VALIDATE_SQL,
        "sample_documents": """
SELECT doc_id, source, n_chars FROM (
  SELECT doc_id, source, n_chars,
         row_number() OVER (PARTITION BY source
                            ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rk
  FROM documents
) WHERE rk <= 20
""",
        "topk_events_per_user": """
SELECT user_id, event_id, value FROM (
  SELECT user_id, event_id, value,
         row_number() OVER (PARTITION BY user_id
                            ORDER BY value DESC, event_id) AS rk
  FROM events
) WHERE rk <= 3
""",
        # fixture-backed oracles (independent pure-Python reference
        # implementations; see _FIXTURES comment above)
        "dedup_clusters_documents": _fixture_sql(
            "dedup_clusters.parquet", "doc_id, keep_id"
        ),
        "minhash_lsh_documents": _fixture_sql(
            "minhash_lsh.parquet",
            "doc_a, doc_b, round(jaccard, 6) AS jaccard",
        ),
        # compaction between the two deliveries must also reproduce the
        # one-shot fixture (layout folds, results don't)
        "minhash_compacted_documents": _fixture_sql(
            "minhash_lsh.parquet",
            "doc_a, doc_b, round(jaccard, 6) AS jaccard",
        ),
        "simhash_weighted_documents": _fixture_sql(
            "simhash_weighted_500.parquet", "doc_id, sh"
        ),
        "simhash_documents": _fixture_sql(
            "simhash_pairs.parquet", "doc_a, doc_b, hamming"
        ),
        "fingerprint_documents": _fixture_sql(
            "fingerprint.parquet", "doc_id, fingerprint"
        ),
        "lsh_ann_embeddings": _fixture_sql(
            "lsh_ann.parquet", "vec_id, round(cosine, 6) AS cosine"
        ),
        "ivf_ann_embeddings": _fixture_sql(
            "ivf_ann.parquet", "vec_id, round(cosine, 6) AS cosine"
        ),
        "embedding_pairs_lsh": _fixture_sql(
            "embedding_pairs_lsh.parquet",
            "id_a, id_b, round(cosine, 6) AS cosine",
        ),
        "chunk_roundtrip_sequences": _fixture_sql(
            "sequences_300.parquet", "doc_id, n_tok, TRUE AS roundtrip_ok"
        ),
        "rollup_quantiles_sequences": _fixture_sql(
            "rollup_quantiles_300.parquet",
            "doc_id, source, tier, bucket, v_median, v_mad",
        ),
        "periodogram_sequences": _fixture_sql(
            "periodogram_seq.parquet",
            "doc_id, round(pg_mean, 6) AS pg_mean, round(pg_std, 6) AS pg_std,"
            " round(pg_skew, 6) AS pg_skew, round(pg_kurt, 6) AS pg_kurt,"
            " round(pg_peak_freq, 6) AS pg_peak_freq",
        ),
        "media_features_real": _fixture_sql(
            "media_real.parquet",
            "media_id, kind, n_bytes, "
            + ", ".join(f"round(f{i}, 6) AS f{i}" for i in range(8)),
        ),
        "downsample_lttb_events": _fixture_sql(
            "lttb_events.parquet", "user_id, t, v"
        ),
        # no oracle remains only where no second implementation exists
    }
