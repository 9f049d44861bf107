"""Spark operator tests: synthetic source determinism, series views,
feature operators (kernel vs relational vs per-series oracle), rollup
tiers, gap-fill (relational vs kernel), compression round trip."""

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from light_curve_spark.kernels import feature_vector, interpolate, linspace
from light_curve_spark.kernels.features import feature_frame
from light_curve_spark.operators.compress import (
    chunk_outliers,
    decode_chunks,
    encode_chunks,
    reassemble,
)
from light_curve_spark.operators.features import (
    extract_features,
    extract_features_relational,
)
from light_curve_spark.operators.gapfill import (
    grid_points,
    interpolate_relational,
    locf,
    regrid_kernel,
)
from light_curve_spark.operators.rollup import rollup_quantiles, rollup_tiers
from light_curve_spark.operators.series import explode_series
from light_curve_spark.sources.synthetic import synthetic_sequences


@pytest.fixture(scope="module")
def seq100(spark):
    df = synthetic_sequences(spark, 100, seed=42).persist()
    df.count()
    return df


# --- synthetic source --------------------------------------------------------

def test_synthetic_schema_and_determinism(spark, seq100):
    assert [f.name for f in seq100.schema.fields] == ["doc_id", "tokens", "n_tok", "source"]
    # partition-count independence: same rows at 1 and 7 partitions
    a = sorted(seq100.collect(), key=lambda r: r.doc_id)
    b = sorted(
        synthetic_sequences(spark, 100, seed=42, num_partitions=7).collect(),
        key=lambda r: r.doc_id,
    )
    assert len(a) == 100
    for ra, rb in zip(a, b):
        assert ra.doc_id == rb.doc_id
        assert ra.tokens == rb.tokens
        assert ra.source == rb.source


def test_synthetic_token_range_and_lengths(seq100):
    row = seq100.select(
        F.min(F.array_min("tokens")).alias("lo"),
        F.max(F.array_max("tokens")).alias("hi"),
        F.min("n_tok").alias("nlo"),
        F.max("n_tok").alias("nhi"),
    ).head()
    assert row.lo >= 0 and row.hi < 50257
    assert row.nlo >= 1 and row.nhi <= 16384
    bad = seq100.filter(F.size("tokens") != F.col("n_tok")).count()
    assert bad == 0


# --- feature extraction ------------------------------------------------------

def test_feature_frame_matches_per_series_oracle():
    rng = np.random.default_rng(9)
    lengths = np.array([1, 2, 5, 128, 1000])
    series = [rng.integers(0, 50257, size=n).astype(np.float64) for n in lengths]
    fr = feature_frame(np.concatenate(series), lengths)
    for i, m in enumerate(series):
        fv = feature_vector(m)
        for name, val in fv.items():
            got = fr[name][i]
            if np.isnan(val):
                assert np.isnan(got), name
            else:
                assert got == pytest.approx(val, rel=1e-12), (name, i)


def test_extract_features_matches_kernel_oracle(spark, seq100):
    rows = extract_features(seq100).collect()
    raw = {r.doc_id: r.tokens for r in seq100.collect()}
    assert len(rows) == 100
    for r in rows[:20]:
        fv = feature_vector(np.asarray(raw[r.doc_id], dtype=np.float64))
        assert r.amplitude == pytest.approx(fv["amplitude"], abs=1e-12)
        assert r.mad == pytest.approx(fv["mad"], abs=1e-12)
        if not np.isnan(fv["stetson_k"]):
            assert r.stetson_k == pytest.approx(fv["stetson_k"], rel=1e-12)


def test_extract_features_periodogram(spark, seq100):
    freqs = linspace(0.05, 0.45, 5)
    df = extract_features(seq100, freqs=freqs)
    rows = df.filter(F.col("count") >= 4).collect()
    assert all(r.pg_peak_freq in set(freqs.tolist()) for r in rows)


def test_relational_matches_kernel_features(spark, seq100):
    series = explode_series(seq100)
    rel = {r.doc_id: r for r in extract_features_relational(series).collect()}
    ker = {r.doc_id: r for r in extract_features(seq100).collect()}
    assert set(rel) == set(ker)
    for doc_id, kr in ker.items():
        rr = rel[doc_id]
        for name in ("mean", "min", "max", "median", "count", "amplitude", "mad"):
            assert rr[name] == pytest.approx(kr[name], rel=1e-9), name
        for name in ("std", "beyond_1_std", "beyond_2_std", "stetson_k"):
            kv, rv = kr[name], rr[name]
            if kv is None or (isinstance(kv, float) and np.isnan(kv)):
                assert rv is None or np.isnan(rv), name
            else:
                assert rv == pytest.approx(kv, rel=1e-9), name


# --- rollup tiers ------------------------------------------------------------

TIER_SETS = [(1,), (1, 10, 100), (2, 4, 8, 16)]


def _tier_id(tiers):
    return "-".join(map(str, tiers))


@pytest.mark.parametrize("tiers", TIER_SETS, ids=_tier_id)
def test_rollup_cascade_matches_direct(spark, seq100, tiers):
    series = explode_series(seq100).persist()
    got = rollup_tiers(series, base_width=16.0, tiers=tiers).collect()
    assert {r.tier for r in got} == set(tiers)
    for t in tiers:
        # oracle: compute tier t directly from raw at width 16 * t, compare
        direct = (
            series.groupBy(
                "doc_id", "source", F.floor(F.col("t") / F.lit(16.0 * t)).alias("bucket")
            )
            .agg(
                F.count("v").alias("n_points"),
                F.sum("v").alias("v_sum"),
                F.min("v").alias("v_min"),
                F.max("v").alias("v_max"),
            )
            .collect()
        )
        got_t = {(r.doc_id, r.bucket): r for r in got if r.tier == t}
        assert len(got_t) == len(direct)
        for r in direct:
            g = got_t[(r.doc_id, r.bucket)]
            assert g.n_points == r.n_points
            assert g.v_min == r.v_min and g.v_max == r.v_max
            assert g.v_sum == pytest.approx(r.v_sum, rel=1e-12)
    series.unpersist()


@pytest.mark.parametrize(
    "tiers", [(), (0, 10), (1, 1), (10, 1), (10, 15)], ids=lambda t: _tier_id(t) or "empty"
)
def test_every_tier_function_rejects_bad_tiers(spark, seq100, tiers):
    """One plan-time tier check for every tier function: empty, non-
    positive, repeated, descending and non-nesting tier sets raise
    ValueError before any job runs (a repeated tier would otherwise emit
    every bucket twice)."""
    from light_curve_spark.operators.rollup import (
        retract_from_rollup,
        rollup_distinct,
        rollup_quantiles_arrays,
        rollup_tiers_arrays,
    )

    series = explode_series(seq100)
    calls = {
        "rollup_tiers": lambda: rollup_tiers(series, tiers=tiers),
        "rollup_tiers_arrays": lambda: rollup_tiers_arrays(seq100, tiers=tiers),
        "rollup_distinct": lambda: rollup_distinct(series, "doc_id", tiers=tiers),
        "retract_from_rollup": lambda: retract_from_rollup(
            rollup_tiers(series), series, series, tiers=tiers
        ),
        "rollup_quantiles": lambda: rollup_quantiles(series, tiers=tiers),
        "rollup_quantiles_arrays": lambda: rollup_quantiles_arrays(seq100, tiers=tiers),
    }
    for name, call in calls.items():
        with pytest.raises(ValueError, match="tiers"):
            call()
            pytest.fail(f"{name} accepted tiers={tiers!r}")


def test_rollup_arrays_matches_relational(spark, seq100):
    """The zero-shuffle array-native cascade must equal
    rollup_tiers(explode_series(...)) exactly."""
    from light_curve_spark.operators.rollup import rollup_tiers_arrays

    rel = {
        (r.doc_id, r.tier, r.bucket): (r.n_points, r.v_sum, r.v_min, r.v_max, r.v_mean)
        for r in rollup_tiers(
            explode_series(seq100), base_width=16.0, tiers=(1, 10, 100)
        ).collect()
    }
    arr = {
        (r.doc_id, r.tier, r.bucket): (r.n_points, r.v_sum, r.v_min, r.v_max, r.v_mean)
        for r in rollup_tiers_arrays(seq100, base_width=16, tiers=(1, 10, 100)).collect()
    }
    assert set(rel) == set(arr)
    for k, (n, s, mn, mx, mean) in rel.items():
        an, asum, amn, amx, amean = arr[k]
        assert an == n and amn == mn and amx == mx
        assert asum == pytest.approx(s, rel=1e-12)
        assert amean == pytest.approx(mean, rel=1e-12)


def test_rollup_quantiles(spark, seq100):
    series = explode_series(seq100)
    q = rollup_quantiles(series, base_width=16.0, tiers=(1,)).filter(
        F.col("doc_id") == "doc00000000"
    )
    raw = explode_series(seq100).filter(F.col("doc_id") == "doc00000000").collect()
    vals = {}
    for r in raw:
        vals.setdefault(int(r.t // 16), []).append(r.v)
    for row in q.collect():
        med = float(np.median(vals[row.bucket]))
        assert row.v_median == pytest.approx(med, abs=1e-12)
        assert row.v_mad == pytest.approx(
            float(np.median(np.abs(np.array(vals[row.bucket]) - med))), abs=1e-12
        )


# --- gap-fill / regrid -------------------------------------------------------

def test_locf(spark):
    pdf = pd.DataFrame(
        {
            "doc_id": ["a"] * 5,
            "t": [0.0, 1.0, 2.0, 3.0, 4.0],
            "v": [1.0, None, None, 4.0, None],
        }
    )
    out = locf(spark.createDataFrame(pdf)).orderBy("t").collect()
    assert [r.v_filled for r in out] == [1.0, 1.0, 1.0, 4.0, 4.0]


def test_interpolate_relational_matches_kernel(spark):
    # reference broken_line vectors through the relational path
    x = [-7 / 3, -4 / 3, -1.0, -1 / 3, 1.0, 4 / 3, 7 / 3]
    y = [2.5, 2.0, 0.5, 1.0, 0.5, 1.5, 3.0]
    tx = [-2.0, -5 / 3, -4 / 3, -1.0, -2 / 3, -1 / 3, 0.0, 1 / 3, 2 / 3, 1.0, 4 / 3, 5 / 3, 2.0]
    series = spark.createDataFrame(
        pd.DataFrame({"doc_id": ["a"] * len(x), "t": x, "v": y})
    )
    grid = spark.createDataFrame(pd.DataFrame({"doc_id": ["a"] * len(tx), "t": tx}))
    out = interpolate_relational(series, grid, left=-1.0, right=-1.0)
    got = [r.v for r in out.orderBy("t").collect()]
    expected = interpolate(np.array(x), np.array(y), np.array(tx), -1.0, -1.0)
    np.testing.assert_allclose(got, expected, atol=1e-12)


def test_interpolate_relational_boundary_fills(spark):
    series = spark.createDataFrame(
        pd.DataFrame({"doc_id": ["a"], "t": [0.0], "v": [1.0]})
    )
    grid = spark.createDataFrame(
        pd.DataFrame({"doc_id": ["a"] * 5, "t": [-2.0, -1.0, 0.0, 1.0, 2.0]})
    )
    got = [
        r.v
        for r in interpolate_relational(series, grid, left=-3.0, right=-8.0)
        .orderBy("t")
        .collect()
    ]
    assert got == [-3.0, -3.0, 1.0, -8.0, -8.0]


def test_regrid_kernel_ztf_shape(spark, seq100):
    # regrid every synthetic series onto a common grid; spot-check one
    # series against the raw kernel (including unsorted/duplicate safety)
    series = explode_series(seq100).filter(F.col("doc_id") < "doc00000010")
    out = regrid_kernel(series, 0.0, 128.0, 33, left=0.0, right=0.0)
    rows = {r.doc_id: r.grid_v for r in out.collect()}
    raw = series.filter(F.col("doc_id") == "doc00000003").orderBy("t").collect()
    t = np.array([r.t for r in raw])
    v = np.array([r.v for r in raw])
    expected = interpolate(t, v, linspace(0.0, 128.0, 33), 0.0, 0.0)
    np.testing.assert_array_equal(rows["doc00000003"], expected)


def test_grid_points_matches_linspace(spark):
    df = spark.range(1).select(grid_points(58194.5, 58482.5, 145).alias("g"))
    got = np.array(df.head().g)
    np.testing.assert_array_equal(got, linspace(58194.5, 58482.5, 145))


# --- compression on Spark -----------------------------------------------------

def test_chunk_roundtrip_exact_token_equality(spark, seq100):
    chunks = encode_chunks(seq100, max_len=512)
    back = reassemble(decode_chunks(chunks))
    orig = {r.doc_id: r.tokens for r in seq100.collect()}
    got = {r.doc_id: r.tokens for r in back.collect()}
    assert set(orig) == set(got)
    for doc_id in orig:
        assert orig[doc_id] == got[doc_id], doc_id  # EXACT equality (input_hint)


def test_chunk_outliers_bounds_length(spark, seq100):
    split = chunk_outliers(seq100, max_len=100)
    assert split.select(F.max(F.size("tokens"))).head()[0] <= 100
    # total token count preserved
    total_before = seq100.select(F.sum("n_tok")).head()[0]
    total_after = split.select(F.sum(F.size("tokens"))).head()[0]
    assert total_before == total_after


def test_encode_chunks_lineage_columns(spark, seq100):
    chunks = encode_chunks(seq100.limit(10), with_lineage=True)
    rows = chunks.collect()
    assert all(r._pid >= 0 for r in rows)


def test_kernel_decode_chunk_reads_chunk_table_rows(spark):
    """kernels.decode_chunk is the single-row form of decode_chunks:
    every chunk-table row, split outliers included, decodes to its own
    global positions and token slice."""
    from light_curve_spark.kernels import decode_chunk

    max_len = 512
    seq = synthetic_sequences(spark, 50, seed=7)
    orig = {r.doc_id: r.tokens for r in seq.collect()}
    rows = encode_chunks(seq, max_len=max_len).collect()
    assert {r.doc_id for r in rows} == set(orig)
    assert any(r.chunk_no > 0 for r in rows)  # split outliers present
    for r in rows:
        t, v = decode_chunk(r.asDict())
        off = r.chunk_no * max_len
        want = orig[r.doc_id][off : off + max_len]
        assert t.tolist() == list(range(off, off + len(want))), r.doc_id
        assert v.tolist() == want, (r.doc_id, r.chunk_no)


def test_validate_series_rejects_nan_and_null(spark):
    import math

    from light_curve_spark.operators.validate import validate_series

    pdf = pd.DataFrame(
        {
            "doc_id": ["a"] * 5,
            "t": [1.0, float("nan"), 3.0, None, 5.0],
            "v": [1.0, 2.0, float("nan"), 4.0, 5.0],
        }
    )
    clean, rejects = validate_series(spark.createDataFrame(pdf))
    assert clean.count() == 2  # rows 0 and 4
    rj = {r.reason: r.n_rejected for r in rejects.collect()}
    assert rj == {"bad_time": 2, "bad_value": 1}


def test_extract_features_irregular_time_periodogram(spark, seq100):
    """irregular=True must use t_i = exclusive cumsum of (1 + tok%7) for
    the periodogram phases — verified against the scalar kernel."""
    from light_curve_spark.kernels.features import periodogram_moments

    freqs = linspace(0.01, 0.05, 5)
    rows = {
        r.doc_id: r
        for r in extract_features(seq100, freqs=freqs, irregular=True).collect()
    }
    raw = {r.doc_id: np.asarray(r.tokens, dtype=np.float64) for r in seq100.collect()}
    checked = 0
    for doc_id in list(raw)[:10]:
        m = raw[doc_id]
        if m.shape[0] < 4:
            continue
        deltas = 1.0 + np.mod(m, 7.0)
        t = np.cumsum(deltas) - deltas
        mom = periodogram_moments(t, m, freqs)
        got = rows[doc_id]
        if not np.isnan(mom["pg_mean"]):
            assert got.pg_mean == pytest.approx(mom["pg_mean"], rel=1e-9)
            assert got.pg_peak_freq == pytest.approx(mom["pg_peak_freq"], rel=1e-12)
            checked += 1
    assert checked >= 5


def test_retention_tiered_horizons(spark, seq100):
    from light_curve_spark.operators.retention import apply_retention, expired
    from light_curve_spark.operators.rollup import rollup_tiers_arrays

    rolled = rollup_tiers_arrays(seq100, base_width=16, tiers=(1, 10, 100)).persist()
    wm = 1000.0
    kept = apply_retention(
        rolled, watermark=wm, horizons={1: 160.0, 10: 800.0}, base_width=16.0
    )
    gone = expired(rolled, watermark=wm, horizons={1: 160.0, 10: 800.0}, base_width=16.0)
    assert kept.count() + gone.count() == rolled.count()
    # tier-100 is horizon-free -> fully retained
    t100 = rolled.filter(F.col("tier") == 100).count()
    assert kept.filter(F.col("tier") == 100).count() == t100
    # every kept tier-1 bucket ends within 160 of the watermark
    bad = kept.filter(
        (F.col("tier") == 1) & (((F.col("bucket") + 1) * 16.0) <= wm - 160.0)
    )
    assert bad.count() == 0
    # something was actually expired at tier 1 (long sequences exist)
    assert gone.filter(F.col("tier") == 1).count() > 0
    rolled.unpersist()


def test_lttb_downsample_properties(spark):
    from light_curve_spark.operators.downsample import downsample_lttb, lttb

    # kernel: keeps endpoints, picks extreme points, output sorted
    t = np.arange(100, dtype=np.float64)
    v = np.zeros(100); v[37] = 100.0; v[71] = -50.0  # two spikes
    td, vd = lttb(t, v, 10)
    assert td[0] == 0.0 and td[-1] == 99.0 and len(td) == 10
    assert 100.0 in vd and -50.0 in vd  # spikes survive downsampling
    assert (np.diff(td) > 0).all()
    # short series pass through unchanged
    td2, vd2 = lttb(t[:5], v[:5], 10)
    assert len(td2) == 5

    # operator: per-key shape
    pdf = pd.DataFrame({"doc_id": ["a"] * 100, "t": t, "v": v})
    out = downsample_lttb(spark.createDataFrame(pdf), n_out=10).head()
    assert len(out.t_ds) == 10 and 100.0 in out.v_ds


def test_interpolate_relational_duplicate_knots_match_reference(spark):
    """Duplicate-knot semantics (reference light-curve-interpol
    src/lib.rs:141-154): exact hit + right neighbor use the FIRST dup,
    left neighbor the LAST — relational path vs the bit-exact kernel."""
    import numpy as np
    import pandas as pd

    from light_curve_spark.kernels.interpolate import interpolate
    from light_curve_spark.operators.gapfill import interpolate_relational

    x = [0.0, 1.0, 1.0, 2.0]
    y = [1.0, 2.0, 3.0, 4.0]
    targets = [-0.5, 0.0, 0.5, 1.0, 1.5, 2.0, 2.5]
    knots = spark.createDataFrame(
        pd.DataFrame({"doc_id": ["x"] * 4, "t": x, "v": y, "ord": range(4)})
    )
    grid = spark.createDataFrame(
        pd.DataFrame({"doc_id": ["x"] * len(targets), "t": targets})
    )
    out = {
        r.t: r.v
        for r in interpolate_relational(
            knots, grid, left=-1.0, right=-1.0, keys=["doc_id"], order_col="ord"
        ).collect()
    }
    expected = interpolate(
        np.array(x), np.array(y), np.array(targets), -1.0, -1.0
    )
    for t, e in zip(targets, expected):
        assert out[t] == e, (t, out[t], e)


def test_chunk_outliers_counts_tokens_not_stale_n_tok(spark):
    """The chunk count comes from the token array: a stale short n_tok
    must not drop tokens, a stale long one must not add empty chunk
    rows — in chunk_outliers and in the fused pass's batch splitter."""
    import pandas as pd
    import pyarrow as pa

    from light_curve_spark.operators.compress import (
        chunk_outliers,
        decode_chunks,
        encode_chunks,
        reassemble,
        split_outliers_batch,
    )

    rows = {"short": list(range(10)), "long": [7, 8, 9]}
    seq = spark.createDataFrame(
        pd.DataFrame(
            {
                "doc_id": ["short", "long"],
                "tokens": list(rows.values()),
                "n_tok": [3, 10],
                "source": ["web", "web"],
            }
        )
    )
    chunks = sorted(
        (r.doc_id, r.chunk_no, list(r.tokens))
        for r in chunk_outliers(seq, max_len=4).collect()
    )
    assert chunks == [
        ("long", 0, [7, 8, 9]),
        ("short", 0, [0, 1, 2, 3]),
        ("short", 1, [4, 5, 6, 7]),
        ("short", 2, [8, 9]),
    ]
    back = reassemble(decode_chunks(encode_chunks(seq, max_len=4))).collect()
    assert {r.doc_id: list(r.tokens) for r in back} == rows

    batch = pa.RecordBatch.from_pandas(
        seq.select("doc_id", "source", "tokens").toPandas(), preserve_index=False
    )
    split = split_outliers_batch(batch, 4).to_pydict()
    assert sorted(zip(split["doc_id"], split["chunk_no"], split["tokens"])) == chunks


def test_chunk_outliers_empty_sequence_single_chunk(spark):
    """n_tok == 0 must yield exactly one empty chunk, not the bogus
    [0, -1] descending-sequence pair (ADVICE r1)."""
    import pandas as pd

    from light_curve_spark.operators.compress import (
        chunk_outliers,
        decode_chunks,
        encode_chunks,
    )

    seq = spark.createDataFrame(
        pd.DataFrame(
            {
                "doc_id": ["empty", "tiny"],
                "tokens": [[], [1, 2, 3]],
                "n_tok": [0, 3],
                "source": ["web", "web"],
            }
        )
    )
    rows = chunk_outliers(seq, max_len=2).collect()
    by_doc = {}
    for r in rows:
        by_doc.setdefault(r.doc_id, []).append(r)
    assert len(by_doc["empty"]) == 1
    assert by_doc["empty"][0].chunk_no == 0
    assert by_doc["empty"][0].n_tok == 0
    assert len(by_doc["tiny"]) == 2
    # full round trip still exact
    back = {
        r.doc_id: list(r.tokens)
        for r in decode_chunks(encode_chunks(seq, max_len=2)).collect()
        if r.chunk_no == 0
    }
    assert back["empty"] == []


def test_dmdt_kernel_matches_relational_with_tied_timestamps(spark):
    import pandas as pd

    from light_curve_spark.operators.dmdt import dmdt_kernel, dmdt_relational

    s = spark.createDataFrame(
        pd.DataFrame(
            {
                "doc_id": ["a"] * 6 + ["b"] * 3,
                "t": [0.0, 1.0, 1.0, 2.0, 5.0, 5.0, 0.0, 0.0, 3.0],
                "v": [1.0, 2.0, 3.0, 1.5, 9.0, 2.0, 4.0, 4.0, 5.0],
            }
        )
    )
    args = dict(dt_width=1.0, dm_width=2.0, n_dt=8, n_dm=8, dm_offset=8.0)
    k = {
        (r.doc_id, r.dt_bin, r.dm_bin): r.n_pairs
        for r in dmdt_kernel(s, **args).collect()
    }
    r = {
        (r.doc_id, r.dt_bin, r.dm_bin): r.n_pairs
        for r in dmdt_relational(s, **args).collect()
    }
    assert k == r and len(k) > 0


def test_float32_input_path_cast_at_ingest(spark):
    """f32 support (reference is generic over Float and tests f32 at tol
    1e-6 — light-curve-common/src/linspace.rs:17-20): FloatType series
    columns widen to double at ingest and the kernels agree with the f64
    path within the f32 quantization of the inputs."""
    import numpy as np
    import pandas as pd

    from light_curve_spark.operators.features import extract_features_grouped
    from light_curve_spark.operators.gapfill import regrid_kernel
    from light_curve_spark.operators.series import ensure_double_series

    rng = np.random.default_rng(11)
    t64 = np.sort(rng.uniform(0, 100, 60))
    v64 = rng.uniform(-5, 5, 60)
    pdf = pd.DataFrame({"doc_id": ["a"] * 60, "t": t64, "v": v64})
    s64 = spark.createDataFrame(pdf)
    s32 = spark.createDataFrame(
        pd.DataFrame(
            {
                "doc_id": ["a"] * 60,
                "t": t64.astype(np.float32),
                "v": v64.astype(np.float32),
            }
        ),
        schema="doc_id string, t float, v float",
    )
    s32 = ensure_double_series(s32)
    assert dict(s32.dtypes)["t"] == "double" and dict(s32.dtypes)["v"] == "double"

    f64 = extract_features_grouped(s64).head().asDict()
    f32 = extract_features_grouped(s32).head().asDict()
    for k, a in f64.items():
        if k == "doc_id":
            continue
        assert abs(a - f32[k]) < 1e-5, (k, a, f32[k])

    g64 = regrid_kernel(s64, 0.0, 100.0, 11, keys=["doc_id"]).head().grid_v
    g32 = regrid_kernel(s32, 0.0, 100.0, 11, keys=["doc_id"]).head().grid_v
    assert max(abs(x - y) for x, y in zip(g64, g32)) < 1e-4


def test_rollup_quantiles_arrays_matches_relational(spark, seq100):
    from light_curve_spark.operators.rollup import (
        rollup_quantiles,
        rollup_quantiles_arrays,
    )
    from light_curve_spark.operators.series import explode_series

    rel = {
        (r.doc_id, r.tier, r.bucket): (r.v_median, r.v_mad)
        for r in rollup_quantiles(explode_series(seq100), base_width=16).collect()
    }
    arr = {
        (r.doc_id, r.tier, r.bucket): (r.v_median, r.v_mad)
        for r in rollup_quantiles_arrays(seq100, base_width=16).collect()
    }
    assert rel == arr  # exact equality: same mean-of-two-middles median
    # and the plan sanity: no Exchange in the array-native path
    plan = (
        rollup_quantiles_arrays(seq100, base_width=16)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "Exchange" not in plan


def test_rollup_arrays_empty_sequences_and_fractional_width(spark):
    """r2 review findings: an all-empty Arrow batch must emit zero bucket
    rows (not IndexError), and a fractional base_width must raise instead
    of silently truncating bucket boundaries."""
    import pandas as pd
    import pytest as _pytest

    from light_curve_spark.operators.rollup import (
        rollup_quantiles_arrays,
        rollup_tiers_arrays,
    )

    empty = spark.createDataFrame(
        pd.DataFrame(
            {"doc_id": ["a", "b"], "tokens": [[], []], "n_tok": [0, 0],
             "source": ["web", "web"]}
        ),
        schema="doc_id string, tokens array<int>, n_tok int, source string",
    ).coalesce(1)
    assert rollup_tiers_arrays(empty).count() == 0
    assert rollup_quantiles_arrays(empty).count() == 0
    mixed = spark.createDataFrame(
        pd.DataFrame(
            {"doc_id": ["a", "b"], "tokens": [[], [1, 2, 3]], "n_tok": [0, 3],
             "source": ["web", "web"]}
        ),
        schema="doc_id string, tokens array<int>, n_tok int, source string",
    ).coalesce(1)
    assert rollup_tiers_arrays(mixed).count() == 3  # doc b only, 3 tiers
    with _pytest.raises(ValueError):
        rollup_quantiles_arrays(empty, base_width=16.5)
    with _pytest.raises(ValueError):
        rollup_tiers_arrays(empty, base_width=0)


def test_interval_join_semantics_and_plan(spark):
    """Range join: inclusive bounds, bucket-crossing intervals, and the
    plan must be an equi-join (no BroadcastNestedLoopJoin)."""
    import pandas as pd

    from light_curve_spark.operators.rangejoin import interval_join

    points = spark.createDataFrame(
        pd.DataFrame(
            {"k": ["a"] * 5, "t": [0.0, 5.0, 10.0, 15.0, 25.0], "v": [1, 2, 3, 4, 5]}
        )
    )
    ivals = spark.createDataFrame(
        pd.DataFrame(
            {"k": ["a", "a"], "iid": [1, 2], "start": [5.0, 14.0], "end": [10.0, 30.0]}
        )
    )
    out = sorted(
        (r.iid, r.t)
        for r in interval_join(points, ivals, keys=["k"], bucket_width=4.0).collect()
    )
    assert out == [(1, 5.0), (1, 10.0), (2, 15.0), (2, 25.0)]  # inclusive ends
    plan = (
        interval_join(points, ivals, keys=["k"], bucket_width=4.0)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "BroadcastNestedLoopJoin" not in plan


def test_sessionize_gap_semantics(spark):
    import pandas as pd

    from light_curve_spark.operators.series import sessionize

    s = spark.createDataFrame(
        pd.DataFrame(
            {
                "doc_id": ["a"] * 6 + ["b"],
                "t": [0.0, 1.0, 2.0, 10.0, 11.0, 30.0, 0.0],
                "v": [1.0] * 7,
            }
        )
    )
    out = {
        (r.doc_id, r.t): r.session_id for r in sessionize(s, gap=5.0).collect()
    }
    assert out[("a", 0.0)] == out[("a", 1.0)] == out[("a", 2.0)] == 0
    assert out[("a", 10.0)] == out[("a", 11.0)] == 1
    assert out[("a", 30.0)] == 2
    assert out[("b", 0.0)] == 0  # sessions are per key

