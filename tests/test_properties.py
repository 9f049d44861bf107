"""Property-based tests (hypothesis) mirroring the reference's
randomized-vs-independent-oracle layer (SURVEY.md §5;
sort_multiple.rs:49-65 is the reference's own random-vs-zip-sort test)."""

import numpy as np
from hypothesis import given, settings
from hypothesis import strategies as st
from hypothesis.extra.numpy import arrays

from light_curve_spark.kernels import (
    cosort,
    decode_timestamps,
    decode_values,
    encode_timestamps,
    encode_values,
    interpolate,
)
from light_curve_spark.kernels.compression import (
    encode_values_batch_blocked,
    encode_values_blocked,
)

finite = st.floats(
    min_value=-1e12, max_value=1e12, allow_nan=False, allow_infinity=False
)


@settings(max_examples=60, deadline=None)
@given(
    st.lists(st.tuples(finite, finite), min_size=1, max_size=60),
    st.lists(finite, max_size=40),
    finite,
    finite,
)
def test_interpolate_matches_pointwise_oracle(knots, targets, left, right):
    """Kernel result == a direct per-target reference implementation of
    lib.rs:45-70's match arms (independent re-derivation, not the merge)."""
    knots = sorted(knots, key=lambda p: p[0])
    x = np.array([p[0] for p in knots])
    y = np.array([p[1] for p in knots])
    tx = np.array(sorted(targets))
    got = interpolate(x, y, tx, left, right)

    for t, g in zip(tx, got):
        if t < x[0]:
            expected = left
        elif t > x[-1]:
            expected = right
        elif t in x:
            expected = y[np.flatnonzero(x == t)[0]]  # first knot wins
        else:
            ridx = int(np.searchsorted(x, t, side="left"))
            lidx = ridx - 1
            alpha = (x[ridx] - t) / (x[ridx] - x[lidx])
            expected = alpha * y[lidx] + (1 - alpha) * y[ridx]
        assert g == expected or abs(g - expected) < 1e-9


@settings(max_examples=60, deadline=None)
@given(
    st.lists(
        st.integers(min_value=-(2**63), max_value=2**63 - 1),
        min_size=1,
        max_size=300,
    )
)
def test_timestamps_roundtrip_any_int64(ts):
    t = np.array(ts, dtype=np.int64)
    assert decode_timestamps(encode_timestamps(t)).tolist() == ts


@settings(max_examples=60, deadline=None)
@given(
    st.lists(
        st.integers(min_value=-(2**63), max_value=2**63 - 1),
        min_size=1,
        max_size=300,
    )
)
def test_values_roundtrip_full_int64_domain(vs):
    v = np.array(vs, dtype=np.int64)
    assert decode_values(encode_values(v)).view(np.int64).tolist() == vs


@settings(max_examples=40, deadline=None)
@given(
    st.lists(
        st.lists(
            st.integers(min_value=-(2**63), max_value=2**63 - 1),
            min_size=0,
            max_size=80,
        ),
        min_size=1,
        max_size=20,
    )
)
def test_batch_encode_equals_single_encode(rows):
    arrs = [np.array(r, dtype=np.int64) for r in rows]
    batch = encode_values_batch_blocked(arrs)
    for a, b in zip(arrs, batch):
        assert b == encode_values_blocked(a)


@settings(max_examples=60, deadline=None)
@given(
    arrays(np.float64, st.integers(1, 80), elements=finite),
    arrays(np.float64, st.integers(1, 80), elements=finite),
)
def test_cosort_matches_zip_sort_oracle(a, b):
    n = min(a.shape[0], b.shape[0])
    a, b = a[:n], b[:n]
    pairs = sorted(zip(a.tolist(), b.tolist()), key=lambda p: p[0])
    sa, sb = cosort(a, b)
    assert sa.tolist() == [p[0] for p in pairs]
    # ties: only the key column order is guaranteed (first-slice-only
    # semantics, sort_multiple.rs:33-34) — compare multisets per key
    from collections import Counter

    got, want = Counter(zip(sa.tolist(), sb.tolist())), Counter(pairs)
    assert got == want


int32 = st.one_of(
    st.sampled_from([-(2**31), 2**31 - 1]), st.integers(-(2**31), 2**31 - 1)
)
median_values = st.one_of(
    int32.map(float),
    st.sampled_from([np.nan, np.inf, -np.inf, 0.0, -0.0]),
    st.floats(allow_nan=True, allow_infinity=True),
)


@settings(max_examples=80, deadline=None)
@given(
    st.lists(st.lists(median_values, max_size=400), max_size=8),
    st.sampled_from([1, 2, 16, 160, 10**6]),
)
def test_padded_segment_median_equals_lexsort(rows, width):
    """The NaN-padded row-sort median equals the lexsort segment_median
    for the median pass and the MAD pass, over rows (extremes, NaN,
    ±inf, ±0.0 and empty rows included) cut into tier buckets as the
    quantile rollup cuts them, or kept whole (width 10**6) as
    feature_frame passes them. Compared with ``==``, NaN equal to NaN:
    ±0.0 ties may resolve to either sign. On finite input without -0.0
    (the rollup's integer tokens) both passes are bit-identical."""
    from light_curve_spark.kernels.features import (
        padded_segment_median,
        segment_median,
    )

    lengths = np.array([len(r) for r in rows], dtype=np.int64)
    flat = np.array([v for r in rows for v in r], dtype=np.float64)
    elem = np.repeat(np.arange(lengths.shape[0]), lengths)
    pos = np.arange(flat.shape[0]) - (np.cumsum(lengths) - lengths)[elem]
    gid = elem * (1 << 40) | (pos // width)
    # [: len(flat)]: no segment at all when every row is empty
    seg = np.flatnonzero(np.r_[True, gid[1:] != gid[:-1]])[: len(flat)]
    seg_len = np.diff(np.r_[seg, flat.shape[0]])
    with np.errstate(invalid="ignore", over="ignore"):
        med = padded_segment_median(flat, seg_len)
        absd = np.abs(flat - np.repeat(med, seg_len))
        mad = padded_segment_median(absd, seg_len)
        want_med = segment_median(flat, gid, seg, seg_len)
        want_mad = segment_median(absd, gid, seg, seg_len)
    np.testing.assert_array_equal(med, want_med)
    np.testing.assert_array_equal(mad, want_mad)
    if np.isfinite(flat).all() and not (np.signbit(flat) & (flat == 0)).any():
        assert med.view(np.int64).tolist() == want_med.view(np.int64).tolist()
        assert mad.view(np.int64).tolist() == want_mad.view(np.int64).tolist()
