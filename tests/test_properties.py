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
