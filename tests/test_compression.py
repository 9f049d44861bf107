"""Round-trip tests for delta-of-delta + Gorilla XOR compression
(FIXTURES.md §5: exact equality gate, adversarial cases included)."""

import numpy as np
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from light_curve_spark.kernels import (
    decode_chunk,
    decode_timestamps,
    decode_values,
    encode_chunk,
    encode_timestamps,
    encode_values,
)


def ts_roundtrip(t):
    t = np.asarray(t, dtype=np.int64)
    out = decode_timestamps(encode_timestamps(t))
    assert out.dtype == np.int64
    assert out.tolist() == t.tolist()


def vals_roundtrip(v):
    v = np.asarray(v, dtype=np.int64)
    out = decode_values(encode_values(v)).view(np.int64)
    assert out.tolist() == v.tolist()


# --- timestamps -------------------------------------------------------------

def test_ts_empty():
    ts_roundtrip([])


def test_ts_single():
    ts_roundtrip([42])


def test_ts_regular_grid():
    # t_i = i: constant delta -> dod stream of zeros after the first
    ts_roundtrip(np.arange(1000))


def test_ts_irregular_small_dod():
    ts_roundtrip([0, 60, 120, 185, 240, 300, 310, 320])


def test_ts_all_dod_classes():
    # deltas engineered to hit every control class incl. the 64-bit escape
    deltas = [1, 1, 65, 64 + 300, 64 + 300 + 2500, 10**12, 1, 10**15]
    ts_roundtrip(np.cumsum([0] + deltas))


def test_ts_negative_and_decreasing():
    ts_roundtrip([100, 50, 0, -50, -200, -201])


def test_ts_class_boundaries():
    for dod in [-64, -63, 64, 65, -256, -255, 256, 257, -2048, -2047, 2048, 2049]:
        ts_roundtrip([0, 1, 1 + 1 + dod])  # delta1=1, delta2=1+dod


def test_ts_random_property():
    rng = np.random.default_rng(7)
    for _ in range(20):
        n = int(rng.integers(1, 500))
        t = np.cumsum(rng.integers(-10_000, 10_000, size=n))
        ts_roundtrip(t)


# --- values -----------------------------------------------------------------

def test_vals_empty():
    vals_roundtrip([])


def test_vals_single_point():
    vals_roundtrip([12345])


def test_vals_constant_series():
    vals_roundtrip(np.full(500, 777))


def test_vals_strictly_increasing():
    vals_roundtrip(np.arange(1000))


def test_vals_alternating_sign():
    vals_roundtrip([1, -1, 1, -1, 2, -2])


def test_vals_int32_extremes():
    vals_roundtrip([0, 2**31 - 1, -(2**31), 1, -1, 2**31 - 1])


def test_vals_full_64bit_meaningful():
    # xor with lead=0 and trail=0 -> meaningful length exactly 64
    vals_roundtrip(np.array([0, -1, (1 << 62) | 1, 0], dtype=np.int64))


def test_vals_random_tokens_property():
    rng = np.random.default_rng(42)
    for _ in range(20):
        n = int(rng.integers(1, 800))
        vals_roundtrip(rng.integers(0, 50257, size=n))


# --- regular time axis fast path ---------------------------------------------

def test_regular_timestamps_byte_identical_to_general():
    from light_curve_spark.kernels.compression import encode_timestamps_regular

    for n in [0, 1, 2, 3, 9, 100, 4096]:
        for t0 in [0, 4096, 12288]:
            t = np.arange(n, dtype=np.int64) + t0
            assert encode_timestamps_regular(n, t0) == encode_timestamps(t), (n, t0)


# --- chunk struct ------------------------------------------------------------

def test_chunk_roundtrip_exact():
    rng = np.random.default_rng(3)
    t = np.arange(256, dtype=np.int64)
    v = rng.integers(0, 50257, size=256)
    chunk = encode_chunk(t, v)
    t2, v2 = decode_chunk(chunk)
    assert t2.tolist() == t.tolist()
    assert v2.tolist() == v.tolist()
    assert chunk["n"] == 256
    assert chunk["t0"] == 0


def test_chunk_checksum_detects_corruption():
    chunk = encode_chunk(np.arange(10), np.arange(10))
    chunk["checksum"] ^= 1
    with pytest.raises(ValueError):
        decode_chunk(chunk)


def test_chunk_compresses_regular_token_stream():
    # t=0..n-1 with small token values must compress well below raw 16B/point
    rng = np.random.default_rng(5)
    n = 4096
    chunk = encode_chunk(np.arange(n), rng.integers(0, 50257, size=n))
    raw = 16 * n
    packed = len(chunk["ts_dod"]) + len(chunk["vals_gorilla"])
    assert packed < raw / 3


# --- blocked codec (the chunk table's value codec) ----------------------------

def _blk_roundtrip(vals):
    from light_curve_spark.kernels.compression import (
        decode_values_blocked,
        encode_values_blocked,
    )

    v = np.asarray(vals, dtype=np.int64)
    out = decode_values_blocked(encode_values_blocked(v)).view(np.int64)
    assert out.tolist() == v.tolist()


def test_blocked_roundtrip_cases():
    _blk_roundtrip([])
    _blk_roundtrip([7])
    _blk_roundtrip(np.full(300, 42))              # all-zero xors
    _blk_roundtrip(np.arange(1000))
    _blk_roundtrip([0, -1, (1 << 62) | 1, 0])     # 64-bit meaningful
    _blk_roundtrip([0, 2**31 - 1, -(2**31), 1, -1])
    _blk_roundtrip(np.r_[np.zeros(7), np.arange(9)])  # partial last block


def test_blocked_roundtrip_random_property():
    rng = np.random.default_rng(16)
    for _ in range(30):
        n = int(rng.integers(1, 900))
        _blk_roundtrip(rng.integers(-(2**62), 2**62, size=n))


@given(
    st.lists(
        st.integers(min_value=-(2**63), max_value=2**63 - 1),
        min_size=0,
        max_size=200,
    )
)
@settings(max_examples=150, deadline=None)
def test_blocked_roundtrip_hypothesis(vals):
    _blk_roundtrip(vals)


def test_blocked_batch_byte_identical_to_single():
    from light_curve_spark.kernels.compression import (
        encode_values_batch_blocked,
        encode_values_blocked,
    )

    rng = np.random.default_rng(17)
    series = [
        rng.integers(0, 50257, size=int(n)).astype(np.int64)
        for n in [1, 2, 3, 17, 128, 1000]
    ] + [np.full(64, 9, dtype=np.int64), np.array([5], dtype=np.int64),
         np.array([], dtype=np.int64), np.arange(5, dtype=np.int64)]
    batch = encode_values_batch_blocked(series)
    for s, b in zip(series, batch):
        assert b == encode_values_blocked(s)


def test_blocked_smaller_than_interleaved_on_tokens():
    """The point of the blocked codec: window amortization must beat the
    paper's per-token-window layout (the interleaved
    :func:`encode_values`) on the input_hint token distribution."""
    from light_curve_spark.kernels.compression import encode_values_batch_blocked
    from light_curve_spark.sources.synthetic import row_fields

    _, _, tokens = row_fields(np.arange(500), seed=42)
    tl = [t.astype(np.int64) for t in tokens]
    per_token = sum(len(encode_values(t)) for t in tl)
    blk = sum(len(x) for x in encode_values_batch_blocked(tl))
    assert blk < 0.8 * per_token  # measured ~0.70


def test_batch_decode_blocked_matches_single():
    from light_curve_spark.kernels.compression import (
        decode_values_batch_blocked,
        decode_values_blocked,
        encode_values_batch_blocked,
    )

    rng = np.random.default_rng(21)
    cases = [
        np.array([], dtype=np.int64),
        np.array([5], dtype=np.int64),
        np.zeros(64, dtype=np.int64),          # all-zero xors (m == 0)
        rng.integers(0, 50257, 777).astype(np.int64),
        np.array([2**63 - 1, -(2**63), 0, -1, 1], dtype=np.int64),
        np.cumsum(rng.integers(-3, 4, 200)).astype(np.int64),
    ]
    enc = encode_values_batch_blocked(cases)
    batch = decode_values_batch_blocked(enc)
    for b, e, orig in zip(batch, enc, cases):
        assert np.array_equal(b, decode_values_blocked(e))
        assert np.array_equal(b.view(np.int64), orig)


@given(
    st.lists(
        st.lists(
            st.integers(min_value=-(2**63), max_value=2**63 - 1),
            min_size=0,
            max_size=60,
        ),
        min_size=1,
        max_size=12,
    )
)
@settings(max_examples=80, deadline=None)
def test_batch_decode_blocked_hypothesis(series):
    from light_curve_spark.kernels.compression import (
        decode_values_batch_blocked,
        encode_values_batch_blocked,
    )

    arrs = [np.array(s, dtype=np.int64) for s in series]
    dec = decode_values_batch_blocked(encode_values_batch_blocked(arrs))
    for d, a in zip(dec, arrs):
        assert np.array_equal(d.view(np.int64), a)


def test_decode_timestamps_fastpath_and_irregular():
    from light_curve_spark.kernels.compression import (
        decode_timestamps,
        encode_timestamps,
        encode_timestamps_regular,
    )

    # fast path: regular axis round-trips via the cached-bytes compare
    for n, t0 in [(0, 0), (1, 5), (2, -3), (100, 10), (4096, 7)]:
        out = decode_timestamps(encode_timestamps_regular(n, t0))
        assert out.tolist() == list(range(t0, t0 + n))
    # irregular stream still takes the bit-walk
    t = np.array([0, 5, 6, 100, 101, 102, 10_000_000], dtype=np.int64)
    assert decode_timestamps(encode_timestamps(t)).tolist() == t.tolist()


# --- chunk table on Spark: stored-format validation on the read path -------

@pytest.mark.parametrize(
    "corruption, message",
    [
        ("checksum", r"checksum mismatch for doc_id 'b' chunk_no 0"),
        ("payload", r"checksum mismatch for doc_id 'b' chunk_no 0"),
        ("codec", r"doc_id 'b' has unknown codec 'xor-columnar'"),
    ],
    ids=["checksum", "payload", "codec"],
)
def test_decode_chunks_rejects_corrupt_row(spark, corruption, message):
    """decode_chunks verifies every row: a wrong stored checksum, a
    flipped payload bit and an unknown codec each raise a ValueError
    naming the row instead of decoding to wrong tokens."""
    from light_curve_spark.operators.compress import (
        CHUNK_SCHEMA,
        decode_chunks,
        encode_chunks,
    )

    rng = np.random.default_rng(9)
    seq = spark.createDataFrame(
        [
            (doc, "web", rng.integers(0, 50257, size=n).tolist(), n)
            for doc, n in (("a", 40), ("b", 300), ("c", 7))
        ],
        "doc_id string, source string, tokens array<int>, n_tok int",
    )
    rows = [r.asDict() for r in encode_chunks(seq).collect()]

    def table(rs):
        return spark.createDataFrame(
            [tuple(r[f] for f in CHUNK_SCHEMA.names) for r in rs], CHUNK_SCHEMA
        )

    assert decode_chunks(table(rows)).count() == 3  # intact rows decode
    row = next(r for r in rows if r["doc_id"] == "b")
    if corruption == "checksum":
        row["checksum"] += 1
    elif corruption == "payload":
        # the last byte holds meaningful bits of a multi-token chunk;
        # its MSB is never byte-alignment padding
        buf = bytearray(row["vals_gorilla"])
        buf[-1] ^= 0x80
        row["vals_gorilla"] = bytes(buf)
    else:
        row["codec"] = "xor-columnar"
    with pytest.raises(Exception, match=message):
        decode_chunks(table(rows)).collect()
