"""Per-series feature kernels (vectorized numpy).

Definitions follow Malanchev et al. 2021, MNRAS 502, 5147 — the public
paper the reference itself cites as the home of its feature set
(/root/reference/README.md:30-50); the snapshot's sibling crate
``light-curve-feature`` is not present, so the paper is the normative
source (SURVEY.md §2.5).

All kernels take the value series ``m`` (float64) and, where relevant, the
time series ``t`` (float64). Reduction order is fixed (plain sequential
numpy sums over the natural index order) so outputs are bit-stable across
runs — required by the golden-parity gate (BASELINE.json north_star).

Empty-series policy: ``ValueError`` (mirrors the reference's empty-input
panic, light-curve-interpol/src/lib.rs:34). Features needing N>=2 return
NaN for N==1 (sample std undefined).
"""

from __future__ import annotations

import numpy as np

#: names and order of the scalar features emitted by :func:`feature_vector`
FEATURE_NAMES = (
    "mean",
    "std",
    "min",
    "max",
    "median",
    "count",
    "amplitude",
    "beyond_1_std",
    "beyond_2_std",
    "mad",
    "stetson_k",
)

PERIODOGRAM_NAMES = (
    "pg_mean",
    "pg_std",
    "pg_skew",
    "pg_kurt",
    "pg_peak_freq",
)


def _check(m: np.ndarray) -> np.ndarray:
    m = np.asarray(m, dtype=np.float64)
    if m.shape[0] == 0:
        raise ValueError("empty series")
    return m


def amplitude(m: np.ndarray) -> float:
    """(max - min) / 2 (Malanchev+21 §Amplitude)."""
    m = _check(m)
    return (np.max(m) - np.min(m)) / 2.0


def beyond_n_std(m: np.ndarray, n: float) -> float:
    """Fraction of points with |m_i - mean| > n * sample-std."""
    m = _check(m)
    N = m.shape[0]
    if N < 2:
        return float("nan")
    mu = np.mean(m)
    sigma = np.std(m, ddof=1)
    return float(np.count_nonzero(np.abs(m - mu) > n * sigma)) / N


def median_absolute_deviation(m: np.ndarray) -> float:
    """median(|m_i - median(m)|)."""
    m = _check(m)
    return float(np.median(np.abs(m - np.median(m))))


def stetson_k(m: np.ndarray) -> float:
    """Stetson K with unit per-point errors (tokens carry none):
    K = mean(|m - mean|) / sqrt(mean((m - mean)^2)).
    The sqrt(N/(N-1)) normalizations cancel in the ratio (SURVEY.md §2.5).
    """
    m = _check(m)
    if m.shape[0] < 2:
        return float("nan")
    d = m - np.mean(m)
    denom = np.sqrt(np.mean(d * d))
    if denom == 0.0:
        return float("nan")
    return float(np.mean(np.abs(d)) / denom)


def feature_vector(m: np.ndarray) -> dict[str, float]:
    """All scalar features in one pass over the series."""
    m = _check(m)
    N = m.shape[0]
    mu = float(np.mean(m))
    mn = float(np.min(m))
    mx = float(np.max(m))
    med = float(np.median(m))
    if N >= 2:
        sigma = float(np.std(m, ddof=1))
        d = m - mu
        rms = float(np.sqrt(np.mean(d * d)))
        b1 = float(np.count_nonzero(np.abs(d) > 1.0 * sigma)) / N
        b2 = float(np.count_nonzero(np.abs(d) > 2.0 * sigma)) / N
        k = float(np.mean(np.abs(d)) / rms) if rms != 0.0 else float("nan")
    else:
        sigma = b1 = b2 = k = float("nan")
    return {
        "mean": mu,
        "std": sigma,
        "min": mn,
        "max": mx,
        "median": med,
        "count": float(N),
        "amplitude": (mx - mn) / 2.0,
        "beyond_1_std": b1,
        "beyond_2_std": b2,
        "mad": float(np.median(np.abs(m - med))),
        "stetson_k": k,
    }


def von_neumann_eta(m: np.ndarray) -> float:
    """Eta (von Neumann 1941; Malanchev+21 §Eta): mean squared successive
    difference over the variance, computed in time order:
    eta = sum((m_{i+1} - m_i)^2) / ((N-1) * var_samp(m))."""
    m = _check(m)
    n = m.shape[0]
    if n < 2:
        return float("nan")
    var = np.var(m, ddof=1)
    if var == 0.0:
        return float("nan")
    d = np.diff(m)
    return float(np.sum(d * d) / ((n - 1) * var))


def linear_trend(t: np.ndarray, m: np.ndarray) -> float:
    """OLS slope of m against t (Malanchev+21 §LinearTrend):
    slope = cov(t, m) / var(t), the regr_slope definition."""
    t = np.asarray(t, dtype=np.float64)
    m = _check(m)
    if t.shape[0] != m.shape[0]:
        raise ValueError("t and m should have same size")
    if t.shape[0] < 2:
        return float("nan")
    tm, mm = np.mean(t), np.mean(m)
    denom = np.sum((t - tm) ** 2)
    if denom == 0.0:
        return float("nan")
    return float(np.sum((t - tm) * (m - mm)) / denom)


def dmdt_counts(
    t: np.ndarray,
    m: np.ndarray,
    dt_width: float,
    dm_width: float,
    n_dt: int,
    n_dm: int,
    dm_offset: float,
    strict_dt: bool = False,
) -> np.ndarray:
    """dm-dt map (the reference ecosystem's light-curve-dmdt capability,
    /root/reference/README.md:17; Mahabal et al. 2017 construction): for
    every ordered pair i<j (by time), histogram (dt, dm) into an
    (n_dt, n_dm) grid with linear bins:
        dt_bin = floor(dt / dt_width), dm_bin = floor((dm + dm_offset) / dm_width)
    out-of-range pairs are dropped. ``strict_dt=True`` drops tied-time
    pairs (dt == 0) — the semantics of the relational twin's ``a.t < b.t``
    self-join; default False counts them in dt_bin 0 (index order i<j).
    Vectorized via outer differences."""
    t = np.asarray(t, dtype=np.float64)
    m = np.asarray(m, dtype=np.float64)
    n = t.shape[0]
    out = np.zeros((n_dt, n_dm), dtype=np.int64)
    if n < 2:
        return out
    iu = np.triu_indices(n, k=1)
    dt = (t[None, :] - t[:, None])[iu]
    dm = (m[None, :] - m[:, None])[iu]
    bi = np.floor(dt / dt_width)
    bj = np.floor((dm + dm_offset) / dm_width)
    ok = (bi >= 0) & (bi < n_dt) & (bj >= 0) & (bj < n_dm)
    if strict_dt:
        ok &= dt > 0
    flat = (bi[ok].astype(np.int64) * n_dm + bj[ok].astype(np.int64))
    counts = np.bincount(flat, minlength=n_dt * n_dm)
    return counts.reshape(n_dt, n_dm)


# single-slot cache (last frequency grid only): a dict keyed by grid
# would grow unboundedly in a long-lived worker sweeping ad-hoc grids
_TRIG_TABLE_CACHE: list = [None, None]  # [key, (cos, sin)]


def _trig_tables(freqs: np.ndarray, max_len: int) -> tuple[np.ndarray, np.ndarray]:
    """(cos, sin) lookup tables of shape (K, >=max_len) for the regular
    time axis: entry [k][p] = trig(2*pi*freqs[k]*p), computed with the
    same expression as the direct path (value-identical). Caches the
    LAST grid, grown on demand (each entry bounded by MAX_SEQ_LEN)."""
    key = freqs.tobytes()
    cached = _TRIG_TABLE_CACHE[1] if _TRIG_TABLE_CACHE[0] == key else None
    if cached is None or cached[0].shape[1] < max_len:
        grow = max(max_len, 1024 if cached is None else 2 * cached[0].shape[1])
        p = np.arange(grow, dtype=np.float64)
        phases = 2.0 * np.pi * freqs[:, None] * p[None, :]
        cached = (np.cos(phases), np.sin(phases))
        _TRIG_TABLE_CACHE[0] = key
        _TRIG_TABLE_CACHE[1] = cached
    return cached


def segment_median(
    values: np.ndarray,
    key: np.ndarray,
    seg_starts: np.ndarray,
    seg_lengths: np.ndarray,
) -> np.ndarray:
    """Exact per-segment median (mean-of-two-middles) for MANY segments
    at once: one lexsort by (key, value), then middle-index gathers.
    ``key`` labels each element's segment (monotone non-decreasing);
    ``seg_starts``/``seg_lengths`` delimit the segments in element order.
    feature_frame's median/MAD (whole sequences) and the quantile
    rollup's buckets use :func:`padded_segment_median`, which must equal
    this kernel for every input, NaN and ±inf included
    (hypothesis-tested); this one is its reference."""
    order = np.lexsort((values, key))
    sv = values[order]
    hi = seg_starts + seg_lengths // 2  # index of upper middle
    lo = seg_starts + (seg_lengths - 1) // 2
    return 0.5 * (sv[lo] + sv[hi])


def padded_segment_median(values: np.ndarray, seg_lengths: np.ndarray) -> np.ndarray:
    """The :func:`segment_median` of ``values`` cut into consecutive
    non-empty segments of ``seg_lengths``, by row sorts instead of a
    two-key lexsort: each segment becomes one row of a NaN-padded
    matrix, ``sort(axis=1)`` leaves the padding at the end — after every
    value, as the lexsort puts a NaN value after every number — and the
    middles are gathered per row. An order of magnitude faster on many
    segments (feature_frame's sequences, the quantile rollup's tier
    buckets).

    Segments are grouped by power-of-two length class, one matrix per
    class padded to that class's longest segment, so the padding never
    exceeds the values it pads (a batch of short sequences with one
    long one would otherwise pad every bucket to the tier width)."""
    out = np.empty(seg_lengths.shape[0])
    starts = np.cumsum(seg_lengths) - seg_lengths
    length_class = np.frexp(seg_lengths.astype(np.float64))[1]
    for c in np.unique(length_class):
        sel = np.flatnonzero(length_class == c)
        ln = seg_lengths[sel]
        m = np.full((sel.shape[0], int(ln.max())), np.nan)
        row = np.repeat(np.arange(sel.shape[0]), ln)
        col = np.arange(row.shape[0]) - np.repeat(np.cumsum(ln) - ln, ln)
        m[row, col] = values[starts[sel][row] + col]
        m.sort(axis=1)
        r = np.arange(sel.shape[0])
        out[sel] = 0.5 * (m[r, (ln - 1) // 2] + m[r, ln // 2])
    return out


def feature_frame(
    flat: np.ndarray,
    lengths: np.ndarray,
    t_flat: np.ndarray | None = None,
    freqs: np.ndarray | None = None,
) -> dict[str, np.ndarray]:
    """Segment-vectorized feature extraction: all FEATURE_NAMES (and, when
    ``freqs`` is given, PERIODOGRAM_NAMES) for MANY series at once.

    ``flat`` is the concatenation of all series values; ``lengths[i]`` is
    series *i*'s length. One ``np.add.reduceat`` per statistic and one
    padded row sort per median pass — no Python loop over series, which is
    what makes the Arrow-batched mapInArrow operators scale (input_hint:
    "no per-row Python"). Results are identical to calling
    :func:`feature_vector` per series (tested).

    ``t_flat`` defaults to the within-segment position (t_i = i), the
    canonical series view of a token stream (SURVEY.md §1.2).
    """
    flat = np.asarray(flat, dtype=np.float64)
    lengths = np.asarray(lengths, dtype=np.int64)
    n = lengths.shape[0]
    if n == 0:
        out = {name: np.empty(0) for name in FEATURE_NAMES}
        if freqs is not None:
            out.update({name: np.empty(0) for name in PERIODOGRAM_NAMES})
        return out
    if (lengths <= 0).any():
        raise ValueError("empty series")
    starts = np.cumsum(lengths) - lengths
    elem = np.repeat(np.arange(n), lengths)
    Nf = lengths.astype(np.float64)

    sums = np.add.reduceat(flat, starts)
    mean = sums / Nf
    mn = np.minimum.reduceat(flat, starts)
    mx = np.maximum.reduceat(flat, starts)

    d = flat - mean[elem]
    sumsq = np.add.reduceat(d * d, starts)
    sumabs = np.add.reduceat(np.abs(d), starts)
    multi = lengths >= 2
    with np.errstate(divide="ignore", invalid="ignore"):
        std = np.where(multi, np.sqrt(sumsq / np.maximum(Nf - 1.0, 1.0)), np.nan)
        rms = np.sqrt(sumsq / Nf)
        stet = np.where(multi & (rms != 0.0), (sumabs / Nf) / rms, np.nan)
        absd = np.abs(d)
        thr = std[elem]
        b1 = np.where(
            multi, np.add.reduceat((absd > thr).astype(np.float64), starts) / Nf, np.nan
        )
        b2 = np.where(
            multi,
            np.add.reduceat((absd > 2.0 * thr).astype(np.float64), starts) / Nf,
            np.nan,
        )

    med = padded_segment_median(flat, lengths)
    mad = padded_segment_median(np.abs(flat - med[elem]), lengths)

    out = {
        "mean": mean,
        "std": std,
        "min": mn,
        "max": mx,
        "median": med,
        "count": Nf,
        "amplitude": (mx - mn) / 2.0,
        "beyond_1_std": b1,
        "beyond_2_std": b2,
        "mad": mad,
        "stetson_k": stet,
    }

    if freqs is not None:
        freqs = np.asarray(freqs, dtype=np.float64)
        K = freqs.shape[0]
        power = np.empty((n, K), dtype=np.float64)
        if t_flat is None:
            # regular time axis (t_i = i < MAX_SEQ_LEN): cos/sin of every
            # possible phase are PRECOMPUTED per frequency, so the hot
            # path is a table gather + multiply + reduceat — no trig per
            # point. Table entries are np.cos(2*pi*f*k) over integer k,
            # i.e. the exact same values the direct computation produced
            # (bit-identical outputs; covered by the periodogram fixture
            # oracle and the kernel-vs-relational tests).
            pos = (np.arange(flat.shape[0], dtype=np.int64) - starts[elem])
            cos_t, sin_t = _trig_tables(freqs, int(lengths.max()))
            for k in range(K):
                c = np.add.reduceat(d * cos_t[k][pos], starts)
                s = np.add.reduceat(d * sin_t[k][pos], starts)
                power[:, k] = c * c + s * s
        else:
            t_flat = np.asarray(t_flat, dtype=np.float64)
            for k in range(K):  # loop over the SMALL freq grid, not series
                phase = 2.0 * np.pi * freqs[k] * t_flat
                c = np.add.reduceat(d * np.cos(phase), starts)
                s = np.add.reduceat(d * np.sin(phase), starts)
                power[:, k] = c * c + s * s
        tot = power.sum(axis=1)
        with np.errstate(divide="ignore", invalid="ignore"):
            q = power / tot[:, None]
            qmu = q.mean(axis=1)
            qsd = q.std(axis=1, ddof=1)
            z = np.where(
                qsd[:, None] != 0.0, (q - qmu[:, None]) / qsd[:, None], 0.0
            )
            skew = np.mean(z**3, axis=1)
            kurt = np.mean(z**4, axis=1) - 3.0
        bad = (tot == 0.0) | (K < 2)
        peak = freqs[np.argmax(power, axis=1)]
        for name, arr in (
            ("pg_mean", qmu),
            ("pg_std", qsd),
            ("pg_skew", skew),
            ("pg_kurt", kurt),
        ):
            arr = np.where(bad, np.nan, arr)
            out[name] = arr
        out["pg_peak_freq"] = peak
    return out


def periodogram_power(
    t: np.ndarray, m: np.ndarray, freqs: np.ndarray
) -> np.ndarray:
    """Direct trigonometric-sum power spectrum on a fixed frequency grid
    ("Lomb-Scargle-free", BASELINE.json north_star):

        P(f_k) = (sum_i m'_i cos(2*pi*f_k*t_i))^2
               + (sum_i m'_i sin(2*pi*f_k*t_i))^2

    over the mean-subtracted series m'. O(N*K), fully vectorized as one
    matrix product per trig term.
    """
    t = np.asarray(t, dtype=np.float64)
    m = _check(m)
    if t.shape[0] != m.shape[0]:
        raise ValueError("t and m should have same size")
    freqs = np.asarray(freqs, dtype=np.float64)
    md = m - np.mean(m)
    phase = 2.0 * np.pi * np.outer(freqs, t)  # (K, N)
    c = np.cos(phase) @ md
    s = np.sin(phase) @ md
    return c * c + s * s


def periodogram_moments(
    t: np.ndarray, m: np.ndarray, freqs: np.ndarray
) -> dict[str, float]:
    """Moments of the normalized power spectrum (mean, sample-std,
    skewness, excess kurtosis of P/sum(P)) plus argmax frequency."""
    p = periodogram_power(t, m, freqs)
    tot = np.sum(p)
    if tot == 0.0 or p.shape[0] < 2:
        nan = float("nan")
        return {
            "pg_mean": nan,
            "pg_std": nan,
            "pg_skew": nan,
            "pg_kurt": nan,
            "pg_peak_freq": float(freqs[int(np.argmax(p))]) if p.size else nan,
        }
    q = p / tot
    mu = float(np.mean(q))
    sd = float(np.std(q, ddof=1))
    z = (q - mu) / sd if sd != 0.0 else np.zeros_like(q)
    return {
        "pg_mean": mu,
        "pg_std": sd,
        "pg_skew": float(np.mean(z**3)),
        "pg_kurt": float(np.mean(z**4) - 3.0),
        "pg_peak_freq": float(freqs[int(np.argmax(p))]),
    }
