"""Chunk compression kernels: delta-of-delta timestamps + Gorilla XOR values.

Mandated by BASELINE.json (north_rule: "Gorilla/delta-of-delta compression";
per-row invariant: exact token-array equality through the round trip).
Scheme follows Pelkonen et al., "Gorilla: A Fast, Scalable, In-Memory Time
Series Database", VLDB 2015 (public paper):

Timestamps (§4.1.1 of the paper, exact):
    header: n (uint32 LE) + t0 (int64 LE); bitstream encodes the n-1
    delta-of-deltas (first delta is taken relative to prev_delta = 0):
        dod == 0                -> '0'
        dod in [-63, 64]        -> '10'   + 7-bit  (dod + 63)
        dod in [-255, 256]      -> '110'  + 9-bit  (dod + 255)
        dod in [-2047, 2048]    -> '1110' + 12-bit (dod + 2047)
        else                    -> '1111' + 64-bit two's-complement dod

Values (§4.1.2, one deliberate deviation):
    header: n (uint32 LE) + v0 (uint64 LE raw); bitstream encodes n-1
    XOR tokens (xor_i = v_i ^ v_{i-1}):
        xor == 0 -> '0'
        else     -> '1' + 6-bit leading-zero count + 6-bit (meaningful_len
                    - 1) + the meaningful bits
    DEVIATION from the paper: the '10' control branch (reuse the previous
    token's leading/length window) is omitted and every nonzero token
    carries its own explicit window. The paper's window reuse makes the
    encoder a sequential state machine (the window only advances on '11'
    emissions), which cannot be expressed as vectorized numpy and would
    force a per-element Python loop — forbidden by input_hint ("no per-row
    Python") — and is PATHOLOGICAL on sign-flipping data (one 64-bit
    window poisons every subsequent fitting token; measured -258% on
    smooth series, scripts/experiment_window_reuse.py). The engine's
    answer to the reuse idea is the 'xor-blocked' codec
    (:func:`encode_values_blocked`): one envelope window per BLOCK_K
    nonzero tokens — window amortization WITHOUT sequential state,
    measured 10-36% fewer bits than per-token windows on all tested
    shapes, vectorized both directions. Round-trip exactness (the actual
    correctness gate) holds for every codec.

Every encoder is fully vectorized: per-element payloads are materialized
as (hi, lo) uint64 pairs + bit lengths, then flattened to a bit array with
repeat/cumsum indexing and np.packbits — no per-element Python in encode.
The chunk table stores values in the xor-blocked codec, whose decode is
vectorized batch-wide (block envelopes decode with numpy gathers; see
decode_values_batch_blocked). The paper-faithful interleaved values
(:func:`decode_values`) and irregular timestamp streams decode as a
sequential bit-walk.
"""

from __future__ import annotations

import struct
import zlib

import numpy as np

_U64 = np.uint64
_MASK6 = np.uint64(0x3F)

# 256-entry leading/trailing-zero tables for bytes (value for 0 is 8).
_CLZ8 = np.array([8] + [7 - int(i).bit_length() + 1 for i in range(1, 256)], dtype=np.int64)
for _i in range(1, 256):
    _CLZ8[_i] = 8 - int(_i).bit_length()
_CTZ8 = np.zeros(256, dtype=np.int64)
_CTZ8[0] = 8
for _i in range(1, 256):
    _CTZ8[_i] = (int(_i) & -int(_i)).bit_length() - 1


def _clz64(x: np.ndarray) -> np.ndarray:
    """Vectorized count-leading-zeros for uint64 (returns 64 for 0)."""
    b = x.astype("<u8").byteswap().view(np.uint8).reshape(-1, 8)  # big-endian bytes
    nz = b != 0
    anynz = nz.any(axis=1)
    first = np.argmax(nz, axis=1)
    out = first * 8 + _CLZ8[b[np.arange(b.shape[0]), first]]
    out[~anynz] = 64
    return out


def _ctz64(x: np.ndarray) -> np.ndarray:
    """Vectorized count-trailing-zeros for uint64 (returns 64 for 0)."""
    b = x.astype("<u8").view(np.uint8).reshape(-1, 8)  # little-endian bytes
    nz = b != 0
    anynz = nz.any(axis=1)
    first = np.argmax(nz, axis=1)
    out = first * 8 + _CTZ8[b[np.arange(b.shape[0]), first]]
    out[~anynz] = 64
    return out


_SCRATCH: dict[str, np.ndarray] = {}


def _scratch(name: str, size: int, dtype) -> np.ndarray:
    """Reusable per-process buffers: fresh large numpy allocations pay
    cold-page-fault cost on every call in this environment (~100x the
    compute cost of the ops using them); a growable arena pays it once
    per worker process."""
    arr = _SCRATCH.get(name)
    if arr is None or arr.shape[0] < size:
        arr = np.empty(int(size * 1.5) + 64, dtype=dtype)
        _SCRATCH[name] = arr
    return arr[:size]


def _pack_varbits(hi: np.ndarray, lo: np.ndarray, lengths: np.ndarray) -> bytes:
    """Flatten per-element payloads into a packed MSB-first bitstream.

    Element i contributes its low ``lengths[i]`` bits of the 128-bit value
    ``hi[i] << 64 | lo[i]``, written most-significant-first. Vectorized
    with arena-backed in-place ops — zero fresh large allocations in
    steady state, no Python loop over elements.
    """
    lengths = lengths.astype(np.int64)
    total = int(lengths.sum())
    if total == 0:
        return b""
    nz = lengths > 0
    if not nz.all():
        hi, lo, lengths = hi[nz], lo[nz], lengths[nz]
    m = lengths.shape[0]
    offsets = np.cumsum(lengths) - lengths

    # Fast path (round 7): near-1-bit-per-element streams — section A of
    # the blocked codec (one control bit per token, plus byte-pad
    # elements) is by far the largest element count of an encode and
    # paid ~20 full-width vector ops per element through the generic
    # 128-bit window path below. When every element is <= 64 bits (its
    # payload then lives entirely in ``lo``) and the stream averages
    # <= 2 bits/element, expand to one uint8 per BIT and let packbits
    # assemble MSB-first — byte-identical output (stream bit j of
    # element i is bit (len_i-1-j) of lo_i in both paths; packbits pads
    # the final byte with zeros exactly like the zeroed word arena).
    max_len = int(lengths.max())
    if total <= 2 * m and max_len <= 64:
        elem = np.repeat(np.arange(m), lengths)
        within = np.arange(total, dtype=np.int64) - offsets[elem]
        shift = (lengths[elem] - 1 - within).astype(_U64)
        bits = ((lo[elem] >> shift) & _U64(1)).astype(np.uint8)
        return np.packbits(bits).tobytes()

    # Lean path (round 7): every payload fits in ``lo`` (len <= 64 means
    # the written low-k bits never reach ``hi``), so an element spans at
    # most TWO stream words — word w0 gets lo aligned to bit b0, word
    # w0+1 gets the spill. Halves the vector-op count and the fresh
    # large temporaries of the generic 3-word window below (this host
    # charges heavy cold-page-fault cost per new large allocation);
    # byte-identical by construction. Covers the blocked codec's window
    # (12-bit) and meaningful-bits (<= 64) sections.
    if max_len <= 64:
        b0 = offsets & 63
        left = 64 - b0 - lengths  # >= 0: fits in w0, shifted left
        l1 = np.where(left >= 0, left, 0).astype(_U64)
        r1 = np.where(left >= 0, 0, -left).astype(_U64)
        # left < 0: low (-left) bits spill into w0+1; (lo >> r1) keeps
        # the in-word part (r1 <= 63 since len >= 1)
        V1 = np.where(left >= 0, lo << l1, lo >> r1)
        V2 = np.where(left >= 0, _U64(0), lo << (_U64(64) - r1))
        n_words = (total + 63) >> 6
        words = _scratch("pv_words", n_words, _U64)
        words[:] = 0
        w0 = offsets >> 6
        for delta, V in ((0, V1), (1, V2)):
            idx = w0 + delta
            ok = (idx < n_words) & (V != 0)
            idxo = idx[ok]
            Vo = V[ok]
            if idxo.shape[0] == 0:
                continue
            seg = np.flatnonzero(np.r_[True, idxo[1:] != idxo[:-1]])
            words[idxo[seg]] |= np.bitwise_or.reduceat(Vo, seg)
        return words.byteswap().tobytes()[: (total + 7) >> 3]

    # Word-level assembly: the stream is big-endian uint64 words; element
    # i's payload, placed at stream bits [off, off+len), is the 128-bit
    # value (hi:lo) shifted left by s = 192 - (off & 63) - len inside a
    # 3-word window starting at word off >> 6. Three OR-contributions per
    # element (vs one op per BIT in the naive expansion).
    b0 = (offsets & 63).astype(_U64)
    s = _U64(192) - b0 - lengths.view(_U64)
    q = (s >> _U64(6)).astype(np.int8)  # window word of the shift: 0,1,2
    r = s & _U64(63)
    rs = _U64(64) - r

    def srl(x, k):  # right shift by k in [1, 64] (two <=63 steps)
        return (x >> _U64(1)) >> (k - _U64(1))

    lo_r = lo << r
    hi_r = (hi << r) | srl(lo, rs)
    car = srl(hi, rs)
    # q == 0: (V2, V1, V0) = (car, hi_r, lo_r)
    # q == 1: (V2, V1, V0) = (hi_r, lo_r, 0)
    # q == 2: (V2, V1, V0) = (lo_r, 0, 0)   [hi == 0 whenever s >= 128]
    q0 = q == 0
    q1 = q == 1
    V2 = np.where(q0, car, np.where(q1, hi_r, lo_r))
    V1 = np.where(q0, hi_r, np.where(q1, lo_r, _U64(0)))
    V0 = np.where(q0, lo_r, _U64(0))

    n_words = (total + 63) >> 6
    words = _scratch("pv_words", n_words, _U64)
    words[:] = 0
    w0 = offsets >> 6
    for delta, V in ((0, V2), (1, V1), (2, V0)):
        idx = w0 + delta
        ok = (idx < n_words) & (V != 0)
        idxo = idx[ok]
        Vo = V[ok]
        if idxo.shape[0] == 0:
            continue
        seg = np.flatnonzero(np.r_[True, idxo[1:] != idxo[:-1]])
        vals = np.bitwise_or.reduceat(Vo, seg)
        tgt = idxo[seg]
        words[tgt] |= vals
    return words.byteswap().tobytes()[: (total + 7) >> 3]


class _BitReader:
    """Sequential MSB-first bit reader over a packed byte buffer.

    Word-based: the buffer is pre-split into big-endian 64-bit Python
    ints; a read touches at most two words (~4 int ops), not one Python
    op per BIT — an order of magnitude faster decode per chunk."""

    __slots__ = ("words", "pos")

    def __init__(self, buf: bytes):
        pad = (-len(buf)) % 8 + 8  # one extra zero word for the straddle read
        padded = buf + b"\x00" * pad
        self.words = struct.unpack(f">{len(padded) // 8}Q", padded)
        self.pos = 0

    def read(self, k: int) -> int:
        p = self.pos
        self.pos = p + k
        w = p >> 6
        b = p & 63
        # 128-bit window starting at word w, take top (b, b+k)
        window = (self.words[w] << 64) | self.words[w + 1]
        return (window >> (128 - b - k)) & ((1 << k) - 1)


def encode_timestamps(t: np.ndarray) -> bytes:
    """Delta-of-delta encode an int64 timestamp array. Vectorized."""
    t = np.asarray(t, dtype=np.int64)
    n = t.shape[0]
    header = struct.pack("<I", n)
    if n == 0:
        return header
    header += struct.pack("<q", int(t[0]))
    if n == 1:
        return header
    delta = np.diff(t)
    dod = delta.copy()
    dod[1:] = delta[1:] - delta[:-1]  # first delta relative to prev_delta=0

    zero = dod == 0
    c1 = ~zero & (dod >= -63) & (dod <= 64)
    c2 = ~zero & ~c1 & (dod >= -255) & (dod <= 256)
    c3 = ~zero & ~c1 & ~c2 & (dod >= -2047) & (dod <= 2048)
    c4 = ~zero & ~c1 & ~c2 & ~c3

    m = dod.shape[0]
    lo = np.zeros(m, dtype=_U64)
    hi = np.zeros(m, dtype=_U64)
    lengths = np.ones(m, dtype=np.int64)  # class '0' -> 1 bit, payload 0

    lo[c1] = (_U64(0b10) << _U64(7)) | (dod[c1] + 63).astype(_U64)
    lengths[c1] = 9
    lo[c2] = (_U64(0b110) << _U64(9)) | (dod[c2] + 255).astype(_U64)
    lengths[c2] = 12
    lo[c3] = (_U64(0b1110) << _U64(12)) | (dod[c3] + 2047).astype(_U64)
    lengths[c3] = 16
    lo[c4] = dod[c4].astype(np.int64).view(_U64) if dod[c4].size else lo[c4]
    hi[c4] = _U64(0b1111)
    lengths[c4] = 68

    return header + _pack_varbits(hi, lo, lengths)


def decode_timestamps(buf: bytes) -> np.ndarray:
    """Inverse of :func:`encode_timestamps`.

    Fast path first: the canonical sequence time axis (t = t0..t0+n-1)
    has a deterministic encoding, so one cached-bytes comparison against
    :func:`encode_timestamps_regular`'s output replaces the whole O(n)
    bit-walk with an ``arange`` — ~100x for the dominant chunk shape.
    Irregular streams fall through to the sequential bit-walk."""
    (n,) = struct.unpack_from("<I", buf, 0)
    if n == 0:
        return np.empty(0, dtype=np.int64)
    (t0,) = struct.unpack_from("<q", buf, 4)
    if buf == encode_timestamps_regular(n, t0):
        return t0 + np.arange(n, dtype=np.int64)
    out = np.empty(n, dtype=np.int64)
    out[0] = t0
    if n == 1:
        return out
    r = _BitReader(buf[12:])
    prev_delta = 0
    prev_t = t0
    wrap = 1 << 64
    half = 1 << 63
    for i in range(1, n):
        if r.read(1) == 0:
            dod = 0
        elif r.read(1) == 0:
            dod = r.read(7) - 63
        elif r.read(1) == 0:
            dod = r.read(9) - 255
        elif r.read(1) == 0:
            dod = r.read(12) - 2047
        else:
            v = r.read(64)
            dod = v - wrap if v >= half else v
        # modular int64 arithmetic, mirroring the encoder's silent numpy
        # wraparound: deltas between extreme int64 timestamps can exceed
        # the int64 range, but wrap-encode + wrap-decode is exact
        prev_delta = (prev_delta + dod + half) % wrap - half
        prev_t = (prev_t + prev_delta + half) % wrap - half
        out[i] = prev_t
    return out


def encode_values(v: np.ndarray) -> bytes:
    """Gorilla-style XOR encode of an int64/uint64 value array. Vectorized."""
    v = np.asarray(v)
    if v.dtype != _U64:
        v = v.astype(np.int64).view(_U64)
    n = v.shape[0]
    header = struct.pack("<I", n)
    if n == 0:
        return header
    header += struct.pack("<Q", int(v[0]))
    if n == 1:
        return header
    xor = v[1:] ^ v[:-1]
    m = xor.shape[0]
    nonzero = xor != 0

    lead = _clz64(xor)
    trail = _ctz64(xor)
    mlen = np.maximum(64 - lead - trail, 1)  # meaningful bits (>=1 if nonzero)

    lengths = np.ones(m, dtype=np.int64)
    lo = np.zeros(m, dtype=_U64)
    hi = np.zeros(m, dtype=_U64)

    nz = np.flatnonzero(nonzero)
    if nz.size:
        L = lead[nz].astype(_U64)
        ml = mlen[nz].astype(_U64)
        meaningful = xor[nz] >> trail[nz].astype(_U64)
        head = (_U64(1) << _U64(12)) | (L << _U64(6)) | (ml - _U64(1))  # 13 bits
        # payload = head << mlen | meaningful; mlen can be 64, so split the
        # shift into two <=63-bit steps (well-defined, drops overflow bits).
        s1 = np.minimum(ml, _U64(63))
        s2 = ml - s1
        lo[nz] = ((head << s1) << s2) | meaningful
        hi[nz] = head >> (_U64(64) - ml)
        lengths[nz] = 13 + mlen[nz]

    return header + _pack_varbits(hi, lo, lengths)


def decode_values(buf: bytes) -> np.ndarray:
    """Inverse of :func:`encode_values`; returns uint64 array."""
    (n,) = struct.unpack_from("<I", buf, 0)
    if n == 0:
        return np.empty(0, dtype=_U64)
    (v0,) = struct.unpack_from("<Q", buf, 4)
    out = np.empty(n, dtype=_U64)
    out[0] = v0
    if n == 1:
        return out
    r = _BitReader(buf[12:])
    prev = v0
    for i in range(1, n):
        if r.read(1) == 0:
            out[i] = prev
            continue
        lead = r.read(6)
        mlen = r.read(6) + 1
        meaningful = r.read(mlen)
        trail = 64 - lead - mlen
        prev ^= meaningful << trail
        out[i] = prev
    return out


def _pack_varbits_rows(
    hi: np.ndarray,
    lo: np.ndarray,
    lengths: np.ndarray,
    row_of: np.ndarray,
    n_rows: int,
) -> tuple[bytes, np.ndarray, np.ndarray]:
    """Pack elements grouped by row into ONE bitstream where every row's
    slice is byte-aligned (zero-pad element per row), so the buffer can
    be sliced per row without re-packing. Returns (buf, byte_offsets,
    byte_lengths) per row. Elements must be ordered by row."""
    m = lengths.shape[0]
    bits_per_row = np.bincount(row_of, weights=lengths, minlength=n_rows).astype(
        np.int64
    )
    pad = (-bits_per_row) % 8
    cnt = np.bincount(row_of, minlength=n_rows).astype(np.int64)
    starts = np.cumsum(cnt) - cnt
    full_n = m + n_rows
    hi_f = np.zeros(full_n, dtype=_U64)
    lo_f = np.zeros(full_n, dtype=_U64)
    len_f = np.zeros(full_n, dtype=np.int64)
    idx_el = np.arange(m) + row_of
    hi_f[idx_el] = hi
    lo_f[idx_el] = lo
    len_f[idx_el] = lengths
    idx_pad = starts + cnt + np.arange(n_rows)
    len_f[idx_pad] = pad
    buf = _pack_varbits(hi_f, lo_f, len_f)
    nbytes = (bits_per_row + pad) // 8
    offs = np.cumsum(nbytes) - nbytes
    return buf, offs, nbytes


def encode_values_batch_blocked(values_list: list[np.ndarray]) -> list[bytes]:
    """Batch blocked-window encode (see :func:`encode_values_blocked`):
    MANY rows in one vectorized pass; byte-identical to the single-row
    encoder (tested). Blocks never cross row boundaries."""
    R = len(values_list)
    if R == 0:
        return []
    arrs = [np.asarray(v, dtype=np.int64) for v in values_list]
    lengths = np.fromiter((a.shape[0] for a in arrs), dtype=np.int64, count=R)
    headers = []
    for a, n in zip(arrs, lengths):
        h = struct.pack("<I", int(n))
        if n:
            h += struct.pack("<Q", int(a[0].view(_U64)))
        headers.append(h)
    if (lengths <= 1).all():
        return headers

    flat = np.concatenate(arrs).view(_U64)
    total = flat.shape[0]
    starts = np.cumsum(lengths) - lengths
    elem = np.repeat(np.arange(R), lengths)
    prev = np.empty_like(flat)
    prev[1:] = flat[:-1]
    prev[0] = 0
    xor = flat ^ prev
    first = np.zeros(total, dtype=bool)
    first[starts[lengths > 0]] = True
    sel = ~first
    xor_nf = xor[sel]
    row_nf = elem[sel]
    nonzero = xor_nf != 0

    # section A: 1-bit control per token, row-aligned
    buf_a, offs_a, len_a = _pack_varbits_rows(
        np.zeros(xor_nf.shape[0], dtype=_U64),
        nonzero.astype(_U64),
        np.ones(xor_nf.shape[0], dtype=np.int64),
        row_nf,
        R,
    )
    nzi = np.flatnonzero(nonzero)
    nz = xor_nf[nzi]
    row_nz = row_nf[nzi]
    m_per_row = np.bincount(row_nz, minlength=R).astype(np.int64)
    if nz.size:
        lead = _clz64(nz)
        trail = _ctz64(nz)
        # per-row block structure (BLOCK_K nonzeros per block, row-local)
        nblocks_per_row = (m_per_row + BLOCK_K - 1) // BLOCK_K
        row_tok_start = np.cumsum(m_per_row) - m_per_row
        row_blk_start = np.cumsum(nblocks_per_row) - nblocks_per_row
        blocks_row = np.repeat(np.arange(R), nblocks_per_row)
        blk_in_row = np.arange(blocks_row.shape[0]) - row_blk_start[blocks_row]
        block_first = row_tok_start[blocks_row] + blk_in_row * BLOCK_K
        lead_env, trail_env, mlen_env = _block_envelopes(lead, trail, block_first)
        window = (lead_env.astype(_U64) << _U64(6)) | (
            mlen_env.astype(_U64) - _U64(1)
        )
        buf_b, offs_b, len_b = _pack_varbits_rows(
            np.zeros(window.size, dtype=_U64),
            window,
            np.full(window.size, 12, dtype=np.int64),
            blocks_row,
            R,
        )
        idx_in_row = np.arange(nz.size) - row_tok_start[row_nz]
        tok_block = row_blk_start[row_nz] + idx_in_row // BLOCK_K
        meaningful = nz >> trail_env[tok_block].astype(_U64)
        buf_c, offs_c, len_c = _pack_varbits_rows(
            np.zeros(nz.size, dtype=_U64), meaningful, mlen_env[tok_block], row_nz, R
        )
    else:
        buf_b = buf_c = b""
        offs_b = offs_c = np.zeros(R, dtype=np.int64)
        len_b = len_c = np.zeros(R, dtype=np.int64)

    mv_a, mv_b, mv_c = memoryview(buf_a), memoryview(buf_b), memoryview(buf_c)
    out = []
    for r in range(R):
        if lengths[r] <= 1:
            out.append(headers[r])
            continue
        row = (
            headers[r]
            + struct.pack("<I", int(m_per_row[r]))
            + bytes(mv_a[offs_a[r] : offs_a[r] + len_a[r]])
        )
        if m_per_row[r]:
            row += (
                struct.pack("<I", int(len_b[r]))
                + bytes(mv_b[offs_b[r] : offs_b[r] + len_b[r]])
                + bytes(mv_c[offs_c[r] : offs_c[r] + len_c[r]])
            )
        out.append(row)
    return out


BLOCK_K = 8  # nonzero tokens per shared-window block ('xor-blocked')


def _block_envelopes(
    lead: np.ndarray, trail: np.ndarray, block_first: np.ndarray
) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """(lead_env, trail_env, mlen_env) per block: the tightest window
    containing every member token's meaningful bits (min lead, min
    trail). block_first = index of each block's first token."""
    lead_env = np.minimum.reduceat(lead, block_first)
    trail_env = np.minimum.reduceat(trail, block_first)
    mlen_env = np.maximum(64 - lead_env - trail_env, 1)
    return lead_env, trail_env, mlen_env


def encode_values_blocked(v: np.ndarray) -> bytes:
    """Blocked-window layout of the Gorilla XOR tokens — the chunk
    table's value codec and the engine's answer to the paper's '10'
    window-reuse branch (Pelkonen §4.1.2), measured in
    scripts/experiment_window_reuse.py:

    The paper's rule reuses the window of the most recent explicit-window
    token — an inherently SEQUENTIAL encoder decision (and pathological
    on sign-flipping data: one 64-bit window poisons every subsequent
    token that fits it). Instead, every block of BLOCK_K nonzero tokens
    shares ONE 12-bit envelope window (min lead / min trail over the
    block): the window section shrinks 8x for the cost of per-token
    envelope slack — measured 10-36% fewer bits than per-token windows
    on all four test shapes, fully vectorized both directions.

        header:  n (u32 LE) + v0 (u64 LE)
        m (u32): nonzero-xor count
        A: control bitmap, 1 bit per xor token (1 = nonzero)
        b_len (u32) + B: 12-bit envelope windows, one per ceil(m/8) block
        C: meaningful bits w.r.t. the block envelope, mlen_env each
    """
    v = np.asarray(v)
    if v.dtype != _U64:
        v = v.astype(np.int64).view(_U64)
    n = v.shape[0]
    header = struct.pack("<I", n)
    if n == 0:
        return header
    header += struct.pack("<Q", int(v[0]))
    if n == 1:
        return header
    xor = v[1:] ^ v[:-1]
    nonzero = xor != 0
    bitmap = np.packbits(nonzero.astype(np.uint8)).tobytes()
    nz = xor[nonzero]
    m = nz.size
    if m == 0:
        return header + struct.pack("<I", 0) + bitmap
    lead = _clz64(nz)
    trail = _ctz64(nz)
    block_first = np.arange(0, m, BLOCK_K, dtype=np.int64)
    lead_env, trail_env, mlen_env = _block_envelopes(lead, trail, block_first)
    window = (lead_env.astype(_U64) << _U64(6)) | (mlen_env.astype(_U64) - _U64(1))
    sec_b = _pack_varbits(
        np.zeros(window.size, dtype=_U64),
        window,
        np.full(window.size, 12, dtype=np.int64),
    )
    tok_block = np.arange(m, dtype=np.int64) // BLOCK_K
    meaningful = nz >> trail_env[tok_block].astype(_U64)
    sec_c = _pack_varbits(
        np.zeros(m, dtype=_U64), meaningful, mlen_env[tok_block]
    )
    return (
        header
        + struct.pack("<I", m)
        + bitmap
        + struct.pack("<I", len(sec_b))
        + sec_b
        + sec_c
    )


def decode_values_blocked(buf: bytes) -> np.ndarray:
    """Fully vectorized inverse of :func:`encode_values_blocked`."""
    (n,) = struct.unpack_from("<I", buf, 0)
    if n == 0:
        return np.empty(0, dtype=_U64)
    (v0,) = struct.unpack_from("<Q", buf, 4)
    if n == 1:
        return np.array([v0], dtype=_U64)
    (m,) = struct.unpack_from("<I", buf, 12)
    pos = 16
    bitmap_len = (n - 1 + 7) // 8
    nonzero = np.unpackbits(
        np.frombuffer(buf, dtype=np.uint8, count=bitmap_len, offset=pos)
    )[: n - 1].astype(bool)
    pos += bitmap_len
    xors = np.zeros(n - 1, dtype=_U64)
    if m:
        (b_len,) = struct.unpack_from("<I", buf, pos)
        pos += 4
        sec_b = buf[pos : pos + b_len]
        pos += b_len
        nblocks = (m + BLOCK_K - 1) // BLOCK_K
        win = _extract_varbits(
            sec_b,
            np.arange(nblocks, dtype=np.int64) * 12,
            np.full(nblocks, 12, dtype=np.int64),
        )
        lead_env = (win >> _U64(6)).astype(np.int64)
        mlen_env = (win & _MASK6).astype(np.int64) + 1
        trail_env = 64 - lead_env - mlen_env
        tok_block = np.arange(m, dtype=np.int64) // BLOCK_K
        mlen = mlen_env[tok_block]
        offs = np.cumsum(mlen) - mlen
        meaningful = _extract_varbits(buf[pos:], offs, mlen)
        xors[nonzero] = meaningful << trail_env[tok_block].astype(_U64)
    out = np.empty(n, dtype=_U64)
    out[0] = v0
    np.bitwise_xor.accumulate(
        np.concatenate([np.array([v0], dtype=_U64), xors]), out=out
    )
    return out


def _extract_varbits(buf: bytes, offsets: np.ndarray, lengths: np.ndarray) -> np.ndarray:
    """Vectorized inverse of _pack_varbits for known (offset, length)
    fields (each <= 64 bits): windowed two-word gather + shift."""
    pad = (-len(buf)) % 8 + 16
    words = np.frombuffer(buf + b"\x00" * pad, dtype=">u8").astype(_U64)
    w0 = (offsets >> 6).astype(np.int64)
    b = (offsets & 63).astype(_U64)
    hi = words[w0]
    lo = words[w0 + 1]
    s = _U64(128) - b - lengths.view(_U64)  # right-shift amount in the window
    q1 = s >= _U64(64)
    r = s & _U64(63)
    sl = _U64(64) - r  # in [1, 64]
    # left shift by sl in [1,64] via two <=63-bit steps (drops overflow)
    straddle = (((hi << _U64(1)) << (sl - _U64(1))) | (lo >> r))
    # q==1: field entirely in hi;  q==0: straddles hi|lo
    val = np.where(q1, hi >> r, straddle)
    lm1 = lengths.view(_U64) - _U64(1)
    mask = (((_U64(1) << lm1) - _U64(1)) << _U64(1)) | _U64(1)
    return val & mask


def decode_values_batch_blocked(buffers: list[bytes]) -> list[np.ndarray]:
    """Batch inverse of :func:`encode_values_blocked`: MANY chunks in one
    vectorized pass. Identical outputs to calling
    :func:`decode_values_blocked` per buffer (tested); the win is the
    read path's per-chunk numpy dispatch — every section (bitmaps,
    windows, payloads) is concatenated and extracted once, and the
    prefix-XOR reconstruction runs globally with a per-row correction
    term (prefix-xor within row r = global prefix-xor ^ the global
    prefix just before the row — XOR cancels the foreign prefix)."""
    R = len(buffers)
    out: list = [None] * R
    rows = []  # (r, n, v0, m, bm_off, bm_len, b_off, b_len, c_off)
    for r, buf in enumerate(buffers):
        (n,) = struct.unpack_from("<I", buf, 0)
        if n == 0:
            out[r] = np.empty(0, dtype=_U64)
            continue
        (v0,) = struct.unpack_from("<Q", buf, 4)
        if n == 1:
            out[r] = np.array([v0], dtype=_U64)
            continue
        (m,) = struct.unpack_from("<I", buf, 12)
        if m == 0:
            out[r] = np.full(n, v0, dtype=_U64)  # all-zero XORs
            continue
        bm_len = (n - 1 + 7) // 8
        (b_len,) = struct.unpack_from("<I", buf, 16 + bm_len)
        rows.append((r, n, v0, m, 16, bm_len, 20 + bm_len, b_len, 20 + bm_len + b_len))
    if not rows:
        return out

    nr = len(rows)
    n_arr = np.array([x[1] for x in rows], dtype=np.int64)
    v0_arr = np.array([x[2] for x in rows], dtype=np.uint64)
    m_arr = np.array([x[3] for x in rows], dtype=np.int64)
    bm_cat = b"".join(buffers[x[0]][x[4] : x[4] + x[5]] for x in rows)
    b_cat = b"".join(buffers[x[0]][x[6] : x[6] + x[7]] for x in rows)
    c_cat = b"".join(buffers[x[0]][x[8] :] for x in rows)
    bm_bytes = np.array([x[5] for x in rows], dtype=np.int64)
    b_bytes = np.array([x[7] for x in rows], dtype=np.int64)
    c_bytes = np.array([len(buffers[x[0]]) - x[8] for x in rows], dtype=np.int64)

    # per-row bit bases into the concatenated sections (all byte-aligned)
    bm_base = (np.cumsum(bm_bytes) - bm_bytes) * 8
    b_base = (np.cumsum(b_bytes) - b_bytes) * 8
    c_base = (np.cumsum(c_bytes) - c_bytes) * 8

    # control bitmaps -> global nonzero mask per XOR token
    bits_all = np.unpackbits(np.frombuffer(bm_cat, dtype=np.uint8))
    tok_per_row = n_arr - 1
    tok_row_start = np.cumsum(tok_per_row) - tok_per_row
    tok_row = np.repeat(np.arange(nr), tok_per_row)
    tok_in_row = np.arange(int(tok_per_row.sum())) - tok_row_start[tok_row]
    nonzero = bits_all[bm_base[tok_row] + tok_in_row].astype(bool)

    # block windows
    nblocks = (m_arr + BLOCK_K - 1) // BLOCK_K
    blk_row_start = np.cumsum(nblocks) - nblocks
    blk_row = np.repeat(np.arange(nr), nblocks)
    blk_in_row = np.arange(int(nblocks.sum())) - blk_row_start[blk_row]
    win = _extract_varbits(
        b_cat,
        b_base[blk_row] + blk_in_row * 12,
        np.full(blk_in_row.shape[0], 12, dtype=np.int64),
    )
    lead_env = (win >> _U64(6)).astype(np.int64)
    mlen_env = (win & _MASK6).astype(np.int64) + 1
    trail_env = 64 - lead_env - mlen_env

    # payloads: per nonzero token, its block's envelope length
    nz_row_start = np.cumsum(m_arr) - m_arr
    nz_row = np.repeat(np.arange(nr), m_arr)
    nz_in_row = np.arange(int(m_arr.sum())) - nz_row_start[nz_row]
    tok_block = blk_row_start[nz_row] + nz_in_row // BLOCK_K
    mlen = mlen_env[tok_block]
    g = np.cumsum(mlen) - mlen
    local = g - g[nz_row_start[nz_row]]
    meaningful = _extract_varbits(c_cat, c_base[nz_row] + local, mlen)

    # scatter XORs, then one global prefix-xor with per-row correction
    total = int(n_arr.sum())
    row_start = np.cumsum(n_arr) - n_arr
    stream = np.zeros(total, dtype=_U64)
    stream[row_start] = v0_arr
    xor_pos = np.arange(total, dtype=np.int64)
    is_first = np.zeros(total, dtype=bool)
    is_first[row_start] = True
    tok_slots = xor_pos[~is_first]  # global slot of each XOR token
    stream[tok_slots[nonzero]] = meaningful << trail_env[tok_block].astype(_U64)
    acc = np.bitwise_xor.accumulate(stream)
    # prefix just before each row (0 for the first)
    prev = np.zeros(nr, dtype=_U64)
    prev[1:] = acc[row_start[1:] - 1]
    vals = acc ^ np.repeat(prev, n_arr)
    for i, x in enumerate(rows):
        out[x[0]] = vals[row_start[i] : row_start[i] + n_arr[i]]
    return out


_REGULAR_TS_BITS_CACHE: dict[int, bytes] = {}


def encode_timestamps_regular(n: int, t0: int) -> bytes:
    """Fast path of :func:`encode_timestamps` for the canonical sequence
    time axis t = t0, t0+1, ..., t0+n-1 (consecutive positions): the
    delta-of-delta stream is [1, 0, 0, ...] and depends only on n, so the
    packed bits are cached per length. Byte-identical to the general
    encoder (tested)."""
    header = struct.pack("<I", n)
    if n == 0:
        return header
    header += struct.pack("<q", t0)
    if n == 1:
        return header
    cached = _REGULAR_TS_BITS_CACHE.get(n)
    if cached is None:
        nbits = 9 + (n - 2)  # '10'+7bit(dod=1+63) then (n-2) zero bits
        bits = np.zeros(nbits, dtype=np.uint8)
        code = (0b10 << 7) | (1 + 63)
        for j in range(9):
            bits[j] = (code >> (8 - j)) & 1
        cached = np.packbits(bits).tobytes()
        if len(_REGULAR_TS_BITS_CACHE) < 1 << 15:
            _REGULAR_TS_BITS_CACHE[n] = cached
    return header + cached


def encode_chunk(t: np.ndarray, v: np.ndarray) -> dict:
    """Encode one series chunk into the chunk-struct fields
    (SURVEY.md §1.2): ts_dod + vals_gorilla binaries, n, crc32 checksum
    over the raw little-endian (t, v) bytes."""
    t = np.asarray(t, dtype=np.int64)
    v = np.asarray(v, dtype=np.int64)
    if t.shape[0] != v.shape[0]:
        raise ValueError("t and v should have same size")
    crc = zlib.crc32(t.astype("<i8").tobytes())
    crc = zlib.crc32(v.astype("<i8").tobytes(), crc)
    return {
        "t0": int(t[0]) if t.shape[0] else 0,
        "n": int(t.shape[0]),
        "ts_dod": encode_timestamps(t),
        "vals_gorilla": encode_values(v),
        "checksum": crc,
    }


def decode_chunk(chunk: dict) -> tuple[np.ndarray, np.ndarray]:
    """Inverse of :func:`encode_chunk`; verifies the checksum."""
    t = decode_timestamps(chunk["ts_dod"])
    v = decode_values(chunk["vals_gorilla"]).view(np.int64)
    crc = zlib.crc32(t.astype("<i8").tobytes())
    crc = zlib.crc32(v.astype("<i8").tobytes(), crc)
    if crc != chunk["checksum"]:
        raise ValueError(f"chunk checksum mismatch: {crc} != {chunk['checksum']}")
    return t, v
