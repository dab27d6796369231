"""Gorilla-style compression: delta-of-delta timestamps + XOR float values.

Implements the two stream codecs from Pelkonen et al., VLDB 2015 §4.1
("Gorilla: A Fast, Scalable, In-Memory Time Series Database"):

- timestamps (§4.1.1): header + first delta, then delta-of-delta with
  variable-length ranges {0: '0', [-63,64]: '10'+7b, [-255,256]:
  '110'+9b, [-2047,2048]: '1110'+12b, else '1111'+64b} (the paper uses
  32b for the catch-all; 64b here so arbitrary int64 grids round-trip)
- values (§4.1.2): first value raw 64 bits, then XOR with predecessor;
  '0' if identical, '10' + meaningful-bits if the XOR fits the previous
  leading/trailing-zero window, '11' + 5b leading + 6b length + bits
  otherwise.

Two codecs, one wire format:

- the greedy per-point codec (``encode_/decode_timestamps``,
  ``encode_/decode_values``) is the format's spec, the encoder for
  blocks too short or too uniform to batch, and the fuzz oracle;
- the batched lockstep codec (``encode_/decode_{int,float}_streams``)
  is the production path: it encodes or decodes every block of an
  Arrow batch in one set of numpy passes, with no per-point Python.

Beside them, the scaled-int value format (``encode_scaled_streams`` /
``decode_scaled_streams``) quantizes floats at a fixed resolution onto
the int stream.
"""

from __future__ import annotations

import numpy as np

_MASK64 = (1 << 64) - 1


class BitWriter:
    """Append-only MSB-first bit buffer backed by a Python int."""

    __slots__ = ("acc", "nbits")

    def __init__(self):
        self.acc = 0
        self.nbits = 0

    def write(self, value: int, nbits: int) -> None:
        self.acc = (self.acc << nbits) | (value & ((1 << nbits) - 1))
        self.nbits += nbits

    def to_bytes(self) -> bytes:
        pad = (-self.nbits) % 8
        acc = self.acc << pad
        return (acc).to_bytes((self.nbits + pad) // 8, "big")


class BitReader:
    """MSB-first reader over bytes."""

    __slots__ = ("data", "pos")

    def __init__(self, data: bytes):
        self.data = int.from_bytes(data, "big")
        self.pos = len(data) * 8

    def read(self, nbits: int) -> int:
        self.pos -= nbits
        return (self.data >> self.pos) & ((1 << nbits) - 1)


# ---------------------------------------------------------------------------
# Timestamps: delta-of-delta
# ---------------------------------------------------------------------------

_DOD_RANGES = (
    (7, 0b10, 2, -63, 64),
    (9, 0b110, 3, -255, 256),
    (12, 0b1110, 4, -2047, 2048),
)


def encode_timestamps(ts: np.ndarray) -> bytes:
    """Encode int64 epoch-seconds (or any int64 grid) per Gorilla §4.1.1."""
    ts = np.asarray(ts, dtype=np.int64)
    w = BitWriter()
    n = len(ts)
    w.write(n, 32)
    if n == 0:
        return w.to_bytes()
    w.write(int(ts[0]) & _MASK64, 64)
    if n == 1:
        return w.to_bytes()
    delta0 = int(ts[1]) - int(ts[0])
    w.write(delta0 & _MASK64, 64)
    deltas = np.diff(ts)
    dods = np.diff(deltas)
    for dod in dods:
        dod = int(dod)
        if dod == 0:
            w.write(0, 1)
            continue
        for nbits, prefix, plen, lo, hi in _DOD_RANGES:
            if lo <= dod <= hi:
                w.write(prefix, plen)
                w.write(dod - lo, nbits)
                break
        else:
            w.write(0b1111, 4)
            w.write(dod & _MASK64, 64)
    return w.to_bytes()


def decode_timestamps(data: bytes) -> np.ndarray:
    r = BitReader(data)
    n = r.read(32)
    out = np.empty(n, dtype=np.int64)
    if n == 0:
        return out
    first = r.read(64)
    out[0] = first - (1 << 64) if first >= (1 << 63) else first
    if n == 1:
        return out
    delta = r.read(64)
    if delta >= (1 << 63):
        delta -= 1 << 64
    out[1] = out[0] + delta
    for i in range(2, n):
        if r.read(1) == 0:
            dod = 0
        else:
            for nbits, _prefix, _plen, lo, _hi in _DOD_RANGES:
                if r.read(1) == 0:
                    dod = r.read(nbits) + lo
                    break
            else:
                dod = r.read(64)
                if dod >= (1 << 63):
                    dod -= 1 << 64
        delta += dod
        out[i] = out[i - 1] + delta
    return out


# ---------------------------------------------------------------------------
# Values: XOR
# ---------------------------------------------------------------------------

def encode_values(values: np.ndarray) -> bytes:
    """Encode float64 values per Gorilla §4.1.2 (NaN encodes fine: it is
    just a bit pattern, so gap points survive round-trip)."""
    bits = np.asarray(values, dtype=np.float64).view(np.uint64)
    w = BitWriter()
    n = len(bits)
    w.write(n, 32)
    if n == 0:
        return w.to_bytes()
    prev = int(bits[0])
    w.write(prev, 64)
    lead, tail = 65, 65  # "invalid" previous window
    for i in range(1, n):
        cur = int(bits[i])
        xor = cur ^ prev
        prev = cur
        if xor == 0:
            w.write(0, 1)
            continue
        cur_lead = 64 - xor.bit_length()
        cur_tail = (xor & -xor).bit_length() - 1
        if cur_lead >= 32:          # cap per paper: 5-bit leading field
            cur_lead = 31
        if lead <= cur_lead and tail <= cur_tail:
            # fits previous window: '10' + meaningful bits of that window
            w.write(0b10, 2)
            w.write(xor >> tail, 64 - lead - tail)
        else:
            lead, tail = cur_lead, cur_tail
            mbits = 64 - lead - tail
            w.write(0b11, 2)
            w.write(lead, 5)
            w.write(mbits & 63, 6)  # 64 encodes as 0 (n==0 impossible here)
            w.write(xor >> tail, mbits)
    return w.to_bytes()


def decode_values(data: bytes) -> np.ndarray:
    r = BitReader(data)
    n = r.read(32)
    out = np.empty(n, dtype=np.uint64)
    if n == 0:
        return out.view(np.float64)
    cur = r.read(64)
    out[0] = cur
    lead = tail = 0
    for i in range(1, n):
        if r.read(1) == 0:
            out[i] = cur
            continue
        if r.read(1) == 0:  # '10' reuse window
            mbits = 64 - lead - tail
            xor = r.read(mbits) << tail
        else:               # '11' new window
            lead = r.read(5)
            mbits = r.read(6)
            if mbits == 0:
                mbits = 64
            tail = 64 - lead - mbits
            xor = r.read(mbits) << tail
        cur ^= xor
        out[i] = cur
    return out.view(np.float64)


# ---------------------------------------------------------------------------
# Batched encoders (production path)
#
# Per-block numpy calls pay ~30 ufunc dispatches per 130-point block;
# these encode EVERY block of an Arrow batch in one set of numpy passes
# (fields for all blocks -> one packbits -> slice per block).  Timestamp
# blocks are byte-identical to encode_timestamps.  Value blocks use the
# one encoder freedom of the XOR format: ONE leading/trailing-zero window
# per block (the min over the block) instead of the greedy per-point
# window, so every non-zero XOR after the first fits the '10' branch —
# decodable by decode_values, compression within a few % of greedy on
# real series.  Blocks too short (or too uniform) to batch go through the
# greedy encoders.
# ---------------------------------------------------------------------------

def _bit_length_u64(x: np.ndarray) -> np.ndarray:
    """Exact bit_length for uint64 arrays (float log2 is exact for 32-bit
    halves; see comment: only powers of two sit near integer log2)."""
    hi = (x >> np.uint64(32)).astype(np.float64)
    lo = (x & np.uint64(0xFFFFFFFF)).astype(np.float64)

    def bl32(f):
        out = np.zeros_like(f)
        nz = f > 0
        out[nz] = np.floor(np.log2(f[nz])) + 1
        return out

    return np.where(hi > 0, 32 + bl32(hi), bl32(lo)).astype(np.int64)


def _pack_fields(vals: np.ndarray, widths: np.ndarray) -> bytes:
    """Concatenate variable-width big-endian bit fields (vectorized).

    The dense bit matrix comes from ``unpackbits`` over the big-endian
    byte view — NOT a broadcast uint64 shift, which this host's numpy
    executes through a ~3M ops/s fallback loop (measured; see BENCH.md
    host notes)."""
    widths = widths.astype(np.int64)
    if not len(widths) or int(widths.max()) == 0:
        return b""
    # (N, 64) bit matrix, MSB-first per field
    bits = np.unpackbits(
        np.ascontiguousarray(vals.astype(">u8")).view(np.uint8)
    ).reshape(len(vals), 64)
    pos = np.arange(63, -1, -1, dtype=np.int64)   # bit significance
    keep = pos[None, :] < widths[:, None]
    flat = bits[keep]  # row-major -> fields in order, MSB-first
    return np.packbits(flat).tobytes()


def _seg_arange(counts: np.ndarray) -> np.ndarray:
    """[0..c0-1, 0..c1-1, ...] for segment sizes ``counts``."""
    ends = np.cumsum(counts)
    starts = ends - counts
    return np.arange(int(ends[-1]) if len(ends) else 0) \
        - np.repeat(starts, counts)


def _pack_fields_multi(vals: np.ndarray, widths: np.ndarray,
                       field_counts: np.ndarray) -> list[bytes]:
    """Pack consecutive per-block field runs into per-block byte blobs
    (each block zero-padded to a byte boundary), with ONE packbits."""
    nb = len(field_counts)
    f_ends = np.cumsum(field_counts)
    bit_ends = np.cumsum(widths)
    blk_bit_end = bit_ends[f_ends - 1]
    blk_bits = np.diff(np.concatenate(([0], blk_bit_end)))
    pads = (-blk_bits) % 8
    # interleave one pad field after each block
    N = len(vals)
    shift = np.repeat(np.arange(nb), field_counts)
    out_vals = np.zeros(N + nb, dtype=np.uint64)
    out_w = np.zeros(N + nb, dtype=np.int64)
    dest = np.arange(N) + shift
    out_vals[dest] = vals
    out_w[dest] = widths
    pad_pos = f_ends + np.arange(nb)
    out_w[pad_pos] = pads
    blob = _pack_fields(out_vals, out_w)
    byte_lens = ((blk_bits + pads) // 8).astype(np.int64)
    offs = np.concatenate(([0], np.cumsum(byte_lens)))
    return [blob[offs[b]:offs[b + 1]] for b in range(nb)]


def _pack_blocks(L: np.ndarray, heads: list, ctrl: np.ndarray,
                 ctrl_w: np.ndarray, pay: np.ndarray, pay_w: np.ndarray
                 ) -> list[bytes]:
    """The one per-block field layout of both stream formats.

    Each block is its 32-bit point count ``L``, then the ``heads``
    fields (``(per-block values, width)``: the points stored raw), then
    one (control, payload) field pair per remaining point — the
    ``ctrl``/``pay`` arrays hold those pairs for all blocks, in order.
    Zero-width fields emit nothing."""
    heads = [(L, 32)] + heads
    m = L - (len(heads) - 1)                 # coded points per block
    fcounts = len(heads) + 2 * m
    f_starts = np.cumsum(fcounts) - fcounts
    vals = np.zeros(int(fcounts.sum()), dtype=np.uint64)
    widths = np.zeros(len(vals), dtype=np.int64)
    for j, (v, w) in enumerate(heads):
        vals[f_starts + j] = v.astype(np.uint64)
        widths[f_starts + j] = w
    pos = np.repeat(f_starts + len(heads), m) + 2 * _seg_arange(m)
    vals[pos], widths[pos] = ctrl, ctrl_w
    vals[pos + 1], widths[pos + 1] = pay, pay_w
    return _pack_fields_multi(vals, widths, fcounts)


def _dod_fields(allv: np.ndarray, L: np.ndarray):
    """Delta-of-delta fields of the concatenated int64 blocks ``allv``
    (each block >= 3 points): heads (first value, first delta) and one
    range-coded dod per later point."""
    starts = np.cumsum(L) - L
    deltas = np.empty(len(allv), dtype=np.int64)
    deltas[1:] = allv[1:] - allv[:-1]       # garbage at block firsts, masked
    dods = np.zeros(len(allv), dtype=np.int64)
    dods[2:] = deltas[2:] - deltas[1:-1]
    D = dods[_seg_arange(L) >= 2]
    ctrl = np.zeros(len(D), dtype=np.uint64)
    ctrl_w = np.ones(len(D), dtype=np.int64)
    pay = np.zeros(len(D), dtype=np.uint64)
    pay_w = np.zeros(len(D), dtype=np.int64)
    rem = D != 0
    for nbits, prefix, plen, lo, hi in _DOD_RANGES:
        sel = rem & (D >= lo) & (D <= hi)
        ctrl[sel] = prefix
        ctrl_w[sel] = plen
        pay[sel] = (D[sel] - lo).astype(np.uint64)
        pay_w[sel] = nbits
        rem &= ~sel
    ctrl[rem] = 0b1111
    ctrl_w[rem] = 4
    pay[rem] = D[rem].astype(np.uint64)
    pay_w[rem] = 64
    heads = [(allv[starts], 64), (deltas[starts + 1], 64)]
    return heads, ctrl, ctrl_w, pay, pay_w


def _xor_fields(allv: np.ndarray, L: np.ndarray):
    """XOR fields of the concatenated float64 blocks ``allv`` (each
    block >= 3 points, not all identical) with one static window per
    block: head (first value's bits) and one field pair per later
    point; the block's first non-zero XOR carries the '11' window
    header in its control field."""
    bits = allv.view(np.uint64)
    nb = len(L)
    xor = np.zeros(len(bits), dtype=np.uint64)
    xor[1:] = bits[1:] ^ bits[:-1]
    X = xor[_seg_arange(L) > 0]               # one xor per non-first element
    m = L - 1
    segid = np.repeat(np.arange(nb), m)
    nz = X != 0
    bl = _bit_length_u64(X[nz])
    lead_each = np.minimum(64 - bl, 31)       # cap per paper: 5-bit field
    low = X[nz] & (~X[nz] + np.uint64(1))
    tail_each = _bit_length_u64(low) - 1
    lead_b = np.full(nb, 64, dtype=np.int64)
    tail_b = np.full(nb, 64, dtype=np.int64)
    np.minimum.at(lead_b, segid[nz], lead_each)
    np.minimum.at(tail_b, segid[nz], tail_each)
    mbits_b = 64 - lead_b - tail_b
    xi = _seg_arange(m)                       # xor index within block
    first_nz = np.full(nb, np.iinfo(np.int64).max, dtype=np.int64)
    np.minimum.at(first_nz, segid[nz], xi[nz])
    ctrl = np.zeros(len(X), dtype=np.uint64)
    ctrl_w = np.ones(len(X), dtype=np.int64)
    ctrl[nz] = 0b10
    ctrl_w[nz] = 2
    at_first = xi == first_nz[segid]
    hdr = ((np.uint64(0b11) << np.uint64(11))
           | (lead_b[segid].astype(np.uint64) << np.uint64(6))
           | (mbits_b[segid].astype(np.uint64) & np.uint64(63)))
    ctrl[at_first] = hdr[at_first]
    ctrl_w[at_first] = 13
    pay = np.zeros(len(X), dtype=np.uint64)
    pay_w = np.zeros(len(X), dtype=np.int64)
    pay[nz] = X[nz] >> tail_b[segid[nz]].astype(np.uint64)
    pay_w[nz] = mbits_b[segid[nz]]
    starts = np.cumsum(L) - L
    return [(bits[starts], 64)], ctrl, ctrl_w, pay, pay_w


#: blocks per encode pass.  Bounds the dense field-matrix temporaries to
#: a few MB: this host intermittently fault-throttles fresh large
#: allocations, and 8+ concurrent workers each allocating tens of MB per
#: Arrow batch destroyed scaling (measured 0.41 efficiency vs 0.88+ with
#: bounded chunks).
_BATCH_CHUNK = 256

#: blocks per decode pass — bounds the (nb, 64) gather temporaries to a
#: few MB (same fault-throttling rationale as _BATCH_CHUNK, but decode
#: temporaries are ~8x smaller than the encoder's dense field matrix).
_DECODE_CHUNK = 4096


def _chunked(fn, items: list, size: int) -> list:
    """``fn`` over consecutive ``size``-item slices of ``items`` (never
    an empty one), results concatenated in order."""
    out: list = []
    for i in range(0, len(items), size):
        out.extend(fn(items[i:i + size]))
    return out


def _encode_streams(streams: list, dtype, batchable, greedy, fields
                    ) -> list[bytes]:
    """Encode every stream: the ones ``batchable`` rejects with the
    per-point ``greedy`` encoder, the rest a chunk at a time through
    ``fields`` and :func:`_pack_blocks`."""
    def encode_chunk(arrs: list) -> list[bytes]:
        out = [None if batchable(a) else greedy(a) for a in arrs]
        idx = [i for i, b in enumerate(out) if b is None]
        if idx:
            L = np.array([len(arrs[i]) for i in idx])
            allv = np.concatenate([arrs[i] for i in idx])
            for i, blob in zip(idx, _pack_blocks(L, *fields(allv, L))):
                out[i] = blob
        return out

    arrs = [np.ascontiguousarray(s, dtype=dtype) for s in streams]
    return _chunked(encode_chunk, arrs, _BATCH_CHUNK)


def encode_int_streams(streams: list) -> list[bytes]:
    """Batched delta-of-delta encoder.  Byte-identical to per-block
    :func:`encode_timestamps`."""
    return _encode_streams(streams, np.int64, lambda a: len(a) >= 3,
                           encode_timestamps, _dod_fields)


def _varies(a: np.ndarray) -> bool:
    b = a.view(np.uint64)        # bit patterns: NaN payloads compare too
    return len(b) > 2 and bool((b[1:] != b[:-1]).any())


def encode_float_streams(streams: list) -> list[bytes]:
    """Batched XOR encoder with static per-block windows; tiny and
    all-identical blocks are encoded by :func:`encode_values`."""
    return _encode_streams(streams, np.float64, _varies, encode_values,
                           _xor_fields)


# ---------------------------------------------------------------------------
# Batched decoders (read hot path)
#
# Variable-length codes decode sequentially *within* a block, but blocks
# are independent: these decoders step all blocks of a batch in lockstep
# (one set of numpy gathers per point position instead of a Python loop
# per point).  ~n_points iterations per batch regardless of batch size,
# so per-point Python cost amortizes to ~1/batch_size.  They accept any
# stream the per-point decoders accept (greedy or static windows).
# ---------------------------------------------------------------------------

def _read_bit_vec(data: np.ndarray, cur: np.ndarray) -> np.ndarray:
    """Read ONE bit at absolute bit offset ``cur[b]`` per block (the
    control-bit hot path: a single byte gather + shift)."""
    return (data[cur >> 3] >> (7 - (cur & 7)).astype(np.uint8)) \
        & np.uint8(1)


def _read_bits_vec(data: np.ndarray, cur: np.ndarray, widths: np.ndarray
                   ) -> np.ndarray:
    """Read ``widths[b]`` (0..64) bits at absolute bit offset ``cur[b]``
    per block, MSB-first: gather 9 consecutive bytes, assemble a 64-bit
    window starting at the (byte-unaligned) cursor, shift down.  Nine
    n-element gathers — far cheaper than an (n, width) bit matrix."""
    if not len(cur):
        return np.zeros(0, dtype=np.uint64)
    byte_pos = (cur >> 3).astype(np.int64)
    off = (cur & 7).astype(np.uint64)
    w = data[byte_pos].astype(np.uint64)
    for j in range(1, 8):
        w = (w << np.uint64(8)) | data[byte_pos + j]
    spill = data[byte_pos + 8].astype(np.uint64)
    v = np.where(off > 0,
                 (w << off) | (spill >> (np.uint64(8) - off)), w)
    wd = widths.astype(np.int64)
    shift = np.clip(64 - wd, 0, 63).astype(np.uint64)
    return np.where(wd > 0, v >> shift, np.uint64(0))


def _open_blocks(blobs: list[bytes]):
    """Both decoders' prologue: (the blobs concatenated, padded with 16
    zero bytes so any 9-byte window gather stays in bounds; per-block
    bit cursor past the header; point counts ``n``; first value's raw
    64 bits)."""
    lens = np.array([len(b) for b in blobs], dtype=np.int64)
    data = np.concatenate([np.frombuffer(b"".join(blobs), dtype=np.uint8),
                           np.zeros(16, dtype=np.uint8)])
    cur = (np.cumsum(lens) - lens) * 8
    n = _read_bits_vec(data, cur, np.full(len(blobs), 32, dtype=np.int64)) \
        .astype(np.int64)
    cur += 32
    has0 = np.where(n > 0, 64, 0)
    first = _read_bits_vec(data, cur, has0)
    cur += has0
    return data, cur, n, first


def decode_float_streams(blobs: list[bytes]) -> list[np.ndarray]:
    """Batched XOR decoder: inverse of encode_values /
    encode_float_streams."""
    return _chunked(_decode_float_chunk, blobs, _DECODE_CHUNK)


def _decode_float_chunk(blobs: list[bytes]) -> list[np.ndarray]:
    nb = len(blobs)
    data, cur, n, first = _open_blocks(blobs)
    maxn = int(n.max())
    vals = np.zeros((nb, max(maxn, 1)), dtype=np.uint64)
    vals[:, 0] = first
    curval = first.copy()
    lead = np.zeros(nb, dtype=np.int64)
    tail = np.zeros(nb, dtype=np.int64)
    for i in range(1, maxn):
        ai = np.flatnonzero(n > i)                 # active blocks
        if not len(ai):
            break
        b0 = _read_bit_vec(data, cur[ai])          # 1-bit control
        cur[ai] += 1
        nzi = ai[b0 == 1]                          # nonzero-xor blocks
        b1 = _read_bit_vec(data, cur[nzi])
        cur[nzi] += 1
        nwi = nzi[b1 == 1]                         # new-window blocks
        if len(nwi):
            hdr = _read_bits_vec(data, cur[nwi],
                                 np.full(len(nwi), 11, dtype=np.int64))
            cur[nwi] += 11
            hl = (hdr >> np.uint64(6)).astype(np.int64)
            hm = (hdr & np.uint64(63)).astype(np.int64)
            hm = np.where(hm == 0, 64, hm)
            lead[nwi] = hl
            tail[nwi] = 64 - hl - hm
        if len(nzi):
            mb = 64 - lead[nzi] - tail[nzi]
            pay = _read_bits_vec(data, cur[nzi], mb)
            cur[nzi] += mb
            curval[nzi] ^= pay << tail[nzi].astype(np.uint64)
        vals[ai, i] = curval[ai]
    return [vals[b, :n[b]].copy().view(np.float64) for b in range(nb)]


def decode_int_streams(blobs: list[bytes]) -> list[np.ndarray]:
    """Batched delta-of-delta decoder: inverse of encode_timestamps /
    encode_int_streams."""
    return _chunked(_decode_int_chunk, blobs, _DECODE_CHUNK)


def _decode_int_chunk(blobs: list[bytes]) -> list[np.ndarray]:
    nb = len(blobs)
    data, cur, n, first = _open_blocks(blobs)
    first = first.astype(np.int64)     # two's complement reinterpretation
    maxn = int(n.max())
    vals = np.zeros((nb, max(maxn, 1)), dtype=np.int64)
    vals[:, 0] = first
    has1 = n > 1
    delta = _read_bits_vec(data, cur, np.where(has1, 64, 0)).astype(np.int64)
    cur += np.where(has1, 64, 0)
    if maxn > 1:     # numpy bounds-checks the column even for empty masks
        vals[has1, 1] = first[has1] + delta[has1]
    prev = np.where(has1, first + delta, first)
    klass = np.zeros(nb, dtype=np.int64)
    pw = np.zeros(nb, dtype=np.int64)
    lo = np.zeros(nb, dtype=np.int64)
    for i in range(2, maxn):
        ai = np.flatnonzero(n > i)                 # active blocks
        if not len(ai):
            break
        # control bits: '0' | '10' + 7b | '110' + 9b | '1110' + 12b
        # | '1111' + 64b — each control bit is a direct 1-bit gather
        # over the (shrinking) still-pending subset
        klass[ai] = 0
        rem = ai
        for k in range(4):
            if not len(rem):
                break
            b = _read_bit_vec(data, cur[rem])
            cur[rem] += 1
            klass[rem[b == 0]] = k
            rem = rem[b == 1]
        klass[rem] = 4
        ka = klass[ai]
        pw[ai] = np.select([ka == k + 1 for k in range(4)],
                           [r[0] for r in _DOD_RANGES] + [64], 0)
        lo[ai] = np.select([ka == k + 1 for k in range(3)],
                           [r[3] for r in _DOD_RANGES], 0)
        rd = ai[pw[ai] > 0]
        if len(rd):
            pay = _read_bits_vec(data, cur[rd], pw[rd])
            cur[rd] += pw[rd]
            # raw-64 dods (class 4) have lo == 0: a plain signed read
            delta[rd] += pay.astype(np.int64) + lo[rd]
        prev[ai] += delta[ai]
        vals[ai, i] = prev[ai]
    return [vals[b, :n[b]].copy() for b in range(nb)]


# ---------------------------------------------------------------------------
# Scaled-int value format
#
# The archive's optional lossy value codec: each value quantized to
# rint(x * scale), NaN stored as a sentinel, and the int stream coded
# delta-of-delta like timestamps.  Exact when the values are already
# multiples of 1/scale (e.g. day-tier means of token data at
# scale >= SCALE), and far smaller than float XOR there.
# ---------------------------------------------------------------------------

#: NaN in the scaled-int format (far outside any real scaled value)
INT_NAN_SENTINEL = -(1 << 40)


def encode_scaled_streams(streams: list, scale: float) -> list[bytes]:
    """Quantize each float stream at 1/``scale`` and encode it with
    :func:`encode_int_streams`."""
    if not len(streams):
        return []
    lens = np.array([len(s) for s in streams])
    x = np.concatenate([np.asarray(s, dtype=np.float64) for s in streams])
    q = np.where(np.isnan(x), INT_NAN_SENTINEL,
                 np.rint(np.nan_to_num(x) * scale)).astype(np.int64)
    return encode_int_streams(np.split(q, np.cumsum(lens)[:-1]))


def decode_scaled_streams(blobs: list[bytes], scale: float
                          ) -> list[np.ndarray]:
    """Inverse of :func:`encode_scaled_streams`: sentinel -> NaN,
    ints / scale."""
    return [np.where(q == INT_NAN_SENTINEL, np.nan, q / scale)
            for q in decode_int_streams(blobs)]
