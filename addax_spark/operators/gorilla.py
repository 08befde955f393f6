"""Gorilla-style time-series compression: delta-of-delta timestamps +
XOR-encoded float64 values, bit-packed into binary chunk blobs.

Implements the codec from Pelkonen et al., "Gorilla: A Fast, Scalable,
In-Memory Time Series Database" (VLDB 2015), adapted to microsecond
timestamps (wider delta-of-delta buckets than the paper's seconds) and to
**vectorized numpy encoding** — the per-point control-bit decisions are made
with array ops and the variable-length codes are packed word-wise into
uint64s, so the Spark integration is a pure Arrow ``mapInPandas`` with no
per-row Python (north_rule requirement). :func:`encode_many` is the one
encoder the pipeline runs; :func:`encode` is its single-chunk reference.

Chunk format (little-endian header, then MSB-first bitstream):

    magic   4B  b"GOR1"
    n       4B  uint32 point count
    t0      8B  int64 first timestamp (epoch micros)
    v0      8B  uint64 raw IEEE-754 bits of first value
    stream      for each point i >= 1:
      timestamp code (dod = (t[i]-t[i-1]) - (t[i-1]-t[i-2]); for i==1 the
      "previous delta" is 0, so dod == first delta):
        0                      dod == 0
        10   +  8b offset      dod in [-2^7,  2^7)
        110  + 16b offset      dod in [-2^15, 2^15)
        1110 + 32b offset      dod in [-2^31, 2^31)
        1111 + 64b raw         otherwise (two's complement)
      value code (xor = bits(v[i]) ^ bits(v[i-1])):
        0                              xor == 0
        1 + 6b lead + 6b (ml-1) + ml   meaningful bits (xor >> trail)

    (Single deviation from the paper: a changed value always re-transmits
    its leading-zeros/length window instead of reusing the previous window.
    The window-reuse branch makes each control bit depend on mutable decoder
    state — inherently sequential — while this variant keeps encoding fully
    vectorizable; cost is <= 11 extra bits per *changed* value.)

Values are handled as raw bit patterns end-to-end (int64 views, never float
compares), so NaN payloads, -0.0 and infinities round-trip bit-exactly
(FIXTURES.md F3d).
"""

from __future__ import annotations

import struct

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..schema import CHUNKS
from .bucketize import bucket_start

MAGIC = b"GOR1"
_HEADER = struct.Struct("<4sIqQ")  # magic, n, t0, v0bits


# ---------------------------------------------------------------- bit helpers


def _clz64(x: np.ndarray) -> np.ndarray:
    """Vectorized count-leading-zeros for uint64 (binary-search shifts —
    exact for all 64-bit patterns, unlike float log2 tricks)."""
    cur = x.astype(np.uint64).copy()
    res = np.zeros(x.shape, dtype=np.int64)
    for sh in (32, 16, 8, 4, 2, 1):
        high = cur >> np.uint64(sh)
        low_only = high == 0
        res += np.where(low_only, sh, 0)
        cur = np.where(low_only, cur, high)
    return np.where(x == 0, 64, res)


def _ctz64(x: np.ndarray) -> np.ndarray:
    """Vectorized count-trailing-zeros for uint64."""
    cur = x.astype(np.uint64).copy()
    res = np.zeros(x.shape, dtype=np.int64)
    for sh in (32, 16, 8, 4, 2, 1):
        low = cur & np.uint64((1 << sh) - 1)
        high_only = low == 0
        res += np.where(high_only, sh, 0)
        cur = np.where(high_only, cur >> np.uint64(sh), cur)
    return np.where(x == 0, 64, res)


def _pack(codes: np.ndarray, lengths: np.ndarray) -> bytes:
    """Pack variable-length big-endian codes (each <= 64 bits) into a single
    MSB-first bitstream: build an (n, maxlen) bit matrix, mask to each
    code's length, flatten row-major, packbits. O(n * maxlen) — used only by
    the reference :func:`encode`; production packs with :func:`_pack_words`."""
    lengths = lengths.astype(np.int64)
    keep = lengths > 0
    codes, lengths = codes[keep].astype(np.uint64), lengths[keep]
    if len(codes) == 0:
        return b""
    j = np.arange(int(lengths.max()))
    shift = lengths[:, None] - 1 - j[None, :]
    valid = shift >= 0
    m = (codes[:, None] >> np.maximum(shift, 0).astype(np.uint64)) & np.uint64(1)
    return np.packbits(m[valid].astype(np.uint8)).tobytes()


def _pack_words(
    codes: np.ndarray, lengths: np.ndarray, start_bit: np.ndarray, total_bits: int
) -> bytes:
    """Write each code (``lengths[i]`` <= 64 bits, zero-length codes must be
    0) at bit ``start_bit[i]`` of an MSB-first stream of ``total_bits``
    bits, word-wise: O(codes) whatever the code lengths.

    A code left-aligned in a uint64 lands in word ``s >> 6`` shifted right
    by ``s & 63``, and its spill in the next word shifted left by
    ``64 - (s & 63)`` (numpy defines shifts by >= 64 as 0, which covers
    ``L == 0`` and ``s & 63 == 0``). Codes never overlap, so summing every
    code that touches a word is their OR: with ``start_bit`` nondecreasing,
    one ``np.add.reduceat`` per target word builds the stream."""
    al = codes << (np.uint64(64) - lengths.astype(np.uint64))
    w = start_bit >> 6
    o = (start_bit & 63).astype(np.uint64)
    heads = np.flatnonzero(np.diff(w, prepend=-1))
    words = np.zeros((total_bits >> 6) + 2, np.uint64)
    words[w[heads]] = np.add.reduceat(al >> o, heads)
    words[w[heads] + 1] += np.add.reduceat(al << (np.uint64(64) - o), heads)
    return words.astype(">u8").tobytes()[: total_bits >> 3]


# -------------------------------------------------------------------- encode


def encode_many(
    ts_us: np.ndarray, values: np.ndarray, offsets: np.ndarray
) -> list[bytes]:
    """Encode many sorted chunks in ONE vectorized pass: the production
    encoder, at every chunk size.

    ``offsets`` delimits chunks inside the concatenated ``ts_us``/``values``
    arrays (len C+1, ``offsets[k]:offsets[k+1]`` = chunk k). All per-point
    code decisions (dod bucketing, XOR windows) are computed over the flat
    arrays with chunk-boundary masks, and the variable-length codes of ALL
    chunks are packed word-wise (:func:`_pack_words`, O(codes)) into one
    global bitstream with each chunk's stream byte-aligned — the trailing
    pad bits of a chunk are never read by the decoder (it consumes exactly
    n-1 codes), so each blob is bit-identical to the reference
    :func:`encode` of that chunk alone (asserted in tests).

    Why one pass: a per-chunk call costs ~300-500us of fixed numpy overhead
    regardless of chunk size, and real workloads have MANY small chunks
    (series x days). This pass amortizes the overhead across the whole
    Arrow batch — same transposition that makes :func:`decode_many` fast —
    and the word packer keeps it faster than per-chunk :func:`encode` at
    large chunks too (one-core table from 22 to 40,000 points/chunk in
    CHANGES.md)."""
    ts = np.ascontiguousarray(np.asarray(ts_us, dtype=np.int64))
    vals = np.ascontiguousarray(np.asarray(values, dtype=np.float64))
    offs = np.asarray(offsets, dtype=np.int64)
    C = len(offs) - 1
    N = len(ts)
    ns = np.diff(offs)
    v64 = vals.view(np.uint64)

    # headers, vectorized: <4s I q Q per chunk
    hdr = np.zeros(C, dtype=[("m", "S4"), ("n", "<u4"), ("t", "<i8"), ("v", "<u8")])
    hdr["m"] = MAGIC
    hdr["n"] = ns
    nz = ns > 0
    hdr["t"][nz] = ts[offs[:-1][nz]]
    hdr["v"][nz] = v64[offs[:-1][nz]]
    hdr_b = hdr.tobytes()

    if N == 0 or (ns <= 1).all():
        return [hdr_b[k * 24 : (k + 1) * 24] for k in range(C)]

    # --- flat per-position codes; position i encodes point i of its chunk
    # and is VALID only when i is not its chunk's first point
    is_start = np.zeros(N, dtype=bool)
    is_start[offs[:-1][nz]] = True
    d = np.empty(N, np.int64)
    d[0] = 0
    d[1:] = ts[1:] - ts[:-1]
    a = np.empty(N, np.int64)
    a[0] = 0
    a[1:] = d[1:] - d[:-1]
    # first valid position of each chunk: previous delta is 0, so dod = delta
    first_valid = offs[:-1][ns >= 2] + 1
    a[first_valid] = d[first_valid]

    sel = ~is_start
    av = a[sel]
    fits8 = (av >= -(1 << 7)) & (av < (1 << 7))
    fits16 = (av >= -(1 << 15)) & (av < (1 << 15))
    fits32 = (av >= -(1 << 31)) & (av < (1 << 31))
    zero = av == 0
    t_ctrl = np.select([zero, fits8, fits16, fits32], [0b0, 0b10, 0b110, 0b1110], 0b1111)
    t_ctrl_len = np.select([zero, fits8, fits16, fits32], [1, 2, 3, 4], 4)
    t_pay = np.select(
        [zero, fits8, fits16, fits32],
        [np.zeros_like(av), av + (1 << 7), av + (1 << 15), av + (1 << 31)],
        av,
    ).astype(np.int64).view(np.uint64)
    t_pay_len = np.select([zero, fits8, fits16, fits32], [0, 8, 16, 32], 64)

    xor = np.empty(N, np.uint64)
    xor[0] = 0
    xor[1:] = v64[1:] ^ v64[:-1]
    xv = xor[sel]
    lead = np.minimum(_clz64(xv), 63)
    trail = _ctz64(xv)
    ml = np.where(xv == 0, 1, 64 - lead - trail)
    vzero = xv == 0
    v_ctrl = np.where(
        vzero,
        np.uint64(0),
        (np.uint64(1) << np.uint64(12))
        | (lead.astype(np.uint64) << np.uint64(6))
        | (ml - 1).astype(np.uint64),
    )
    v_ctrl_len = np.where(vzero, 1, 13)
    v_pay = np.where(vzero, np.uint64(0), xv >> trail.astype(np.uint64))
    v_pay_len = np.where(vzero, 0, ml)

    codes = np.stack([t_ctrl.astype(np.uint64), t_pay, v_ctrl, v_pay], axis=1).ravel()
    lengths = np.stack(
        [t_ctrl_len, t_pay_len, v_ctrl_len, v_pay_len], axis=1
    ).ravel().astype(np.int64)

    # --- per-chunk bit totals (valid positions per chunk = max(ns - 1, 0))
    valid_per_chunk = np.maximum(ns - 1, 0)
    voffs = np.concatenate(([0], np.cumsum(valid_per_chunk)))
    per_pos_bits = (t_ctrl_len + t_pay_len + v_ctrl_len + v_pay_len).astype(np.int64)
    # per-chunk sums via cumsum differences — exact for empty groups, which
    # reduceat cannot express (an empty chunk before/after a real one)
    bit_csum = np.concatenate(([0], np.cumsum(per_pos_bits)))
    chunk_bits = bit_csum[voffs[1:]] - bit_csum[voffs[:-1]]
    chunk_bytes = -(-chunk_bits // 8)

    # --- global bit layout: chunk k's codes start at byte-aligned base_k;
    # each code's start bit = running within-chunk offset + its chunk's base
    base_bits = np.concatenate(([0], np.cumsum(chunk_bytes * 8)))
    cum = np.cumsum(lengths)
    chunk_first_code = 4 * voffs[:-1]
    # bits of all codes before this chunk (unpadded coordinates)
    prior_unpadded = np.concatenate(([0], cum))[chunk_first_code]
    code_chunk = np.repeat(np.arange(C), 4 * valid_per_chunk)
    start_bit = (
        cum - lengths - prior_unpadded[code_chunk] + base_bits[code_chunk]
    )

    packed = _pack_words(codes, lengths, start_bit, int(base_bits[-1]))

    byte_base = np.concatenate(([0], np.cumsum(chunk_bytes)))
    return [
        hdr_b[k * 24 : (k + 1) * 24] + packed[byte_base[k] : byte_base[k + 1]]
        for k in range(C)
    ]


def encode(ts_us: np.ndarray, values: np.ndarray) -> bytes:
    """Encode one sorted series (int64 epoch-micros, float64 values) to a
    blob: the independent single-chunk reference that the tests compare
    :func:`encode_many` against (the pipeline only runs ``encode_many``)."""
    ts_us = np.asarray(ts_us, dtype=np.int64)
    values = np.ascontiguousarray(np.asarray(values, dtype=np.float64))
    n = len(ts_us)
    if n == 0:
        return _HEADER.pack(MAGIC, 0, 0, 0)
    v64 = values.view(np.uint64)
    head = _HEADER.pack(MAGIC, n, int(ts_us[0]), int(v64[0]))
    if n == 1:
        return head

    # --- timestamp delta-of-delta codes
    deltas = np.diff(ts_us)
    a = np.diff(deltas, prepend=np.int64(0))  # dod; dod[0] = first delta - 0
    fits8 = (a >= -(1 << 7)) & (a < (1 << 7))
    fits16 = (a >= -(1 << 15)) & (a < (1 << 15))
    fits32 = (a >= -(1 << 31)) & (a < (1 << 31))
    zero = a == 0
    # control codes / lengths
    t_ctrl = np.select([zero, fits8, fits16, fits32], [0b0, 0b10, 0b110, 0b1110], 0b1111)
    t_ctrl_len = np.select([zero, fits8, fits16, fits32], [1, 2, 3, 4], 4)
    # offset-encoded payload per bucket; 64-bit bucket stores raw two's
    # complement (int64 -> uint64 bit view)
    t_pay = np.select(
        [zero, fits8, fits16, fits32],
        [np.zeros_like(a), a + (1 << 7), a + (1 << 15), a + (1 << 31)],
        a,
    ).astype(np.int64).view(np.uint64)
    t_pay_len = np.select([zero, fits8, fits16, fits32], [0, 8, 16, 32], 64)

    # --- value XOR codes
    xor = v64[1:] ^ v64[:-1]
    lead = np.minimum(_clz64(xor), 63)
    trail = _ctz64(xor)
    ml = np.where(xor == 0, 1, 64 - lead - trail)  # meaningful length
    vzero = xor == 0
    v_ctrl = np.where(vzero, 0, (np.uint64(1) << np.uint64(12)) | (lead.astype(np.uint64) << np.uint64(6)) | (ml - 1).astype(np.uint64))
    v_ctrl_len = np.where(vzero, 1, 13)
    v_pay = np.where(vzero, np.uint64(0), xor >> trail.astype(np.uint64))
    v_pay_len = np.where(vzero, 0, ml)

    codes = np.stack([t_ctrl.astype(np.uint64), t_pay, v_ctrl, v_pay], axis=1).ravel()
    lengths = np.stack([t_ctrl_len, t_pay_len, v_ctrl_len, v_pay_len], axis=1).ravel()
    return head + _pack(codes, lengths)


# -------------------------------------------------------------------- decode


_POW12 = (1 << np.arange(11, -1, -1)).astype(np.int64)


def _gather64(bits: np.ndarray, p: np.ndarray) -> np.ndarray:
    """Read a 64-bit big-endian lookahead window starting at each bit index
    in ``p`` (vectorized: fancy-index a (k, 64) bit matrix, packbits along
    rows, view the 8 bytes as one big-endian uint64)."""
    m = bits[p[:, None] + np.arange(64)]
    return np.packbits(m, axis=1).view(">u8").ravel().astype(np.uint64)


def decode_many(blobs) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Decode a batch of chunks in vectorized "waves": iteration *i* decodes
    point *i* of EVERY still-active chunk with numpy gathers, so the Python
    loop count is max-points-per-chunk, not total-points (and never per-bit).
    Variable-length codes are inherently sequential *within* a chunk, but the
    decode state (bit position, running delta, previous value) is a plain
    vector across chunks — the same transposition that makes the encoder's
    ``np.select`` formulation work.

    Returns ``(ts_us, values, n_per_chunk)`` with points concatenated in
    input-chunk order; ``values`` is a float64 bit-view (NaN payloads, -0.0
    and infinities preserved exactly).
    """
    B = len(blobs)
    ns = np.zeros(B, np.int64)
    t0 = np.zeros(B, np.int64)
    v0 = np.zeros(B, np.uint64)
    streams: list[np.ndarray] = []
    starts = np.zeros(B, np.int64)
    off = 0
    for k, blob in enumerate(blobs):
        magic, n, t, v = _HEADER.unpack_from(blob, 0)
        if magic != MAGIC:
            raise ValueError("not a GOR1 chunk")
        ns[k], t0[k], v0[k] = n, t, np.uint64(v)
        s = np.unpackbits(np.frombuffer(blob, dtype=np.uint8, offset=_HEADER.size))
        starts[k] = off
        streams.append(s)
        off += len(s)
    # 192 zero-bit tail pad: every gather reads a full 64-bit window and the
    # widest code is 4+64 bits, so lookahead may run past the last chunk's end
    streams.append(np.zeros(192, np.uint8))
    bits = np.concatenate(streams)

    total = int(ns.sum())
    out_ts = np.empty(total, np.int64)
    out_v = np.empty(total, np.uint64)
    base = np.concatenate(([0], np.cumsum(ns)))[:-1]
    nz = ns > 0
    out_ts[base[nz]] = t0[nz]
    out_v[base[nz]] = v0[nz]

    pos = starts.copy()
    delta = np.zeros(B, np.int64)
    prev_t = t0.copy()
    prev_v = v0.copy()
    maxn = int(ns.max()) if B else 0
    for i in range(1, maxn):
        act = np.flatnonzero(ns > i)
        p = pos[act]
        # --- timestamp code: class = count of leading ones in the 4-bit
        # control prefix (0 / 10 / 110 / 1110 / 1111)
        c4 = bits[p[:, None] + np.arange(4)]
        cls = c4.cumprod(axis=1).sum(axis=1).astype(np.int64)
        ctrl_len = np.where(cls < 4, cls + 1, 4)
        pay_len = np.select([cls == 0, cls == 1, cls == 2, cls == 3], [0, 8, 16, 32], 64)
        w = _gather64(bits, p + ctrl_len)
        shift = np.where(pay_len > 0, 64 - pay_len, 0).astype(np.uint64)
        payload = np.where(pay_len > 0, w >> shift, np.uint64(0))
        # zero the 64-bit rows before the int64 cast (np.select evaluates
        # every choice on every row; a huge uint64 would overflow the cast)
        small = np.where(cls < 4, payload, np.uint64(0)).astype(np.int64)
        dod = np.select(
            [cls == 0, cls == 1, cls == 2, cls == 3],
            [np.zeros(len(act), np.int64), small - (1 << 7), small - (1 << 15), small - (1 << 31)],
            payload.view(np.int64),  # raw 64-bit two's complement
        )
        delta[act] += dod
        t = prev_t[act] + delta[act]
        out_ts[base[act] + i] = t
        prev_t[act] = t
        p = p + ctrl_len + pay_len
        # --- value code: 0 = repeat, 1 + 6b lead + 6b (ml-1) + ml bits
        changed = bits[p] == 1
        w12 = (bits[p[:, None] + 1 + np.arange(12)].astype(np.int64) * _POW12).sum(axis=1)
        lead = w12 >> 6
        ml = (w12 & 63) + 1
        X = _gather64(bits, p + 13)
        mean = X >> (64 - ml).astype(np.uint64)
        # clamp: on unchanged rows lead/ml are garbage lookahead and the
        # shift could go negative; the result is masked out by `changed`
        xbits = mean << np.maximum(64 - lead - ml, 0).astype(np.uint64)
        newv = prev_v[act] ^ np.where(changed, xbits, np.uint64(0))
        out_v[base[act] + i] = newv
        prev_v[act] = newv
        pos[act] = p + np.where(changed, 13 + ml, 1)
    return out_ts, out_v.view(np.float64), ns


def decode(blob: bytes) -> tuple[np.ndarray, np.ndarray]:
    """Inverse of :func:`encode`; bit-exact round-trip (incl. NaN payloads).
    Thin wrapper over the batch decoder :func:`decode_many`."""
    ts, vals, _ = decode_many([blob])
    return ts, vals


# ----------------------------------------------------------- Spark operators


def encode_chunks(
    df: DataFrame,
    value: Column | str = "value",
    key: str = "conv_id",
    ts_col: str = "ts",
    chunk_tier: str = "1d",
    order_cols: list[str] | None = None,
) -> DataFrame:
    """Compress a point series into one Gorilla blob per (key, chunk bucket).

    One shuffle on (key, chunk_start); the encode itself is a vectorized
    Arrow ``mapInPandas`` (numpy bit-packing — analog of the reference's
    only vectorized paths, the ORC batch readers MyOrcReader.java:91-93, but
    applied to the compute kernel instead of the format edge).

    At 100 TB the group count is (series x days) — massively parallel; hot
    conversations stay bounded because a chunk never exceeds one (key, tier
    bucket) group.
    """
    vcol = F.col(value) if isinstance(value, str) else value
    order = order_cols or [ts_col]
    pts = df.select(
        F.col(key).alias("conv_id"),
        bucket_start(ts_col, chunk_tier).alias("chunk_start"),
        F.unix_micros(F.col(ts_col).cast("timestamp")).alias("_t"),
        vcol.cast("double").alias("_v"),
        *[F.col(c).alias(f"_o{i}") for i, c in enumerate(order) if c != ts_col],
    )
    ocols = ["_t"] + [c for c in pts.columns if c.startswith("_o")]

    # One shuffle on hash(conv_id) + in-partition sort; the encode runs as
    # mapInPandas that finds the groups INSIDE each Arrow batch — one Python
    # invocation per batch instead of per (conv, chunk) group, which is
    # ~10-100x cheaper when groups are small (per-group applyInPandas costs
    # ~ms of Arrow/dispatch overhead each). Groups can span Arrow batch
    # boundaries, so a tail buffer carries the last open group forward.
    parts = pts.sparkSession.conf.get("spark.sql.shuffle.partitions")
    arranged = pts.repartition(int(parts), "conv_id").sortWithinPartitions(
        "conv_id", "chunk_start", *ocols
    )

    def enc_batches(batches):
        def flush(pdf: pd.DataFrame) -> pd.DataFrame:
            # rows arrive sorted by (conv_id, chunk_start, order): group
            # boundaries are found with one numpy compare and the WHOLE
            # batch is encoded in a single vectorized encode_many pass,
            # whatever its chunk sizes
            cid = pdf["conv_id"].to_numpy()
            cs = pdf["chunk_start"].to_numpy()
            change = np.flatnonzero((cid[1:] != cid[:-1]) | (cs[1:] != cs[:-1])) + 1
            offs = np.concatenate(([0], change, [len(pdf)]))
            heads = offs[:-1]
            npts = np.diff(offs)
            t = pdf["_t"].to_numpy(np.int64)
            v = pdf["_v"].to_numpy(np.float64)
            blobs = encode_many(t, v, offs)
            return pd.DataFrame(
                {
                    "conv_id": cid[heads],
                    "chunk_start": cs[heads],
                    "n_points": npts,
                    "bytes_raw": 16 * npts,
                    "bytes_enc": [len(b) for b in blobs],
                    "chunk": blobs,
                }
            )

        tail: pd.DataFrame | None = None
        for pdf in batches:
            if tail is not None and len(tail):
                pdf = pd.concat([tail, pdf], ignore_index=True)
            if not len(pdf):
                continue
            last_key = (pdf["conv_id"].iloc[-1], pdf["chunk_start"].iloc[-1])
            is_last = (pdf["conv_id"] == last_key[0]) & (pdf["chunk_start"] == last_key[1])
            tail = pdf[is_last]
            done = pdf[~is_last]
            if len(done):
                yield flush(done)
        if tail is not None and len(tail):
            yield flush(tail)

    return arranged.mapInPandas(enc_batches, schema=CHUNKS)


def decode_chunks(chunks: DataFrame) -> DataFrame:
    """Explode Gorilla blobs back to (conv_id, ts, value) points via
    ``mapInPandas`` (Arrow-batched; per-chunk decode, chunk-parallel)."""

    def dec(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            t, v, ns = decode_many(list(pdf["chunk"]))
            yield pd.DataFrame(
                {
                    "conv_id": np.repeat(pdf["conv_id"].to_numpy(), ns),
                    "ts_us": t,
                    "value": v,
                }
            )

    out = chunks.select("conv_id", "chunk").mapInPandas(
        dec, schema="conv_id string, ts_us long, value double"
    )
    return out.select(
        "conv_id", F.timestamp_micros("ts_us").alias("ts"), "value"
    )
