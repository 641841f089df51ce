"""Gorilla chunk compression: delta-of-delta timestamps + XOR float values.

north_rule mandate (no rove counterpart — the reference keeps series as
plain ``Vec<Option<f32>>`` in memory, ``/root/reference/src/data_switch.rs:
141-145``). Implements the Facebook Gorilla paper's encodings
(Pelkonen et al., VLDB 2015, §4.1/4.2 — public algorithm):

- timestamps: header t0 (64b) + first delta (64b), then delta-of-delta D in
  variable-length classes: ``0`` (D=0), ``10``+7b (−63..64), ``110``+9b
  (−255..256), ``1110``+12b (−2047..2048), ``1111``+64b (the paper uses
  32-bit for the first delta and the fallback; this codec widens both to
  64 so it is total over int64 timestamps — see _ts_entries_grouped);
- float32 values: XOR with the previous value; ``0`` (xor=0), ``10`` +
  meaningful bits when they fit the previous leading/length window,
  ``11`` + 5b leading + 6b length + meaningful bits;
- gaps (NULL slots) are carried in a separate presence bitmap so
  ``Option<f32>`` round-trips exactly (values stream encodes only the
  present points).

Dtype is float32 end-to-end (reference f32 semantics); NaN round-trips
bit-exactly since XOR works on raw bits.

Execution shape: one entry builder per stream,
`_ts_entries_grouped` / `_val_entries_grouped`, builds per-element
``(code, nbits)`` ENTRY arrays for MANY segments in one pure-numpy pass
(class selection via masks; values use a block-fixed ``11``-window
policy — one window header per 16 nonzero XORs — so the stream is
branch-free and array-expressible), and the bit-packing itself is one
vectorized pass (``np.repeat`` bit expansion + ``np.packbits``;
`_pack_bits`). ``encode_timestamps``/``encode_values`` are the
one-segment call of the same builders, so every blob the codec writes
comes from one implementation. The decoder is policy-agnostic: it reads
any valid Gorilla stream, the paper's adaptive-window one included.
``compress_series`` passes every codec chunk of a (series, month) group
to the builders at once, appends their entries into one `_BatchPacker`,
packs the group with ONE `_pack_bits` call, and slices per-chunk blobs
out at byte-aligned offsets. Chunks are bounded and encode inside
``applyInPandas``, so the cost parallelizes across executors and never
touches the driver.
"""

from __future__ import annotations

import zlib

import numpy as np

_TS_CLASSES = (
    (-63, 64, 0b10, 2, 7),
    (-255, 256, 0b110, 3, 9),
    (-2047, 2048, 0b1110, 4, 12),
)

_VALUE_BLOCK = 16  # nonzero-XOR window block size (one '11' header per block)
_M64 = 0xFFFFFFFFFFFFFFFF


class _BatchPacker:
    """Accumulates many blobs' (code, nbits) entries via `add_many`, packs
    them ALL with one `_pack_bits` call, and slices the per-blob bytes
    back out. Each blob is padded to a byte boundary so the slice is
    self-contained — identical bytes to packing it alone. Amortizes the
    vectorized packing overhead across every chunk of an
    ``applyInPandas`` group."""

    __slots__ = ("_codes", "_nbits", "_bit", "_spans")

    def __init__(self):
        self._codes: list = []
        self._nbits: list = []
        self._bit = 0
        self._spans: list[tuple[int, int]] = []

    def add_many(self, codes: np.ndarray, nbits: np.ndarray, offsets: np.ndarray) -> None:
        """Queue ``len(offsets)-1`` blobs whose entries are consecutive
        slices ``codes[offsets[k]:offsets[k+1]]`` (the grouped entry
        builders' output) — pad entries are inserted vectorized, no
        per-blob Python work."""
        codes = np.asarray(codes, dtype=np.uint64)
        nbits = np.asarray(nbits, dtype=np.int64)
        offsets = np.asarray(offsets, dtype=np.int64)
        cs = np.concatenate([np.zeros(1, np.int64), np.cumsum(nbits)])
        tot = cs[offsets[1:]] - cs[offsets[:-1]]
        pad = (-tot) % 8
        cnt = offsets[1:] - offsets[:-1]
        ncnt = cnt + (pad > 0)
        noff = np.concatenate([np.zeros(1, np.int64), np.cumsum(ncnt)])
        out_codes = np.zeros(noff[-1], np.uint64)
        out_bits = np.zeros(noff[-1], np.int64)
        epos = np.repeat(noff[:-1], cnt) + (np.arange(len(codes)) - np.repeat(offsets[:-1], cnt))
        out_codes[epos] = codes
        out_bits[epos] = nbits
        has_pad = pad > 0
        out_bits[(noff[1:] - 1)[has_pad]] = pad[has_pad]
        self._codes.append(out_codes)
        self._nbits.append(out_bits)
        byte_ends = self._bit // 8 + np.cumsum(tot + pad) // 8
        byte_starts = np.concatenate([[self._bit // 8], byte_ends[:-1]])
        self._spans.extend(zip(byte_starts.tolist(), byte_ends.tolist()))
        self._bit += int((tot + pad).sum())

    def blobs(self) -> list[bytes]:
        packed = _pack_bits(np.concatenate(self._codes), np.concatenate(self._nbits))
        return [packed[s:e] for s, e in self._spans]


def _pack_bits(codes: np.ndarray, nbits: np.ndarray) -> bytes:
    """MSB-first-concatenate ``nbits[i]``-wide bitfields ``codes[i]`` into
    bytes (zero-padded on the right), fully vectorized: unpack each code's
    64 bits into a row of a bit matrix (one ``np.unpackbits`` pass over the
    big-endian byte view), keep the last ``nbits[i]`` bits of each row with
    a boolean mask (row-major compaction preserves stream order), then
    ``np.packbits`` reassembles bytes. Every field must fit 64 bits —
    callers split wider payloads into two entries."""
    codes = np.ascontiguousarray(codes, dtype=">u8")
    nbits = np.ascontiguousarray(nbits, dtype=np.int64)
    bm = np.unpackbits(codes.view(np.uint8)).reshape(-1, 64)
    mask = np.arange(64) >= (64 - nbits[:, None])
    return np.packbits(bm[mask]).tobytes()


class _BitReader:
    """Incremental big-endian bit reader: O(1) amortized per read (a whole-
    blob bigint shift per read would make decode O(n²))."""

    __slots__ = ("data", "byte_pos", "acc", "acc_bits")

    def __init__(self, data: bytes):
        self.data = data
        self.byte_pos = 0
        self.acc = 0
        self.acc_bits = 0

    def read(self, nbits: int) -> int:
        while self.acc_bits < nbits:
            self.acc = (self.acc << 8) | self.data[self.byte_pos]
            self.byte_pos += 1
            self.acc_bits += 8
        self.acc_bits -= nbits
        out = self.acc >> self.acc_bits
        self.acc &= (1 << self.acc_bits) - 1
        return out


def encode_timestamps(ts: np.ndarray) -> bytes:
    """int64 seconds → delta-of-delta bitstream (one-segment call of
    `_ts_entries_grouped`)."""
    ts = np.asarray(ts, dtype=np.int64)
    codes, nbits, _off = _ts_entries_grouped(ts, np.asarray([len(ts)], np.int64))
    return _pack_bits(codes, nbits)


def _s64(x: int) -> int:
    """Wrap to the signed-64 domain — all codec arithmetic is mod 2^64,
    so decode reconstructs each int64 exactly even when intermediate
    deltas/delta-of-deltas exceed the type (pathological inputs like
    [0, 2^62, -2^62]): this is what makes the codec genuinely total."""
    return ((x + (1 << 63)) & _M64) - (1 << 63)


def decode_timestamps(blob: bytes) -> np.ndarray:
    r = _BitReader(blob)
    n = r.read(32)
    out = np.empty(n, dtype=np.int64)
    if n == 0:
        return out
    t0 = r.read(64)
    cur = t0 - (1 << 64) if t0 >= (1 << 63) else t0
    out[0] = cur
    if n == 1:
        return out
    d = r.read(64)
    delta = d - (1 << 64) if d >= (1 << 63) else d
    cur = _s64(cur + delta)
    out[1] = cur
    for i in range(2, n):
        if r.read(1) == 0:
            pass
        else:
            cls = 1
            while cls < 4 and r.read(1) == 1:
                cls += 1
            if cls < 4:
                lo, _hi, _p, _pl, vbits = _TS_CLASSES[cls - 1]
                delta = _s64(delta + r.read(vbits) + lo)
            else:
                raw = r.read(64)
                delta = _s64(delta + (raw - (1 << 64) if raw >= (1 << 63) else raw))
        cur = _s64(cur + delta)
        out[i] = cur
    return out


def encode_values(values: np.ndarray) -> bytes:
    """float32 array → XOR bitstream (Gorilla §4.2, 32-bit variant:
    5-bit leading-zero count, 6-bit meaningful length); one-segment call
    of `_val_entries_grouped`."""
    v = np.asarray(values, dtype=np.float32)
    codes, nbits, _off = _val_entries_grouped(v, np.asarray([len(v)], np.int64))
    return _pack_bits(codes, nbits)


def _scatter_entries(hdr_codes, hdr_bits, hdr_counts, e_codes, e_bits, e_seg, K):
    """Interleave per-segment header entries with per-segment element
    entries (both given segment-major) into one (codes, nbits) pair plus
    the per-segment entry offsets. Fully vectorized: positions come from
    cumsums + arange-minus-repeat ordinals."""
    e_k = np.bincount(e_seg, minlength=K).astype(np.int64)
    tot = hdr_counts + e_k
    off = np.concatenate([np.zeros(1, np.int64), np.cumsum(tot)])
    out_codes = np.zeros(off[-1], np.uint64)
    out_bits = np.zeros(off[-1], np.int64)
    h_first = np.cumsum(hdr_counts) - hdr_counts
    hpos = np.repeat(off[:-1], hdr_counts) + (
        np.arange(len(hdr_codes)) - np.repeat(h_first, hdr_counts)
    )
    out_codes[hpos] = hdr_codes
    out_bits[hpos] = hdr_bits
    if len(e_codes):
        e_first = np.cumsum(e_k) - e_k
        epos = np.repeat(off[:-1] + hdr_counts, e_k) + (
            np.arange(len(e_codes)) - np.repeat(e_first, e_k)
        )
        out_codes[epos] = e_codes
        out_bits[epos] = e_bits
    return out_codes, out_bits, off


def _ts_entries_grouped(T: np.ndarray, seg_lens: np.ndarray) -> tuple:
    """Delta-of-delta entries for MANY timestamp streams in one vectorized
    pass (`compress_series`' real regime is ~24-point day chunks, far too
    small to amortize per-chunk numpy calls). ``T`` is the segment-major
    concatenation; returns (codes, nbits, entry_offsets[K+1]) where slice
    ``codes[off[k]:off[k+1]]`` packs to exactly ``encode_timestamps`` of
    segment k. The first delta and the fallback class are 64-bit, so the
    codec is total over int64 (the paper's 32-bit fallback assumes
    bounded wall-clock deltas; a batch engine must not crash on
    pathological input)."""
    T = np.asarray(T, dtype=np.int64)
    seg_lens = np.asarray(seg_lens, dtype=np.int64)
    K = len(seg_lens)
    N = int(seg_lens.sum())
    starts = np.cumsum(seg_lens) - seg_lens
    pos = np.arange(N) - np.repeat(starts, seg_lens)
    # headers: (n,32) always; (t0,64) when n>=1; (delta0,64) when n>=2
    ge1, ge2 = seg_lens >= 1, seg_lens >= 2
    t0 = np.zeros(K, np.int64)
    d0 = np.zeros(K, np.int64)
    t0[ge1] = T[starts[ge1]]
    d0[ge2] = T[starts[ge2] + 1] - T[starts[ge2]]
    hdr_codes = np.stack(
        [seg_lens.astype(np.uint64), t0.astype(np.uint64), d0.astype(np.uint64)], axis=1
    )
    hdr_bits_m = np.broadcast_to(np.asarray([32, 64, 64], np.int64), (K, 3))
    hmask = np.stack([np.ones(K, bool), ge1, ge2], axis=1)
    hdr_counts = hmask.sum(axis=1).astype(np.int64)
    # dod for every element at within-segment position >= 2
    d1 = np.empty(N, np.int64)
    if N:
        d1[0] = 0
        d1[1:] = T[1:] - T[:-1]
    dod = np.empty(N, np.int64)
    if N:
        dod[0] = 0
        dod[1:] = d1[1:] - d1[:-1]
    valid = pos >= 2
    d = dod[valid]
    seg_elem = np.repeat(np.arange(K, dtype=np.int64), seg_lens)[valid]
    in0 = d == 0
    c1 = ~in0 & (d >= -63) & (d <= 64)
    c2 = ~in0 & ~c1 & (d >= -255) & (d <= 256)
    c3 = ~in0 & ~c1 & ~c2 & (d >= -2047) & (d <= 2048)
    fb = ~(in0 | c1 | c2 | c3)
    codes = np.select(
        [in0, c1, c2, c3],
        [np.int64(0), (0b10 << 7) | (d + 63), (0b110 << 9) | (d + 255), (0b1110 << 12) | (d + 2047)],
        np.int64(0b1111),
    ).astype(np.uint64)
    nbits = np.select([in0, c1, c2, c3], [1, 9, 12, 16], 4).astype(np.int64)
    # the 68-bit fallback splits into prefix + 64-bit payload entries
    counts = np.where(fb, 2, 1)
    posx = np.cumsum(counts) - counts
    e_codes = np.zeros(int(counts.sum()), np.uint64)
    e_bits = np.zeros(len(e_codes), np.int64)
    e_codes[posx] = codes
    e_bits[posx] = nbits
    e_codes[posx[fb] + 1] = d[fb].astype(np.uint64)
    e_bits[posx[fb] + 1] = 64
    e_seg = np.repeat(seg_elem, counts)
    return _scatter_entries(
        hdr_codes[hmask], hdr_bits_m[hmask], hdr_counts, e_codes, e_bits, e_seg, K
    )


def _val_entries_grouped(v: np.ndarray, seg_lens: np.ndarray) -> tuple:
    """XOR-stream entries for MANY float32 value streams in one vectorized
    pass. ``v`` is the segment-major concatenation of present values;
    returns (codes, nbits, entry_offsets[K+1]). Uses the block-fixed
    ``11``-window policy restarted per segment (the first nonzero XOR of a
    segment is always a window header), so each sliced stream decodes
    standalone."""
    v = np.ascontiguousarray(np.asarray(v, dtype=np.float32)).view(np.uint32)
    seg_lens = np.asarray(seg_lens, dtype=np.int64)
    K = len(seg_lens)
    N = int(seg_lens.sum())
    starts = np.cumsum(seg_lens) - seg_lens
    pos = np.arange(N) - np.repeat(starts, seg_lens)
    ge1 = seg_lens >= 1
    v0 = np.zeros(K, np.uint32)
    v0[ge1] = v[starts[ge1]]
    hdr_codes = np.stack([seg_lens.astype(np.uint64), v0.astype(np.uint64)], axis=1)
    hdr_bits_m = np.broadcast_to(np.asarray([32, 32], np.int64), (K, 2))
    hmask = np.stack([np.ones(K, bool), ge1], axis=1)
    hdr_counts = hmask.sum(axis=1).astype(np.int64)
    xa = np.empty(N, np.uint32)
    if N:
        xa[0] = 0
        xa[1:] = v[1:] ^ v[:-1]
    valid = pos >= 1
    xv = xa[valid]
    seg_elem = np.repeat(np.arange(K, dtype=np.int64), seg_lens)[valid]
    e_codes = np.zeros(len(xv), np.uint64)
    e_bits = np.ones(len(xv), np.int64)  # zero-XOR slots: single '0' bit
    nz = xv != 0
    xz = xv[nz].astype(np.uint64)
    if len(xz):
        segz = seg_elem[nz]
        lz = (31 - np.floor(np.log2(xz.astype(np.float64))).astype(np.int64)).clip(0, 31)
        low = (xz & (~xz + np.uint64(1))).astype(np.float64)
        tz = np.round(np.log2(low)).astype(np.int64)
        # within-segment nonzero ordinal (segments are contiguous runs)
        chg = np.empty(len(segz), bool)
        chg[0] = True
        chg[1:] = segz[1:] != segz[:-1]
        run_first = np.flatnonzero(chg)
        run_len = np.diff(np.concatenate([run_first, [len(segz)]]))
        ordn = np.arange(len(segz)) - np.repeat(run_first, run_len)
        leader = (ordn % _VALUE_BLOCK) == 0
        bstart = np.flatnonzero(leader)
        bl = np.minimum.reduceat(lz, bstart)
        bt = np.minimum.reduceat(tz, bstart)
        bid = np.cumsum(leader) - 1
        mbl, mbt = bl[bid], bt[bid]
        mml = 32 - mbl - mbt
        meaningful = xz >> mbt.astype(np.uint64)
        hdr = (
            (np.uint64(0b11) << np.uint64(11))
            | (mbl.astype(np.uint64) << np.uint64(6))
            | (mml - 1).astype(np.uint64)
        )
        e_codes[nz] = np.where(
            leader,
            (hdr << mml.astype(np.uint64)) | meaningful,
            (np.uint64(0b10) << mml.astype(np.uint64)) | meaningful,
        )
        e_bits[nz] = np.where(leader, 13 + mml, 2 + mml)
    return _scatter_entries(
        hdr_codes[hmask], hdr_bits_m[hmask], hdr_counts, e_codes, e_bits, seg_elem, K
    )


def decode_values(blob: bytes) -> np.ndarray:
    r = _BitReader(blob)
    n = r.read(32)
    out = np.empty(n, dtype=np.uint32)
    if n == 0:
        return out.view(np.float32)
    cur = r.read(32)
    out[0] = cur
    # hot loop: bit reader inlined (same rationale as the encoder)
    data = r.data
    byte_pos, acc, acc_bits = r.byte_pos, r.acc, r.acc_bits
    lead, mlen = 0, 0
    vals = out
    for i in range(1, n):
        if acc_bits < 1:
            acc = (acc << 8) | data[byte_pos]
            byte_pos += 1
            acc_bits += 8
        top = (acc >> (acc_bits - 1)) & 1
        acc_bits -= 1
        if top == 0:
            acc &= (1 << acc_bits) - 1  # keep the accumulator bounded
            vals[i] = cur
            continue
        if acc_bits < 1:
            acc = (acc << 8) | data[byte_pos]
            byte_pos += 1
            acc_bits += 8
        ctrl = (acc >> (acc_bits - 1)) & 1
        acc_bits -= 1
        if ctrl == 1:  # '11': new window
            while acc_bits < 11:
                acc = (acc << 8) | data[byte_pos]
                byte_pos += 1
                acc_bits += 8
            acc_bits -= 11
            hdr = (acc >> acc_bits) & 0x7FF
            lead = hdr >> 6
            mlen = (hdr & 0x3F) + 1
        while acc_bits < mlen:
            acc = (acc << 8) | data[byte_pos]
            byte_pos += 1
            acc_bits += 8
        acc_bits -= mlen
        bits = (acc >> acc_bits) & ((1 << mlen) - 1)
        acc &= (1 << acc_bits) - 1
        cur ^= bits << (32 - lead - mlen)
        vals[i] = cur
    return out.view(np.float32)


def decode_chunk_masked(chunk: dict) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """→ (ts_seconds int64[n], values float32[n] with NaN at gaps,
    present bool[n])."""
    ts = decode_timestamps(chunk["ts_codec"])
    n = chunk["n_points"]
    present = np.unpackbits(np.frombuffer(chunk["presence"], dtype=np.uint8))[:n].astype(bool)
    vals_present = decode_values(chunk["val_codec"])
    values = np.full(n, np.nan, dtype=np.float32)
    values[present] = vals_present
    return ts, values, present


# ---------------------------------------------------------------- Spark --

CHUNK_SCHEMA = (
    "series_id string, chunk_start timestamp, n_points int, n_present int, "
    "ts_codec binary, val_codec binary, presence binary, checksum long"
)


def compress_series(
    df,
    value_col: str,
    series_col: str = "conv_id",
    ts_col: str = "ts",
):
    """DataFrame (series, ts, value[, …]) → Gorilla chunk table, one row
    per (series, UTC day).

    Two-level chunking: the *shuffle group* is (series, month) — coarse,
    so each grouped-UDF invocation amortizes its fixed Arrow/pandas
    overhead over many points (44k day-groups of ~24 points ran 6×
    slower than 2k month-groups emitting the same day-chunks) — while the
    *codec chunk* is one day, the retention/seek granularity of the cold
    tier: a chunk lies inside exactly one day partition, which is what
    lets ``rollup.cold_source`` prune chunks by day. Group size stays
    bounded (series × month), which is the hot-key story for this stage
    (SURVEY §4)."""
    import pandas as pd
    from pyspark.sql import functions as F

    def enc(pdf: "pd.DataFrame") -> "pd.DataFrame":
        # one group = one (series, month); entry construction AND
        # bit-packing are vectorized across ALL its codec chunks at once
        # (_ts_entries_grouped/_val_entries_grouped + one _pack_bits via
        # _BatchPacker) — per-chunk numpy calls never amortize at the real
        # ~24-point day-chunk size
        pdf = pdf.sort_values("_epoch")
        series = pdf["_series"].iloc[0]
        epochs = pdf["_epoch"].to_numpy(np.int64)
        chunk_ids = pdf["_chunk"].to_numpy()
        raw = pdf[value_col].to_numpy(dtype=np.float32, na_value=np.nan)
        present = pdf[value_col].notna().to_numpy()
        # codec-chunk boundaries (contiguous runs after the epoch sort)
        bnd = np.empty(len(epochs), bool)
        bnd[0] = True
        bnd[1:] = chunk_ids[1:] != chunk_ids[:-1]
        seg_first = np.flatnonzero(bnd)
        seg_lens = np.diff(np.concatenate([seg_first, [len(epochs)]]))
        vals = raw[present]
        val_lens = np.add.reduceat(present.astype(np.int64), seg_first)
        tc, tb, toff = _ts_entries_grouped(epochs, seg_lens)
        vc, vb, voff = _val_entries_grouped(vals, val_lens)
        packer = _BatchPacker()
        packer.add_many(tc, tb, toff)  # blobs 0..K-1: timestamps
        packer.add_many(vc, vb, voff)  # blobs K..2K-1: values
        blobs = packer.blobs()
        K = len(seg_first)
        vstart = np.cumsum(val_lens) - val_lens
        out = []
        for k, (s, n) in enumerate(zip(seg_first.tolist(), seg_lens.tolist())):
            pres_k = present[s : s + n]
            vals_k = vals[vstart[k] : vstart[k] + val_lens[k]]
            crc = zlib.crc32(epochs[s : s + n].tobytes() + vals_k.tobytes()) & 0xFFFFFFFF
            out.append(
                (
                    series,
                    chunk_ids[s],
                    n,
                    int(val_lens[k]),
                    blobs[k],
                    blobs[K + k],
                    np.packbits(pres_k).tobytes(),
                    crc,
                )
            )
        return pd.DataFrame(
            out,
            columns=[
                "series_id",
                "chunk_start",
                "n_points",
                "n_present",
                "ts_codec",
                "val_codec",
                "presence",
                "checksum",
            ],
        )

    from rove_spark.operators.util import parallel_groups

    prepped = df.select(
        F.col(series_col).cast("string").alias("_series"),
        F.date_trunc("month", F.col(ts_col)).alias("_group"),
        F.date_trunc("day", F.col(ts_col)).alias("_chunk"),
        F.unix_timestamp(F.col(ts_col)).alias("_epoch"),
        F.col(value_col).cast("float").alias(value_col),
    )
    return (
        parallel_groups(prepped, "_series", "_group")
        .groupBy("_series", "_group")
        .applyInPandas(enc, CHUNK_SCHEMA)
    )


def decompress_series(chunks_df, value_col: str = "value"):
    """Chunk table → long (series_id, ts, value, is_gap) rows; verifies the
    CRC of every chunk (corruption surfaces as an exception, not silence)."""
    import pandas as pd

    def dec(batches):
        for pdf in batches:
            # accumulate raw arrays and build ONE frame per Arrow batch —
            # a pd.DataFrame per chunk (~24 points) made frame assembly,
            # not bit decoding, the stage's hot path
            ts_parts, val_parts, pres_parts, sids, lens = [], [], [], [], []
            for row in pdf.itertuples(index=False):
                chunk = {
                    "n_points": row.n_points,
                    "ts_codec": row.ts_codec,
                    "val_codec": row.val_codec,
                    "presence": row.presence,
                }
                ts, values, present = decode_chunk_masked(chunk)
                raw = ts.tobytes() + values[present].tobytes()
                if (zlib.crc32(raw) & 0xFFFFFFFF) != row.checksum:
                    raise ValueError(f"checksum mismatch for {row.series_id}@{row.chunk_start}")
                ts_parts.append(ts)
                val_parts.append(values)
                pres_parts.append(present)
                sids.append(row.series_id)
                lens.append(len(ts))
            if not ts_parts:
                yield pd.DataFrame(columns=["series_id", "ts", value_col, "is_gap"])
                continue
            present = np.concatenate(pres_parts)
            values = np.concatenate(val_parts)
            yield pd.DataFrame(
                {
                    "series_id": np.repeat(np.asarray(sids, dtype=object), lens),
                    "ts": pd.to_datetime(np.concatenate(ts_parts), unit="s"),
                    value_col: pd.Series(values).where(present, None),
                    "is_gap": ~present,
                }
            )

    from rove_spark.operators.util import parallel_groups

    # chunk rows are few but CPU-heavy to decode — spread them explicitly
    # (AQE would coalesce this tiny-by-bytes stage onto one worker)
    return parallel_groups(chunks_df, "series_id", "chunk_start").mapInPandas(
        dec, f"series_id string, ts timestamp, {value_col} float, is_gap boolean"
    )
