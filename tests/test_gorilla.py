"""Gorilla codec: round-trip properties (encode∘decode = id) on timestamps
and float32 values (incl. NaN, infinities, denormals); plus the
Spark-level chunk table round-trip (gap masks, a single-point chunk, an
all-absent chunk) and compression-ratio sanity."""

from __future__ import annotations

import numpy as np
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from rove_spark.operators import gorilla

# ----------------------------------------------------------- pure codec --


@given(
    st.lists(
        st.integers(min_value=0, max_value=2**40), min_size=0, max_size=200
    )
)
@settings(max_examples=60, deadline=None)
def test_timestamps_roundtrip_random(xs):
    ts = np.sort(np.asarray(xs, dtype=np.int64))
    got = gorilla.decode_timestamps(gorilla.encode_timestamps(ts))
    np.testing.assert_array_equal(got, ts)


def test_timestamps_regular_grid_compresses_hard():
    ts = np.arange(0, 86400, 60, dtype=np.int64) + 1704067200  # 1440 slots
    blob = gorilla.encode_timestamps(ts)
    # dod == 0 for all but the first two → ~1 bit/point + header
    assert len(blob) < 220
    np.testing.assert_array_equal(gorilla.decode_timestamps(blob), ts)


def test_timestamps_negative_and_jittered():
    ts = np.asarray([-1000, -500, -499, 0, 7, 1 << 33], dtype=np.int64)
    np.testing.assert_array_equal(
        gorilla.decode_timestamps(gorilla.encode_timestamps(ts)), ts
    )


@given(
    st.lists(
        st.floats(width=32, allow_nan=True, allow_infinity=True),
        min_size=0,
        max_size=200,
    )
)
@settings(max_examples=60, deadline=None)
def test_values_roundtrip_random(xs):
    v = np.asarray(xs, dtype=np.float32)
    got = gorilla.decode_values(gorilla.encode_values(v))
    np.testing.assert_array_equal(got.view(np.uint32), v.view(np.uint32))  # bit-exact


def test_values_constant_compresses_to_bits():
    v = np.full(10000, 23.5, dtype=np.float32)
    blob = gorilla.encode_values(v)
    assert len(blob) < 1300  # 1 bit per repeat + header
    np.testing.assert_array_equal(gorilla.decode_values(blob), v)


@given(st.data())
@settings(max_examples=25, deadline=None)
def test_grouped_entry_builders_equal_per_chunk_encoders(data):
    """Entries of K segments built in one call must slice into the
    timestamp blobs of the one-segment calls (``encode_timestamps``),
    byte for byte, and into value blobs that decode bit-exactly (NaN and
    ±inf included), across random segment structures including empty
    and 1-point segments."""
    n_seg = data.draw(st.integers(1, 12))
    lens = [data.draw(st.integers(0, 40)) for _ in range(n_seg)]
    ts_chunks = [
        np.sort(
            np.asarray(
                data.draw(st.lists(st.integers(-(2**40), 2**40), min_size=ln, max_size=ln)),
                dtype=np.int64,
            )
        )
        for ln in lens
    ]
    T = (
        np.concatenate(ts_chunks)
        if any(lens)
        else np.empty(0, np.int64)
    )
    tc, tb, toff = gorilla._ts_entries_grouped(T, np.asarray(lens, np.int64))
    for k, c in enumerate(ts_chunks):
        blob = gorilla._pack_bits(tc[toff[k] : toff[k + 1]], tb[toff[k] : toff[k + 1]])
        assert blob == gorilla.encode_timestamps(c), k
    v_chunks = [
        np.asarray(
            data.draw(
                st.lists(
                    st.floats(width=32, allow_nan=True, allow_infinity=True),
                    min_size=ln,
                    max_size=ln,
                )
            ),
            dtype=np.float32,
        )
        for ln in lens
    ]
    V = np.concatenate(v_chunks) if any(lens) else np.empty(0, np.float32)
    vc, vb, voff = gorilla._val_entries_grouped(V, np.asarray(lens, np.int64))
    for k, c in enumerate(v_chunks):
        blob = gorilla._pack_bits(vc[voff[k] : voff[k + 1]], vb[voff[k] : voff[k + 1]])
        got = gorilla.decode_values(blob)
        np.testing.assert_array_equal(got.view(np.uint32), c.view(np.uint32))
    # _BatchPacker.add_many slices == packing each blob alone
    p = gorilla._BatchPacker()
    p.add_many(tc, tb, toff)
    p.add_many(vc, vb, voff)
    blobs = p.blobs()
    for k, c in enumerate(ts_chunks):
        assert blobs[k] == gorilla.encode_timestamps(c)


def test_timestamps_pathological_int64_roundtrip():
    """Totality: delta-of-deltas beyond ±2^63 wrap mod 2^64 and decode
    exactly (the docstring's 'total over int64' claim, made true in
    round 4 — previously OverflowError)."""
    for ts in (
        [0, 2**62, -(2**62), 5, 2**62],
        [-(2**63), 2**63 - 1, 0],
        [2**63 - 1, -(2**63)],
    ):
        a = np.asarray(ts, np.int64)
        np.testing.assert_array_equal(gorilla.decode_timestamps(gorilla.encode_timestamps(a)), a)


def _masked_chunk(ts: np.ndarray, values: np.ndarray, present: np.ndarray) -> dict:
    """One chunk row as ``compress_series`` lays it out: every slot's
    timestamp, the XOR stream over present values only, and the
    presence bitmap."""
    present = np.asarray(present, dtype=bool)
    return {
        "n_points": len(ts),
        "ts_codec": gorilla.encode_timestamps(ts),
        "val_codec": gorilla.encode_values(np.asarray(values, np.float32)[present]),
        "presence": np.packbits(present).tobytes(),
    }


def test_chunk_roundtrip_with_gaps():
    ts = np.arange(0, 600, 60, dtype=np.int64)
    values = np.asarray([1.5, np.nan, 2.5, 3.5, np.nan, 4.0, 4.0, 5.0, 6.0, 7.25], np.float32)
    present = ~np.isnan(values)
    ts2, v2, p2 = gorilla.decode_chunk_masked(_masked_chunk(ts, values, present))
    np.testing.assert_array_equal(ts2, ts)
    np.testing.assert_array_equal(p2, present)
    np.testing.assert_array_equal(v2[p2], values[present])
    assert np.isnan(v2[~p2]).all()


@given(st.data())
@settings(max_examples=40, deadline=None)
def test_chunk_roundtrip_property(data):
    n = data.draw(st.integers(min_value=1, max_value=120))
    ts = np.cumsum(
        np.asarray(data.draw(st.lists(st.integers(1, 3600), min_size=n, max_size=n)))
    ).astype(np.int64)
    vals = np.asarray(
        data.draw(st.lists(st.floats(width=32, allow_nan=False), min_size=n, max_size=n)),
        dtype=np.float32,
    )
    present = np.asarray(data.draw(st.lists(st.booleans(), min_size=n, max_size=n)))
    ts2, v2, p2 = gorilla.decode_chunk_masked(_masked_chunk(ts, vals, present))
    np.testing.assert_array_equal(ts2, ts)
    np.testing.assert_array_equal(p2, present)
    np.testing.assert_array_equal(
        v2[p2].view(np.uint32), vals[present].view(np.uint32)
    )


# ----------------------------------------------------------- spark level --


def test_spark_compress_decompress_roundtrip(spark):
    import datetime as dt

    from pyspark.sql import functions as F

    from rove_spark.functions.durations import parse_iso8601
    from rove_spark.operators.gridfill import grid_fill
    from rove_spark.sources.synthetic import synthetic_transcripts

    df = synthetic_transcripts(spark, n_conv=12, avg_turns=80, gap_rate=0.15)
    df = df.withColumn("text_len", F.length("text").cast("float"))
    gridded = grid_fill(df, parse_iso8601("PT1M"), keep_cols=["text_len"])
    # edge chunks: a single point, and a day with no present value
    t0 = dt.datetime(2024, 1, 1)
    edges = spark.createDataFrame(
        [("edge-one", t0, 3.5, False)]
        + [("edge-absent", t0 + dt.timedelta(minutes=m), None, True) for m in range(3)],
        "conv_id string, ts timestamp, text_len float, is_gap boolean",
    )
    gridded = gridded.select("conv_id", "ts", "text_len", "is_gap").unionByName(edges)
    chunks = gorilla.compress_series(gridded, "text_len")
    back = gorilla.decompress_series(chunks, value_col="text_len")

    orig = {
        (r.conv_id, r.ts): (r.text_len, r.is_gap)
        for r in gridded.select("conv_id", "ts", "text_len", "is_gap").collect()
    }
    got = {
        (r.series_id, r.ts): (r.text_len, r.is_gap)
        for r in back.collect()
    }
    assert got.keys() == orig.keys()
    for k, (v, g) in orig.items():
        v2, g2 = got[k]
        assert g2 == g, k
        if not g:
            assert v2 == pytest.approx(v), k

    # compression pays: codec bytes well under raw 12 bytes/slot
    sizes = chunks.select(
        F.sum(F.length("ts_codec") + F.length("val_codec") + F.length("presence")).alias("b"),
        F.sum("n_points").alias("n"),
    ).first()
    assert sizes.b < 8 * sizes.n


def test_spark_checksum_detects_corruption(spark):
    import pyspark
    from pyspark.sql import functions as F

    from rove_spark.sources.synthetic import synthetic_transcripts

    df = synthetic_transcripts(spark, n_conv=2, avg_turns=30).withColumn(
        "v", F.length("text").cast("float")
    )
    chunks = gorilla.compress_series(df, "v")
    corrupted = chunks.withColumn("checksum", F.col("checksum") + 1)
    with pytest.raises(Exception, match="checksum|PYTHON"):
        gorilla.decompress_series(corrupted, "v").collect()
