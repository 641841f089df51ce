"""Spatial checks: kernel goldens (hand-built constellations), the
reference's constant-data invariant, and the Spark halo-bucketing
equivalence (bucketed flags == global flags)."""

from __future__ import annotations

import datetime as dt

import numpy as np
import pytest

from rove_spark.model import Flag
from rove_spark.operators import spatial

T0 = dt.datetime(2024, 1, 1)


def _cluster(n, lat0=60.0, lon0=10.0, spread=0.01):
    """n stations within ~1 km of each other."""
    lat = lat0 + spread * np.arange(n) / n
    lon = lon0 + spread * ((np.arange(n) * 7) % n) / n
    return lat, lon, np.zeros(n)


# ------------------------------------------------------------- kernels --


def test_buddy_outlier_flagged():
    lat, lon, elev = _cluster(5)
    values = np.array([10.0, 10.5, 9.5, 10.0, 50.0])
    flags = spatial.buddy_check_kernel(
        values, lat, lon, elev, radius=5000, num_min=2, threshold=3.0, min_std=1.0
    )
    assert list(flags) == [Flag.PASS] * 4 + [Flag.FAIL]


def test_buddy_isolated():
    lat = np.array([60.0, 60.001, 65.0])  # third ~550 km away
    lon = np.array([10.0, 10.001, 10.0])
    values = np.array([10.0, 10.0, 10.0])
    flags = spatial.buddy_check_kernel(
        values, lat, lon, np.zeros(3), radius=5000, num_min=1, threshold=3.0
    )
    assert list(flags) == [Flag.PASS, Flag.PASS, Flag.ISOLATED]


def test_buddy_gap_is_data_missing():
    lat, lon, elev = _cluster(4)
    values = np.array([10.0, np.nan, 10.0, 10.0])
    flags = spatial.buddy_check_kernel(
        values, lat, lon, elev, radius=5000, num_min=1, threshold=3.0
    )
    assert flags[1] == Flag.DATA_MISSING
    assert all(f == Flag.PASS for i, f in enumerate(flags) if i != 1)


def test_buddy_iterations_unmask_second_outlier():
    """With the huge outlier in the pool, the buddy std is inflated and a
    moderate outlier hides; iteration 2 (outlier excluded) catches it."""
    lat, lon, elev = _cluster(8)
    values = np.array([10.0, 10.0, 10.0, 10.0, 10.0, 10.0, 25.0, 1000.0])
    one = spatial.buddy_check_kernel(
        values, lat, lon, elev, radius=5000, num_min=2, threshold=3.0, num_iterations=1
    )
    two = spatial.buddy_check_kernel(
        values, lat, lon, elev, radius=5000, num_min=2, threshold=3.0, num_iterations=3
    )
    assert one[7] == Flag.FAIL and one[6] == Flag.PASS
    assert two[7] == Flag.FAIL and two[6] == Flag.FAIL


def test_buddy_elevation_gate():
    lat, lon, _ = _cluster(4)
    elev = np.array([0.0, 10.0, 20.0, 900.0])  # last one on a mountain
    values = np.array([10.0, 10.0, 10.0, 10.0])
    flags = spatial.buddy_check_kernel(
        values, lat, lon, elev, radius=5000, num_min=1, threshold=3.0, max_elev_diff=100.0
    )
    # the mountain station has no buddies within elevation tolerance
    assert flags[3] == Flag.ISOLATED


def test_buddy_constant_all_pass():
    """Reference integration invariant (constant data ⇒ uniform Pass),
    ``tests/integration_test.rs:105-114``."""
    lat, lon, elev = _cluster(50)
    values = np.full(50, 7.5)
    flags = spatial.buddy_check_kernel(
        values, lat, lon, elev, radius=10000, num_min=2, threshold=2.0
    )
    assert set(flags) == {Flag.PASS}


def test_sct_constant_all_pass_or_isolated():
    lat, lon, elev = _cluster(30)
    values = np.full(30, 5.0)
    flags = spatial.sct_kernel(values, lat, lon, elev, num_min=5)
    assert set(flags) <= {Flag.PASS, Flag.ISOLATED}
    assert (flags == Flag.PASS).sum() > 0


def test_sct_outlier_flagged():
    rng = np.random.default_rng(1)
    n = 40
    lat = 60.0 + rng.uniform(0, 0.3, n)
    lon = 10.0 + rng.uniform(0, 0.3, n)
    values = 10.0 + rng.normal(0, 0.5, n)
    values[13] = 60.0
    flags = spatial.sct_kernel(
        values, lat, lon, np.zeros(n), num_min=3, pos=3.0, neg=3.0
    )
    assert flags[13] == Flag.FAIL
    assert (flags == Flag.FAIL).sum() <= 3  # no mass false positives


def test_sct_isolated():
    lat = np.array([60.0, 60.001, 60.002, 68.0])
    lon = np.array([10.0, 10.001, 10.002, 10.0])
    values = np.array([1.0, 1.0, 1.0, 1.0])
    flags = spatial.sct_kernel(values, lat, lon, np.zeros(4), num_min=3)
    assert flags[3] == Flag.ISOLATED


# --------------------------------------------------------------- spark --


def _slice_df(spark, n=60, outlier_idx=(7,)):
    rng = np.random.default_rng(5)
    rows = []
    for i in range(n):
        v = 20.0 + float(rng.normal(0, 0.5))
        if i in outlier_idx:
            v = 90.0
        rows.append(
            (f"s{i:03d}", T0, v, 60.0 + float(rng.uniform(0, 0.5)), 10.0 + float(rng.uniform(0, 0.5)), 0.0)
        )
    return spark.createDataFrame(
        rows, "conv_id string, ts timestamp, value double, lat double, lon double, elev double"
    )


def test_spark_buddy_check(spark):
    df = _slice_df(spark)
    out = spatial.buddy_check(df, "value", radius=60000, num_min=3, threshold=3.0)
    flags = {r.series_id: r.flag_buddy_check for r in out.collect()}
    assert flags["s007"] == Flag.FAIL
    assert sum(1 for v in flags.values() if v == Flag.FAIL) == 1


def test_spark_bucketed_equals_global(spark):
    """Halo correctness: cell-bucketed execution must produce the same
    flags as one global group (radius ≪ halo width)."""
    df = _slice_df(spark, n=80, outlier_idx=(7, 33))
    glob = {
        r.series_id: r.flag_buddy_check
        for r in spatial.buddy_check(
            df, "value", radius=30000, num_min=3, threshold=3.0
        ).collect()
    }
    cellular = {
        r.series_id: r.flag_buddy_check
        for r in spatial.buddy_check(
            df, "value", radius=30000, num_min=3, threshold=3.0, cell_deg=0.4
        ).collect()
    }
    assert glob == cellular


def test_spark_sct(spark):
    df = _slice_df(spark, n=50, outlier_idx=(11,))
    out = spatial.sct(df, "value", num_min=3, pos=3.0, neg=3.0)
    flags = {r.series_id: r.flag_sct for r in out.collect()}
    assert flags["s011"] == Flag.FAIL


def test_synthetic_coords_deterministic(spark):
    from rove_spark.sources.synthetic import synthetic_transcripts

    df = synthetic_transcripts(spark, n_conv=10, avg_turns=5)
    a = (
        spatial.with_synthetic_coords_portable(df)
        .select("conv_id", "lat", "lon", "elev")
        .distinct()
    )
    rows = a.collect()
    assert len(rows) == 10
    assert all(58.0 <= r.lat <= 61.0 and 8.0 <= r.lon <= 11.0 for r in rows)


def test_kd_boxes_bounds_and_partition():
    """num_max subdivision: every box ≤ num_max, boxes partition the input
    exactly, deterministic across calls."""
    import numpy as np

    rng = np.random.default_rng(5)
    n = 437
    lat = 58 + rng.uniform(0, 3, n)
    lon = 8 + rng.uniform(0, 3, n)
    idx = np.arange(n)
    for num_max in (10, 100, 500):
        boxes = spatial._kd_boxes(idx, lat, lon, num_max)
        assert all(len(b) <= num_max for b in boxes)
        allv = np.concatenate(boxes)
        assert sorted(allv.tolist()) == idx.tolist()
    a = [b.tolist() for b in spatial._kd_boxes(idx, lat, lon, 50)]
    b = [b.tolist() for b in spatial._kd_boxes(idx, lat, lon, 50)]
    assert a == b


def test_sct_kernel_honors_num_max():
    """A 300-station group with num_max=40 must still flag the planted
    outlier and never build a matrix larger than num_max (reference bound
    harness.rs:143-161)."""
    import numpy as np

    rng = np.random.default_rng(9)
    n = 300
    lat = 58 + rng.uniform(0, 0.5, n)
    lon = 8 + rng.uniform(0, 0.5, n)
    elev = np.zeros(n)
    values = 10 + rng.standard_normal(n) * 0.1
    values[17] = 80.0  # gross outlier
    seen = []
    orig_inv = np.linalg.inv

    def spy(m, *a, **k):
        seen.append(m.shape[0])
        return orig_inv(m, *a, **k)

    np.linalg.inv = spy
    try:
        flags = spatial.sct_kernel(values, lat, lon, elev, num_min=3, num_max=40, pos=3.0, neg=3.0)
    finally:
        np.linalg.inv = orig_inv
    assert flags[17] == Flag.FAIL
    assert seen and max(seen) <= 40


def test_portable_coords_match_duckdb(spark):
    """with_synthetic_coords_portable ≡ the DuckDB SQL twin, bit-exact —
    the contract that makes the buddy/sct oracles possible."""
    import duckdb

    df = spark.createDataFrame([(i,) for i in range(50)], "user_id long")
    got = {
        r.user_id: (r.lat, r.lon, r.elev)
        for r in spatial.with_synthetic_coords_portable(df, series_col="user_id").collect()
    }
    c = spatial.synthetic_coords_sql("user_id")
    con = duckdb.connect()
    duck = {
        r[0]: (r[1], r[2], r[3])
        for r in con.execute(
            f"SELECT user_id, {c['lat']}, {c['lon']}, {c['elev']} "
            "FROM (SELECT unnest(range(50)) AS user_id)"
        ).fetchall()
    }
    assert got == duck  # exact double equality, no tolerance


def test_blockwise_kernels_bit_identical_to_full():
    """The O(block·n)-memory path must produce EXACTLY the full-matrix
    flags (per-row arithmetic is unchanged; only temp layout differs).
    Forced by shrinking KERNEL_BLOCK_ROWS below n."""
    import numpy as np

    rng = np.random.default_rng(21)
    n = 300
    lat = 58 + rng.uniform(0, 0.4, n)
    lon = 8 + rng.uniform(0, 0.4, n)
    elev = rng.uniform(0, 500, n)
    values = 10 + rng.standard_normal(n)
    values[7] = 99.0
    values[13] = np.nan
    mask = rng.random(n) > 0.2

    full_buddy = spatial.buddy_check_kernel(
        values, lat, lon, elev, radius=30_000, num_min=2, threshold=2.0,
        max_elev_diff=300.0, elev_gradient=-0.0065, num_iterations=3, check_mask=mask,
    )
    full_sct = spatial.sct_kernel(
        values, lat, lon, elev, num_min=3, num_max=50, pos=3.0, neg=3.0, check_mask=mask
    )
    orig = spatial.KERNEL_BLOCK_ROWS
    spatial.KERNEL_BLOCK_ROWS = 37  # force many ragged blocks
    try:
        blk_buddy = spatial.buddy_check_kernel(
            values, lat, lon, elev, radius=30_000, num_min=2, threshold=2.0,
            max_elev_diff=300.0, elev_gradient=-0.0065, num_iterations=3, check_mask=mask,
        )
        blk_sct = spatial.sct_kernel(
            values, lat, lon, elev, num_min=3, num_max=50, pos=3.0, neg=3.0, check_mask=mask
        )
    finally:
        spatial.KERNEL_BLOCK_ROWS = orig
    assert (full_buddy == blk_buddy).all()
    assert (full_sct == blk_sct).all()


def test_kd_boxes_degenerate_colocated_stations():
    """All stations at ONE point (median cut has zero spread): the index
    tiebreak must still terminate with bounded boxes, and the co-located
    outlier must still FAIL through the subdivided OI."""
    import numpy as np

    n = 300
    lat, lon = np.full(n, 59.0), np.full(n, 9.0)
    boxes = spatial._kd_boxes(np.arange(n), lat, lon, 40)
    assert max(len(b) for b in boxes) <= 40
    assert sorted(np.concatenate(boxes).tolist()) == list(range(n))
    vals = np.full(n, 10.0)
    vals[5] = 99.0
    flags = spatial.sct_kernel(
        vals, lat, lon, np.zeros(n), num_min=3, num_max=40, pos=3.0, neg=3.0
    )
    assert flags[5] == Flag.FAIL
    assert set(flags[np.arange(n) != 5].tolist()) == {int(Flag.PASS)}


def test_small_box_z_matches_lu_inverse():
    """The closed-form k<=3 adjugate solve (_small_box_z, the sct_small
    oracle contract) agrees with the general LU path to float precision."""
    import math

    import numpy as np

    from rove_spark.operators.spatial import _haversine_matrix, _small_box_z

    rng = np.random.default_rng(11)
    for k in (2, 3):
        for _ in range(50):
            lat = 59.0 + rng.uniform(0, 0.5, k)
            lon = 9.0 + rng.uniform(0, 0.5, k)
            elev = rng.uniform(0, 500, k)
            v = rng.normal(10, 3, k)
            hs, vs, eps2 = 10_000.0, 200.0, 0.5
            d_h = _haversine_matrix(lat, lon)
            d_v = elev[:, None] - elev[None, :]
            z = _small_box_z(v, d_h, d_v, hs, vs, eps2)
            S = np.exp(-0.5 * (d_h / hs) ** 2 - 0.5 * (d_v / vs) ** 2)
            Binv = np.linalg.inv(S + eps2 * np.eye(k))
            innov = v - v.mean()
            A = Binv @ innov
            cv = A / np.maximum(np.diag(Binv), 1e-12)
            sigma2 = max(1e-9, float(innov @ A) / k)
            z_lu = cv / math.sqrt(sigma2 * (1.0 + eps2))
            assert np.allclose(z, z_lu, rtol=1e-9, atol=1e-9), (k, z, z_lu)


def test_small_box_z4_matches_lu_inverse():
    """The generated k=4 adjugate solve (_small_box_z4, the sct_mid
    oracle contract — shared-source with the SQL twin) agrees with the
    general LU path to float precision."""
    import math

    import numpy as np

    from rove_spark.operators.spatial import _haversine_matrix, _small_box_z4

    rng = np.random.default_rng(17)
    k = 4
    for _ in range(100):
        lat = 59.0 + rng.uniform(0, 0.5, k)
        lon = 9.0 + rng.uniform(0, 0.5, k)
        elev = rng.uniform(0, 500, k)
        v = rng.normal(10, 3, k)
        hs, vs, eps2 = 10_000.0, 200.0, 0.5
        d_h = _haversine_matrix(lat, lon)
        d_v = elev[:, None] - elev[None, :]
        z = _small_box_z4(v, d_h, d_v, hs, vs, eps2)
        S = np.exp(-0.5 * (d_h / hs) ** 2 - 0.5 * (d_v / vs) ** 2)
        Binv = np.linalg.inv(S + eps2 * np.eye(k))
        innov = v - v.mean()
        A = Binv @ innov
        cv = A / np.maximum(np.diag(Binv), 1e-12)
        sigma2 = max(1e-9, float(innov @ A) / k)
        z_lu = cv / math.sqrt(sigma2 * (1.0 + eps2))
        assert np.allclose(z, z_lu, rtol=1e-9, atol=1e-9), (z, z_lu)


def test_small_box_z5_matches_lu_inverse():
    """The GENERAL generated adjugate at k=5 (adjk_statements — memoized
    cofactor expansion, the sct_deep oracle contract) agrees with the LU
    path to float precision."""
    import math

    import numpy as np

    from rove_spark.operators.spatial import _haversine_matrix, _small_box_z5

    rng = np.random.default_rng(19)
    k = 5
    for _ in range(100):
        lat = 59.0 + rng.uniform(0, 0.5, k)
        lon = 9.0 + rng.uniform(0, 0.5, k)
        elev = rng.uniform(0, 500, k)
        v = rng.normal(10, 3, k)
        hs, vs, eps2 = 10_000.0, 200.0, 0.5
        d_h = _haversine_matrix(lat, lon)
        d_v = elev[:, None] - elev[None, :]
        z = _small_box_z5(v, d_h, d_v, hs, vs, eps2)
        S = np.exp(-0.5 * (d_h / hs) ** 2 - 0.5 * (d_v / vs) ** 2)
        Binv = np.linalg.inv(S + eps2 * np.eye(k))
        innov = v - v.mean()
        A = Binv @ innov
        cv = A / np.maximum(np.diag(Binv), 1e-12)
        sigma2 = max(1e-9, float(innov @ A) / k)
        z_lu = cv / math.sqrt(sigma2 * (1.0 + eps2))
        assert np.allclose(z, z_lu, rtol=1e-9, atol=1e-9), (z, z_lu)


def test_sct_kernel_num_max4_closed_form_consistent():
    """num_max=4 flags from the closed-form path must equal a run where
    boxes of 4 are solved by the LU path (flags are threshold decisions
    with fp margin) — and 4-boxes must actually occur."""
    import numpy as np

    from rove_spark.operators import spatial

    rng = np.random.default_rng(3)
    n = 37
    lat = 59.0 + rng.uniform(0, 0.5, n)
    lon = 9.0 + rng.uniform(0, 0.5, n)
    elev = rng.uniform(0, 400, n)
    v = 15.0 + rng.normal(0, 1.0, n)
    v[5] = 80.0
    flags = spatial.sct_kernel(
        v, lat, lon, elev, num_min=3, num_max=4, num_iterations=1, pos=1.2, neg=1.2
    )
    # LU-only comparison: monkeypatch the closed form through the inv path
    orig = spatial._small_box_z4

    def lu4(vv, d_h, d_v, hs, vs, eps2):
        import math as _m

        S = np.exp(-0.5 * (d_h / hs) ** 2 - 0.5 * (d_v / vs) ** 2)
        Binv = np.linalg.inv(S + eps2 * np.eye(len(vv)))
        innov = vv - vv.mean()
        A = Binv @ innov
        cv = A / np.maximum(np.diag(Binv), 1e-12)
        sigma2 = max(1e-9, float(innov @ A) / len(vv))
        return cv / _m.sqrt(sigma2 * (1.0 + eps2))

    spatial._small_box_z4 = lu4
    try:
        flags_lu = spatial.sct_kernel(
            v, lat, lon, elev, num_min=3, num_max=4, num_iterations=1, pos=1.2, neg=1.2
        )
    finally:
        spatial._small_box_z4 = orig
    assert (flags == flags_lu).all()
    assert int(Flag.FAIL) in set(flags.tolist())


def test_relational_equals_kernel(spark):
    """The codegen single-iteration buddy path (round-4 verdict item 6)
    must produce EXACTLY the numpy kernel's flags — missing values,
    isolation, outliers, bucketed and global, with and without the
    elevation gate/gradient."""
    rng = np.random.default_rng(9)
    rows = []
    for i in range(120):
        v = 20.0 + float(rng.normal(0, 0.5))
        if i in (7, 33):
            v = 90.0
        val = None if i in (5, 50) else v
        rows.append(
            (
                f"s{i:03d}",
                T0,
                val,
                60.0 + float(rng.uniform(0, 0.6)),
                10.0 + float(rng.uniform(0, 0.6)),
                float(rng.uniform(0, 300)),
            )
        )
    # a remote pair → ISOLATED coverage
    rows.append(("iso1", T0, 10.0, 65.0, 10.0, 0.0))
    df = spark.createDataFrame(
        rows, "conv_id string, ts timestamp, value double, lat double, lon double, elev double"
    )
    for kw in (
        dict(radius=30000, num_min=3, threshold=3.0),
        dict(radius=30000, num_min=3, threshold=3.0, cell_deg=0.4),
        dict(radius=30000, num_min=2, threshold=3.0, max_elev_diff=150.0,
             elev_gradient=-0.0065, cell_deg=0.4),
    ):
        kern = {
            (r.series_id, r.ts): r.flag_buddy_check
            for r in spatial.buddy_check(
                df, "value", force_kernel=True, **kw
            ).collect()
        }
        rel = {
            (r.series_id, r.ts): r.flag_buddy_check
            for r in spatial.buddy_check_relational(df, "value", **kw).collect()
        }
        assert rel == kern, f"flag divergence for {kw}"


def test_relational_large_offset(spark):
    """Numeric-stability gate for the relational buddy default (round-5
    ADVICE): values at mean ≈ 1e8 with unit spread. The raw E[x²]−m² form
    cancels catastrophically there (error ~ 1e16·eps ≈ 2 ≫ true var),
    silently flooring std to min_std and flipping z decisions; the
    shifted-moment form must still match the kernel's centered sums."""
    rng = np.random.default_rng(13)
    rows = []
    for i in range(80):
        v = 1.0e8 + float(rng.normal(0, 0.5))
        if i in (9, 41):
            v += 50.0  # planted outliers, z ≈ 100 against true std 0.5
        rows.append(
            (
                f"s{i:03d}",
                T0,
                v,
                60.0 + float(rng.uniform(0, 0.4)),
                10.0 + float(rng.uniform(0, 0.4)),
                0.0,
            )
        )
    df = spark.createDataFrame(
        rows, "conv_id string, ts timestamp, value double, lat double, lon double, elev double"
    )
    kw = dict(radius=50000, num_min=3, threshold=3.0, min_std=0.1)
    kern = {
        (r.series_id, r.ts): r.flag_buddy_check
        for r in spatial.buddy_check(df, "value", force_kernel=True, **kw).collect()
    }
    rel = {
        (r.series_id, r.ts): r.flag_buddy_check
        for r in spatial.buddy_check_relational(df, "value", **kw).collect()
    }
    assert rel == kern
    assert kern[("s009", T0)] == Flag.FAIL  # the offset didn't swallow the outlier


def test_relational_duplicate_keys(spark):
    """Duplicate (series_id, ts) input rows must round-trip through the
    relational path one-output-row-per-input-row (round-5 ADVICE: the
    groupBy used to collapse them to one nondeterministically-valued
    row); per-key flag multisets must match the kernel path."""
    from collections import Counter

    rows = [
        ("a", T0, 10.0, 60.0, 10.0, 0.0),
        ("a", T0, 99.0, 60.0, 10.0, 0.0),  # duplicate key, wild value
        ("b", T0, 10.2, 60.01, 10.0, 0.0),
        ("c", T0, 9.9, 60.0, 10.01, 0.0),
        ("d", T0, 10.1, 60.01, 10.01, 0.0),
    ]
    df = spark.createDataFrame(
        rows, "conv_id string, ts timestamp, value double, lat double, lon double, elev double"
    )
    kw = dict(radius=30000, num_min=2, threshold=2.5)
    kern = Counter(
        (r.series_id, r.flag_buddy_check)
        for r in spatial.buddy_check(df, "value", force_kernel=True, **kw).collect()
    )
    rel_rows = spatial.buddy_check_relational(df, "value", **kw).collect()
    assert len(rel_rows) == len(rows)  # no collapse
    assert Counter((r.series_id, r.flag_buddy_check) for r in rel_rows) == kern


def test_sct_bounded_box_flags(spark):
    """num_max=3 SCT through the grouped kernel: missing values, isolation,
    KD subdivision into 3-station boxes and the 3x3 adjugate solve flag
    the planted outliers (exact values are pinned by the sct_small
    DuckDB oracle)."""
    rng = np.random.default_rng(21)
    rows = []
    for i in range(90):
        v = 15.0 + float(rng.normal(0, 1.0))
        if i in (11, 40):
            v = 120.0
        val = None if i == 7 else v
        rows.append(
            (
                f"s{i:03d}",
                T0,
                val,
                60.0 + float(rng.uniform(0, 0.5)),
                10.0 + float(rng.uniform(0, 0.5)),
                float(rng.uniform(0, 400)),
            )
        )
    rows.append(("iso1", T0, 9.0, 66.0, 10.0, 0.0))  # isolated
    df = spark.createDataFrame(
        rows, "conv_id string, ts timestamp, value double, lat double, lon double, elev double"
    )
    # 3-station leave-one-out z saturates near sqrt(2) as the outlier
    # grows (sigma2 scales with it), so the FAIL threshold must sit below
    kw = dict(num_min=3, num_max=3, pos=1.2, neg=1.2, num_iterations=1, cell_deg=None)
    kern = {
        (r.series_id, r.ts): r.flag_sct
        for r in spatial.sct(df, "value", **kw).collect()
    }
    assert Flag.FAIL in set(kern.values())  # the planted outliers actually fail
    assert kern[("iso1", T0)] == Flag.ISOLATED
    assert kern[("s007", T0)] == Flag.DATA_MISSING


def test_sct_rejects_unknown_params(spark):
    """sct takes exactly sct_kernel's keyword parameters: a stale option
    such as the removed ``use_relational`` raises at call time."""
    df = _slice_df(spark, n=10)
    with pytest.raises(ValueError, match="use_relational"):
        spatial.sct(df, "value", num_min=3, use_relational=True)


def test_sct_banded_isolation_equals_cached():
    """The lat-band-pruned isolation path (taken when a cell exceeds
    DIST_CACHE_MAX_N stations, round 7) must produce EXACTLY the flags of
    the cached full-matrix path: pruned columns are provably beyond
    inner_radius, surviving columns go through the identical haversine
    comparison. Forced by shrinking DIST_CACHE_MAX_N below n."""
    import numpy as np

    rng = np.random.default_rng(33)
    n = 400
    lat = 58 + rng.uniform(0, 3.0, n)
    lon = 8 + rng.uniform(0, 3.0, n)
    elev = rng.uniform(0, 500, n)
    values = 10 + rng.standard_normal(n)
    values[5] = 77.0
    values[11] = np.nan
    mask = rng.random(n) > 0.3

    kw = dict(num_min=3, num_max=5, pos=2.0, neg=2.0, check_mask=mask)
    cached = spatial.sct_kernel(values, lat, lon, elev, **kw)
    iso_cached = spatial.sct_kernel(
        values, lat, lon, elev, num_min=3, pos=1e18, neg=1e18,
        num_iterations=1, check_mask=mask,
    )
    orig = spatial.DIST_CACHE_MAX_N
    spatial.DIST_CACHE_MAX_N = 50  # force the banded path
    try:
        banded = spatial.sct_kernel(values, lat, lon, elev, **kw)
        iso_banded = spatial.sct_kernel(
            values, lat, lon, elev, num_min=3, pos=1e18, neg=1e18,
            num_iterations=1, check_mask=mask,
        )
    finally:
        spatial.DIST_CACHE_MAX_N = orig
    assert (cached == banded).all()
    assert (iso_cached == iso_banded).all()
