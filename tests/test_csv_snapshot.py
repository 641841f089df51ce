"""CSV snapshot source — golden test mirroring the reference's netatmo
semantics (provider/dqc filter, ``(lat,lon)`` identifier, time stamping)."""

from __future__ import annotations

import datetime as dt

from rove_spark.sources.csv_snapshot import read_csv_snapshot

CSV = """lat;lon;elev;value;prid;dqc
59.9;10.7;90;12.5;3;0
60.1;10.8;120;13.0;3;0
60.2;10.9;80;99.0;3;1
60.3;11.0;70;50.0;2;0
"""


def test_read_snapshot_golden(tmp_path, spark):
    p = tmp_path / "obs_20240101T00Z.csv"
    p.write_text(CSV)
    ts = dt.datetime(2024, 1, 1, 0, 0)
    out = read_csv_snapshot(spark, str(p), ts).orderBy("series_id").collect()
    # prid != 3 and dqc != 0 rows dropped (mod.rs:59)
    assert len(out) == 2
    assert [r.series_id for r in out] == ["(59.9,10.7)", "(60.1,10.8)"]
    assert all(r.ts == ts for r in out)
    assert out[0].value == 12.5 and out[0].elev == 90.0


def test_filter_pushed_to_scan(tmp_path, spark):
    p = tmp_path / "obs.csv"
    p.write_text(CSV)
    df = read_csv_snapshot(spark, str(p), dt.datetime(2024, 1, 1))
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters" in plan or "Filter" in plan


def test_feeds_spatial_checks(tmp_path, spark):
    from rove_spark.operators.spatial import buddy_check

    p = tmp_path / "obs.csv"
    p.write_text(CSV)
    df = read_csv_snapshot(spark, str(p), dt.datetime(2024, 1, 1))
    out = buddy_check(df, "value", radius=500_000, num_min=1, threshold=2.0, series_col="series_id")
    assert out.count() == 2
