"""Iceberg probe-and-use (round-3 verdict item 7): this container ships
no iceberg-spark-runtime jar, so the probe must report None (logged) and
`open_table` must return the documented parquet shim; with a catalog
configured the factory would return IcebergTable (structure asserted
without a jar — the write path itself is exercised off-sandbox)."""

from __future__ import annotations

import logging

from rove_spark.session import probe_iceberg
from rove_spark.sources.tables import IcebergTable, PartitionedTable, open_table


def test_probe_logs_and_returns_none_here(caplog):
    with caplog.at_level(logging.INFO, logger="rove_spark.session"):
        jar = probe_iceberg()
    assert jar is None  # no jar ships in this container
    assert any("iceberg probe" in r.message for r in caplog.records)


def test_probe_honors_explicit_env(tmp_path, monkeypatch):
    fake = tmp_path / "iceberg-spark-runtime-3.5_2.12-1.5.0.jar"
    fake.write_bytes(b"not a real jar")
    monkeypatch.setenv("ROVE_ICEBERG_JAR", str(fake))
    assert probe_iceberg() == str(fake)


def test_open_table_returns_shim_without_catalog(spark, tmp_path):
    t = open_table(spark, tmp_path / "tiers", ["day"])
    assert isinstance(t, PartitionedTable)


def test_open_table_name_derivation():
    class _FakeConf:
        def get(self, k, d=None):
            return "org.apache.iceberg.spark.SparkCatalog"

    class _FakeSpark:
        conf = _FakeConf()

    t = open_table(_FakeSpark(), "/tmp/tiers-1d", ["day"])
    assert isinstance(t, IcebergTable)
    # leaf + digest of the full resolved path: same leaf under two
    # out_dirs must NOT collide on one catalog table (ADVICE r4)
    assert t.name.startswith("rove.db.tiers_1d_")
    other = open_table(_FakeSpark(), "/tmp/elsewhere/tiers-1d", ["day"])
    assert other.name != t.name
    # deterministic: same path → same identifier (resume must re-find it)
    assert open_table(_FakeSpark(), "/tmp/tiers-1d", ["day"]).name == t.name
    t2 = open_table(_FakeSpark(), "rove.db.mytable", ["day"])
    assert t2.name == "rove.db.mytable"


def test_iceberg_conf_merge_preserves_caller_entries():
    """Caller-supplied spark.jars AND spark.sql.extensions comma-merge with
    the Iceberg entries instead of being overwritten (ADVICE r4: a caller
    extensions entry applied after the Iceberg block silently replaced the
    IcebergSparkSessionExtensions while the catalog confs remained)."""
    from rove_spark.session import _iceberg_confs

    extra = {
        "spark.jars": "/opt/custom.jar",
        "spark.sql.extensions": "com.example.MyExtensions",
        "spark.foo": "bar",
    }
    confs = _iceberg_confs("/opt/iceberg.jar", extra)
    assert confs["spark.jars"] == "/opt/iceberg.jar,/opt/custom.jar"
    assert confs["spark.sql.extensions"] == (
        "org.apache.iceberg.spark.extensions.IcebergSparkSessionExtensions,"
        "com.example.MyExtensions"
    )
    # both merged keys popped so the later extra_conf loop can't overwrite
    assert "spark.jars" not in extra and "spark.sql.extensions" not in extra
    assert extra == {"spark.foo": "bar"}
    # without caller entries: plain Iceberg values
    plain = _iceberg_confs("/opt/iceberg.jar", {})
    assert plain["spark.jars"] == "/opt/iceberg.jar"
    assert plain["spark.sql.extensions"].endswith("IcebergSparkSessionExtensions")


def test_open_table_uses_digest_name_only():
    """Tables are named by the digest of their path alone: a table under
    the pre-digest leaf-only name (``rove.db.tiers_1d``) is neither
    adopted nor an error, because no Iceberg runtime ever created one."""

    class _FakeConf:
        def get(self, k, d=None):
            return "org.apache.iceberg.spark.SparkCatalog"

    class _FakeCatalog:
        def __init__(self, existing):
            self.existing = existing

        def tableExists(self, name):
            return name in self.existing

    class _FakeSpark:
        conf = _FakeConf()

        def __init__(self, existing):
            self.catalog = _FakeCatalog(existing)

    digest_name = open_table(_FakeSpark(set()), "/tmp/tiers-1d", ["day"]).name
    assert digest_name != "rove.db.tiers_1d"
    # a leaf-only name on the catalog changes nothing
    t1 = open_table(_FakeSpark({"rove.db.tiers_1d"}), "/tmp/tiers-1d", ["day"])
    assert t1.name == digest_name
    # digest exists → digest even if the leaf-only name also exists
    t2 = open_table(
        _FakeSpark({"rove.db.tiers_1d", digest_name}), "/tmp/tiers-1d", ["day"]
    )
    assert t2.name == digest_name
    # neither exists (fresh deployment) → digest name
    t3 = open_table(_FakeSpark(set()), "/tmp/tiers-1d", ["day"])
    assert t3.name == digest_name


def test_table_classes_share_one_surface():
    """The engine swaps ``PartitionedTable`` for ``IcebergTable`` by
    config alone (``open_table``), so every method it calls must take the
    same parameters on both; a keyword only the shim accepts is a
    TypeError that only an Iceberg session would hit."""
    import inspect

    for name in (
        "read", "exists", "overwrite_partitions", "overwrite_split", "append",
        "partition_days", "expire_days_before",
    ):
        shim = list(inspect.signature(getattr(PartitionedTable, name)).parameters)
        ice = list(inspect.signature(getattr(IcebergTable, name)).parameters)
        assert shim == ice, name


def test_iceberg_overwrite_split_observes_each_tier(spark):
    """Iceberg's ``overwrite_split`` writes each target the rows of its
    key without the key column, and still returns run_job's per-(tier,
    day) sums, which name the key column: the observation is attached
    before the column is dropped. Stub targets stand in for Iceberg
    tables; each collects its frame, as a write would."""
    from pyspark.sql import functions as F

    from rove_spark.sources.tables import _observed

    written = {}

    class _Target:
        def __init__(self, tier):
            self.tier = tier

        def overwrite_partitions(self, df, lineage=None, observe=None):
            written[self.tier] = (df.columns, lineage, len(_observed(df, observe).collect()))
            return ""

    df = spark.createDataFrame(
        [("1m", "d1", 2), ("1m", "d1", 3), ("1m", "d2", 4), ("1h", "d1", 5)],
        "tier string, day string, n_turns long",
    )
    sums = [
        F.sum(F.when((F.col("tier") == t) & (F.col("day") == d), F.col("n_turns"))).alias(f"{t}/{d}")
        for t in ("1m", "1h", "1d")
        for d in ("d1", "d2")
    ]
    tables = {t: _Target(t) for t in ("1m", "1h", "1d")}
    got = IcebergTable(spark, "x", ["tier", "day"]).overwrite_split(
        df, tables, lineage={t: {"fingerprint": "fp", "tier": t} for t in tables}, observe=sums
    )
    assert got == {"1m/d1": 5, "1m/d2": 4, "1h/d1": 5, "1h/d2": None, "1d/d1": None, "1d/d2": None}
    assert written == {
        t: (["day", "n_turns"], {"fingerprint": "fp", "tier": t}, n)
        for t, n in (("1m", 3), ("1h", 1), ("1d", 0))
    }


def test_iceberg_expire_rejects_malformed_cutoff():
    """The cutoff is spliced into Iceberg's DELETE; anything but a real
    YYYY-MM-DD date is refused before any SQL runs."""
    import pytest

    class _NoSql:
        def sql(self, q):
            raise AssertionError(f"ran SQL for a malformed cutoff: {q}")

        def table(self, name):
            raise AssertionError("read the table for a malformed cutoff")

    t = IcebergTable(_NoSql(), "rove.db.t", ["day"])
    for bad in ("2024-1-5", "2024-01-05' OR '1'='1", "2024-02-30", "20240105"):
        with pytest.raises(ValueError, match="YYYY-MM-DD"):
            t.expire_days_before(bad)
