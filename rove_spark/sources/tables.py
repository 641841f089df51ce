"""Table IO: testdata readers + a partitioned-table layer ("Iceberg shim").

The design target is Iceberg (``spark.table`` / ``writeTo().overwritePartitions()``
with hidden partitioning on ``days(ts)`` + ``bucket(conv_id)``). This sandbox
has no Iceberg runtime jar, so ``PartitionedTable`` provides the same
contract over plain parquet:

- partition-column directory layout (Spark dynamic partition overwrite gives
  idempotent per-partition replace — the primitive checkpoint/resume needs);
- a JSON manifest recording snapshot lineage (write params, code version,
  row counts) per commit, standing in for Iceberg snapshot metadata.

On a real cluster, swap ``PartitionedTable`` for ``df.writeTo(table)`` — the
engine only uses the narrow interface below. Reference analog: rove has no
persistent sink at all (results stream over gRPC, ``src/server.rs:104-123``);
persistent tiered storage is a north_rule addition.

The layout is fixed by the store, not chosen per call site: every table
is partitioned by ``day`` (``yyyy-MM-dd``) first — increment tables add
``batch`` below it — and every write is re-clustered onto its partition
values, so a write emits one file per partition value. The one table
that leads with another column is the transient staging table of
``overwrite_split``, partitioned by the key it splits rows on.
"""

from __future__ import annotations

import datetime
import json
import shutil
import time
import uuid
from collections.abc import Sequence
from pathlib import Path

from pyspark.sql import Column, DataFrame, Observation, SparkSession

from rove_spark.plans.checkpoint import update_json

# an observation and its aggregate columns, as ``DataFrame.observe`` takes them
Observe = tuple[Observation, Sequence[Column]]


def _observed(df: DataFrame, observe: Observe | None) -> DataFrame:
    """``df`` with ``observe`` attached, for the frame handed to a writer."""
    if observe is None:
        return df
    observation, columns = observe
    return df.observe(observation, *columns)


def check_day(cutoff: str) -> None:
    """Raise ``ValueError`` unless ``cutoff`` is a real ``YYYY-MM-DD``
    date. Retention compares day partitions as strings, which is
    chronological only in this exact form: ``"2024-1-5"`` would sort
    after every day from 2024-01-01 to 2024-09-30 and expire them all."""
    try:
        ok = datetime.date.fromisoformat(cutoff).isoformat() == cutoff
    except (TypeError, ValueError):
        ok = False
    if not ok:
        raise ValueError(f"retention cutoff {cutoff!r} is not a YYYY-MM-DD date")


TESTDATA_TABLES = [
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
]


def read_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir.rstrip('/')}/{name}.parquet")


def load_testdata(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    return {t: read_table(spark, sf_dir, t) for t in TESTDATA_TABLES}


def write_bucketed(
    df: DataFrame,
    table_name: str,
    bucket_col: str = "conv_id",
    sort_cols: tuple[str, ...] = ("conv_id", "ts"),
    n_buckets: int = 64,
    mode: str = "overwrite",
) -> None:
    """Write a series table bucketed on the series key and sorted by
    (series, ts) — the Iceberg `bucket(conv_id)` + sort-order analog.
    Downstream per-series window stages (every QC check) and series-keyed
    aggregations then run with ZERO exchange: the scan itself satisfies
    the clustering, and the sort order kills the window sort's shuffle
    (measured 4.6× on the check stage; see BENCH.md). At 100 TB this is
    the difference between re-shuffling the table per run and never
    shuffling it at all."""
    if mode == "overwrite":
        # a previous crashed write can leave an orphaned location with no
        # metastore entry — saveAsTable then fails LOCATION_ALREADY_EXISTS
        from urllib.parse import urlparse

        spark = df.sparkSession
        spark.sql(f"DROP TABLE IF EXISTS {table_name}")
        warehouse = urlparse(spark.conf.get("spark.sql.warehouse.dir")).path
        loc = Path(warehouse) / table_name.lower()
        if loc.exists():
            shutil.rmtree(loc, ignore_errors=True)
    (
        df.write.mode(mode)
        .bucketBy(n_buckets, bucket_col)
        .sortBy(*sort_cols)
        .format("parquet")
        .saveAsTable(table_name)
    )


class PartitionedTable:
    """A partitioned parquet table with snapshot manifest + idempotent
    per-partition overwrite. Narrow stand-in for an Iceberg table."""

    def __init__(self, path: str | Path, partition_by: list[str]):
        self.path = Path(path)
        self.partition_by = list(partition_by)
        self.manifest_path = self.path / "_rove_manifest.json"

    # -- manifest ---------------------------------------------------------
    def _empty_manifest(self) -> dict:
        return {"table": str(self.path), "partition_by": self.partition_by, "snapshots": []}

    def _load_manifest(self) -> dict:
        if self.manifest_path.exists():
            return json.loads(self.manifest_path.read_text())
        return self._empty_manifest()

    def _commit_manifest(self, entry: dict) -> None:
        update_json(
            self.manifest_path,
            self._empty_manifest(),
            lambda m: m["snapshots"].append(entry),
            default=str,
        )

    @property
    def snapshots(self) -> list[dict]:
        return self._load_manifest()["snapshots"]

    # -- IO ---------------------------------------------------------------
    def exists(self) -> bool:
        return self.path.exists() and any(self.path.glob("**/*.parquet"))

    def read(self, spark: SparkSession) -> DataFrame:
        return spark.read.parquet(str(self.path))

    def _cluster_for_write(self, df: DataFrame) -> DataFrame:
        """Re-cluster rows onto their partition values before a
        ``partitionBy`` write: the writer opens one file per (task,
        partition value), so any mixed-partition upstream — and since
        round 7's AQE floor, any multi-partition upstream — explodes
        into tasks×partitions tiny files (measured 630 files for 30 day
        partitions at sf0.1). One exchange on the partition columns
        bounds it at one file per partition value (the Iceberg
        ``write.distribution-mode=hash`` behavior)."""
        from pyspark.sql import functions as F

        return df.repartition(*[F.col(c) for c in self.partition_by])

    def overwrite_partitions(
        self,
        df: DataFrame,
        lineage: dict | None = None,
        observe: Observe | None = None,
    ) -> str:
        """Replace exactly the partitions present in ``df`` (dynamic
        overwrite — Iceberg ``overwritePartitions`` semantics). Returns the
        snapshot id. ``observe=(observation, columns)`` collects those
        aggregates over the written rows in the write itself; read them
        with ``observation.get`` once this returns. It sits above the
        re-cluster exchange, in the write's result stage: Spark applies a
        result stage's accumulator updates exactly once, where a retried
        shuffle-map task could count its rows twice."""
        (
            _observed(self._cluster_for_write(df), observe)
            .write.mode("overwrite")
            .partitionBy(*self.partition_by)
            .option("partitionOverwriteMode", "dynamic")
            .parquet(str(self.path))
        )
        return self._commit_overwrite(lineage)

    def _commit_overwrite(self, lineage: dict | None) -> str:
        snap = uuid.uuid4().hex[:12]
        self._commit_manifest(
            {
                "snapshot_id": snap,
                "committed_at": time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime()),
                "operation": "overwrite_partitions",
                "lineage": lineage or {},
            }
        )
        return snap

    def overwrite_split(
        self,
        df: DataFrame,
        tables: dict,
        lineage: dict,
        observe: Sequence[Column] = (),
    ) -> dict:
        """Overwrite partitions of several tables with one Spark write.
        ``self`` is a staging table partitioned by a key column, then by
        the targets' partition columns; ``tables`` maps each key value to
        its target and ``lineage`` maps it to that target's manifest
        lineage. ``df`` is written once into the staging directory
        through ``overwrite_partitions``. Then, in ``tables`` order, each
        staged ``<key>=<v>/<partition>`` directory replaces the target's
        ``<partition>`` (delete, then rename, as Spark's dynamic
        overwrite commits), each target commits one manifest entry with
        its lineage, and the staging directory is removed. Returns the
        ``observe`` aggregates over the written rows by column name ({}
        without any).

        A killed run's staging directory is removed before the write, so
        its partitions are never swapped in (one writer per staging
        directory). A run killed between swaps leaves the earlier targets
        new and committed, the later ones old: callers mark their work
        done only after this returns."""
        key = self.partition_by[0]
        if self.path.exists():
            # no ignore_errors: a stale partition left behind would be swapped in
            shutil.rmtree(self.path)
        rows = Observation()
        self.overwrite_partitions(df, observe=(rows, observe) if observe else None)
        for value, table in tables.items():
            table._swap_partitions(self.path / f"{key}={value}", lineage[value])
        shutil.rmtree(self.path)
        return rows.get if observe else {}

    def _swap_partitions(self, staged: Path, lineage: dict) -> None:
        """Move every partition directory under ``staged`` (laid out like
        this table) into this table, replacing the one there; then commit
        the manifest entry."""
        pattern = "/".join(f"{c}=*" for c in self.partition_by)
        for src in sorted(staged.glob(pattern)):
            dst = self.path / src.relative_to(staged)
            if dst.exists():
                shutil.rmtree(dst)
            dst.parent.mkdir(parents=True, exist_ok=True)
            src.rename(dst)
        self._commit_overwrite(lineage)

    def append(self, df: DataFrame, lineage: dict | None = None) -> str:
        self._cluster_for_write(df).write.mode("append").partitionBy(
            *self.partition_by
        ).parquet(str(self.path))
        snap = uuid.uuid4().hex[:12]
        self._commit_manifest({"snapshot_id": snap, "operation": "append", "lineage": lineage or {}})
        return snap

    def partition_days(self) -> list[str]:
        """Values of the leading (day) partition column currently on disk
        — a METADATA read (directory listing), never a data scan."""
        if not self.path.exists():
            return []
        day = self.partition_by[0]
        return sorted(p.name.split("=", 1)[1] for p in self.path.glob(f"{day}=*"))

    def expire_days_before(self, cutoff: str) -> int:
        """Retention: drop every day partition before ``cutoff``, a
        ``YYYY-MM-DD`` date (``check_day``), for which string order is
        chronological. Partition-level delete, no data rewrite."""
        check_day(cutoff)
        day = self.partition_by[0]
        dirs = [f"{day}={d}" for d in self.partition_days() if d < cutoff]
        return self.drop_partitions(dirs, lineage={"retention_cutoff": cutoff})

    def drop_partitions(self, predicate_dirs: list[str], lineage: dict | None = None) -> int:
        """Retention expiry: drop whole partition directories (cheap
        metadata-style delete, the parquet analog of Iceberg partition-level
        delete). ``predicate_dirs`` are partition dir names like
        ``day=2024-01-01``."""
        dropped = 0
        for d in predicate_dirs:
            target = self.path / d
            if target.exists():
                shutil.rmtree(target)
                dropped += 1
        if dropped:
            self._commit_manifest(
                {
                    "snapshot_id": uuid.uuid4().hex[:12],
                    "operation": "drop_partitions",
                    "dropped": predicate_dirs,
                    "lineage": lineage or {},
                }
            )
        return dropped


# ------------------------------------------------ real Iceberg (probe-gated)


class IcebergTable:
    """``PartitionedTable``'s surface over a REAL Iceberg catalog —
    constructed by `open_table` only when `session.probe_iceberg` found a
    runtime jar and the session carries the ``rove`` catalog. Exercised
    off-sandbox (no jar ships in this container); the shim remains the
    tested default here. Snapshot history rides Iceberg's own snapshot
    log (``<name>.snapshots``); write lineage (the shim's JSON-manifest
    payload) is recorded as table properties keyed by snapshot id."""

    def __init__(self, spark: SparkSession, name: str, partition_by: list[str]):
        self.spark = spark
        self.name = name  # e.g. "rove.db.tiers_1d"
        self.partition_by = list(partition_by)

    def exists(self) -> bool:
        return self.spark.catalog.tableExists(self.name)

    def read(self, spark: SparkSession | None = None) -> DataFrame:
        return (spark or self.spark).table(self.name)

    def overwrite_partitions(
        self, df: DataFrame, lineage: dict | None = None, observe: Observe | None = None
    ) -> str:
        """``observe`` as in ``PartitionedTable.overwrite_partitions``. It
        sits on ``df`` itself: Iceberg plans its write distribution above
        the frame handed to ``writeTo``, so a retried map task before that
        exchange may count its rows twice here."""
        from pyspark.sql import functions as F

        w = _observed(df, observe).writeTo(self.name)
        if self.exists():
            w.overwritePartitions()
        else:
            w.partitionedBy(*[F.col(c) for c in self.partition_by]).createOrReplace()
        return self._record_lineage(lineage)

    def overwrite_split(
        self,
        df: DataFrame,
        tables: dict,
        lineage: dict,
        observe: Sequence[Column] = (),
    ) -> dict:
        """``PartitionedTable.overwrite_split``'s contract without a
        staging table: Iceberg commits by snapshot, not by directory, so
        each target gets its own ``overwritePartitions`` of the rows whose
        key column (``self.partition_by[0]``) holds its value, with its
        own lineage from ``lineage`` and its own ``Observation`` of
        ``observe``, attached while the rows still carry the key column.
        Returns each ``observe`` column's non-null value from the target
        that wrote it.

        Nothing is cached, so each of those writes evaluates ``df`` (for
        ``run_job``: the raw scan, the checks and the tier aggregation)
        again, once per target; that cost has not been measured."""
        from pyspark.sql import functions as F

        key = self.partition_by[0]
        seen: dict = {}
        for value, table in tables.items():
            rows = Observation()
            part = _observed(
                df.filter(F.col(key) == value), (rows, observe) if observe else None
            ).drop(key)
            table.overwrite_partitions(part, lineage[value])
            for name, n in (rows.get if observe else {}).items():
                if seen.get(name) is None:
                    seen[name] = n
        return seen

    def append(self, df: DataFrame, lineage: dict | None = None) -> str:
        df.writeTo(self.name).append()
        return self._record_lineage(lineage)

    def partition_days(self) -> list[str]:
        """Leading (day) partition values from Iceberg's partitions
        metadata table — a metadata read, no data scan."""
        day = self.partition_by[0]
        rows = self.spark.sql(
            f"SELECT DISTINCT partition.{day} AS d FROM {self.name}.partitions"
        ).collect()
        return sorted(str(r.d) for r in rows)

    def expire_days_before(self, cutoff: str) -> int:
        """Partition-level retention via Iceberg metadata delete: a DELETE
        whose predicate aligns with partition boundaries drops whole
        partitions without rewriting data files. Returns the DROPPED
        PARTITION count — the same unit as the parquet shim (callers like
        ``run_job`` surface it as ``result['expired']``). The count reads
        the pre-delete snapshot; a writer racing between count and DELETE
        can skew the number (the DELETE itself is snapshot-isolated).
        ``cutoff`` must be a ``YYYY-MM-DD`` date (``check_day``), which
        also makes it safe to splice into the DELETE."""
        check_day(cutoff)
        day = self.partition_by[0]
        n_parts = (
            self.read().filter(f"{day} < '{cutoff}'").select(day).distinct().count()
        )
        self.spark.sql(f"DELETE FROM {self.name} WHERE {day} < '{cutoff}'")
        if n_parts:
            self._record_lineage({"retention_cutoff": cutoff})
        return n_parts

    @property
    def snapshots(self) -> list[dict]:
        return [r.asDict() for r in self.spark.sql(f"SELECT * FROM {self.name}.snapshots").collect()]

    def _record_lineage(self, lineage: dict | None) -> str:
        """Attach the write's lineage payload (the shim's JSON-manifest
        analog) to the table as a property keyed by the new snapshot id."""
        snap = self._last_snapshot_id()
        if lineage and snap:
            payload = json.dumps(lineage, default=str).replace("'", "''")
            self.spark.sql(
                f"ALTER TABLE {self.name} SET TBLPROPERTIES "
                f"('rove.lineage.{snap}' = '{payload}')"
            )
        return snap

    def _last_snapshot_id(self) -> str:
        rows = self.spark.sql(
            f"SELECT snapshot_id FROM {self.name}.snapshots ORDER BY committed_at DESC LIMIT 1"
        ).collect()
        return str(rows[0][0]) if rows else ""


def _derive_table_name(path: str) -> str:
    """Filesystem-ish path → valid catalog identifier under rove.db.

    The identifier embeds a digest of the full *resolved* path, not just
    the leaf: two jobs writing tier_1m under different out_dirs must map
    to different catalog tables, or they silently clobber each other's
    data while their per-out_dir checkpoint manifests still claim
    isolation."""
    import hashlib as _hashlib
    import re as _re

    resolved = str(Path(path).resolve())
    leaf = _re.sub(r"[^A-Za-z0-9_]", "_", Path(path).name)
    if not leaf or not (leaf[0].isalpha() or leaf[0] == "_"):
        leaf = "t_" + leaf  # identifiers must not start with a digit
    digest = _hashlib.md5(resolved.encode()).hexdigest()[:8]
    return f"rove.db.{leaf}_{digest}"


def open_table(spark: SparkSession, path_or_name: str | Path, partition_by: list[str]):
    """Tier-table factory: a real ``IcebergTable`` when the session carries
    the probe-gated ``rove`` Iceberg catalog, else the parquet shim. The
    engine only touches the shared surface (read / overwrite_partitions /
    overwrite_split / append / expire_days_before / snapshots), so the
    swap is config-only.

    Only an explicit ``rove.``-qualified name is taken verbatim; anything
    else (absolute/relative paths, even ones containing dots) derives a
    sanitized ``rove.db.<leaf>_<md5(path)[:8]>`` identifier."""
    name = str(path_or_name)
    if spark.conf.get("spark.sql.catalog.rove", None):
        if not name.startswith("rove."):
            name = _derive_table_name(name)
        return IcebergTable(spark, name, partition_by)
    return PartitionedTable(path_or_name, partition_by)
