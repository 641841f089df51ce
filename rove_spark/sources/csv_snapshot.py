"""CSV time-slice snapshot source — the LustreNetatmo connector analog.

Reference (``/root/reference/met_connectors/src/lustre_netatmo/mod.rs:
28-74``): reads one ``;``-delimited CSV file per hour from an NFS path
template, keeps rows with ``prid == 3 && dqc == 0`` (crowd-sourced provider,
passed pre-QC; ``mod.rs:59``), synthesizes the series identifier as
``"(lat,lon)"`` (``mod.rs:65``), and stamps every row with the requested
timestamp (single time slice only).

Spark-first: ``spark.read.csv`` with an explicit schema; the provider/dqc
filter is a plain predicate Catalyst pushes into the scan; the caller
passes the file path (``ts.strftime(template)``) and the timestamp.
Reading a *range* of hours is the same call with a glob — something the
reference cannot do.
"""

from __future__ import annotations

import datetime as dt

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

NETATMO_SCHEMA = (
    "lat double, lon double, elev double, value double, prid int, dqc int"
)


def read_csv_snapshot(
    spark: SparkSession,
    path: str,
    ts: dt.datetime,
    schema: str = NETATMO_SCHEMA,
    sep: str = ";",
    provider_id: int | None = 3,
    require_dqc_pass: bool = True,
    header: bool = True,
) -> DataFrame:
    """One hourly snapshot → series rows (series_id, ts, value, lat, lon,
    elev) ready for the spatial checks."""
    df = spark.read.csv(path, schema=schema, sep=sep, header=header)
    if provider_id is not None:
        df = df.filter(F.col("prid") == provider_id)
    if require_dqc_pass:
        df = df.filter(F.col("dqc") == 0)
    return df.select(
        F.concat(
            F.lit("("), F.col("lat").cast("string"), F.lit(","), F.col("lon").cast("string"), F.lit(")")
        ).alias("series_id"),
        F.lit(ts).cast("timestamp").alias("ts"),
        F.col("value").cast("float").alias("value"),
        "lat",
        "lon",
        "elev",
    )
