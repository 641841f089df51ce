"""rove_spark — a PySpark-native time-series QC / rollup / retention engine.

A from-scratch re-expression of the capabilities of metno/rove (reference at
/root/reference, snapshot 2024-10-16): quality-control checks over aligned,
gap-filled, fixed-period time series (rove ``DataCache``,
``src/data_switch.rs:138-163``), re-designed Spark-first:

- series = rows of a DataFrame keyed by (series_id, ts) instead of in-memory
  ``Vec<Option<f32>>`` matrices;
- sliding-window checks = ``pyspark.sql.Window`` expressions instead of
  hand-rolled slice loops (``src/harness.rs:43-73``);
- spatial checks = grouped Arrow/pandas UDFs over time-slice buckets instead
  of a per-request R*-tree (``src/data_switch.rs:180``);
- pipelines = declarative stage lists loaded from TOML
  (``src/pipeline.rs:160-188`` semantics), composed lazily so Catalyst/AQE
  plan the whole job as one DAG.

Beyond the reference, the engine adds what the north_rule mandates: cascading
1m/1h/1d continuous aggregates, retention expiry, Gorilla (delta-of-delta +
XOR) chunk compression, hot-key salting, and per-partition checkpoint/resume
— plus a training-data toolkit (dedup, similarity search, text analysis,
multimodal plumbing) for large-scale pipelines.
"""

__version__ = "0.1.0"

from rove_spark.model import Flag  # noqa: F401
from rove_spark.zipcache import install_in_worker as _install_in_worker

# Spark workers import this package when they unpickle an engine UDF.
_install_in_worker()
