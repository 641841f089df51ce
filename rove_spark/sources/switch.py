"""DataSwitch: named-source registry + space/time-spec routing.

Reference: ``DataSwitch`` routes a fetch to a registered ``DataConnector``
by source name and forwards SpaceSpec/TimeSpec
(``/root/reference/src/data_switch.rs:286-324``); connectors push the specs
down (frost: time range widened by context points, station set, polygon —
``met_connectors/src/frost/fetch.rs:184-211``).

Spark-first: a source is any ``() -> DataFrame`` (table scan, parquet dir,
CSV snapshot, synthetic generator); the specs become plain Catalyst
predicates, so "pushdown" is free — time ranges prune partitions, id sets
prune buckets/files, the polygon compiles to a codegen'd ray-cast. The
REST connector (S3) has no analog by design: on Spark the lakehouse table
IS the source; there is no remote query API to marshal to.
"""

from __future__ import annotations

import datetime as dt
from collections.abc import Callable, Sequence
from dataclasses import dataclass, field

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from rove_spark.functions.durations import Duration
from rove_spark.functions.geo import point_in_polygon


@dataclass(frozen=True)
class TimeSpec:
    """Inclusive time range + grid resolution (``data_switch.rs:67-82``)."""

    start: dt.datetime
    end: dt.datetime
    resolution: Duration | None = None


@dataclass(frozen=True)
class SpaceSpec:
    """One(series ids) | Polygon(vertices) | All (``data_switch.rs:123-131``)."""

    kind: str = "all"  # "one" | "polygon" | "all"
    ids: Sequence[str] = ()
    polygon: Sequence[tuple[float, float]] = ()

    @classmethod
    def one(cls, *ids: str) -> "SpaceSpec":
        return cls(kind="one", ids=tuple(ids))

    @classmethod
    def poly(cls, vertices: Sequence[tuple[float, float]]) -> "SpaceSpec":
        return cls(kind="polygon", polygon=tuple(vertices))


@dataclass
class DataSwitch:
    """name → source; ``fetch`` applies the specs as pushed-down filters.

    ``num_leading``/``num_trailing`` widen the time range by
    k·resolution — the reference widens the *remote query* the same way
    (``fetch.rs:199-209``) so edge points have context."""

    sources: dict[str, Callable[..., DataFrame]] = field(default_factory=dict)
    _spec_aware: set = field(default_factory=set)

    def register(self, name: str, source: Callable[..., DataFrame]) -> None:
        """A source is either ``() -> DataFrame`` (plain scan — the specs
        become post-hoc Catalyst predicates, pushdown is free) or, when it
        carries a truthy ``spec_aware`` attribute (e.g.
        ``rollup.cold_source``'s), ``(time_spec, space_spec) -> DataFrame``.
        Spec-aware sources mirror the reference connectors, which
        receive the specs and push them into the remote query
        (``fetch.rs:184-211``) — needed whenever a Python decode stage
        (e.g. the Gorilla cold tier) would otherwise block Catalyst from
        pushing predicates down to the scan. ``fetch`` still applies the
        exact predicates on the returned frame, so a spec-aware source
        only has to PRUNE, never to filter exactly. The attribute is an
        explicit opt-in (a callable's arity is not a routing signal — a
        plain ``lambda *a: df`` must not receive specs by accident)."""
        self.sources[name] = source
        if getattr(source, "spec_aware", False):
            self._spec_aware.add(name)

    def fetch(
        self,
        source_id: str,
        time_spec: TimeSpec | None = None,
        space_spec: SpaceSpec | None = None,
        num_leading: int = 0,
        num_trailing: int = 0,
        series_col: str = "conv_id",
        ts_col: str = "ts",
        lat_col: str = "lat",
        lon_col: str = "lon",
        resolution_col: str = "declared_resolution",
    ) -> DataFrame:
        if source_id not in self.sources:
            # reference: Error::InvalidDataSource (data_switch.rs:300-323)
            raise KeyError(f"InvalidDataSource: {source_id!r}")
        # context widening happens BEFORE the source call: a spec-aware
        # source prunes on the spec it receives, so it must see the
        # widened range or the leading/trailing context rows would be
        # pruned out at the connector (the exact ts filter below uses
        # the same widened bounds)
        start = end = None
        if time_spec is not None:
            start, end = time_spec.start, time_spec.end
            if time_spec.resolution is not None and (num_leading or num_trailing):
                if time_spec.resolution.is_calendar:
                    raise ValueError("context widening over calendar periods unsupported")
                sec = time_spec.resolution.seconds
                start = start - dt.timedelta(seconds=sec * num_leading)
                end = end + dt.timedelta(seconds=sec * num_trailing)
        eff_time = (
            TimeSpec(start, end, time_spec.resolution) if time_spec is not None else None
        )
        src = self.sources[source_id]
        df = src(eff_time, space_spec) if source_id in self._spec_aware else src()
        # P4 time-resolution filter (``met_connectors/src/frost/fetch.rs:31-37``):
        # series whose DECLARED resolution differs from the requested grid
        # are dropped before any QC sees them. Equivalence is semantic
        # (PT1H == PT60M), expressed as a single-pass codegen predicate
        # that parses the ISO string in-engine — no driver-side
        # distinct-collect scan over the input (NULL/unparseable == drop).
        if (
            time_spec is not None
            and time_spec.resolution is not None
            and resolution_col in df.columns
        ):
            from rove_spark.functions.durations import resolution_matches

            df = df.filter(
                resolution_matches(F.col(resolution_col), time_spec.resolution)
            )
        if time_spec is not None:
            df = df.filter(F.col(ts_col).between(F.lit(start), F.lit(end)))
        if space_spec is not None and space_spec.kind != "all":
            if space_spec.kind == "one":
                df = df.filter(F.col(series_col).isin(list(space_spec.ids)))
            elif space_spec.kind == "polygon":
                df = df.filter(point_in_polygon(lon_col, lat_col, space_spec.polygon))
            else:
                raise ValueError(f"unknown SpaceSpec kind: {space_spec.kind}")
        return df
