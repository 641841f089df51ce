"""Validate service (O4) — the reference's gRPC endpoint re-expressed
over stdlib HTTP + JSON.

Reference: ``/root/reference/src/server.rs:41-177`` (request handling →
DataSwitch fetch → pipeline run → one streamed ``ValidateResponse`` per
check) and ``/root/reference/proto/rove.proto`` (message shapes). grpcio
and protobuf are not in this container, so the WIRE is HTTP/1.1 chunked
NDJSON instead of gRPC framing — every proto message is mirrored
field-for-field:

- ``ValidateRequest`` → POST /validate JSON body with data_source,
  backing_sources, start_time / end_time (RFC3339 or
  ``{"seconds": ...}`` like ``google.protobuf.Timestamp``),
  time_resolution (ISO-8601 string, proto field 5), the SpaceSpec oneof
  (exactly one of ``one`` / ``polygon`` / ``all``), pipeline, extra_spec;
- ``stream ValidateResponse`` → one NDJSON line per check:
  ``{"test": name, "results": [{"time", "identifier", "flag"}]}``, flag
  as the proto enum integer (model.Flag matches the proto values 0-6).

The service layer is the substance (validation, spec construction,
switch fetch, pipeline dispatch, per-test streaming); swapping the
transport back to grpcio is mechanical. Response marshalling is
request-scoped exactly like the reference's (server.rs collects each
check's flags into one message).
"""

from __future__ import annotations

import datetime as dt
import json
import logging
import math
import threading
from collections.abc import Iterator
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer

from pyspark.sql import functions as F

from rove_spark.functions.durations import Duration, parse_iso8601
from rove_spark.plans.engine import Engine, melt_flags
from rove_spark.sources.switch import DataSwitch, SpaceSpec, TimeSpec

log = logging.getLogger(__name__)


class ValidateError(ValueError):
    """Maps to the reference's request-level error statuses
    (server.rs:62-99: invalid timestamps/duration/spec → InvalidArgument;
    unknown source/pipeline → NotFound)."""


def _epoch_utc(seconds) -> dt.datetime:
    return dt.datetime.fromtimestamp(seconds, dt.timezone.utc).replace(tzinfo=None)


def _parse_ts(v) -> dt.datetime:
    try:
        # bool is an int: a JSON true must not read as 1970-01-01T00:00:01
        if isinstance(v, dict) and "seconds" in v:  # protobuf Timestamp shape
            if not isinstance(v["seconds"], bool):
                return _epoch_utc(int(v["seconds"]))
        elif isinstance(v, (int, float)) and not isinstance(v, bool):
            return _epoch_utc(v)
        elif isinstance(v, str):
            from rove_spark.functions.durations import parse_rfc3339

            return parse_rfc3339(v)
    except (ValueError, TypeError, OverflowError) as e:
        # "yesterday", {"seconds": "abc"}, … → InvalidArgument, never an
        # unhandled handler-thread death (socket abort)
        raise ValidateError(f"unparseable timestamp: {v!r} ({e})") from e
    raise ValidateError(f"unparseable timestamp: {v!r}")


def _vertex(p) -> tuple[float, float]:
    """A polygon vertex ``{"lat": .., "lon": ..}`` as finite reals: a
    string, null, bool or NaN coordinate would match no station and
    answer 200 with zero results."""
    try:
        lat, lon = p["lat"], p["lon"]
        ok = all(
            isinstance(c, (int, float)) and not isinstance(c, bool) and math.isfinite(c)
            for c in (lat, lon)
        )
    except (KeyError, TypeError, OverflowError):
        ok = False
    if not ok:
        # invalid spec → InvalidArgument (400), never a socket abort
        raise ValidateError(f"malformed polygon vertex: {p!r} (lat and lon must be finite numbers)")
    return float(lat), float(lon)


def parse_validate_request(body: dict) -> dict:
    """ValidateRequest (proto fields 1-10) → validated python spec."""
    if not isinstance(body, dict):
        raise ValidateError(f"request body must be a JSON object, not {type(body).__name__}")
    try:
        data_source = body["data_source"]
        start = _parse_ts(body["start_time"])
        end = _parse_ts(body["end_time"])
        pipeline = body["pipeline"]
    except KeyError as e:
        raise ValidateError(f"missing required field: {e}") from e
    # names are lookup keys: a list here would reach a dict lookup as an
    # unhashable key (a 500), and a string of backing sources would be
    # iterated as one source name per character
    for field, v in (("data_source", data_source), ("pipeline", pipeline)):
        if not isinstance(v, str):
            raise ValidateError(f"{field} must be a string, not {v!r}")
    backing = body.get("backing_sources", [])
    if not (isinstance(backing, list) and all(isinstance(b, str) for b in backing)):
        raise ValidateError(f"backing_sources must be a list of strings, not {backing!r}")
    resolution: Duration | None = None
    res = body.get("time_resolution")
    if res is not None and not isinstance(res, str):
        raise ValidateError(f"time_resolution must be an ISO-8601 string, not {res!r}")
    if res:
        try:
            resolution = parse_iso8601(res)
        except ValueError as e:
            raise ValidateError(str(e)) from e
    one, polygon, all_ = body.get("one"), body.get("polygon"), body.get("all")
    n_specs = sum(x is not None for x in (one, polygon, all_))
    if n_specs > 1:
        raise ValidateError("SpaceSpec is a oneof: pass at most one of one/polygon/all")
    if one is not None:
        # an id, not anything str() can print: ["a"] would select "['a']"
        if not isinstance(one, str):
            raise ValidateError(f"one must be a string, not {one!r}")
        space = SpaceSpec.one(one)
    elif polygon is not None:
        if not isinstance(polygon, list):
            raise ValidateError(f"polygon must be a list of vertices, not {polygon!r}")
        space = SpaceSpec.poly([_vertex(p) for p in polygon])
    else:
        space = SpaceSpec()  # all (proto field 8 / unset)
    return {
        "data_source": data_source,
        "backing_sources": backing,
        "time_spec": TimeSpec(start=start, end=end, resolution=resolution),
        "space_spec": space,
        "pipeline": pipeline,
        "extra_spec": body.get("extra_spec"),
    }


class RoveService:
    """Transport-independent service core: one instance per (switch,
    engine) pair; ``validate`` yields ValidateResponse dicts — the
    streaming unit of the proto."""

    def __init__(
        self,
        switch: DataSwitch,
        engine: Engine,
        value_col: str = "value",
        series_col: str = "conv_id",
        ts_col: str = "ts",
    ) -> None:
        self.switch = switch
        self.engine = engine
        self.value_col = value_col
        self.series_col = series_col
        self.ts_col = ts_col

    def validate(self, request: dict) -> Iterator[dict]:
        req = parse_validate_request(request)
        try:
            df = self.switch.fetch(
                req["data_source"],
                time_spec=req["time_spec"],
                space_spec=req["space_spec"],
                series_col=self.series_col,
                ts_col=self.ts_col,
            )
            # backing sources (proto field 2): their data helps QC the
            # primary source — e.g. extra neighbor series for spatial
            # checks — but is NOT itself QCed; rows ride through the
            # pipeline and are filtered out of the results below
            backing = [
                self.switch.fetch(
                    name,
                    time_spec=req["time_spec"],
                    space_spec=req["space_spec"],
                    series_col=self.series_col,
                    ts_col=self.ts_col,
                )
                for name in req["backing_sources"]
            ]
        except KeyError as e:
            raise ValidateError(str(e)) from e
        if req["pipeline"] not in self.engine.pipelines:
            raise ValidateError(f"TestNotInPipelines: {req['pipeline']}")
        full = df
        if backing:
            # namespace series ids per source: the SAME station fetched
            # from a backing source must become a SEPARATE context series
            # (extra neighbor), not interleave duplicate timestamps into
            # the primary's per-series windows and corrupt its flags
            sc = self.series_col
            full = df.withColumn(sc, F.col(sc).cast("string"))
            from pyspark.errors import AnalysisException

            for name, b in zip(req["backing_sources"], backing):
                try:
                    tagged = b.select(*df.columns).withColumn(
                        # \x1f separator: a primary id can't collide with
                        # a namespaced backing id by containing "name:"
                        sc, F.concat(F.lit(f"{name}\x1f"), F.col(sc).cast("string"))
                    )
                except AnalysisException as e:
                    raise ValidateError(
                        f"backing source {name!r} schema mismatch: {e}"
                    ) from e
                full = full.unionByName(tagged)
        flagged = self.engine.run_pipeline(
            full,
            req["pipeline"],
            value_col=self.value_col,
            series_col=self.series_col,
            order_cols=(self.ts_col,),
        )
        if backing:  # results only for the QCed (primary) source's series
            primary_series = df.select(
                F.col(self.series_col).cast("string").alias(self.series_col)
            ).distinct()
            flagged = flagged.join(primary_series, self.series_col, "left_semi")
        checks = [s.name for s in self.engine.pipelines[req["pipeline"]].steps]
        long = melt_flags(flagged, checks, series_col=self.series_col, ts_col=self.ts_col)
        # request-scoped collect, grouped per test — the same assembly the
        # reference does per streamed message (server.rs:104-123)
        by_test: dict[str, list] = {c: [] for c in checks}
        for r in long.collect():
            by_test[r.test].append(r)
        for c in checks:  # stream one ValidateResponse per test, in order
            # sorted on the driver, not by a Spark orderBy (a sampling job
            # and an exchange per request), into the order
            # orderBy("identifier", "time") gives: ascending, nulls first.
            # Python's str order is code-point order, which is Spark's
            # UTF-8 byte order.
            rows = sorted(
                by_test[c],
                key=lambda r: (r.identifier is not None, r.identifier, r.time is not None, r.time),
            )
            yield {
                "test": c,
                "results": [
                    {
                        "time": r.time.isoformat() + "Z",
                        "identifier": str(r.identifier),
                        "flag": int(r.flag),
                    }
                    for r in rows
                ],
            }


def serve(service: RoveService, host: str = "127.0.0.1", port: int = 0):
    """Start the HTTP transport on a daemon thread; returns the server
    (``server.server_address`` has the bound port; ``shutdown()`` stops
    it). POST /validate → chunked NDJSON; errors → 400 (invalid request)
    / 404 (unknown source or pipeline) / 500 (any other failure, named by
    its exception class), mirroring the reference's gRPC status split."""

    class Handler(BaseHTTPRequestHandler):
        # chunked transfer framing is an HTTP/1.1 construct — the default
        # HTTP/1.0 status line would make spec-compliant clients read the
        # chunk-size lines as body bytes (RFC 7230 §3.3.1)
        protocol_version = "HTTP/1.1"

        def log_message(self, *a):  # quiet test output
            pass

        def fail(self, code: int, message: str):
            # the status line carries the first line of the message,
            # latin-1 only; the error body carries all of it
            reason = (message.splitlines() or [""])[0][:200]
            self.send_error(code, reason.encode("latin-1", "replace").decode("latin-1"), message)

        def do_POST(self):
            if self.path != "/validate":
                self.send_error(404, "unknown endpoint")
                return
            length = self.headers.get("Content-Length", "0")
            if not (length.isascii() and length.isdigit()):
                self.fail(400, f"invalid Content-Length: {length!r}")
                return
            try:
                body = json.loads(self.rfile.read(int(length)) or b"{}")
                responses = service.validate(body)
                first = next(responses, None)
            except ValidateError as e:
                code = 404 if ("InvalidDataSource" in str(e) or "TestNotInPipelines" in str(e)) else 400
                self.fail(code, str(e))
                return
            except (json.JSONDecodeError, UnicodeDecodeError) as e:
                self.fail(400, f"invalid JSON: {e}")
                return
            except Exception as e:
                # an engine failure (a failed Spark job, a bug in a check)
                # still answers before any chunk is sent: never drop the
                # connection without a status
                log.exception("validate request failed")
                self.fail(500, f"{type(e).__name__}: {e}")
                return
            self.send_response(200)
            self.send_header("Content-Type", "application/x-ndjson")
            self.send_header("Transfer-Encoding", "chunked")
            self.end_headers()

            def chunk(payload: bytes):
                self.wfile.write(f"{len(payload):X}\r\n".encode() + payload + b"\r\n")

            if first is not None:
                chunk((json.dumps(first) + "\n").encode())
                for resp in responses:
                    chunk((json.dumps(resp) + "\n").encode())
            self.wfile.write(b"0\r\n\r\n")

    server = ThreadingHTTPServer((host, port), Handler)
    t = threading.Thread(target=server.serve_forever, daemon=True)
    t.start()
    return server
