"""Validate service (O4): proto-mirrored request parsing, pipeline
dispatch, per-test streaming, HTTP transport + error-status split
(reference: src/server.rs:41-177, proto/rove.proto)."""

from __future__ import annotations

import datetime as dt
import http.client
import json
import urllib.error
import urllib.request

import numpy as np
import pytest
from pyspark.sql import functions as F

from rove_spark.config import Pipeline, PipelineStep
from rove_spark.model import Flag
from rove_spark.operators import spatial as SP
from rove_spark.plans.engine import Engine, melt_flags
from rove_spark.service import (
    RoveService,
    ValidateError,
    parse_validate_request,
    serve,
)
from rove_spark.sources.switch import DataSwitch

T0 = dt.datetime(2024, 1, 1)


def _request(**over):
    base = {
        "data_source": "mem",
        "start_time": "2024-01-01T00:00:00Z",
        "end_time": "2024-01-01T01:00:00Z",
        "time_resolution": "PT1M",
        "pipeline": "qc",
    }
    base.update(over)
    return base


# ------------------------------------------------ request parsing (unit) --


def test_parse_request_timestamp_shapes():
    for v in ("2024-01-01T00:00:00Z", {"seconds": 1704067200}, 1704067200):
        req = parse_validate_request(_request(start_time=v))
        assert req["time_spec"].start == T0
    assert parse_validate_request(_request())["time_spec"].resolution.seconds == 60


def test_parse_request_spacespec_oneof():
    assert parse_validate_request(_request(one="conv-7"))["space_spec"].kind == "one"
    p = parse_validate_request(
        _request(polygon=[{"lat": 59.0, "lon": 10.0}, {"lat": 60.0, "lon": 11.0}])
    )
    assert p["space_spec"].kind == "polygon"
    assert parse_validate_request(_request())["space_spec"].kind == "all"
    with pytest.raises(ValidateError, match="oneof"):
        parse_validate_request(_request(one="x", all={}))


def test_parse_request_errors():
    with pytest.raises(ValidateError, match="missing required"):
        parse_validate_request({"data_source": "mem"})
    with pytest.raises(ValidateError, match="invalid ISO-8601"):
        parse_validate_request(_request(time_resolution="garbage"))


def test_parse_request_rejects_non_object_body_and_non_string_resolution():
    for body in ([], "qc", 5, None):
        with pytest.raises(ValidateError, match="JSON object"):
            parse_validate_request(body)
    with pytest.raises(ValidateError, match="time_resolution"):
        parse_validate_request(_request(time_resolution=5))


def test_parse_request_rejects_non_string_names_and_backing_sources():
    """A pipeline or data_source that is not a string and backing_sources
    that is not a list of strings are invalid requests. Before, a list
    reached the pipeline lookup as an unhashable key (a 500), and the
    string "aux" fetched the sources "a", "u" and "x" (a 404 naming 'a')."""
    for field in ("pipeline", "data_source"):
        for bad in (["spatial_qc"], {"name": "qc"}, 7, None):
            with pytest.raises(ValidateError, match=f"{field} must be a string"):
                parse_validate_request(_request(**{field: bad}))
    for bad in ("aux", ["aux", 3], {"aux": 1}, None):
        with pytest.raises(ValidateError, match="backing_sources must be a list of strings"):
            parse_validate_request(_request(backing_sources=bad))
    assert parse_validate_request(_request(backing_sources=["aux"]))["backing_sources"] == ["aux"]
    assert parse_validate_request(_request())["backing_sources"] == []


def test_parse_request_rejects_non_string_one_and_non_numeric_vertices():
    """``one`` is a series id and a polygon vertex is two finite numbers.
    Before, ``"one": ["a"]`` selected the id "['a']" and a vertex such as
    ``{"lat": "x", "lon": null}`` matched nothing: both answered 200 with
    zero results."""
    for bad in (["a"], 7, {"id": "a"}, True):
        with pytest.raises(ValidateError, match="one must be a string"):
            parse_validate_request(_request(one=bad))
    ok = {"lat": 59.0, "lon": 10}
    for vertex in ({"lat": "x", "lon": None}, {"lat": None, "lon": 10.0}, {"lat": True, "lon": 10.0},
                   {"lat": 59.0, "lon": "10"}, {"lat": float("nan"), "lon": 10.0},
                   {"lat": 59.0, "lon": float("inf")}, {"lat": 10**400, "lon": 1.0}, {"lat": 1.0}, [59.0, 10.0]):
        with pytest.raises(ValidateError, match="malformed polygon vertex"):
            parse_validate_request(_request(polygon=[ok, vertex]))
    with pytest.raises(ValidateError, match="polygon must be a list"):
        parse_validate_request(_request(polygon={"lat": 59.0, "lon": 10.0}))
    assert parse_validate_request(_request(polygon=[ok]))["space_spec"].polygon == ((59.0, 10.0),)


# ------------------------------------------------------------ end-to-end --


@pytest.fixture(scope="module")
def service(spark):
    rows = []
    for conv in ("a", "b"):
        for i in range(10):
            # conv 'b' gets a step outlier at i=5
            v = 100.0 if (conv == "b" and i == 5) else 1.0 + i * 0.1
            rows.append((conv, T0 + dt.timedelta(minutes=i), v))
    df = spark.createDataFrame(rows, "conv_id string, ts timestamp, value double")
    switch = DataSwitch()
    switch.register("mem", lambda: df)
    pipe = Pipeline(
        name="qc",
        steps=(
            PipelineStep("step_check", "step_check", {"max": 10.0}),
            PipelineStep("range_check", "range_check", {"min": 0.0, "max": 50.0}),
        ),
    )
    engine = Engine(spark, pipelines={"qc": pipe})
    return RoveService(switch, engine)


def test_validate_streams_one_response_per_test(service):
    out = list(service.validate(_request()))
    assert [o["test"] for o in out] == ["step_check", "range_check"]
    step = {(r["identifier"], r["time"]): r["flag"] for r in out[0]["results"]}
    rng = {(r["identifier"], r["time"]): r["flag"] for r in out[1]["results"]}
    assert len(step) == 20 and len(rng) == 20
    # the planted outlier: step FAIL at the jump (and back), range FAIL at 100
    assert step[("b", "2024-01-01T00:05:00Z")] == 1
    assert rng[("b", "2024-01-01T00:05:00Z")] == 1
    assert step[("a", "2024-01-01T00:05:00Z")] == 0


def test_validate_spacespec_one_filters(service):
    out = list(service.validate(_request(one="a")))
    assert all(r["identifier"] == "a" for o in out for r in o["results"])


def test_validate_unknown_source_and_pipeline(service):
    with pytest.raises(ValidateError, match="InvalidDataSource"):
        list(service.validate(_request(data_source="nope")))
    with pytest.raises(ValidateError, match="TestNotInPipelines"):
        list(service.validate(_request(pipeline="nope")))


def test_http_transport_ndjson_stream(service):
    server = serve(service)
    try:
        host, port = server.server_address
        req = urllib.request.Request(
            f"http://{host}:{port}/validate",
            data=json.dumps(_request()).encode(),
            headers={"Content-Type": "application/json"},
        )
        with urllib.request.urlopen(req) as resp:
            assert resp.headers["Content-Type"] == "application/x-ndjson"
            lines = [json.loads(x) for x in resp.read().decode().splitlines() if x]
        assert [x["test"] for x in lines] == ["step_check", "range_check"]
        assert all(len(x["results"]) == 20 for x in lines)
        # proto enum domain
        assert {r["flag"] for x in lines for r in x["results"]} <= set(range(7))

        # error-status split: 404 unknown pipeline, 400 bad duration
        for body, code in [
            (_request(pipeline="nope"), 404),
            (_request(data_source="nope"), 404),
            (_request(time_resolution="garbage"), 400),
        ]:
            r = urllib.request.Request(
                f"http://{host}:{port}/validate", data=json.dumps(body).encode()
            )
            with pytest.raises(urllib.error.HTTPError) as ei:
                urllib.request.urlopen(r)
            assert ei.value.code == code
    finally:
        server.shutdown()


def test_backing_sources_help_but_are_not_qced(service, spark):
    """proto field 2: backing-source rows ride through the pipeline (QC
    context) but never appear in the results."""
    extra = spark.createDataFrame(
        [("zz", T0 + dt.timedelta(minutes=i), 2.0) for i in range(10)],
        "conv_id string, ts timestamp, value double",
    )
    service.switch.register("aux", lambda: extra)
    out = list(service.validate(_request(backing_sources=["aux"])))
    idents = {r["identifier"] for o in out for r in o["results"]}
    assert idents == {"a", "b"}  # 'zz' contributed context, was not QCed
    assert all(len(o["results"]) == 20 for o in out)


def test_overlapping_backing_series_become_separate_context(service, spark):
    """A backing source carrying the SAME series id as the primary must
    become a separate namespaced context series — never interleave
    duplicate timestamps into the primary's windows or duplicate its
    result rows."""
    dup = spark.createDataFrame(
        [("a", T0 + dt.timedelta(minutes=i), 50.0) for i in range(10)],
        "conv_id string, ts timestamp, value double",
    )
    service.switch.register("dup_src", lambda: dup)
    out = list(service.validate(_request(backing_sources=["dup_src"])))
    base = list(service.validate(_request()))
    # primary flags identical to the no-backing run; no duplicated rows
    for o, b in zip(out, base):
        got = sorted((r["identifier"], r["time"], r["flag"]) for r in o["results"])
        want = sorted((r["identifier"], r["time"], r["flag"]) for r in b["results"])
        assert got == want


def test_malformed_timestamp_and_backing_schema_are_400s(service, spark):
    import pytest

    from rove_spark.service import ValidateError

    # JSON booleans are ints to Python; true is not epoch second 1
    for bad_ts in ("yesterday", {"seconds": "abc"}, True, {"seconds": True}):
        with pytest.raises(ValidateError, match="unparseable timestamp"):
            list(service.validate(_request(start_time=bad_ts)))
    with pytest.raises(ValidateError, match="malformed polygon"):
        list(service.validate(_request(polygon=[{"latitude": 1.0}])))
    bad = spark.createDataFrame([("x", T0)], "conv_id string, ts timestamp")
    service.switch.register("badcols", lambda: bad)
    with pytest.raises(ValidateError, match="schema mismatch"):
        list(service.validate(_request(backing_sources=["badcols"])))


# ------------------------------------------------- HTTP failure statuses --


def _post(server, payload: bytes, content_length: str | None = None):
    """POST /validate with a hand-set Content-Length; (status, reason)."""
    host, port = server.server_address[:2]
    conn = http.client.HTTPConnection(host, port, timeout=120)
    try:
        conn.putrequest("POST", "/validate")
        conn.putheader("Content-Length", content_length or str(len(payload)))
        conn.endheaders(payload)
        resp = conn.getresponse()
        resp.read()
        return resp.status, resp.reason
    finally:
        conn.close()


def _check_raises_type_error(df, **kw):
    raise TypeError("custom check built with a bad argument")


def _check_fails_in_job(df, value_col, out_col, **kw):
    boom = F.udf(lambda v: 1 // 0, "int")
    return df.withColumn(out_col, boom(F.col(value_col)).cast("tinyint"))


def test_http_bad_requests_and_engine_failures_get_a_status(service):
    """Every failure before the first chunk answers with a status: a body
    that is not an object, a non-string time_resolution or ``one``, a
    non-numeric polygon vertex and a bad Content-Length are 400s; an exception from the pipeline (plan-time
    TypeError, failed Spark job) is a 500 naming the exception class.
    None of them drops the connection, and the server keeps serving."""
    engine = Engine(
        service.engine.spark,
        pipelines={
            "qc": service.engine.pipelines["qc"],
            "plan_error": Pipeline("plan_error", (PipelineStep("p", "raises_type_error"),)),
            "job_error": Pipeline("job_error", (PipelineStep("j", "fails_in_job"),)),
        },
        custom_checks={
            "raises_type_error": _check_raises_type_error,
            "fails_in_job": _check_fails_in_job,
        },
    )
    server = serve(RoveService(service.switch, engine))
    try:
        assert _post(server, b"[]")[0] == 400
        assert _post(server, json.dumps(_request(time_resolution=5)).encode())[0] == 400
        assert _post(server, json.dumps(_request(start_time=True)).encode())[0] == 400
        assert _post(server, b"{}", content_length="abc")[0] == 400
        assert _post(server, b"{}", content_length="-1")[0] == 400
        assert _post(server, json.dumps(_request(pipeline=["qc"])).encode())[0] == 400
        assert _post(server, json.dumps(_request(backing_sources="mem")).encode())[0] == 400
        assert _post(server, json.dumps(_request(one=["a"])).encode())[0] == 400
        vertices = [{"lat": 59.0, "lon": 10.0}, {"lat": "x", "lon": None}]
        assert _post(server, json.dumps(_request(polygon=vertices)).encode())[0] == 400
        status, reason = _post(server, json.dumps(_request(pipeline="plan_error")).encode())
        assert (status, reason.split(":")[0]) == (500, "TypeError")
        status, reason = _post(server, json.dumps(_request(pipeline="job_error")).encode())
        assert (status, reason.split(":")[0]) == (500, "PythonException")
        assert _post(server, json.dumps(_request()).encode())[0] == 200
    finally:
        server.shutdown()
        server.server_close()


# ------------------------------- spatial checks read the pipeline input --

BUDDY = {"radius": 60000.0, "num_min": 3, "threshold": 2.0, "num_iterations": 2}
SCT = {"num_min": 5, "num_max": 30, "inner_radius": 50000.0, "outer_radius": 120000.0,
       "num_iterations": 2, "pos": 2.0, "neg": 2.0}
SPATIAL_QC = Pipeline(
    "spatial_qc",
    (
        PipelineStep("step_check", "step_check", {"max": 6.0}),
        PipelineStep("spike_check", "spike_check", {"max": 6.0}),
        PipelineStep("flatline_check", "flatline_check", {"max": 2}),
        PipelineStep("buddy_check", "buddy_check", BUDDY),
        PipelineStep("sct", "sct", SCT),
    ),
)
# ids whose orderBy order a wrong sort key would break: numeric vs
# lexicographic ("stn-10" < "stn-9" < "stn-90"), and code point vs UTF-16
# (U+FF21 sorts before U+1F600 in Spark's UTF-8 byte order)
STATION_IDS = {
    "string": ["stn-9", "stn-10", "stn-90", "stn-1", "stn-ø", "stn-\uff21", "stn-\U0001f600",
               "STN-2", "stn-", "stn-33", "stn-4", "stn-05"],
    "int": [9, 10, 90, 1, -3, 0, 100, 2, 33, 4, 5, 1000],
}


def _stations(spark, ids, series_type: str):
    """One row per (station, 10-minute step): unique keys, a planted
    outlier per step, stations within ~50 km of each other."""
    rng = np.random.default_rng(11)
    lat = rng.uniform(59.8, 60.2, len(ids))
    lon = rng.uniform(9.6, 10.4, len(ids))
    elev = rng.uniform(0.0, 300.0, len(ids))
    rows = []
    for k in range(4):
        for i, sid in enumerate(ids):
            v = 5.0 + float(rng.normal(0, 0.4)) + (12.0 if i == (3 * k) % len(ids) else 0.0)
            rows.append((sid, T0 + dt.timedelta(minutes=10 * k), v,
                         float(lat[i]), float(lon[i]), float(elev[i])))
    return spark.createDataFrame(
        rows,
        f"conv_id {series_type}, ts timestamp, value double, lat double, lon double, elev double",
    )


@pytest.mark.parametrize("series_type", ["string", "int"])
def test_validate_spatial_checks_equal_each_check_alone(spark, series_type):
    """Through RoveService.validate, buddy_check and sct flag exactly what
    each check alone flags on the fetched input, and every test's results
    come in the order orderBy("identifier", "time") gives."""
    df = _stations(spark, STATION_IDS[series_type], series_type)
    switch = DataSwitch()
    switch.register("stations", lambda: df)
    engine = Engine(spark, pipelines={"spatial_qc": SPATIAL_QC})
    out = list(RoveService(switch, engine).validate(_request(data_source="stations",
                                                             pipeline="spatial_qc")))
    checks = [s.name for s in SPATIAL_QC.steps]
    assert [o["test"] for o in out] == checks
    got = {o["test"]: [(r["identifier"], r["time"], r["flag"]) for r in o["results"]]
           for o in out}

    def iso(t):
        return t.isoformat() + "Z"

    long = melt_flags(engine.run_pipeline(df, "spatial_qc", value_col="value"), checks)
    for c in checks:
        ordered = long.filter(F.col("test") == c).orderBy("identifier", "time").collect()
        assert got[c] == [(str(r.identifier), iso(r.time), r.flag) for r in ordered], c
        assert len(got[c]) == df.count()
    alone = {
        "buddy_check": {(r.series_id, iso(r.ts)): r.flag_buddy_check
                        for r in SP.buddy_check(df, "value", **BUDDY).collect()},
        "sct": {(r.series_id, iso(r.ts)): r.flag_sct for r in SP.sct(df, "value", **SCT).collect()},
    }
    for c, want in alone.items():
        assert {(i, t): f for i, t, f in got[c]} == want, c
    # the planted outliers do fail
    assert all(Flag.FAIL in {f for i, t, f in got[c]} for c in alone)
