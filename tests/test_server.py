"""e2e tests for the HTTP façade (S1-S4).

POSTs the reference's own fixture bodies at a live server thread and
checks responses against calling the pipeline directly (reference
app.py:25-28 /health, 96-98 /analyze, 490-492 /saturating-growth,
562-564 /saturating-growth/single)."""

from __future__ import annotations

import json
import urllib.error
import urllib.request

import pytest

from temporal_retriever_spark.api.models import parse_analyze_request
from temporal_retriever_spark.pipeline import analyze, saturating_growth
from temporal_retriever_spark.server import _dumps, serve_background

EXAMPLE = "/root/reference/example-timestamp.json"
ELECTRICITY = "/root/reference/electricity_demand.json"


@pytest.fixture(scope="module")
def server(spark):
    srv, thread = serve_background(spark)
    yield f"http://127.0.0.1:{srv.server_address[1]}"
    srv.shutdown()
    thread.join(timeout=5)


def _get(base: str, path: str):
    try:
        with urllib.request.urlopen(base + path, timeout=300) as resp:
            return resp.status, json.loads(resp.read())
    except urllib.error.HTTPError as err:
        return err.code, json.loads(err.read())


def _post(base: str, path: str, body) -> tuple[int, dict]:
    data = body if isinstance(body, bytes) else json.dumps(body).encode()
    req = urllib.request.Request(
        base + path, data=data, headers={"Content-Type": "application/json"}
    )
    try:
        with urllib.request.urlopen(req, timeout=600) as resp:
            return resp.status, json.loads(resp.read())
    except urllib.error.HTTPError as err:
        return err.code, json.loads(err.read())


def _roundtrip(payload) -> dict:
    """Pipeline output -> the JSON a client would see (dates to ISO)."""
    return json.loads(_dumps(payload))


def test_health(server):
    status, body = _get(server, "/health")
    assert status == 200 and body is None


def test_unknown_routes(server):
    status, _ = _get(server, "/nope")
    assert status == 404
    status, _ = _post(server, "/nope", {})
    assert status == 404


def test_bad_json_is_422(server):
    status, body = _post(server, "/analyze", b"{not json")
    assert status == 422 and "detail" in body
    # FastAPI emits a pydantic-style error ARRAY with loc/msg/type
    (err,) = body["detail"]
    assert err["type"] == "json_invalid"
    assert err["loc"][0] == "body" and isinstance(err["loc"][1], int)
    assert "JSON decode error" in err["msg"]


def test_validation_error_body_is_pydantic_shaped(server):
    """422 bodies mirror FastAPI's RequestValidationError: detail is a
    list of {loc, msg, type} entries, loc paths the offending field,
    and all errors are collected across correlations in one response."""
    status, body = _post(
        server,
        "/analyze",
        {
            "documents": {},
            "analyticsOptions": {
                "correlations": [
                    {"id": "c0", "fromData": "a", "fromIndex": "i", "toData": "b"},
                    {"id": "c1", "fromIndex": "i", "toData": "b", "toIndex": "j"},
                ]
            },
        },
    )
    assert status == 422
    errs = body["detail"]
    assert isinstance(errs, list) and len(errs) == 2
    locs = [tuple(e["loc"]) for e in errs]
    assert ("body", "analyticsOptions", "correlations", 0, "toIndex") in locs
    assert ("body", "analyticsOptions", "correlations", 1, "fromData") in locs
    for e in errs:
        assert e["msg"] == "Field required" and e["type"] == "missing"
    # no-correlations request: single value_error entry at the list loc
    status, body = _post(server, "/analyze", {"documents": {}})
    assert status == 422
    (err,) = body["detail"]
    assert tuple(err["loc"]) == ("body", "analyticsOptions", "correlations")
    assert err["type"] == "value_error"


def test_invalid_request_is_422(server):
    status, body = _post(server, "/analyze", {"documents": {}})
    assert status == 422 and "detail" in body
    status, body = _post(
        server,
        "/analyze",
        {
            "documents": {},
            "analyticsOptions": {
                "correlations": [
                    {
                        "id": "c",
                        "fromData": "a",
                        "fromIndex": "i",
                        "toData": "b",
                        "toIndex": "j",
                        "dataSetGranularity": "Q",
                    }
                ]
            },
        },
    )
    assert status == 422


def _approx_equal(a, b, path="$"):
    """Structural equality with float tolerance: two executions of the
    same plan may differ in the last ulp when partial-aggregation order
    varies across runs, which bit-exact == turns into a flake."""
    if isinstance(a, float) or isinstance(b, float):
        assert a is not None and b is not None, path
        assert a == pytest.approx(b, rel=1e-9, abs=1e-9), path
    elif isinstance(a, dict):
        assert isinstance(b, dict) and set(a) == set(b), path
        for k in a:
            _approx_equal(a[k], b[k], f"{path}.{k}")
    elif isinstance(a, list):
        assert isinstance(b, list) and len(a) == len(b), path
        for i, (x, y) in enumerate(zip(a, b)):
            _approx_equal(x, y, f"{path}[{i}]")
    else:
        assert a == b, path


def test_analyze_example_fixture_matches_pipeline(server, spark):
    body = json.load(open(EXAMPLE))
    status, got = _post(server, "/analyze", body)
    assert status == 200
    want = _roundtrip(analyze(spark, parse_analyze_request(body)))
    _approx_equal(got, want)
    corr = got["correlations"]
    assert corr  # response shape: reference app.py:211-248
    first = next(iter(corr.values()))
    assert set(first) >= {
        "type",
        "diagnostics",
        "autocorrelations",
        "partialAutocorrelations",
    }


def test_saturating_growth_electricity_fixture(server, spark):
    body = json.load(open(ELECTRICITY))
    status, got = _post(server, "/saturating-growth", body)
    assert status == 200
    want = _roundtrip(saturating_growth(spark, parse_analyze_request(body)))
    _approx_equal(got, want)
    for corr in got["correlations"].values():
        assert set(corr) == {"type", "predictions"}
        assert corr["type"]["growth"] in ("linear", "logistic")
        assert corr["type"]["bounds"]["min"] <= corr["type"]["bounds"]["max"]
        assert corr["predictions"]["historicalForecasts"]


def test_saturating_growth_single(server):
    body = json.load(open(ELECTRICITY))
    status, got = _post(server, "/saturating-growth/single", body)
    assert status == 200
    for corr in got["correlations"].values():
        assert set(corr) == {"type", "predictions"}
        hist = corr["predictions"]["historicalForecasts"]
        assert hist
        dates = [r["date"] for r in hist]
        assert corr["type"]["bounds"]["min"] == min(dates)
        assert corr["type"]["bounds"]["max"] == max(dates)


def test_concurrent_requests_share_one_session(server):
    """Two POSTs in flight at once — thread-per-request over one Spark."""
    import threading

    body = json.load(open(EXAMPLE))
    results = []

    def hit():
        results.append(_post(server, "/analyze", body)[0])

    threads = [threading.Thread(target=hit) for _ in range(2)]
    for t in threads:
        t.start()
    for t in threads:
        t.join(timeout=600)
    assert results == [200, 200]


def test_analyze_response_conforms_to_typed_models(server):
    """Both reference fixtures' /analyze responses validate against the
    typed response surface (reference responses.py:1-58)."""
    from temporal_retriever_spark.api.responses import (
        ResponseValidationError,
        validate_analytics_response,
    )

    for fixture in (EXAMPLE, ELECTRICITY):
        body = json.load(open(fixture))
        status, got = _post(server, "/analyze", body)
        assert status == 200
        model = validate_analytics_response(got)
        assert model.correlations
        for corr in model.correlations.values():
            assert corr.diagnostics.from_.unitsForecasted >= 1
            assert corr.diagnostics.to.unitsForecasted >= 1
            if corr.type == "prophet":
                assert corr.predictions is not None
                assert corr.predictions.futureForecasts
                assert corr.regressorCoefficients
    # and the validator actually rejects malformed payloads
    import pytest as _pytest

    with _pytest.raises(ResponseValidationError, match="units"):
        validate_analytics_response(
            {"correlations": {"c": {"type": "prophet", "diagnostics": {
                "units": "Q", "from": {}, "to": {}}}}}
        )


# ---- request lifecycle on in-repo bodies -----------------------------------

ROUTES = ("/analyze", "/saturating-growth", "/saturating-growth/single")
FORECASTS = (
    "forecast_linear_seasonal",
    "forecast_with_covariate",
    "forecast_changepoint",
    "forecast_covariate_changepoint",
)


def _small_body(**corr) -> dict:
    data = [
        {
            "date": f"2025-03-{day:02d} 10:00:00",
            "data": {"summary": {"amount": float(day % 5 + day), "units": day % 3}},
        }
        for day in range(1, 22)
    ]
    correlation = {
        "id": "c",
        "fromData": "orders",
        "fromIndex": "data.summary.units",
        "toData": "orders",
        "toIndex": "data.summary.amount",
        "unitsToForecast": 3,
        **corr,
    }
    return {
        "documents": {"orders": {"description": "orders", "data": data}},
        "analyticsOptions": {"correlations": [correlation]},
    }


def _persisted_rdds(spark) -> set[int]:
    return {int(k) for k in spark.sparkContext._jsc.getPersistentRDDs().keySet().toArray()}


def _new_persisted_rdds(spark, before: set[int]) -> set[int]:
    # a subset check: the context cleaner may drop an RDD an earlier test
    # left behind while this request runs
    return _persisted_rdds(spark) - before


@pytest.mark.parametrize("route", ROUTES)
@pytest.mark.parametrize(
    "leg",
    [
        {"toIndex": "data.summary.nothing"},  # path matches no observation
        {"toData": "unknown"},  # dataset absent from the documents
    ],
    ids=["index-matches-nothing", "unknown-dataset"],
)
def test_bad_leg_is_422_before_any_forecast(server, spark, monkeypatch, route, leg):
    import temporal_retriever_spark.pipeline as P

    calls = []
    for name in FORECASTS:
        monkeypatch.setattr(P, name, lambda *a, _n=name, **k: calls.append(_n))
    before = _persisted_rdds(spark)
    status, body = _post(server, route, _small_body(**leg))
    assert status == 422, body
    (err,) = body["detail"]
    assert "produced no observations" in err["msg"]
    assert err["type"] == "value_error"
    assert calls == []
    assert _new_persisted_rdds(spark, before) == set()


@pytest.mark.parametrize(
    "route,failing",
    [
        ("/analyze", "forecast_with_covariate"),
        ("/saturating-growth", "forecast_with_covariate"),
        ("/saturating-growth/single", "forecast_linear_seasonal"),
    ],
)
def test_request_releases_its_caches(server, spark, monkeypatch, route, failing):
    """A request adds nothing to the persisted-RDD set: neither a
    successful one nor one failing in its forecast (past the covariate
    checkpoint on the covariate routes)."""
    import temporal_retriever_spark.pipeline as P

    before = _persisted_rdds(spark)
    status, body = _post(server, route, _small_body())
    assert status == 200, body
    assert body["correlations"]["c"]["predictions"]["futureForecasts"]
    assert _new_persisted_rdds(spark, before) == set()

    def boom(*args, **kwargs):
        raise RuntimeError("injected forecast failure")

    monkeypatch.setattr(P, failing, boom)
    status, body = _post(server, route, _small_body())
    assert status == 500 and "injected forecast failure" in body["detail"]
    assert _new_persisted_rdds(spark, before) == set()
