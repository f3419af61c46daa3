"""Pinned responses of the three forecasting routes on generated requests.

The request bodies are built here from a seeded generator in the
reference wire shape: named documents whose observations carry a
``date`` string plus nested ``data.summary.*`` numbers. Each body is
POSTed to a live server thread, and the JSON response is compared with
the one recorded in ``route_goldens.json`` (floats at rel 1e-9).

Regenerate the goldens only when a response is meant to change:

    python -m tests.test_route_goldens --record
"""

from __future__ import annotations

import datetime as dt
import json
import math
import pathlib
import random
import sys
import urllib.error
import urllib.request

import pytest

GOLDEN_PATH = pathlib.Path(__file__).with_name("route_goldens.json")
DATA_SEED = 20261017
DOCUMENTS = ("orders", "shipments", "returns")
OBSERVATIONS = 200
HISTORY_HOURS = 14 * 24
_START = dt.datetime(2025, 3, 1)


def _documents() -> dict:
    rng = random.Random(DATA_SEED)
    documents = {}
    for level, name in enumerate(DOCUMENTS, start=1):
        hours = sorted(rng.randrange(HISTORY_HOURS) for _ in range(OBSERVATIONS))
        data = []
        for h in hours:
            stamp = _START + dt.timedelta(hours=h, minutes=rng.randrange(60))
            daily = 1.0 + 0.4 * math.sin(2 * math.pi * (stamp.hour - 6) / 24)
            trend = 1.0 + h / HISTORY_HOURS
            data.append(
                {
                    "date": stamp.strftime("%Y-%m-%d %H:%M:%S"),
                    "data": {
                        "summary": {
                            "amount": round(
                                10.0 * level * daily * trend * rng.gammavariate(4, 0.25), 2
                            ),
                            "units": rng.randint(0, 4 + level),
                        }
                    },
                }
            )
        documents[name] = {"description": f"{name} events", "data": data}
    return documents


def _corr(cid: str, frm: str, to: str, index: str = "data.summary.amount", **extra) -> dict:
    from_data, _, from_index = frm.partition(":")
    to_data, _, to_index = to.partition(":")
    return {
        "id": cid,
        "fromData": from_data,
        "fromIndex": from_index or index,
        "toData": to_data,
        "toIndex": to_index or index,
        **extra,
    }


def _analyze_correlations() -> list[dict]:
    units = "data.summary.units"
    return [
        _corr("dailyProphet", "shipments", "orders", unitsToForecast=5),
        _corr(
            "dailyChangepoint",
            "returns",
            "orders",
            dataAggregationType="mean",
            ChangePointPriorScale=0.3,
        ),
        _corr(
            "hourlyProphet",
            f"shipments:{units}",
            f"orders:{units}",
            dataSetGranularity="H",
            unitsToForecast=12,
        ),
        _corr("hourlyGranger", "shipments", "returns", type="granger", dataSetGranularity="H"),
        _corr(
            "dailyStatistics",
            f"returns:{units}",
            f"orders:{units}",
            type="univariateStatistics",
            dataAggregationType="mean",
        ),
    ]


def _saturating_correlations() -> list[dict]:
    return [
        _corr(
            "cappedChangepoint",
            "shipments",
            "orders",
            unitsToForecast=4,
            ForecastingOptions={
                "fromIndex": {"caps": {"fromIndex": {"floor": 20.0, "ceiling": 0}}},
                "toIndex": {
                    "uncertaintySamples": 0,
                    "changepointPriorScale": 0.2,
                    "caps": {"toIndex": {"floor": 50.0, "ceiling": 400.0}},
                },
            },
        ),
        _corr(
            "hourlyLogistic",
            "returns:data.summary.units",
            "shipments:data.summary.units",
            dataSetGranularity="H",
            unitsToForecast=6,
        ),
    ]


def _single_correlations() -> list[dict]:
    return [
        _corr(
            "singleDaily",
            "shipments",
            "orders",
            unitsToForecast=7,
            ForecastingOptions={
                "toIndex": {"growth": "linear", "caps": {"toIndex": {"ceiling": 300.0}}}
            },
        ),
        _corr(
            "singleHourly",
            "orders",
            "shipments:data.summary.units",
            dataSetGranularity="H",
            dataAggregationType="max",
            unitsToForecast=8,
        ),
    ]


#: (golden name, route, correlations)
CASES = (
    ("analyze", "/analyze", _analyze_correlations),
    ("saturating", "/saturating-growth", _saturating_correlations),
    ("single", "/saturating-growth/single", _single_correlations),
)


def request_body(correlations) -> dict:
    return {"documents": _documents(), "analyticsOptions": {"correlations": correlations()}}


def post(base: str, path: str, body) -> tuple[int, object]:
    data = body if isinstance(body, bytes) else json.dumps(body).encode()
    req = urllib.request.Request(
        base + path, data=data, headers={"Content-Type": "application/json"}
    )
    try:
        with urllib.request.urlopen(req, timeout=600) as resp:
            return resp.status, json.loads(resp.read())
    except urllib.error.HTTPError as err:
        return err.code, json.loads(err.read())


def assert_close(got, want, path: str = "$") -> None:
    """Structural equality; floats at rel 1e-9 (abs 1e-9 near zero), NaN == NaN."""
    if isinstance(want, float) or isinstance(got, float):
        assert isinstance(got, (int, float)) and isinstance(want, (int, float)), path
        if math.isnan(want):
            assert math.isnan(got), path
        else:
            assert got == pytest.approx(want, rel=1e-9, abs=1e-9), path
    elif isinstance(want, dict):
        assert isinstance(got, dict) and set(got) == set(want), path
        for key in want:
            assert_close(got[key], want[key], f"{path}.{key}")
    elif isinstance(want, list):
        assert isinstance(got, list) and len(got) == len(want), path
        for i, (g, w) in enumerate(zip(got, want)):
            assert_close(g, w, f"{path}[{i}]")
    else:
        assert got == want, path


@pytest.fixture(scope="module")
def base_url(spark):
    from temporal_retriever_spark.server import serve_background

    srv, thread = serve_background(spark)
    yield f"http://127.0.0.1:{srv.server_address[1]}"
    srv.shutdown()
    thread.join(timeout=5)


@pytest.fixture(scope="module")
def goldens():
    return json.loads(GOLDEN_PATH.read_text())


@pytest.mark.parametrize("name,route,correlations", CASES, ids=[c[0] for c in CASES])
def test_route_matches_golden(base_url, goldens, name, route, correlations):
    status, got = post(base_url, route, request_body(correlations))
    assert status == 200, got
    assert_close(got, goldens[name])


def _record() -> None:
    from temporal_retriever_spark.server import serve_background
    from temporal_retriever_spark.session import get_spark

    srv, _ = serve_background(get_spark("route-goldens"))
    base = f"http://127.0.0.1:{srv.server_address[1]}"
    out = {}
    for name, route, correlations in CASES:
        status, got = post(base, route, request_body(correlations))
        assert status == 200, got
        out[name] = got
    srv.shutdown()
    GOLDEN_PATH.write_text(json.dumps(out, sort_keys=True) + "\n")


if __name__ == "__main__":
    if sys.argv[1:] != ["--record"]:
        sys.exit(__doc__)
    _record()
