"""End-to-end pipeline tests on the reference's own request fixtures
(read-only from /root/reference — de-facto integration fixtures,
SURVEY §5)."""

from __future__ import annotations

import json

import pytest

from temporal_retriever_spark.api.models import (
    Correlation,
    parse_analyze_request,
)
from temporal_retriever_spark.pipeline import (
    analyze,
    saturating_growth,
    saturating_growth_single,
)

EXAMPLE = "/root/reference/example-timestamp.json"
ELECTRICITY = "/root/reference/electricity_demand.json"


@pytest.fixture(scope="module")
def example_request():
    return parse_analyze_request(json.load(open(EXAMPLE)))


@pytest.fixture(scope="module")
def electricity_request():
    return parse_analyze_request(json.load(open(ELECTRICITY)))


def test_parse_example_request(example_request):
    req = example_request
    assert set(req.documents) == {"sales_order", "purchasing_order"}
    assert len(req.correlations) == 4
    c = req.correlations[0]
    assert c.from_index == "data.summary.totalWithTax"
    assert c.grain == "D" and c.aggregation == "sum"


def test_parse_electricity_request(electricity_request):
    req = electricity_request
    assert set(req.documents) == {"electricityDemand", "weatherReport"}
    assert len(req.correlations) == 3


def test_correlation_validation():
    with pytest.raises(ValueError):
        Correlation(
            id="x", from_data="a", from_index="i", to_data="b", to_index="j",
            type="mystery",
        )
    with pytest.raises(ValueError):
        Correlation(
            id="x", from_data="a", from_index="i", to_data="b", to_index="j",
            prediction_horizon=0,
        )
    # "min" grain accepted (reference enum said min but bucketer 500'd)
    Correlation(
        id="x", from_data="a", from_index="i", to_data="b", to_index="j",
        grain="min",
    )


def test_analyze_example_all_correlations(spark, example_request):
    # divergence-by-intent: ALL correlations processed (ref: app.py:250
    # returns after the first)
    out = analyze(spark, example_request, lags=5)
    assert set(out["correlations"]) == {c.id for c in example_request.correlations}
    first = out["correlations"]["correlation-0"]
    diag = first["diagnostics"]
    assert diag["units"] == "D"
    assert diag["from"]["data"] == "purchasing_order"
    assert diag["to"]["minDate"] is not None
    acf_to = first["autocorrelations"]["to"]["lags"]
    assert acf_to[0] == 1.0
    assert all(-1.000001 <= v <= 1.000001 for v in acf_to.values())
    pacf_to = first["partialAutocorrelations"]["to"]["lags"]
    assert pacf_to[0] == 1.0
    preds = first["predictions"]
    assert len(preds["historicalForecasts"]) > 0
    assert len(preds["futureForecasts"]) > 0
    rec = preds["futureForecasts"][0]
    # interval columns: the reference's Prophet response carries
    # prediction_lower_bound/prediction_upper_bound (app.py:190-199)
    assert {
        "date", "prediction", "prediction_lower_bound", "prediction_upper_bound"
    } <= set(rec)
    assert rec["prediction_lower_bound"] <= rec["prediction"]
    assert rec["prediction"] <= rec["prediction_upper_bound"]
    assert first["regressorCoefficients"][0]["coef"] is not None


def test_analyze_electricity_hourly(spark, electricity_request):
    # 5000 hourly observations x 3 correlations; check one correlation
    req = electricity_request
    small = type(req)(documents=req.documents, correlations=req.correlations[:1])
    out = analyze(spark, small, lags=3)
    cid = req.correlations[0].id
    c = out["correlations"][cid]
    # electricity fixture dates are "03-01-2015 01:00" day-first strings:
    # mixed-format fallback must parse them (T1)
    assert c["diagnostics"]["to"]["minDate"] is not None
    assert len(c["predictions"]["historicalForecasts"]) > 0


def test_saturating_growth_clamps(spark, example_request):
    req = example_request
    small = type(req)(documents=req.documents, correlations=req.correlations[:2])
    out = saturating_growth(spark, small)
    assert len(out["correlations"]) == 2
    for cid, c in out["correlations"].items():
        assert c["type"]["growth"] == "logistic"
        assert c["type"]["bounds"]["min"] <= c["type"]["bounds"]["max"]
        for rec in c["predictions"]["futureForecasts"]:
            assert rec["prediction"] >= 0.0  # floor default 0
            # clamped interval columns (app.py:336-352)
            assert rec["prediction_lower_bound"] >= 0.0
            assert rec["prediction_lower_bound"] <= rec["prediction_upper_bound"]


def test_analyze_changepoint_knob(spark, example_request):
    # a provided ChangePointPriorScale selects the piecewise trend path
    # (README DIVERGENCES #9); the run must still produce full responses
    import json

    raw = json.load(open(EXAMPLE))
    corr = raw["analyticsOptions"]["correlations"][0]
    corr["ChangePointPriorScale"] = 5.0
    raw["analyticsOptions"]["correlations"] = [corr]
    req = parse_analyze_request(raw)
    assert req.correlations[0].changepoint_prior_scale_provided
    out = analyze(spark, req, lags=3)
    c = out["correlations"][corr["id"]]
    preds = c["predictions"]
    assert len(preds["futureForecasts"]) > 0
    rec = preds["futureForecasts"][0]
    assert rec["prediction_lower_bound"] <= rec["prediction_upper_bound"]
    assert c["regressorCoefficients"][0]["coef"] is not None
    # default-path result for the same correlation differs: the
    # changepoint trend is a different model family
    base = analyze(spark, example_request, lags=3)
    rec0 = base["correlations"][corr["id"]]["predictions"]["futureForecasts"][0]
    assert rec0["prediction"] != pytest.approx(rec["prediction"], abs=1e-12)


def test_saturating_uncertainty_samples_zero_drops_bounds(spark, example_request):
    import json

    raw = json.load(open(EXAMPLE))
    corr = raw["analyticsOptions"]["correlations"][0]
    corr["ForecastingOptions"] = {"toIndex": {"uncertaintySamples": 0}}
    raw["analyticsOptions"]["correlations"] = [corr]
    req = parse_analyze_request(raw)
    assert req.correlations[0].forecast_options.uncertainty_samples == 0
    out = saturating_growth(spark, req)
    recs = out["correlations"][corr["id"]]["predictions"]["futureForecasts"]
    assert len(recs) > 0
    for rec in recs:
        assert "prediction_lower_bound" not in rec
        assert "prediction_upper_bound" not in rec
        assert "prediction" in rec


def test_uncertainty_samples_validation():
    from temporal_retriever_spark.api.models import ForecastOptions

    ForecastOptions(uncertainty_samples=0)  # Prophet's disable value: OK
    with pytest.raises(ValueError):
        ForecastOptions(uncertainty_samples=-1)
    with pytest.raises(ValueError):
        ForecastOptions(changepoint_prior_scale=0.0)


def test_saturating_growth_single(spark, example_request):
    leg = Correlation(
        id="single",
        from_data="sales_order",
        from_index="data.summary.totalWithTax",
        to_data="sales_order",
        to_index="data.summary.totalWithTax",
        grain="D",
        aggregation="sum",
        prediction_horizon=10,
    )
    req = type(example_request)(documents=example_request.documents, correlations=(leg,))
    out = saturating_growth_single(spark, req)["correlations"]["single"]["predictions"]
    assert len(out["futureForecasts"]) == 10
    assert all(r["prediction"] >= 0 for r in out["futureForecasts"])


def test_size_gated_partitioning(spark, example_request, monkeypatch):
    """Large requests must keep >1 partition (VERDICT r1 finding #1);
    small requests collapse to 1; results identical either way."""
    import temporal_retriever_spark.pipeline as P

    req = type(example_request)(
        documents=example_request.documents,
        correlations=example_request.correlations[:1],
    )
    small_out = analyze(spark, req, lags=3)

    df = spark.range(0, 1000).repartition(8).selectExpr("id", "id * 2 AS y")
    assert P._size_gated(df, n_input_rows=10**9).rdd.getNumPartitions() > 1
    df.unpersist()
    assert P._size_gated(df, n_input_rows=10).rdd.getNumPartitions() == 1
    df.unpersist()

    # force the "big request" branch and check both plan width and output
    monkeypatch.setattr(P, "SMALL_REQUEST_ROWS", 0)
    big_out = analyze(spark, req, lags=3)

    def approx_equal(a, b):
        # partition count changes FP reduction order; values agree to ~1e-9 rel
        if isinstance(a, dict):
            return set(a) == set(b) and all(approx_equal(a[k], b[k]) for k in a)
        if isinstance(a, (list, tuple)):
            return len(a) == len(b) and all(
                approx_equal(x, y) for x, y in zip(a, b)
            )
        if isinstance(a, float) and isinstance(b, float):
            import math

            return math.isclose(a, b, rel_tol=1e-6, abs_tol=1e-9)
        return a == b

    assert approx_equal(big_out, small_out)


def test_electricity_golden_accuracy(spark, electricity_request):
    """Prophet-parity close-out (W3-W5): the container ships no prophet
    wheel, so library-numerics parity is untestable here; instead the
    native deterministic backend is PINNED on the reference's own
    request fixture (electricity_demand.json — 5000 hourly Panama
    demand points, app.py:124-138's core forecast path). Golden
    tolerances, measured 2026-08 and pinned with headroom:

    * in-sample MAPE of the daily forecast vs the bucketed actuals
      ≤ 5% (measured 3.0%)
    * uncertainty-interval coverage of actuals ≥ 80% (measured 89.5%
      — Prophet's default 80% interval would cover ~80%)
    * bounds ordered on every record, and the run is bit-deterministic
      (re-run equality — the deliberate divergence from Prophet's MC
      sampling, README DIVERGENCES)
    """
    import pandas as pd

    raw = json.load(open(ELECTRICITY))
    req = electricity_request
    small = type(req)(documents=req.documents, correlations=req.correlations[:1])
    out = analyze(spark, small, lags=3)
    c = out["correlations"][req.correlations[0].id]
    hist = pd.DataFrame(c["predictions"]["historicalForecasts"])
    assert len(hist) > 150

    d = pd.DataFrame(raw["electricityDemand"]["data"])
    d["ds"] = pd.to_datetime(d["date"], format="%d-%m-%Y %H:%M").dt.date
    act = d.groupby("ds")["nat_demand"].sum().rename("y")
    joined = hist.set_index("date").join(act, how="inner")
    assert len(joined) > 150
    mape = float((abs(joined["prediction"] - joined["y"]) / joined["y"]).mean())
    assert mape <= 0.05, mape
    coverage = float(
        (
            (joined["y"] >= joined["prediction_lower_bound"])
            & (joined["y"] <= joined["prediction_upper_bound"])
        ).mean()
    )
    assert coverage >= 0.80, coverage
    for rec in c["predictions"]["futureForecasts"]:
        assert rec["prediction_lower_bound"] <= rec["prediction"]
        assert rec["prediction"] <= rec["prediction_upper_bound"]

    again = analyze(spark, small, lags=3)
    h2 = pd.DataFrame(
        again["correlations"][req.correlations[0].id]["predictions"]["historicalForecasts"]
    )
    assert (h2["prediction"].values == hist["prediction"].values).all()
