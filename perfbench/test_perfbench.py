"""Tests of the benchmark itself (one test starts a local Spark session).

    python3 -m pytest perfbench/test_perfbench.py -q
"""

from __future__ import annotations

import copy
import datetime as dt
import json
import os
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [ROOT, HERE]

import checks  # noqa: E402
import gen  # noqa: E402
import run  # noqa: E402
import tracing  # noqa: E402


def _benchmark_json() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


# ---- generator --------------------------------------------------------------


def test_inputs_are_fixed_and_the_seed_orders_them():
    assert gen.analyze_bodies() == gen.analyze_bodies()
    assert len(set(gen.analyze_bodies())) == gen.BODY_POOL
    assert gen.request_schedule(3, 50) == gen.request_schedule(3, 50)
    assert gen.request_schedule(3, 50) != gen.request_schedule(4, 50)
    assert set(gen.request_schedule(3, 50)) == set(range(gen.BODY_POOL))


def test_analyze_body_has_the_reference_wire_shape():
    from temporal_retriever_spark.api.models import parse_analyze_request

    body = json.loads(gen.analyze_bodies()[0])
    assert set(body) == {"documents", "analyticsOptions"}
    assert set(body["documents"]) == set(gen.EVENT_DOCUMENTS)
    obs = body["documents"]["clicks"]["data"][0]
    assert set(obs) == {"date", "data"} and "value" in obs["data"]["summary"]
    request = parse_analyze_request(body)
    assert {c.type for c in request.correlations} == {
        "prophet",
        "granger",
        "univariateStatistics",
    }
    assert {c.grain for c in request.correlations} == {"D", "H"}
    n_obs = sum(len(d["data"]) for d in body["documents"].values())
    assert n_obs == gen.OBS_PER_DOCUMENT * len(gen.EVENT_DOCUMENTS)


def test_batch_tables_are_fixed():
    first, second = gen.batch_tables(), gen.batch_tables()
    assert first.keys() == second.keys()
    for name in first:
        assert first[name].equals(second[name]), name
        assert first[name].num_rows > 0
    for name, rows in gen.BATCH_ROWS.items():
        assert first[name].num_rows == rows == int(gen.SF01_ROWS[name] * gen.BATCH_SCALE)


# ---- output checks ----------------------------------------------------------

_RESPONSE = {
    "correlations": {
        "c": {
            "diagnostics": {"units": "D", "from": {"minDate": "2024-01-01T00:00:00"}},
            "autocorrelations": {"to": {"lags": {"0": 1.0, "1": 0.4187}}},
            "predictions": {
                "futureForecasts": [
                    {"date": "2024-01-31T00:00:00", "prediction": 1234.5678},
                    {"date": "2024-02-01T00:00:00", "prediction": float("nan")},
                ]
            },
        }
    }
}


def test_identical_responses_pass_and_float_noise_is_tolerated():
    got = copy.deepcopy(_RESPONSE)
    assert checks.mismatch(got, _RESPONSE) is None
    got["correlations"]["c"]["predictions"]["futureForecasts"][0]["prediction"] *= 1 + 1e-12
    assert checks.mismatch(got, _RESPONSE) is None


def test_a_response_perturbed_by_one_value_fails():
    got = copy.deepcopy(_RESPONSE)
    got["correlations"]["c"]["predictions"]["futureForecasts"][0]["prediction"] *= 1 + 1e-6
    assert "prediction" in checks.mismatch(got, _RESPONSE)
    got = copy.deepcopy(_RESPONSE)
    got["correlations"]["c"]["autocorrelations"]["to"]["lags"]["1"] = 0.4188
    assert checks.mismatch(got, _RESPONSE)
    got = copy.deepcopy(_RESPONSE)
    got["correlations"]["c"]["diagnostics"]["from"]["minDate"] = "2024-01-02T00:00:00"
    assert checks.mismatch(got, _RESPONSE)
    got = copy.deepcopy(_RESPONSE)
    got["correlations"]["c"]["predictions"]["futureForecasts"].pop()
    assert checks.mismatch(got, _RESPONSE)


def test_the_recorded_responses_cover_the_pool_and_catch_one_changed_value():
    golden = checks.load_golden(checks.GOLDEN_ANALYZE)
    assert set(golden) == {str(i) for i in range(gen.BODY_POOL)}
    for want in golden.values():
        assert checks.mismatch(copy.deepcopy(want), want) is None
        got = copy.deepcopy(want)
        corr = next(iter(got["correlations"].values()))
        forecast = corr["predictions"]["futureForecasts"][0]
        forecast["prediction"] *= 1 + 1e-6
        assert checks.mismatch(got, want)


def test_a_checksum_perturbed_by_one_value_fails():
    golden = checks.load_golden(checks.GOLDEN_BATCH)
    assert set(golden) == set(tracing.BATCH_CALLS.values())
    for name, want in golden.items():
        assert checks.checksum_mismatch(dict(want), want) is None
        for key, value in want.items():
            if value in (None, 0) or value != value:
                continue
            bumped = dict(want)
            bumped[key] = value + 1 if isinstance(value, int) else value * (1 + 1e-6)
            assert checks.checksum_mismatch(bumped, want), (name, key)


@pytest.fixture(scope="module")
def spark():
    from pyspark.sql import SparkSession

    session = (
        SparkSession.builder.master("local[1]")
        .appName("perfbench-tests")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    yield session
    session.stop()


def _checksum(spark, rows) -> dict:
    df = spark.createDataFrame(rows, "series_id string, ds date, yhat double")
    return df.select(*checks.checksum_columns(df)).first().asDict()


def test_floats_moved_to_other_keys_fail_the_checksum(spark):
    day = dt.date(2024, 1, 1)
    rows = [("a", day, 1.5), ("a", day + dt.timedelta(1), 2.25), ("b", day, -3.0)]
    want = _checksum(spark, rows)
    assert checks.checksum_mismatch(_checksum(spark, rows[::-1]), want) is None
    swapped = [(*rows[0][:2], rows[1][2]), (*rows[1][:2], rows[0][2]), rows[2]]
    found = checks.checksum_mismatch(_checksum(spark, swapped), want)
    assert found and found.startswith("key:yhat")


# ---- the emitted record -----------------------------------------------------


def _ops(workload: str, traced_every: int) -> list[dict]:
    ops = []
    for k in range(6):
        rec = {"k": k, "start": 10.0 * k, "end": 10.0 * k + 8.0}
        rec["traced"] = k % traced_every == 0
        if workload == "batch_operators":
            rec["pass"] = k // 2
            rec["query"] = sorted(tracing.BATCH_CALLS.values())[k]
            rec["traced"] = rec["pass"] % traced_every == 0
        if rec["traced"]:
            rec["layers"] = {name: 1.0 for name in {**tracing.PER_LAYER, **tracing.RECORD_ONLY}}
        ops.append(rec)
    return ops


def test_the_record_carries_every_named_metric_with_its_unit():
    spec = _benchmark_json()
    e2e_units = {m["name"]: m["unit"] for m in spec["end_to_end"]}
    layer_units = {m["name"]: m["unit"] for m in spec["per_layer"]}
    assert [w["name"] for w in spec["workloads"]] == list(run.WORKLOADS)
    for workload in run.WORKLOADS:
        out = {"ops": _ops(workload, 10**9), "spans": [], "clients": 1}
        metrics, _ = run.end_to_end(workload, out, setup_s=30.0, rss_mb=2000.0)
        line = run.result_line(metrics, attempted=6, failed=0)
        assert {k: v["unit"] for k, v in line["metrics"].items()} == e2e_units
        assert all(v["value"] > 0 for v in line["metrics"].values())

        out = {"ops": _ops(workload, 2), "spans": [], "clients": 1}
        layers = run.per_layer(workload, out)
        assert set(layers) == set(tracing.PER_LAYER) | set(tracing.RECORD_ONLY)
        line = run.result_line({k: layers[k] for k in tracing.PER_LAYER}, 6, 0)
        assert {k: v["unit"] for k, v in line["metrics"].items()} == layer_units
        assert set(line) == {"correct", "attempted", "failed", "metrics"}


def test_tail_latency_needs_ten_samples_beyond_it():
    assert run.tail_latency([1.0, 2.0, 3.0])["percentile"] == "max"
    tail = run.tail_latency([float(i) for i in range(1, 101)])
    assert tail["percentile"] == 90 and tail["value_s"] == 90.0


def test_self_time_subtracts_the_children_union():
    span = {"start": 0.0, "end": 10.0}
    children = [{"start": 1.0, "end": 4.0}, {"start": 3.0, "end": 5.0}, {"start": 9.0, "end": 12.0}]
    assert tracing.self_time(span, children) == 10.0 - 4.0 - 1.0


def test_job_layer_is_the_call_site_module():
    pkg = "/x/temporal_retriever_spark"
    assert tracing.job_layer(f"collect at {pkg}/pipeline.py:341") == "pipeline"
    assert tracing.job_layer(f"count at {pkg}/llm/dedup.py:10") == "llm"
    assert tracing.job_layer("save at /x/bench.py:220") == "bench"
    assert tracing.job_layer("collect at /x/__spark_entry__.py:9") == "entry"
    assert tracing.job_layer("localCheckpoint at NativeMethodAccessorImpl.java:0") == "other"
    assert tracing.parse_sql_duration("total (min, med, max)\n2.3 s (1 ms, 2 ms, 3 ms)") == 2.3
    assert tracing.parse_sql_duration("761 ms") == 0.761
