"""End-to-end analysis pipelines — the reference's three endpoints
re-expressed over the Spark engine.

Reference lifecycles (SURVEY §3): ``/analyze`` (app.py:96-250),
``/saturating-growth`` (app.py:490-559), ``/saturating-growth/single``
(app.py:562-609).

Documented divergences implemented as *intent* (SURVEY §3.1/§3.2):

* ALL correlations are processed — the reference returns from inside
  its loop (app.py:250) so only the first ever ran.
* ``grain``/``aggregation`` are actually applied on the saturating
  endpoints — the reference extracts then drops them (app.py:497-498).
* grain ``"min"`` is accepted (the reference's bucketer only matched
  "m", core.py:34, so the enum's "min" 500'd).
* day-grain bucketing works in the saturating path (the reference's
  bundle variant crashes, app.py:430).
* forecasts use the native deterministic linear+seasonal model
  (forecast.py) — Prophet isn't installed here; with prophet present
  ``backend="prophet"`` restores library parity.

The three routes run the reference's stages (parse, bucket, forecast
the covariate, coalesce its actuals, forecast the target) through one
request plan (``_request_plan``) and one forecast fold per (grain,
changepoint scale) (``_fold``): each stage is ONE Spark plan over the
union of series (series_id keyed), not a Python loop per correlation.
Each route only assembles its response dicts from the collected rows.
"""

from __future__ import annotations

import datetime as _dt
import math
from collections.abc import Callable, Iterator
from concurrent.futures import ThreadPoolExecutor
from contextlib import contextmanager
from functools import partial
from typing import Any

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from temporal_retriever_spark.aggregate import bucket_aggregate, normalize_aggregation
from temporal_retriever_spark.align import coalesce_actuals
from temporal_retriever_spark.api.models import AnalyzeRequest, Correlation
from temporal_retriever_spark.diagnostics import (
    acf_pacf,
    default_nlags,
    describe,
    granger_causality,
)
from temporal_retriever_spark.forecast import (
    forecast_changepoint,
    forecast_covariate_changepoint,
    forecast_linear_seasonal,
    forecast_with_covariate,
)
from temporal_retriever_spark.grains import normalize_grain
from temporal_retriever_spark.ingest import documents_df, extract_series

#: hinge count for the piecewise trend when ChangePointPriorScale is
#: provided (Prophet defaults to 25 over much longer histories; 10 keeps
#: the Gram aggregation at 90 sum columns)
N_CHANGEPOINTS = 10

ACF_DESCRIPTION = (
    "Autocorrelation measures the correlation between a time series and "
    "its lagged values over successive intervals; coefficients range "
    "from -1 to +1."
)
PACF_DESCRIPTION = (
    "Partial autocorrelation measures the direct correlation between a "
    "time series and a specific lagged value, removing the effect of "
    "intermediate lags."
)


# Request-latency vs throughput seam: a typical API request carries a
# few thousand observations, where 32-partition scheduling overhead
# dominates every stage — collapsing the prepared series to ONE
# partition is the fast path. But a request carrying millions of
# observations must NOT serialize stats/ACF/forecast onto one core, so
# past this threshold we keep the aggregation's natural partitioning
# and let AQE coalesce small shuffles. The gate is free: request
# documents are an in-memory dict, so the row count is known
# driver-side without a Spark action.
SMALL_REQUEST_ROWS = 100_000


def _request_rows(documents: dict) -> int:
    return sum(
        len(doc.get("data", []))
        for doc in documents.values()
        if isinstance(doc, dict)
    )


def _size_gated(prepared: DataFrame, n_input_rows: int) -> DataFrame:
    if n_input_rows <= SMALL_REQUEST_ROWS:
        prepared = prepared.coalesce(1)
    return prepared.cache()


_RENAMES = {
    "ds": "date",
    "yhat": "prediction",
    "yhat_lower": "prediction_lower_bound",
    "yhat_upper": "prediction_upper_bound",
}


def _leg(corr: Correlation, *, cov: bool) -> tuple[str, str, str, str]:
    """(dataset, index, grain, aggregation) of one leg of a correlation."""
    ds_name, idx = (
        (corr.from_data, corr.from_index) if cov else (corr.to_data, corr.to_index)
    )
    return (
        ds_name,
        idx,
        normalize_grain(corr.grain),
        normalize_aggregation(corr.aggregation),
    )


class _RequestPlan:
    """The prepared legs of one request, their stats, and the frames a
    fold builds from them.

    ``prepared`` holds every distinct (dataset, index, grain, agg) leg
    once, keyed by its leg series id, so e.g. three correlations
    against the same target prepare it once. ``stats`` comes from ONE
    action over it: per leg the date bounds, the observation count and
    the min/max/sum/sum-of-squares the A4 caps need.
    """

    def __init__(self, spark: SparkSession, request: AnalyzeRequest, *, covariate: bool):
        self.spark = spark
        self.covariate = covariate
        self.leg_sids: dict[tuple, str] = {}
        for corr in request.correlations:
            for cov in (True, False) if covariate else (False,):
                key = _leg(corr, cov=cov)
                self.leg_sids.setdefault(key, "{}.{}|{}|{}".format(*key))
        self.prepared: DataFrame | None = None
        self.stats: dict[str, Any] = {}
        self.checkpoints: list[DataFrame] = []

    def leg_sid(self, corr: Correlation, *, cov: bool) -> str:
        return self.leg_sids[_leg(corr, cov=cov)]

    def leg_stats(self, corr: Correlation, *, cov: bool):
        return self.stats[self.leg_sid(corr, cov=cov)]

    def units(self, corr: Correlation, *, cov: bool) -> int:
        """Forecast horizon: unitsToForecast, else the leg's bucket count (A5)."""
        return corr.prediction_horizon or self.leg_stats(corr, cov=cov)["n"]

    def rekey(self, corrs: list[Correlation], *, cov: bool) -> DataFrame:
        """prepared-series -> correlation-keyed frame via ONE broadcast
        mapping join (a union per correlation would grow the plan
        linearly with the correlation count)."""
        mapping = self.spark.createDataFrame(
            [(self.leg_sid(c, cov=cov), c.id) for c in corrs],
            "sid string, series_id string",
        )
        return (
            self.prepared.withColumnRenamed("series_id", "sid")
            .join(F.broadcast(mapping), on="sid")
            .select("series_id", "ds", "y")
        )

    def horizon(self, corrs: list[Correlation], *, cov: bool) -> Column:
        """Per-correlation horizons as one CASE over the rekeyed ids."""
        expr = None
        for c in corrs:
            clause = (F.col("series_id") == c.id, F.lit(int(self.units(c, cov=cov))))
            expr = F.when(*clause) if expr is None else expr.when(*clause)
        return expr.otherwise(F.col("n_buckets"))

    def caps(self, corr: Correlation, *, cov: bool) -> tuple[float, float]:
        """A4 floor/cap of one leg from the stats pass (app.py:354-364)."""
        opts = corr.forecast_options
        cap = (opts.from_cap if cov else opts.to_cap) if opts else None
        user_floor = cap.floor if cap else 0.0
        user_ceiling = cap.ceiling if cap else None
        s = self.leg_stats(corr, cov=cov)
        n = s["n"]
        std = 0.0
        if n > 1:
            var = (s["sumsq_y"] - s["sum_y"] * s["sum_y"] / float(n)) / (n - 1.0)
            std = math.sqrt(max(var, 0.0))
        floor = s["min_y"] if user_floor is None else min(user_floor, s["min_y"])
        default_ceiling = s["max_y"] + 3.0 * std
        # falsy check matches the reference's `ceiling or (max + 3*std)`
        # (app.py:359-364): an explicit 0 ceiling auto-derives the cap
        ceiling = (
            max(default_ceiling, s["max_y"])
            if not user_ceiling
            else max(user_ceiling, s["max_y"])
        )
        return float(floor), float(ceiling)

    def clamp(self, corrs: list[Correlation], col: Column, *, cov: bool) -> Column:
        """``col`` clamped into each correlation's leg envelope, one CASE."""
        expr = None
        for c in corrs:
            lo, hi = self.caps(c, cov=cov)
            clamped = F.least(F.greatest(col, F.lit(lo)), F.lit(hi))
            cond = F.col("series_id") == c.id
            expr = F.when(cond, clamped) if expr is None else expr.when(cond, clamped)
        return expr.otherwise(col)

    def checkpoint(self, df: DataFrame) -> DataFrame:
        """Eager localCheckpoint that the request releases when it ends."""
        df = df.localCheckpoint(eager=True)
        self.checkpoints.append(df)
        return df


@contextmanager
def _request_plan(
    spark: SparkSession, request: AnalyzeRequest, *, covariate: bool = True
) -> Iterator[_RequestPlan]:
    """Prepare the request's legs, read their stats, and release every
    cache and checkpoint of the request on exit, failed or not.

    A leg with no non-null observation (unknown dataset, or an index
    path that matches nothing) fails here, before any forecast job.
    """
    plan = _RequestPlan(spark, request, covariate=covariate)
    raw = documents_df(spark, request.documents)
    raw.cache()
    try:
        prepared = None
        for (ds_name, idx, g, a), sid in plan.leg_sids.items():
            series = extract_series(
                raw, dataset=ds_name, index_path=idx, series_id=sid
            )
            bucketed = bucket_aggregate(
                series.filter(F.col("ds").isNotNull()),
                grain=g,
                agg=a,
                series_cols=("series_id",),
            )
            prepared = (
                bucketed if prepared is None else prepared.unionByName(bucketed)
            )
        plan.prepared = _size_gated(prepared, _request_rows(request.documents))
        plan.stats = {
            r["series_id"]: r
            for r in plan.prepared.groupBy("series_id")
            .agg(
                F.min("ds").alias("min_ds"),
                F.max("ds").alias("max_ds"),
                F.count("y").alias("n"),
                F.min("y").alias("min_y"),
                F.max("y").alias("max_y"),
                F.sum("y").alias("sum_y"),
                F.sum(F.col("y") * F.col("y")).alias("sumsq_y"),
            )
            .collect()
        }
        for (ds_name, idx, _, _), sid in plan.leg_sids.items():
            if sid not in plan.stats or plan.stats[sid]["n"] == 0:
                raise ValueError(
                    f"dataset {ds_name!r} / index {idx!r} produced no observations"
                )
        yield plan
    finally:
        for df in plan.checkpoints:
            # a localCheckpoint's blocks belong to the RDD under its
            # LogicalRDD plan; nothing else unpersists them
            df._jdf.queryExecution().analyzed().rdd().unpersist(False)
        if plan.prepared is not None:
            plan.prepared.unpersist()
        raw.unpersist()


def _fold(
    plan: _RequestPlan,
    corrs: list[Correlation],
    grain: str,
    scale: float | None,
    *,
    saturating: bool,
) -> list:
    """ONE forecast plan for the correlations sharing (grain, changepoint
    scale); rows keyed by correlation id, sorted by (id, ds).

    Both legs are rekeyed to the correlation id, so each correlation
    keeps its own horizons (the reference forecasts each covariate with
    its correlation's horizon, app.py:122-134) and one call regresses
    every pairing. A provided scale selects the piecewise changepoint
    trend (README DIVERGENCES #9). The covariate's actuals override its
    predictions before the target consumes them (app.py:144-151,
    478-483). ``saturating`` clamps each leg into its own A4 envelope
    (W5). Without a covariate leg (``/saturating-growth/single``) the
    target forecasts alone with the linear trend.
    """

    def clamp(col: Column, *, cov: bool) -> Column:
        return plan.clamp(corrs, col, cov=cov) if saturating else col

    targets = plan.rekey(corrs, cov=False)
    tgt_horizon = plan.horizon(corrs, cov=False)
    if not plan.covariate:
        pred = forecast_linear_seasonal(targets, grain=grain, horizon=tgt_horizon)
    else:
        cov_hist = plan.rekey(corrs, cov=True)
        cov_horizon = plan.horizon(corrs, cov=True)
        if scale is None:
            cov_yhat = forecast_linear_seasonal(cov_hist, grain=grain, horizon=cov_horizon)
        else:
            cov_yhat = forecast_changepoint(
                cov_hist,
                grain=grain,
                horizon=cov_horizon,
                n_changepoints=N_CHANGEPOINTS,
                changepoint_prior_scale=scale,
                include_bounds=False,
            )
        cov_full = coalesce_actuals(
            cov_yhat.select("series_id", "ds", clamp(F.col("yhat"), cov=True).alias("cov")),
            cov_hist.select("series_id", "ds", "y"),
            on=("series_id", "ds"),
            pred_col="cov",
            out_col="cov",
        )
        # the covariate grid is referenced twice in the target plan;
        # truncating its (forecast sub-plan) lineage ~halves the cost.
        # The broadcast hint fixes the target joins' plan: the checkpoint
        # has no usable size estimate, so they would plan as sort-merge
        # joins that AQE turns into broadcasts at run time, and whether
        # the target side was shuffled by then (which reorders the rows
        # the target's sums add up, moving their last bits) depends on
        # which stage finished first.
        cov_full = F.broadcast(plan.checkpoint(cov_full))
        if scale is None:
            pred = forecast_with_covariate(
                targets, cov_full, grain=grain, horizon=tgt_horizon
            )
        else:
            pred = forecast_covariate_changepoint(
                targets,
                cov_full,
                grain=grain,
                horizon=tgt_horizon,
                n_changepoints=N_CHANGEPOINTS,
                changepoint_prior_scale=scale,
            )
    if saturating:
        # the reference's saturating response carries Prophet's interval
        # columns clamped into the same envelope (app.py:336-352)
        pred = pred.select(
            "series_id",
            "ds",
            *(
                clamp(F.col(c), cov=False).alias(c)
                for c in ("yhat", "yhat_lower", "yhat_upper")
            ),
        )
    return pred.orderBy("series_id", "ds").collect()


def _fold_groups(
    corrs, scale: Callable[[Correlation], float | None]
) -> dict[tuple[str, float | None], list[Correlation]]:
    """Correlations by fold key: (grain, changepoint scale or None)."""
    groups: dict[tuple[str, float | None], list[Correlation]] = {}
    for c in corrs:
        groups.setdefault((normalize_grain(c.grain), scale(c)), []).append(c)
    return groups


def _fan_out(calls: dict[Any, Callable[[], Any]]) -> dict[Any, Any]:
    """Run independent job chains from separate driver threads.

    The chains are Spark jobs over the cached ``prepared`` frame (the
    stats action materialized it), so the scheduler runs them
    simultaneously: the wall clock is the longest chain (the covariate
    forecast), not the sum, and plan construction (py4j-bound)
    overlaps with the other chains' execution.
    """
    with ThreadPoolExecutor(max_workers=max(len(calls), 1)) as pool:
        futures = {key: pool.submit(call) for key, call in calls.items()}
        return {key: f.result() for key, f in futures.items()}


def _no_bounds(corr: Correlation) -> bool:
    # Prophet's uncertainty_samples=0 omits interval columns; the
    # reference forwards the knob (app.py:124-131)
    opts = corr.forecast_options
    return opts is not None and opts.uncertainty_samples == 0


def _same_label(ds):
    return ds


def _predictions(
    rows, corr: Correlation, max_hist, *, no_bounds: bool, label=_same_label
) -> dict:
    """historical/future forecast records of one correlation (W7 + P3)."""
    dropped = {"series_id", "coef"} | (
        {"yhat_lower", "yhat_upper"} if no_bounds else set()
    )

    def record(row) -> dict:
        return {
            _RENAMES.get(k, k): label(v) if k == "ds" else v
            for k, v in row.asDict().items()
            if k not in dropped
        }

    rows_c = [r for r in rows if r["series_id"] == corr.id]
    return {
        "historicalForecasts": [record(r) for r in rows_c if r["ds"] <= max_hist],
        "futureForecasts": [record(r) for r in rows_c if r["ds"] > max_hist],
    }


def analyze(
    spark: SparkSession, request: AnalyzeRequest, *, lags: int | None = None
) -> dict:
    """``/analyze`` semantics: covariate-driven forecast per correlation.

    Returns {"correlations": {id: {diagnostics, autocorrelations,
    partialAutocorrelations, regressorCoefficients, predictions}}} —
    the reference's response shape (app.py:211-248, responses.py).
    """
    output: dict[str, Any] = {"correlations": {}}
    with _request_plan(spark, request) as plan:
        stats = plan.stats
        # ONE fused ACF+PACF job over all series: both derive from the
        # same lag-product sums, one window+agg emits both columns
        if lags is not None:
            k_by_sid = {sid: lags for sid in stats}
        else:
            k_by_sid = {sid: default_nlags(stats[sid]["n"]) for sid in stats}
        k_max = max(max(k_by_sid.values()), 1)

        def run_diagnostics() -> list:
            return acf_pacf(
                plan.prepared, lags=k_max, series_cols=("series_id",)
            ).collect()

        # granger correlations: aligned pairs, ONE grouped-UDF plan.
        # type="granger" is declared in the reference enum (app.py:33) but
        # never implemented there; semantics follow the notebook prototype
        # (Untitled.ipynb cell 12): detrended ssr F-tests per lag.
        granger_corrs = [c for c in request.correlations if c.type == "granger"]

        def run_granger() -> list:
            tgt = plan.rekey(granger_corrs, cov=False)
            cov_leg = plan.rekey(granger_corrs, cov=True).withColumnRenamed("y", "x")
            pair = tgt.join(cov_leg, on=["series_id", "ds"], how="inner")
            return granger_causality(
                pair, maxlag=14, series_cols=("series_id",)
            ).collect()

        # univariateStatistics correlations need quantile describes — one
        # extra plan only when such correlations exist
        stats_corrs = [
            c for c in request.correlations if c.type == "univariateStatistics"
        ]

        def run_describe() -> dict:
            wanted = {
                plan.leg_sid(c, cov=cov) for c in stats_corrs for cov in (True, False)
            }
            return {
                r["series_id"]: r
                for r in describe(
                    plan.prepared.filter(F.col("series_id").isin(list(wanted))),
                    series_cols=("series_id",),
                ).collect()
            }

        # /analyze reads the scale from the correlation's top-level
        # ChangePointPriorScale, and only when the request provides it
        folds = _fold_groups(
            [c for c in request.correlations if c.type == "prophet"],
            lambda c: (
                c.changepoint_prior_scale if c.changepoint_prior_scale_provided else None
            ),
        )
        calls: dict[Any, Callable[[], Any]] = {"diagnostics": run_diagnostics}
        for key, corrs in folds.items():
            calls[key] = partial(_fold, plan, corrs, *key, saturating=False)
        if granger_corrs:
            calls["granger"] = run_granger
        if stats_corrs:
            calls["describe"] = run_describe
        done = _fan_out(calls)
        diag_rows = done["diagnostics"]
        pred_rows = [r for key in folds for r in done[key]]
        granger_rows = done.get("granger", [])
        describe_by_sid = done.get("describe", {})

        # ---- assembly (driver-side, no further actions) ------------------
        def lags_for(sid, col, kk):
            # constant series => zero variance => NULL acf; surface NaN
            # like statsmodels rather than crashing on float(None)
            return {
                "lags": {
                    int(r["lag"]): (
                        float(r[col]) if r[col] is not None else float("nan")
                    )
                    for r in sorted(diag_rows, key=lambda r: r["lag"])
                    if r["series_id"] == sid and r["lag"] <= kk
                }
            }

        def describe_dict(sid: str) -> dict:
            r = describe_by_sid.get(sid)
            if r is None:
                return {}
            return {
                key: r[key]
                for key in ("n", "mean", "std", "min", "q25", "median", "q75", "max")
            }

        for corr in request.correlations:
            cov_sid = plan.leg_sid(corr, cov=True)
            tgt_sid = plan.leg_sid(corr, cov=False)
            cov_stats, tgt_stats = stats[cov_sid], stats[tgt_sid]
            entry: dict[str, Any] = {
                # reference seeds each correlation with its type (app.py:100)
                "type": corr.type,
                "diagnostics": {
                    "units": corr.grain,
                    "from": {
                        "data": corr.from_data,
                        "index": corr.from_index,
                        "minDate": cov_stats["min_ds"],
                        "maxDate": cov_stats["max_ds"],
                        "unitsForecasted": plan.units(corr, cov=True),
                    },
                    "to": {
                        "data": corr.to_data,
                        "index": corr.to_index,
                        "minDate": tgt_stats["min_ds"],
                        "maxDate": tgt_stats["max_ds"],
                        "unitsForecasted": plan.units(corr, cov=False),
                    },
                },
                "autocorrelations": {
                    "description": ACF_DESCRIPTION,
                    "from": lags_for(cov_sid, "acf", k_by_sid[cov_sid]),
                    "to": lags_for(tgt_sid, "acf", k_by_sid[tgt_sid]),
                },
                "partialAutocorrelations": {
                    "description": PACF_DESCRIPTION,
                    "from": lags_for(cov_sid, "pacf", k_by_sid[cov_sid]),
                    "to": lags_for(tgt_sid, "pacf", k_by_sid[tgt_sid]),
                },
            }
            if corr.type == "prophet":
                coef = next(
                    (r["coef"] for r in pred_rows if r["series_id"] == corr.id), None
                )
                entry["regressorCoefficients"] = [
                    {"regressor": f"{corr.from_data}.{corr.from_index}", "coef": coef}
                ]
                entry["predictions"] = _predictions(
                    pred_rows, corr, tgt_stats["max_ds"], no_bounds=_no_bounds(corr)
                )
            elif corr.type == "granger":
                rows_c = [r for r in granger_rows if r["series_id"] == corr.id]
                entry["grangerCausality"] = [
                    {
                        "lag": r["lag"],
                        "fStat": r["f_stat"],
                        "pValue": r["p_value"],
                        "dfNum": r["df_num"],
                        "dfDen": r["df_den"],
                        "nObs": r["n_obs"],
                    }
                    for r in sorted(rows_c, key=lambda r: r["lag"])
                ]
            else:  # univariateStatistics
                entry["univariateStatistics"] = {
                    "from": describe_dict(cov_sid),
                    "to": describe_dict(tgt_sid),
                }
            output["correlations"][corr.id] = entry
    return output


def _calendar_label(ds):
    """Date label of a calendar-grain bucket (grains.bucket_expr)."""
    return ds.date() if isinstance(ds, _dt.datetime) else ds


def _saturating(spark: SparkSession, request: AnalyzeRequest, *, single: bool) -> dict:
    """``/saturating-growth`` and ``/saturating-growth/single``
    (app.py:490-609): every leg clamped into its own A4 envelope, the
    response wrapped with the growth mode and the target's observed
    date bounds (app.py:594-607)."""

    def scale(c: Correlation) -> float | None:
        # the saturating route reads the scale from
        # ForecastingOptions.toIndex.changepointPriorScale; /single always
        # fits the linear trend
        o = c.forecast_options
        if single or o is None or not o.changepoint_prior_scale_provided:
            return None
        return o.changepoint_prior_scale

    output: dict[str, Any] = {"correlations": {}}
    with _request_plan(spark, request, covariate=not single) as plan:
        folds = _fold_groups(request.correlations, scale)
        done = _fan_out(
            {
                key: partial(_fold, plan, corrs, *key, saturating=True)
                for key, corrs in folds.items()
            }
        )
        pred_rows = [r for rows in done.values() for r in rows]
        for corr in request.correlations:
            tgt_stats = plan.leg_stats(corr, cov=False)
            # /single keeps date labels on calendar grains even when the
            # request mixes in clock grains, which widen the shared
            # prepared frame's ds to timestamps; it also keeps its bounds
            # whatever uncertaintySamples says
            label = (
                _calendar_label
                if single and normalize_grain(corr.grain) in ("D", "W", "M")
                else _same_label
            )
            opts = corr.forecast_options
            output["correlations"][corr.id] = {
                "type": {
                    "model": corr.type,
                    "growth": opts.growth if opts is not None else "logistic",
                    "bounds": {
                        "min": label(tgt_stats["min_ds"]),
                        "max": label(tgt_stats["max_ds"]),
                    },
                },
                "predictions": _predictions(
                    pred_rows,
                    corr,
                    tgt_stats["max_ds"],
                    no_bounds=not single and _no_bounds(corr),
                    label=label,
                ),
            }
    return output


def saturating_growth(spark: SparkSession, request: AnalyzeRequest) -> dict:
    """``/saturating-growth`` (app.py:490-559), intent version: covariate
    and target both forecast with floor/cap clamping (W5)."""
    return _saturating(spark, request, single=False)


def saturating_growth_single(spark: SparkSession, request: AnalyzeRequest) -> dict:
    """``/saturating-growth/single`` (app.py:562-609): the target leg only
    (toData/toIndex and the toIndex caps), no covariate."""
    return _saturating(spark, request, single=True)
