"""Forecasting: W3-W9 re-expressed Spark-first.

Reference: Prophet fits per series — univariate (app.py:124-138, bundle
app.py:442-487), saturating logistic growth with floor/cap columns
(app.py:442-453, 470-472), extra regressor (app.py:171-199), regressor
coefficients (app.py:241-243), quantiles declared at app.py:54-58.

Two backends:

* **native** (default, deterministic, 100-TB path): additive
  trend+seasonality model fit with *relational algebra only* —

      yhat(t) = a + b·t + seasonal_mean(key(t))        [+ c·x(t)]

  slope/intercept per series via ``regr_slope``/``regr_intercept``
  (one shuffle), seasonal component = per-(series, seasonal-key) mean
  of detrended residuals (one shuffle), uncertainty = exact empirical
  quantiles of the de-seasonalized residuals (reference W9 computes
  ``np.quantile`` over sample paths, Untitled.ipynb cell 13; ours are
  residual quantiles — deterministic). Every stage is a DataFrame op:
  Catalyst broadcasts the tiny per-series fit frames, and nothing
  leaves the JVM. Fully DuckDB-oracle-able.

* **prophet** (optional, parity path): grouped pandas UDF, one Prophet
  fit per series — the reference's exact library. Gated behind an
  import-try; raises a clear error when prophet isn't installed.

Saturating growth (W5): the native model clamps predictions into
[floor, cap] (the reference's logistic caps bound the trajectory;
clamping is the deterministic analog — divergence documented in
README DIVERGENCES).
"""

from __future__ import annotations

import math
from typing import Iterable

import pandas as pd
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from temporal_retriever_spark.aggregate import date_bounds, floor_ceiling
from temporal_retriever_spark.align import future_grid
from temporal_retriever_spark.grains import normalize_grain

#: grain -> seasonal key expression (None = no seasonality at that grain)
_SEASONAL_KEYS = {
    "D": lambda c: F.dayofweek(c),
    "W": lambda c: F.lit(0),
    "M": lambda c: F.month(c),
    "H": lambda c: F.hour(c),
    "min": lambda c: F.hour(c),
}


def _time_index(col: Column) -> Column:
    """Continuous time regressor: fractional epoch days (UTC)."""
    return F.unix_timestamp(col.cast("timestamp")) / F.lit(86400.0)


def seasonal_key_expr(col: Column | str, grain: str) -> Column:
    col = F.col(col) if isinstance(col, str) else col
    return _SEASONAL_KEYS[normalize_grain(grain)](col)


def quantile_col_name(q: float) -> str:
    """0.05 -> 'q05', 0.5 -> 'q50', 0.975 -> 'q97_5'."""
    pct = q * 100
    if abs(pct - round(pct)) < 1e-9:
        return f"q{int(round(pct)):02d}"
    return ("q%g" % pct).replace(".", "_")


def fit_linear_seasonal(
    df: DataFrame,
    *,
    grain: str,
    series_cols: Iterable[str] = ("series_id",),
    ts_col: str = "ds",
    value_col: str = "y",
    quantiles: tuple[float, ...] = (0.05, 0.5, 0.95),
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """Fit the native model; returns (trend, seasonal, residual_q) frames.

    trend:      series, my (mean y), mt (mean t), b (slope), max_ds, n_buckets
                — centered form: yhat_trend(t) = my + b·(t − mt)
    seasonal:   series, skey, s_mean
    residual_q: series, q05, q50, q95  (de-seasonalized residual quantiles)

    Degenerate series (single bucket / zero time variance) get slope 0
    and intercept = mean(y).
    """
    series_cols = list(series_cols)
    t = _time_index(F.col(ts_col))
    hist = df.withColumn("_t", t).withColumn(
        "_skey", seasonal_key_expr(ts_col, grain)
    )
    # OLS from explicit sums rather than regr_slope/regr_intercept: the
    # arithmetic (sums -> closed form) is reproducible bit-for-bit across
    # engines and cluster re-runs, which the reference-style oracle checks
    # rely on; regr_* use engine-specific incremental update formulas.
    # r10 (VERDICT r9 item 4): the Gram sums fold over a SORTED
    # collected array instead of F.sum partials — partial-sum merge
    # order follows task scheduling, and the resulting last-ulp drift
    # flipped 6-decimal grid values on conformal_daily /
    # interval_scorecard across runs. collect_list partials concatenate
    # in arbitrary order too, but sort_array then fixes one (t, y)
    # order, so the sequential fold is hash-stable at ANY partitioning.
    # Plan shape is unchanged (one hash aggregation, same exchange);
    # per-series arrays are bucket-sized (daily ≈ hundreds of rows).
    # Null handling mirrors the old sums exactly: a null product/term
    # contributes +0.0 (IEEE identity) where SUM skipped the row, and
    # n_buckets still counts non-null y only.
    y = F.col(value_col)
    pairs = F.sort_array(
        F.collect_list(
            F.struct(F.col("_t").alias("t"), y.cast("double").alias("y"))
        )
    )

    def _fold(term):
        return F.aggregate(
            F.col("_p"),
            F.lit(0.0),
            lambda acc, r: acc + F.coalesce(term(r), F.lit(0.0)),
        )

    sums = (
        hist.groupBy(*series_cols)
        .agg(
            pairs.alias("_p"),
            F.count(value_col).alias("n_buckets"),
            F.max(ts_col).alias("max_ds"),
        )
        .select(
            *series_cols,
            _fold(lambda r: r["t"] * r["y"]).alias("_sty"),
            _fold(lambda r: r["t"]).alias("_st"),
            _fold(lambda r: r["y"]).alias("_sy"),
            _fold(lambda r: r["t"] * r["t"]).alias("_stt"),
            "n_buckets",
            "max_ds",
        )
    )
    n = F.col("n_buckets").cast("double")
    den = F.col("_stt") - F.col("_st") * F.col("_st") / n
    num = F.col("_sty") - F.col("_st") * F.col("_sy") / n
    b = F.when(den == 0, F.lit(0.0)).otherwise(num / den)
    # centered parameterization yhat = my + b·(t − mt): epoch-day t is
    # ~2e4, so the uncentered intercept a = my − b·mt cancels
    # catastrophically and amplifies last-ulp noise ~1e6×
    trend = sums.select(
        *series_cols,
        b.alias("b"),
        (F.col("_sy") / n).alias("my"),
        (F.col("_st") / n).alias("mt"),
        "max_ds",
        "n_buckets",
    )
    # ONE traversal for seasonal means AND residual quantiles: the
    # window shuffle hash-partitions on (series, skey), the seasonal
    # groupBy reuses that partitioning with no exchange, and the
    # quantile subplan shares the shuffle via Catalyst ReuseExchange —
    # versus the former seasonal-agg + broadcast-join-back second pass.
    # s_mean = sum/count (not F.avg) keeps the arithmetic identical to
    # the oracle SQL's SUM(r)/COUNT(r). The explicit ds-ordered
    # unbounded frame fixes the accumulation order (same hash-stability
    # argument as the Gram sums above; an unordered window sums in
    # arrival order).
    skey_window = (
        Window.partitionBy(*series_cols, "_skey")
        .orderBy(F.col("_t").asc())
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    )
    with_resid = (
        hist.join(F.broadcast(trend), on=series_cols)
        .withColumn(
            "_resid",
            F.col(value_col)
            - (F.col("my") + F.col("b") * (F.col("_t") - F.col("mt"))),
        )
        .withColumn(
            "_s_mean",
            F.sum("_resid").over(skey_window)
            / F.count("_resid").over(skey_window).cast("double"),
        )
    )
    seasonal = with_resid.groupBy(*series_cols, "_skey").agg(
        F.first("_s_mean").alias("s_mean")
    )
    deseason = with_resid.withColumn(
        "_resid2", F.col("_resid") - F.col("_s_mean")
    )
    qarr = F.percentile(
        "_resid2", F.array(*[F.lit(float(q)) for q in quantiles])
    )
    residual_q = deseason.groupBy(*series_cols).agg(
        *[qarr[i].alias(quantile_col_name(q)) for i, q in enumerate(quantiles)]
    )
    return trend, seasonal, residual_q


def forecast_linear_seasonal(
    df: DataFrame,
    *,
    grain: str,
    horizon: int | None | Column = None,
    series_cols: Iterable[str] = ("series_id",),
    ts_col: str = "ds",
    value_col: str = "y",
    saturating: bool = False,
    user_floor: float | None = 0.0,
    user_ceiling: float | None = None,
    include_history: bool = True,
) -> DataFrame:
    """W3/W5/W6/W9: full prediction frame over history ∪ future grid.

    Output: series, ds, yhat, yhat_lower, yhat_upper.

    ``horizon=None`` applies the reference default: horizon = number of
    history buckets (app.py:91), per series via the A5 count. A Column
    horizon is evaluated against the per-series trend frame (columns:
    series cols, ``n_buckets``) — lets callers give each series its own
    horizon in one plan. ``saturating=True`` clamps into the A4
    floor/cap envelope (W5).
    """
    series_cols = list(series_cols)
    trend, seasonal, residual_q = fit_linear_seasonal(
        df, grain=grain, series_cols=series_cols, ts_col=ts_col, value_col=value_col
    )
    if isinstance(horizon, Column):
        horizon_col = horizon
    elif horizon is not None:
        horizon_col = F.lit(int(horizon))
    else:
        horizon_col = F.col("n_buckets")
    grid = future_grid(
        trend,
        grain=grain,
        horizon=horizon_col,
        series_cols=series_cols,
        max_col="max_ds",
    )
    ds_type = dict(df.dtypes)[ts_col]
    grid = grid.select(*series_cols, F.col(ts_col).cast(ds_type).alias(ts_col))
    if include_history:
        grid = df.select(*series_cols, ts_col).unionByName(grid)
    pred = (
        grid.withColumn("_t", _time_index(F.col(ts_col)))
        .withColumn("_skey", seasonal_key_expr(ts_col, grain))
        .join(F.broadcast(trend.drop("max_ds", "n_buckets")), on=series_cols)
        .join(F.broadcast(seasonal), on=[*series_cols, "_skey"], how="left")
        .join(F.broadcast(residual_q), on=series_cols, how="left")
    )
    base = (
        F.col("my")
        + F.col("b") * (F.col("_t") - F.col("mt"))
        + F.coalesce(F.col("s_mean"), F.lit(0.0))
    )
    yhat = base
    lower = base + F.coalesce(F.col("q05"), F.lit(0.0))
    upper = base + F.coalesce(F.col("q95"), F.lit(0.0))
    if saturating:
        caps = floor_ceiling(
            df,
            value_col=value_col,
            series_cols=series_cols,
            user_floor=user_floor,
            user_ceiling=user_ceiling,
        ).select(*series_cols, "floor", "cap")
        pred = pred.join(F.broadcast(caps), on=series_cols)
        clamp = lambda c: F.least(F.greatest(c, F.col("floor")), F.col("cap"))
        yhat, lower, upper = clamp(yhat), clamp(lower), clamp(upper)
    return pred.select(
        *series_cols,
        ts_col,
        yhat.alias("yhat"),
        lower.alias("yhat_lower"),
        upper.alias("yhat_upper"),
    )


def forecast_with_covariate(
    target: DataFrame,
    covariate_pred: DataFrame,
    *,
    grain: str,
    horizon: int | None | Column = None,
    series_cols: Iterable[str] = ("series_id",),
    ts_col: str = "ds",
    value_col: str = "y",
    cov_col: str = "cov",
    materialize_covariate: bool = False,
    include_bounds: bool = True,
    quantiles: tuple[float, float] = (0.05, 0.95),
) -> DataFrame:
    """W4: forecast the target with an extra regressor.

    Native analog of Prophet ``add_regressor`` (app.py:171-178): fit

        y(t) = a + b·t + c·x(t) + seasonal_mean(key(t))

    where c comes from the OLS partial fit of the detrended target on
    the detrended covariate (single-regressor exact solution via
    ``regr_slope`` on residuals). ``covariate_pred`` must cover the
    future grid (J3: the reference inner-joins future × covariate
    predictions, app.py:180-188) with column ``cov_col``.

    Output: series, ds, yhat, yhat_lower, yhat_upper, plus ``coef``
    the regressor coefficient (W8, reference regressor_coefficients
    app.py:241-243). The bounds are empirical residual quantiles of
    the *full* model residual (trend + covariate effect + seasonal),
    the same uncertainty analog ``fit_linear_seasonal`` uses — the
    reference's Prophet path emits sampled ``yhat_lower/upper``
    (app.py:190-199); ours are the deterministic quantile-band analog.
    ``include_bounds=False`` restores the bare yhat frame (Prophet
    ``uncertainty_samples=0`` semantics: no interval columns).

    ``materialize_covariate=True`` localCheckpoints the covariate frame
    first: it is referenced twice in the plan (history join + future
    grid join), and when it is itself a forecast sub-plan, truncating
    the lineage roughly halves execution.
    """
    series_cols = list(series_cols)
    if materialize_covariate:
        covariate_pred = covariate_pred.localCheckpoint(eager=True)
    joined = target.join(
        covariate_pred.select(*series_cols, ts_col, cov_col),
        on=[*series_cols, ts_col],
        how="inner",
    )
    t = _time_index(F.col(ts_col))
    hist = joined.withColumn("_t", t)

    # Frisch-Waugh partial regression from ONE moments aggregation.
    # The detrended-residual regression coef expands algebraically into
    # centered raw moments (Σ_rx·ry = Sxy_c − by·Sxt_c − bx·Syt_c +
    # bx·by·Stt_c, Σ_rx² = Sxx_c − 2bx·Sxt_c + bx²·Stt_c), so the fit
    # needs a single traversal of history instead of the former
    # two-pass fit (trend slopes, then a residual re-scan for the
    # coef). The oracle SQL mirrors this exact expression tree.
    y, x, tt = F.col(value_col), F.col(cov_col), F.col("_t")
    moments = hist.groupBy(*series_cols).agg(
        F.count(value_col).alias("n_buckets"),
        F.sum("_t").alias("_st"),
        F.sum(value_col).alias("_sy"),
        F.sum(cov_col).alias("_sx"),
        F.sum(tt * tt).alias("_stt"),
        F.sum(tt * y).alias("_sty"),
        F.sum(tt * x).alias("_stx"),
        F.sum(x * x).alias("_sxx"),
        F.sum(x * y).alias("_sxy"),
        F.max(ts_col).alias("max_ds"),
    )
    n = F.col("n_buckets").cast("double")
    stt_c = F.col("_stt") - F.col("_st") * F.col("_st") / n
    by = F.when(stt_c == 0, F.lit(0.0)).otherwise(
        (F.col("_sty") - F.col("_st") * F.col("_sy") / n) / stt_c
    )
    bx = F.when(stt_c == 0, F.lit(0.0)).otherwise(
        (F.col("_stx") - F.col("_st") * F.col("_sx") / n) / stt_c
    )
    sxy_c = F.col("_sxy") - F.col("_sx") * F.col("_sy") / n
    sxt_c = F.col("_stx") - F.col("_sx") * F.col("_st") / n
    syt_c = F.col("_sty") - F.col("_sy") * F.col("_st") / n
    coef_num = sxy_c - by * sxt_c - bx * syt_c + bx * by * stt_c
    coef_den = sxx_c = (
        F.col("_sxx") - F.col("_sx") * F.col("_sx") / n
    ) - 2 * bx * sxt_c + bx * bx * stt_c
    params = moments.select(
        *series_cols,
        by.alias("by"),
        bx.alias("bx"),
        (F.col("_sy") / n).alias("my"),
        (F.col("_sx") / n).alias("mx"),
        (F.col("_st") / n).alias("mt"),
        F.when(coef_den == 0, F.lit(0.0))
        .otherwise(coef_num / coef_den)
        .alias("coef"),
        "max_ds",
        "n_buckets",
    )
    # seasonal on the residual after trend + covariate effect; the
    # (series, skey) window shuffle serves both the seasonal means and
    # the residual quantiles (ReuseExchange), one traversal not two
    grain_key = lambda df_: df_.withColumn("_skey", seasonal_key_expr(ts_col, grain))
    skey_window = Window.partitionBy(*series_cols, "_skey")
    full_resid = grain_key(
        hist.join(F.broadcast(params), on=series_cols).withColumn(
            "_r",
            F.col(value_col)
            - (
                F.col("my")
                + F.col("by") * (F.col("_t") - F.col("mt"))
                + F.col("coef")
                * (F.col(cov_col) - (F.col("mx") + F.col("bx") * (F.col("_t") - F.col("mt"))))
            ),
        )
    ).withColumn(
        "_s_mean",
        F.sum("_r").over(skey_window)
        / F.count("_r").over(skey_window).cast("double"),
    )
    seasonal = full_resid.groupBy(*series_cols, "_skey").agg(
        F.first("_s_mean").alias("s_mean")
    )
    residual_q = None
    if include_bounds:
        lo_q, hi_q = quantiles
        deseason = full_resid.withColumn("_r2", F.col("_r") - F.col("_s_mean"))
        qarr = F.percentile(
            "_r2", F.array(F.lit(float(lo_q)), F.lit(float(hi_q)))
        )
        residual_q = deseason.groupBy(*series_cols).agg(
            qarr[0].alias("_qlo"), qarr[1].alias("_qhi")
        )
    if isinstance(horizon, Column):
        horizon_col = horizon
    elif horizon is not None:
        horizon_col = F.lit(int(horizon))
    else:
        horizon_col = F.col("n_buckets")
    grid = future_grid(
        params,
        grain=grain,
        horizon=horizon_col,
        series_cols=series_cols,
        max_col="max_ds",
    )
    ds_type = dict(target.dtypes)[ts_col]
    grid = grid.select(*series_cols, F.col(ts_col).cast(ds_type).alias(ts_col))
    all_ds = target.select(*series_cols, ts_col).unionByName(grid)
    # J3: future grid needs covariate values -> inner join vs cov preds
    with_cov = all_ds.join(
        covariate_pred.select(*series_cols, ts_col, cov_col),
        on=[*series_cols, ts_col],
        how="inner",
    )
    pred = (
        grain_key(with_cov.withColumn("_t", t))
        .join(F.broadcast(params.drop("max_ds", "n_buckets")), on=series_cols)
        .join(F.broadcast(seasonal), on=[*series_cols, "_skey"], how="left")
    )
    yhat = (
        F.col("my")
        + F.col("by") * (F.col("_t") - F.col("mt"))
        + F.col("coef")
        * (F.col(cov_col) - (F.col("mx") + F.col("bx") * (F.col("_t") - F.col("mt"))))
        + F.coalesce(F.col("s_mean"), F.lit(0.0))
    )
    if not include_bounds:
        return pred.select(
            *series_cols, ts_col, yhat.alias("yhat"), F.col("coef").alias("coef")
        )
    pred = pred.join(F.broadcast(residual_q), on=series_cols, how="left")
    return pred.select(
        *series_cols,
        ts_col,
        yhat.alias("yhat"),
        (yhat + F.coalesce(F.col("_qlo"), F.lit(0.0))).alias("yhat_lower"),
        (yhat + F.coalesce(F.col("_qhi"), F.lit(0.0))).alias("yhat_upper"),
        F.col("coef").alias("coef"),
    )


def forecast_quantiles(
    df: DataFrame,
    *,
    grain: str,
    horizon: int | None = None,
    quantiles: tuple[float, ...] = (0.05, 0.1, 0.25, 0.5, 0.75, 0.9, 0.95),
    series_cols: Iterable[str] = ("series_id",),
    ts_col: str = "ds",
    value_col: str = "y",
    include_history: bool = True,
) -> DataFrame:
    """W9: full quantile forecast — the reference's declared-but-unused
    ``predictionQuantiles`` surface (app.py:54-58; implemented in
    Untitled.ipynb cell 13 as np.quantile over sample paths).

    Deterministic analog: quantile q of the forecast distribution =
    yhat + (exact empirical quantile q of the de-seasonalized
    residuals). Output: series, ds, yhat, plus one column per quantile
    (``q05``...``q95``).
    """
    series_cols = list(series_cols)
    trend, seasonal, residual_q = fit_linear_seasonal(
        df,
        grain=grain,
        series_cols=series_cols,
        ts_col=ts_col,
        value_col=value_col,
        quantiles=quantiles,
    )
    horizon_col = F.lit(int(horizon)) if horizon is not None else F.col("n_buckets")
    grid = future_grid(
        trend, grain=grain, horizon=horizon_col, series_cols=series_cols,
        max_col="max_ds",
    )
    ds_type = dict(df.dtypes)[ts_col]
    grid = grid.select(*series_cols, F.col(ts_col).cast(ds_type).alias(ts_col))
    if include_history:
        grid = df.select(*series_cols, ts_col).unionByName(grid)
    pred = (
        grid.withColumn("_t", _time_index(F.col(ts_col)))
        .withColumn("_skey", seasonal_key_expr(ts_col, grain))
        .join(F.broadcast(trend.drop("max_ds", "n_buckets")), on=series_cols)
        .join(F.broadcast(seasonal), on=[*series_cols, "_skey"], how="left")
        .join(F.broadcast(residual_q), on=series_cols, how="left")
    )
    base = (
        F.col("my")
        + F.col("b") * (F.col("_t") - F.col("mt"))
        + F.coalesce(F.col("s_mean"), F.lit(0.0))
    )
    qcols = [
        (base + F.coalesce(F.col(quantile_col_name(q)), F.lit(0.0))).alias(
            quantile_col_name(q)
        )
        for q in quantiles
    ]
    return pred.select(*series_cols, ts_col, base.alias("yhat"), *qcols)


# ---------------------------------------------------------------------------
# W3 changepoint variant: Prophet-style piecewise-linear trend, natively
# ---------------------------------------------------------------------------

def changepoint_fractions(n_changepoints: int) -> list[float]:
    """Hinge locations as fractions of the per-series time span.

    Prophet places its changepoints uniformly over the first 80% of
    history (public prophet ``set_changepoints``); the native analog
    spaces them uniformly over the first 80% of the *time range*
    (deterministic, SQL-expressible — row-quantile spacing would need
    an extra rank pass for no modeling gain on regular grids).
    """
    return [0.8 * j / n_changepoints for j in range(1, n_changepoints + 1)]


def changepoint1_stages(lam: float) -> list[tuple[str, str]]:
    """Closed-form 3×3 ridge solve for the single-changepoint trend.

    Inputs: Gram sums ``g0_0 g0_1 g0_2 g1_1 g1_2 g2_2`` and moment
    vector ``v0 v1 v2`` for features [1, u, max(0, u − 0.8·span)].
    Ridge adds λ only to the hinge coordinate (Prophet penalizes only
    the changepoint deltas), then Cramer's rule gives β. The same
    strings drive the Spark plan and the DuckDB oracle, so the two
    engines perform identical arithmetic downstream of the sums.
    """
    return [
        ("a22", f"g2_2 + {float(lam)!r}"),
        ("det", "g0_0*(g1_1*a22 - g1_2*g1_2) - g0_1*(g0_1*a22 - g1_2*g0_2)"
                " + g0_2*(g0_1*g1_2 - g1_1*g0_2)"),
        ("det0", "v0*(g1_1*a22 - g1_2*g1_2) - g0_1*(v1*a22 - g1_2*v2)"
                 " + g0_2*(v1*g1_2 - g1_1*v2)"),
        ("det1", "g0_0*(v1*a22 - g1_2*v2) - v0*(g0_1*a22 - g1_2*g0_2)"
                 " + g0_2*(g0_1*v2 - v1*g0_2)"),
        ("det2", "g0_0*(g1_1*v2 - g1_2*v1) - g0_1*(g0_1*v2 - v1*g0_2)"
                 " + v0*(g0_1*g1_2 - g1_1*g0_2)"),
        ("beta0", "det0 / NULLIF(det, 0.0)"),
        ("beta1", "det1 / NULLIF(det, 0.0)"),
        ("beta2", "det2 / NULLIF(det, 0.0)"),
    ]


def _changepoint_feature_exprs(
    n_changepoints: int, cov_col: str | None
) -> list[Column]:
    """Feature columns over ``_t``/``t0``/``t1``: [1, u, hinges..., cov?]."""
    u = F.col("_t") - F.col("t0")
    span = F.col("t1") - F.col("t0")
    feats = [F.lit(1.0), u]
    for frac in changepoint_fractions(n_changepoints):
        feats.append(F.greatest(F.lit(0.0), u - F.lit(frac) * span))
    if cov_col is not None:
        feats.append(F.col(cov_col))
    return feats


def fit_changepoint_trend(
    df: DataFrame,
    *,
    n_changepoints: int = 10,
    changepoint_prior_scale: float = 0.5,
    series_cols: Iterable[str] = ("series_id",),
    ts_col: str = "ds",
    value_col: str = "y",
    cov_col: str | None = None,
    solver: str = "numpy",
) -> DataFrame:
    """Piecewise-linear trend fit — the native Prophet-trend analog.

    Model (reference forwards ``changepoint_prior_scale`` into Prophet's
    piecewise trend, app.py:124-131):

        y ≈ β0 + β1·u + Σ_j δ_j·max(0, u − c_j)  [+ β_cov·cov]

    with u = t − t0 in epoch days and hinges c_j from
    ``changepoint_fractions``. Prophet's Laplace(0, τ) prior on δ is an
    L1 MAP; the closed-form analog ridge-penalizes ‖δ‖² with
    λ = 1/τ, keeping the knob's direction: larger
    ``changepoint_prior_scale`` ⇒ weaker penalty ⇒ more flexible trend.
    β0, β1 and the optional covariate coefficient are unpenalized.

    Distributed shape: ONE aggregation computes the per-series Gram
    matrix + moment vector (p(p+3)/2 sums, p = n_changepoints + 2
    [+1 with cov]); the p×p solve then runs on the one-row-per-series
    aggregate — ``solver="numpy"`` via mapInPandas (Python touches p²
    numbers per series, never the row stream), ``solver="stages"``
    (n_changepoints=1, no cov) as native Cramer expressions shared
    verbatim with the DuckDB oracle (``changepoint1_stages``).

    Output: series_cols, t0, t1, max_ds, n_buckets,
    beta array<double> (+ ``coef`` alias of the cov coefficient).
    """
    series_cols = list(series_cols)
    if n_changepoints < 1:
        raise ValueError("n_changepoints must be >= 1")
    lam = 1.0 / float(changepoint_prior_scale)
    base = df.withColumn("_t", _time_index(F.col(ts_col)))
    rng = base.groupBy(*series_cols).agg(
        F.min("_t").alias("t0"),
        F.max("_t").alias("t1"),
        F.max(ts_col).alias("max_ds"),
        F.count(value_col).alias("n_buckets"),
    )
    b2 = base.join(F.broadcast(rng), on=series_cols)
    feats = _changepoint_feature_exprs(n_changepoints, cov_col)
    p = len(feats)
    aggs = []
    for i in range(p):
        for j in range(i, p):
            aggs.append(F.sum(feats[i] * feats[j]).alias(f"g{i}_{j}"))
        aggs.append(F.sum(feats[i] * F.col(value_col)).alias(f"v{i}"))
    gram = b2.groupBy(*series_cols, "t0", "t1", "max_ds", "n_buckets").agg(*aggs)

    key_cols = [*series_cols, "t0", "t1", "max_ds", "n_buckets"]
    if solver == "stages":
        if n_changepoints != 1 or cov_col is not None:
            raise ValueError(
                "solver='stages' supports exactly one changepoint, no covariate"
            )
        cur = gram
        for name, expr in changepoint1_stages(lam):
            cur = cur.withColumn(name, F.expr(expr))
        return cur.select(
            *key_cols,
            F.array(F.col("beta0"), F.col("beta1"), F.col("beta2")).alias("beta"),
        )
    if solver != "numpy":
        raise ValueError(f"unknown solver: {solver!r}")

    import numpy as np
    from pyspark.sql.types import ArrayType, DoubleType, StructField, StructType

    penalty = np.zeros(p)
    penalty[2 : 2 + n_changepoints] = lam
    gram_schema = gram.schema
    out_schema = StructType(
        [gram_schema[c] for c in key_cols]
        + [StructField("beta", ArrayType(DoubleType()))]
    )

    def solve(batches):
        for pdf in batches:
            betas = []
            for _, row in pdf.iterrows():
                a = np.empty((p, p))
                v = np.empty(p)
                for i in range(p):
                    v[i] = row[f"v{i}"]
                    for j in range(i, p):
                        a[i, j] = a[j, i] = row[f"g{min(i, j)}_{max(i, j)}"]
                a[np.diag_indices_from(a)] += penalty
                try:
                    betas.append(np.linalg.solve(a, v).tolist())
                except np.linalg.LinAlgError:
                    betas.append(None)
            out = pdf[key_cols].copy()
            out["beta"] = betas
            yield out

    return gram.mapInPandas(solve, out_schema)


def changepoint_trend_expr(n_changepoints: int) -> Column:
    """Trend value at ``_t`` given joined fit columns t0/t1/beta."""
    u = F.col("_t") - F.col("t0")
    span = F.col("t1") - F.col("t0")
    trend = F.col("beta")[0] + F.col("beta")[1] * u
    for j, frac in enumerate(changepoint_fractions(n_changepoints)):
        trend = trend + F.col("beta")[2 + j] * F.greatest(
            F.lit(0.0), u - F.lit(frac) * span
        )
    return trend


def forecast_changepoint(
    df: DataFrame,
    *,
    grain: str,
    horizon: int | None | Column = None,
    n_changepoints: int = 10,
    changepoint_prior_scale: float = 0.5,
    series_cols: Iterable[str] = ("series_id",),
    ts_col: str = "ds",
    value_col: str = "y",
    include_history: bool = True,
    include_bounds: bool = True,
    quantiles: tuple[float, float] = (0.05, 0.95),
    solver: str = "numpy",
) -> DataFrame:
    """W3 with the piecewise changepoint trend + seasonal + bands.

    Same assembly as ``forecast_linear_seasonal`` — seasonal component
    and residual-quantile bands computed on the changepoint-detrended
    residual; the future grid extrapolates with the final slope
    β1 + Σδ (hinge features keep growing past the last changepoint,
    exactly Prophet's fixed-delta future trend).
    """
    series_cols = list(series_cols)
    params = fit_changepoint_trend(
        df,
        n_changepoints=n_changepoints,
        changepoint_prior_scale=changepoint_prior_scale,
        series_cols=series_cols,
        ts_col=ts_col,
        value_col=value_col,
        solver=solver,
    )
    trend = changepoint_trend_expr(n_changepoints)
    hist = (
        df.withColumn("_t", _time_index(F.col(ts_col)))
        .withColumn("_skey", seasonal_key_expr(ts_col, grain))
        .join(F.broadcast(params.drop("max_ds", "n_buckets")), on=series_cols)
        .withColumn("_r", F.col(value_col) - trend)
    )
    seasonal = hist.groupBy(*series_cols, "_skey").agg(
        (F.sum("_r") / F.count("_r").cast("double")).alias("s_mean")
    )
    residual_q = None
    if include_bounds:
        lo_q, hi_q = quantiles
        deseason = hist.join(
            F.broadcast(seasonal), on=[*series_cols, "_skey"]
        ).withColumn("_r2", F.col("_r") - F.col("s_mean"))
        qarr = F.percentile(
            "_r2", F.array(F.lit(float(lo_q)), F.lit(float(hi_q)))
        )
        residual_q = deseason.groupBy(*series_cols).agg(
            qarr[0].alias("_qlo"), qarr[1].alias("_qhi")
        )
    if isinstance(horizon, Column):
        horizon_col = horizon
    elif horizon is not None:
        horizon_col = F.lit(int(horizon))
    else:
        horizon_col = F.col("n_buckets")
    grid = future_grid(
        params, grain=grain, horizon=horizon_col, series_cols=series_cols,
        max_col="max_ds",
    )
    ds_type = dict(df.dtypes)[ts_col]
    grid = grid.select(*series_cols, F.col(ts_col).cast(ds_type).alias(ts_col))
    if include_history:
        grid = df.select(*series_cols, ts_col).unionByName(grid)
    pred = (
        grid.withColumn("_t", _time_index(F.col(ts_col)))
        .withColumn("_skey", seasonal_key_expr(ts_col, grain))
        .join(F.broadcast(params.drop("max_ds", "n_buckets")), on=series_cols)
        .join(F.broadcast(seasonal), on=[*series_cols, "_skey"], how="left")
    )
    yhat = trend + F.coalesce(F.col("s_mean"), F.lit(0.0))
    if not include_bounds:
        return pred.select(*series_cols, ts_col, yhat.alias("yhat"))
    pred = pred.join(F.broadcast(residual_q), on=series_cols, how="left")
    return pred.select(
        *series_cols,
        ts_col,
        yhat.alias("yhat"),
        (yhat + F.coalesce(F.col("_qlo"), F.lit(0.0))).alias("yhat_lower"),
        (yhat + F.coalesce(F.col("_qhi"), F.lit(0.0))).alias("yhat_upper"),
    )


def forecast_covariate_changepoint(
    target: DataFrame,
    covariate_pred: DataFrame,
    *,
    grain: str,
    horizon: int | None | Column = None,
    n_changepoints: int = 10,
    changepoint_prior_scale: float = 0.5,
    series_cols: Iterable[str] = ("series_id",),
    ts_col: str = "ds",
    value_col: str = "y",
    cov_col: str = "cov",
    include_bounds: bool = True,
    quantiles: tuple[float, float] = (0.05, 0.95),
) -> DataFrame:
    """W4 with the changepoint trend: one joint ridge fit of
    [1, u, hinges..., cov] — the covariate coefficient is the exact
    multi-OLS coefficient of the penalized system (unpenalized itself),
    so this is the piecewise-trend generalization of the Frisch-Waugh
    path in ``forecast_with_covariate``. Output matches it:
    series, ds, yhat[, yhat_lower, yhat_upper], coef.
    """
    series_cols = list(series_cols)
    joined = target.join(
        covariate_pred.select(*series_cols, ts_col, cov_col),
        on=[*series_cols, ts_col],
        how="inner",
    )
    params = fit_changepoint_trend(
        joined,
        n_changepoints=n_changepoints,
        changepoint_prior_scale=changepoint_prior_scale,
        series_cols=series_cols,
        ts_col=ts_col,
        value_col=value_col,
        cov_col=cov_col,
    )
    p = n_changepoints + 3  # [1, u, hinges..., cov]
    trend = changepoint_trend_expr(n_changepoints)
    coef = F.col("beta")[p - 1]
    model = trend + coef * F.col(cov_col)
    hist = (
        joined.withColumn("_t", _time_index(F.col(ts_col)))
        .withColumn("_skey", seasonal_key_expr(ts_col, grain))
        .join(F.broadcast(params.drop("max_ds", "n_buckets")), on=series_cols)
        .withColumn("_r", F.col(value_col) - model)
    )
    seasonal = hist.groupBy(*series_cols, "_skey").agg(
        (F.sum("_r") / F.count("_r").cast("double")).alias("s_mean")
    )
    residual_q = None
    if include_bounds:
        lo_q, hi_q = quantiles
        deseason = hist.join(
            F.broadcast(seasonal), on=[*series_cols, "_skey"]
        ).withColumn("_r2", F.col("_r") - F.col("s_mean"))
        qarr = F.percentile(
            "_r2", F.array(F.lit(float(lo_q)), F.lit(float(hi_q)))
        )
        residual_q = deseason.groupBy(*series_cols).agg(
            qarr[0].alias("_qlo"), qarr[1].alias("_qhi")
        )
    if isinstance(horizon, Column):
        horizon_col = horizon
    elif horizon is not None:
        horizon_col = F.lit(int(horizon))
    else:
        horizon_col = F.col("n_buckets")
    grid = future_grid(
        params, grain=grain, horizon=horizon_col, series_cols=series_cols,
        max_col="max_ds",
    )
    ds_type = dict(target.dtypes)[ts_col]
    grid = grid.select(*series_cols, F.col(ts_col).cast(ds_type).alias(ts_col))
    all_ds = target.select(*series_cols, ts_col).unionByName(grid)
    with_cov = all_ds.join(
        covariate_pred.select(*series_cols, ts_col, cov_col),
        on=[*series_cols, ts_col],
        how="inner",
    )
    pred = (
        with_cov.withColumn("_t", _time_index(F.col(ts_col)))
        .withColumn("_skey", seasonal_key_expr(ts_col, grain))
        .join(F.broadcast(params.drop("max_ds", "n_buckets")), on=series_cols)
        .join(F.broadcast(seasonal), on=[*series_cols, "_skey"], how="left")
    )
    yhat = model + F.coalesce(F.col("s_mean"), F.lit(0.0))
    cols = [yhat.alias("yhat")]
    if include_bounds:
        pred = pred.join(F.broadcast(residual_q), on=series_cols, how="left")
        cols += [
            (yhat + F.coalesce(F.col("_qlo"), F.lit(0.0))).alias("yhat_lower"),
            (yhat + F.coalesce(F.col("_qhi"), F.lit(0.0))).alias("yhat_upper"),
        ]
    return pred.select(*series_cols, ts_col, *cols, coef.alias("coef"))


# ---------------------------------------------------------------------------
# Optional Prophet backend (reference-library parity; gated import)
# ---------------------------------------------------------------------------

def prophet_available() -> bool:
    try:
        import prophet  # noqa: F401

        return True
    except ImportError:
        return False


def forecast_prophet(
    df: DataFrame,
    *,
    grain: str,
    horizon: int,
    series_cols: Iterable[str] = ("series_id",),
    ts_col: str = "ds",
    value_col: str = "y",
    growth: str = "linear",
    cap: float | None = None,
    floor: float | None = None,
    changepoint_prior_scale: float = 0.05,
    uncertainty_samples: int = 1000,
    backend: str = "auto",
) -> DataFrame:
    """W3/W5 with the reference's model (app.py:124-138, saturating
    app.py:442-487).

    One Prophet fit per series inside a grouped pandas UDF — the
    executor-side mirror of the reference's per-request fit.
    ``growth="logistic"`` requires ``cap`` (and optionally ``floor``),
    injected as the per-row columns Prophet expects — exactly how the
    reference sets ``data["cap"]/data["floor"]`` from request knobs
    (app.py:445-447).

    ``backend``:

    * ``"auto"`` — the real prophet library when installed, else the
      vendored Stan-free MAP fit (``prophet_map.ProphetMAP``: identical
      model form, priors, changepoint grid, seasonality rules, and MC
      uncertainty scheme — both growth modes; deterministic seeding).
    * ``"prophet"`` — require the real library (raises if absent).
    * ``"map"`` — force the vendored backend (used by tests so the
      numerics path is exercised regardless of the environment).
    """
    if backend not in ("auto", "prophet", "map"):
        raise ValueError(f"unknown backend: {backend}")
    if backend == "prophet" and not prophet_available():
        raise ImportError(
            "prophet is not installed; use backend='map' (vendored MAP fit) "
            "or forecast_linear_seasonal (native backend)"
        )
    if backend == "auto":
        backend = "prophet" if prophet_available() else "map"
    if growth == "logistic" and cap is None:
        raise ValueError("growth='logistic' requires cap (app.py:445-447)")
    from pyspark.sql.types import DoubleType, StructField, StructType

    series_cols = list(series_cols)
    freq = {"D": "D", "W": "W", "M": "ME", "H": "h", "min": "min"}[normalize_grain(grain)]
    schema = StructType(
        [StructField(c, df.schema[c].dataType) for c in series_cols]
        + [
            StructField(ts_col, df.schema[ts_col].dataType),
            StructField("yhat", DoubleType()),
            StructField("yhat_lower", DoubleType()),
            StructField("yhat_upper", DoubleType()),
        ]
    )

    def fit_predict(pdf: pd.DataFrame) -> pd.DataFrame:
        if backend == "prophet":
            from prophet import Prophet
        else:
            from temporal_retriever_spark.prophet_map import ProphetMAP as Prophet

        pdf = pdf.sort_values(ts_col)
        model = Prophet(
            growth=growth,
            changepoint_prior_scale=changepoint_prior_scale,
            uncertainty_samples=uncertainty_samples,
        )
        frame = pdf.rename(columns={ts_col: "ds", value_col: "y"})[["ds", "y"]]
        if growth == "logistic":
            frame["cap"] = cap
            if floor is not None:
                frame["floor"] = floor
        model.fit(frame)
        future = model.make_future_dataframe(periods=horizon, freq=freq)
        if growth == "logistic":
            future["cap"] = cap
            if floor is not None:
                future["floor"] = floor
        out = model.predict(future)
        if "yhat_lower" not in out.columns:
            # uncertainty_samples=0: Prophet (and the MAP backend) omit
            # the band columns; the stable output schema keeps them as
            # degenerate bands at yhat
            out["yhat_lower"] = out["yhat"]
            out["yhat_upper"] = out["yhat"]
        out = out[["ds", "yhat", "yhat_lower", "yhat_upper"]]
        out = out.rename(columns={"ds": ts_col})
        for c in series_cols:
            out[c] = pdf[c].iloc[0]
        return out[series_cols + [ts_col, "yhat", "yhat_lower", "yhat_upper"]]

    return df.groupBy(*series_cols).applyInPandas(fit_predict, schema)


def forecast_exponential_smoothing(
    df: DataFrame,
    *,
    grain: str,
    alpha: float = 0.3,
    horizon: int = 14,
    window: int = 64,
    series_cols: Iterable[str] = ("series_id",),
    ts_col: str = "ds",
    value_col: str = "y",
    include_history: bool = True,
) -> DataFrame:
    """Brown's double exponential smoothing (linear-trend) forecast,
    fully native.

    Two stacked truncated EWMAs (``rolling.ewma``) give the smoothed
    series S' and its smoothing S''; Brown's identities turn them into
    a local level and trend at every point:

        a_t = 2·S'_t − S''_t        (level)
        b_t = α/(1−α) · (S'_t − S''_t)   (trend per bucket)
        ŷ_{t+h} = a_t + h·b_t

    In-sample fit is the one-step-ahead forecast ŷ_t = a_{t−1} +
    b_{t−1}; the future grid extends from the last (a, b) per series
    over the W6 grid machinery. An exact Holt recursion is inherently
    sequential; Brown's form inherits the truncated-EWMA frame-local
    computation, so the whole forecaster is two window passes + one
    grid join — no Python, SQL-mirrorable (public method, cf. Brown
    1963 / any forecasting text).

    Output: series, ds, yhat (history one-step fits where defined,
    future extrapolation beyond max_ds).
    """
    from temporal_retriever_spark.align import future_grid
    from temporal_retriever_spark.rolling import ewma as _ewma

    # stricter than ewma's (0, 1]: Brown's trend factor alpha/(1-alpha)
    # is undefined at alpha=1 (pure last-value smoothing has no trend)
    if not 0.0 < alpha < 1.0:
        raise ValueError(
            f"alpha must be in (0, 1) for double exponential smoothing: {alpha}"
        )
    series_cols = list(series_cols)
    s1 = _ewma(
        df, alpha=alpha, window=window, series_cols=series_cols,
        ts_col=ts_col, value_col=value_col, out_col="_s1",
    )
    s2 = _ewma(
        s1, alpha=alpha, window=window, series_cols=series_cols,
        ts_col=ts_col, value_col="_s1", out_col="_s2",
    )
    level = 2 * F.col("_s1") - F.col("_s2")
    trend = F.lit(alpha / (1.0 - alpha)) * (F.col("_s1") - F.col("_s2"))
    ab = s2.withColumn("_a", level).withColumn("_b", trend)
    w = Window.partitionBy(*series_cols).orderBy(ts_col)
    hist = ab.select(
        *series_cols,
        F.col(ts_col),
        (F.lag("_a").over(w) + F.lag("_b").over(w)).alias("yhat"),
    )
    last = ab.groupBy(*series_cols).agg(
        F.max_by("_a", F.col(ts_col)).alias("_a"),
        F.max_by("_b", F.col(ts_col)).alias("_b"),
        F.max(ts_col).alias("max_ds"),
    )
    grid = future_grid(
        last, grain=grain, horizon=int(horizon), series_cols=series_cols
    )
    ds_type = dict(df.dtypes)[ts_col]
    steps = Window.partitionBy(*series_cols).orderBy("ds")
    future = (
        grid.withColumn("_h", F.row_number().over(steps))
        .join(last.drop("max_ds"), on=series_cols)
        .select(
            *series_cols,
            F.col("ds").cast(ds_type).alias(ts_col),
            (F.col("_a") + F.col("_h") * F.col("_b")).alias("yhat"),
        )
    )
    out = future if not include_history else hist.unionByName(future)
    return out.filter(F.col("yhat").isNotNull())


def forecast_theta(
    df: DataFrame,
    *,
    horizon: int = 14,
    alpha: float = 0.5,
    series_cols: Iterable[str] = ("series_id",),
    ds_col: str = "ds",
    y_col: str = "y",
    trunc_eps: float = 1e-12,
) -> DataFrame:
    """Theta-method forecast (Assimakopoulos & Nikolopoulos 2000, the
    M3-competition winner), θ ∈ {0, 2} with equal weights — the
    classical decomposition: the θ=0 line is the linear trend
    (extrapolated), the θ=2 line ``2y − L`` doubles the local
    curvature and is forecast flat by simple exponential smoothing;
    the combination recovers trend + adaptive level.

    Daily-grain output: one row per series per future step,
    (series, ds, yhat). ``alpha`` is the SES smoothing weight
    (fixed — classical theta; no optimizer loop).

    Fully native: the trend fit is the usual moments window, the SES
    level uses the closed-form weight expansion truncated where
    ``(1−α)^k < trunc_eps`` (identical truncation in the SQL oracle,
    so the approximation cannot drift cross-engine; the dropped tail
    is below double rounding at the default). Plan: one window pass
    (moments + reverse row index) + ONE aggregation per series + a
    sequence-explode future grid — no Python, same shape as
    ``forecast_linear_seasonal``.
    """
    if horizon < 1:
        raise ValueError(f"horizon must be >= 1: {horizon}")
    if not 0.0 < alpha < 1.0:
        raise ValueError(f"alpha must be in (0, 1): {alpha}")
    series_cols = list(series_cols)
    K = max(1, int(math.ceil(math.log(trunc_eps) / math.log(1.0 - alpha))))
    # ds-ordered unbounded frame: the moment sums accumulate in a fixed
    # (sequential, ds-ascending) order instead of partition-arrival
    # order — the r9 wobble class where last-ulp merge drift flipped
    # 6-decimal values on forecast_theta_daily / forecast_ensemble_daily
    # across runs (VERDICT r9 item 4). Same arithmetic, stable hashes.
    w = (
        Window.partitionBy(*series_cols)
        .orderBy(F.col(ds_col).asc())
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    )
    wd = Window.partitionBy(*series_cols).orderBy(F.col(ds_col).desc())
    t = _time_index(F.col(ds_col))
    # drop null observations FIRST: otherwise count(y) excludes them
    # while the time moments include them and the slope is biased
    d = df.filter(F.col(y_col).isNotNull()).withColumn("_t", t)
    n = F.count(y_col).over(w).cast("double")
    mt = F.avg("_t").over(w)
    my = F.avg(y_col).over(w)
    stt = F.sum(F.col("_t") * F.col("_t")).over(w) - n * mt * mt
    sty = F.sum(F.col("_t") * F.col(y_col)).over(w) - n * mt * my
    b = F.try_divide(sty, stt)
    d = (
        d.withColumn("_n", n)
        .withColumn("_mt", mt)
        .withColumn("_my", my)
        .withColumn("_b", F.coalesce(b, F.lit(0.0)))
        .withColumn(
            "_z2",
            F.lit(2.0) * F.col(y_col)
            - (F.col("_my") + F.col("_b") * (F.col("_t") - F.col("_mt"))),
        )
        .withColumn("_rn", F.row_number().over(wd).cast("double"))
    )
    a = F.lit(alpha)
    # exact SES closed form, truncated at K terms: s_n = α·Σ_{j<min(n-1,K)}
    # (1-α)^j z_{n-j} + (1-α)^{n-1} z_1 (init kept only when visible)
    main = F.when(
        F.col("_rn") <= F.least(F.lit(float(K)), F.col("_n") - 1),
        a * F.pow(F.lit(1.0 - alpha), F.col("_rn") - 1) * F.col("_z2"),
    )
    init = F.when(
        (F.col("_rn") == F.col("_n")) & (F.col("_n") - 1 <= F.lit(float(K))),
        F.pow(F.lit(1.0 - alpha), F.col("_n") - 1) * F.col("_z2"),
    )
    # the SES level sums over the same ds-ordered unbounded frame (then
    # groupBy takes per-series constants) so the truncated-SES fold has
    # a fixed association order too — groupBy partial sums would
    # reintroduce the merge-order wobble the window above removes
    level = F.coalesce(F.sum(main).over(w), F.lit(0.0)) + F.coalesce(
        F.sum(init).over(w), F.lit(0.0)
    )
    agg = (
        d.withColumn("_level", level)
        .groupBy(*series_cols)
        .agg(
            F.max(F.col(ds_col).cast("date")).alias("_max_ds"),
            F.max("_t").alias("_max_t"),
            F.first("_mt").alias("_mt"),
            F.first("_my").alias("_my"),
            F.first("_b").alias("_b"),
            F.first("_level").alias("_level"),
        )
    )
    grid = agg.select(
        *series_cols,
        "_max_ds",
        "_max_t",
        "_mt",
        "_my",
        "_b",
        "_level",
        F.explode(F.sequence(F.lit(1), F.lit(horizon))).alias("_h"),
    )
    lfut = F.col("_my") + F.col("_b") * (
        F.col("_max_t") + F.col("_h").cast("double") - F.col("_mt")
    )
    return grid.select(
        *series_cols,
        F.date_add(F.col("_max_ds"), F.col("_h")).alias(ds_col),
        (F.lit(0.5) * (lfut + F.col("_level"))).alias("yhat"),
    )


def forecast_croston(
    df: DataFrame,
    *,
    horizon: int = 14,
    alpha: float = 0.1,
    sba: bool = False,
    grain: str = "D",
    series_cols: Iterable[str] = ("series_id",),
    ds_col: str = "ds",
    y_col: str = "y",
    trunc_eps: float = 1e-12,
) -> DataFrame:
    """Croston's method for intermittent demand (Croston 1972) — the
    standard forecaster when most buckets are ZERO (spare parts, rare
    error bursts, long-tail SKUs): plain SES smears demand across the
    gaps, Croston smooths the demand SIZES and the inter-demand
    INTERVALS separately and forecasts their ratio

        ŷ = z_hat / p_hat        (× (1 − α/2) for ``sba=True``,
                                  the Syntetos-Boylan bias correction)

    flat over the horizon (the method's defined forecast function).

    Input contract: one row per bucket per series, zeros INCLUDED
    (interval lengths are positions in the bucket grid, so gaps must
    be physically present — the output of `bucket_aggregate` over a
    zero-filled grid). Both SES levels use the same truncated
    closed-form weight expansion as `forecast_theta` (identical
    truncation in the oracle). First demand's interval is its
    distance from the series start (the classic init). Series with
    zero demand points are dropped.

    Plan: one ordered window pass (bucket index + demand ordering),
    ONE aggregation per series — no Python, no recursion at runtime.
    Output: (series, ds, yhat) for h = 1..horizon at ``grain`` steps.
    """
    from temporal_retriever_spark.grains import grain_interval

    if horizon < 1:
        raise ValueError(f"horizon must be >= 1: {horizon}")
    if not 0.0 < alpha < 1.0:
        raise ValueError(f"alpha must be in (0, 1): {alpha}")
    step = grain_interval(grain)
    series_cols = list(series_cols)
    K = max(1, int(math.ceil(math.log(trunc_eps) / math.log(1.0 - alpha))))
    y = F.col(y_col).cast("double")
    wo = Window.partitionBy(*series_cols).orderBy(ds_col)
    base = (
        df.filter(y.isNotNull())
        .withColumn("_t", F.row_number().over(wo).cast("double"))
    )
    span = base.groupBy(*series_cols).agg(F.max(ds_col).alias("_max_ds"))
    dem = base.filter(y != 0)
    wd = Window.partitionBy(*series_cols).orderBy(ds_col)
    wr = Window.partitionBy(*series_cols).orderBy(F.col(ds_col).desc())
    dem = (
        dem.withColumn(
            "_q",
            F.col("_t") - F.coalesce(F.lag("_t").over(wd), F.lit(0.0)),
        )
        .withColumn("_rn", F.row_number().over(wr).cast("double"))
        .withColumn("_nd", F.count("*").over(Window.partitionBy(*series_cols)).cast("double"))
    )
    a = F.lit(float(alpha))
    one_a = F.lit(1.0 - float(alpha))

    def ses(col: Column) -> Column:
        main = F.when(
            F.col("_rn") <= F.least(F.lit(float(K)), F.col("_nd") - 1),
            a * F.pow(one_a, F.col("_rn") - 1) * col,
        )
        init = F.when(
            (F.col("_rn") == F.col("_nd"))
            & (F.col("_nd") - 1 <= F.lit(float(K))),
            F.pow(one_a, F.col("_nd") - 1) * col,
        )
        return F.coalesce(F.sum(main), F.lit(0.0)) + F.coalesce(
            F.sum(init), F.lit(0.0)
        )

    agg = dem.groupBy(*series_cols).agg(
        ses(y).alias("_z"),
        ses(F.col("_q")).alias("_p"),
        F.count("*").cast("long").alias("_ndl"),
    )
    corr = 1.0 - float(alpha) / 2.0 if sba else 1.0
    joined = agg.join(span, on=series_cols)
    entries = F.array(
        *[
            F.struct(
                F.lit(h).alias("h"),
                F.expr(f"_max_ds + {h} * {step}").alias("ds"),
            )
            for h in range(1, horizon + 1)
        ]
    )
    return joined.select(
        *series_cols,
        (F.lit(corr) * F.try_divide(F.col("_z"), F.col("_p"))).alias("_yhat"),
        F.explode(entries).alias("_e"),
    ).select(
        *series_cols,
        F.col("_e.ds").alias(ds_col),
        F.col("_yhat").alias("yhat"),
    )


def forecast_tsb(
    df: DataFrame,
    *,
    horizon: int = 14,
    alpha: float = 0.1,
    beta: float = 0.1,
    grain: str = "D",
    series_cols: Iterable[str] = ("series_id",),
    ds_col: str = "ds",
    y_col: str = "y",
    trunc_eps: float = 1e-12,
) -> DataFrame:
    """TSB intermittent-demand forecast (Teunter-Syntetos-Babai
    2011) — Croston's obsolescence-aware successor: Croston updates
    the interval estimate only WHEN demand occurs, so a SKU that dies
    keeps its last forecast forever; TSB instead smooths the demand
    PROBABILITY over every bucket

        p̂ = SES_β(1{y_t ≠ 0})     ẑ = SES_α(sizes at demand points)
        ŷ = p̂ · ẑ

    so long silences decay the forecast toward zero. Same truncated
    closed-form SES expansion as `forecast_croston`/`forecast_theta`
    (identical truncation in the oracle), same input contract (zeros
    physically present on the bucket grid), same plan shape: one
    ordered window pass + ONE aggregation per series. Series with no
    demand at all still forecast (p̂ decays from the zero run) —
    unlike Croston they are NOT dropped, matching the method's intent.

    Output: (series, ds, yhat) for h = 1..horizon at ``grain`` steps.
    """
    from temporal_retriever_spark.grains import grain_interval

    if horizon < 1:
        raise ValueError(f"horizon must be >= 1: {horizon}")
    for nm, a in (("alpha", alpha), ("beta", beta)):
        if not 0.0 < a < 1.0:
            raise ValueError(f"{nm} must be in (0, 1): {a}")
    step = grain_interval(grain)
    series_cols = list(series_cols)
    y = F.col(y_col).cast("double")
    wo = Window.partitionBy(*series_cols).orderBy(ds_col)
    base = (
        df.filter(y.isNotNull())
        .withColumn("_occ", (y != 0).cast("double"))
        .withColumn(
            "_rn_all",
            F.row_number()
            .over(Window.partitionBy(*series_cols).orderBy(F.col(ds_col).desc()))
            .cast("double"),
        )
        .withColumn(
            "_n_all",
            F.count("*").over(Window.partitionBy(*series_cols)).cast("double"),
        )
        .withColumn(
            "_rn_dem",
            F.when(
                y != 0,
                F.row_number().over(
                    Window.partitionBy(*series_cols, F.col(y_col) != 0).orderBy(
                        F.col(ds_col).desc()
                    )
                ),
            ).cast("double"),
        )
        .withColumn(
            "_n_dem",
            F.sum((y != 0).cast("double")).over(
                Window.partitionBy(*series_cols)
            ),
        )
    )

    def ses(col: Column, a: float, rn: Column, n: Column) -> Column:
        K = max(1, int(math.ceil(math.log(trunc_eps) / math.log(1.0 - a))))
        main = F.when(
            rn <= F.least(F.lit(float(K)), n - 1),
            F.lit(a) * F.pow(F.lit(1.0 - a), rn - 1) * col,
        )
        init = F.when(
            (rn == n) & (n - 1 <= F.lit(float(K))),
            F.pow(F.lit(1.0 - a), n - 1) * col,
        )
        return F.coalesce(F.sum(main), F.lit(0.0)) + F.coalesce(
            F.sum(init), F.lit(0.0)
        )

    agg = base.groupBy(*series_cols).agg(
        ses(F.col("_occ"), beta, F.col("_rn_all"), F.col("_n_all")).alias("_p"),
        ses(
            F.when(y != 0, y), alpha, F.col("_rn_dem"), F.col("_n_dem")
        ).alias("_z"),
        F.max(F.col("_n_dem")).alias("_nd"),
        F.max(ds_col).alias("_max_ds"),
    )
    # zero-demand series: z is undefined -> forecast 0 (p may be >0
    # only through float noise; the method's limit is 0 anyway)
    yhat = F.when(F.col("_nd") > 0, F.col("_p") * F.col("_z")).otherwise(
        F.lit(0.0)
    )
    entries = F.array(
        *[
            F.struct(
                F.lit(h).alias("h"),
                F.expr(f"_max_ds + {h} * {step}").alias("ds"),
            )
            for h in range(1, horizon + 1)
        ]
    )
    return agg.select(
        *series_cols, yhat.alias("_yhat"), F.explode(entries).alias("_e")
    ).select(
        *series_cols,
        F.col("_e.ds").alias(ds_col),
        F.col("_yhat").alias("yhat"),
    )


def demand_classification(
    df: DataFrame,
    *,
    series_cols: Iterable[str] = ("series_id",),
    y_col: str = "y",
) -> DataFrame:
    """Syntetos-Boylan demand-pattern classification — the router in
    front of `forecast_croston`: which series are intermittent enough
    to need it?

        ADI = buckets / demand buckets        CV² = (s/μ)² of sizes

    quadrants at the standard cutoffs (ADI 1.32, CV² 0.49):
    smooth / intermittent / erratic / lumpy. ONE aggregation per
    series (zeros included in the bucket count, sample std over the
    nonzero sizes). ``cv2`` and ``category`` are NULL below 2 demand
    buckets — undefined, not "smooth".

    Output: (series, n_buckets, n_demands, adi, cv2, category).
    """
    series_cols = list(series_cols)
    y = F.col(y_col).cast("double")
    dem = F.when(y != 0, y)
    agg = df.filter(y.isNotNull()).groupBy(*series_cols).agg(
        F.count("*").cast("long").alias("n_buckets"),
        F.count(dem).cast("long").alias("n_demands"),
        F.avg(dem).alias("_mu"),
        F.stddev_samp(dem).alias("_sd"),
    )
    adi = F.try_divide(
        F.col("n_buckets").cast("double"), F.col("n_demands").cast("double")
    )
    cv2 = F.when(
        (F.col("n_demands") >= 2) & (F.col("_mu") != 0),
        F.pow(F.col("_sd") / F.col("_mu"), 2),
    )
    cat = F.when(cv2.isNull(), F.lit(None).cast("string")).otherwise(
        F.when(
            (adi <= 1.32) & (cv2 <= 0.49), F.lit("smooth")
        )
        .when((adi > 1.32) & (cv2 <= 0.49), F.lit("intermittent"))
        .when((adi <= 1.32) & (cv2 > 0.49), F.lit("erratic"))
        .otherwise(F.lit("lumpy"))
    )
    return agg.select(
        *series_cols,
        "n_buckets",
        "n_demands",
        adi.alias("adi"),
        cv2.alias("cv2"),
        cat.alias("category"),
    )


def forecast_holt_winters(
    df: DataFrame,
    *,
    horizon: int = 14,
    period: int = 7,
    alpha: float = 0.3,
    beta: float = 0.1,
    gamma: float = 0.2,
    series_cols: Iterable[str] = ("series_id",),
    ds_col: str = "ds",
    y_col: str = "y",
) -> DataFrame:
    """Holt-Winters additive triple exponential smoothing (level +
    trend + seasonal), the classical seasonal forecaster (Winters
    1960; Hyndman fpp formulation):

        l_t = α(y_t − s_{t−m}) + (1−α)(l_{t−1} + b_{t−1})
        b_t = β(l_t − l_{t−1}) + (1−β)b_{t−1}
        s_t = γ(y_t − l_{t−1} − b_{t−1}) + (1−γ)s_{t−m}

    with the classical detrended initialization: b₀ = (second-period
    mean − first-period mean)/m, level anchored at the first period's
    center (l_{m−1} = mean₁ + b₀(m−1)/2), s_i = y_i − (mean₁ +
    b₀(i − (m−1)/2)) — detrending the seasonal init keeps a clean
    trend+seasonal series bit-exact from the first step (tested).
    Daily-grain output: (series, ds, yhat) for h = 1..horizon,
    ŷ_{n+h} = l + h·b + s_{(t_n+h) mod m}. Series shorter than two
    periods fall back to a flat mean forecast (documented — there is
    no seasonal signal to fit).

    The three recursions are mutually coupled, so unlike ``ewma`` /
    Brown's DES there is no closed window form: each series runs one
    Arrow-batched pandas pass over (ds, y) — the documented Python
    path, same as the Prophet backend. Per-series state is O(m).
    The DuckDB oracle replays the identical recursion as a recursive
    CTE (one row per time step carrying the seasonal list), so even
    this iterative operator is hash-checked cross-engine.
    """
    if horizon < 1:
        raise ValueError(f"horizon must be >= 1: {horizon}")
    if period < 2:
        raise ValueError(f"period must be >= 2: {period}")
    for name, v in (("alpha", alpha), ("beta", beta), ("gamma", gamma)):
        if not 0.0 < v < 1.0:
            raise ValueError(f"{name} must be in (0, 1): {v}")
    series_cols = list(series_cols)
    m = period

    # series key fields keep the INPUT column types (integer keys are
    # legitimate; hardcoding string would crash the Arrow conversion)
    out_fields = ", ".join(
        f"{c} {df.schema[c].dataType.simpleString()}" for c in series_cols
    )
    schema = f"{out_fields}, {ds_col} date, yhat double"

    def fit(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(ds_col, kind="mergesort")
        y = pdf[y_col].to_numpy(dtype=float)
        n = len(y)
        keys = {c: pdf[c].iloc[0] for c in series_cols}
        last_ds = pd.Timestamp(pdf[ds_col].iloc[-1])
        if n < 2 * m:
            level, trend, seas = float(y.mean()), 0.0, [0.0] * m
            t_last = n - 1
        else:
            mean1 = float(y[:m].mean())
            trend = float((y[m : 2 * m].mean() - mean1) / m)
            center = (m - 1) / 2.0
            level = mean1 + trend * center  # level at t = m-1
            seas = [
                float(y[i] - (mean1 + trend * (i - center))) for i in range(m)
            ]
            for t in range(m, n):
                idx = t % m
                pl, pb = level, trend
                level = alpha * (y[t] - seas[idx]) + (1 - alpha) * (pl + pb)
                trend = beta * (level - pl) + (1 - beta) * pb
                seas[idx] = gamma * (y[t] - pl - pb) + (1 - gamma) * seas[idx]
            t_last = n - 1
        rows = []
        for h in range(1, horizon + 1):
            rows.append(
                {
                    **keys,
                    ds_col: (last_ds + pd.Timedelta(days=h)).date(),
                    "yhat": level + h * trend + seas[(t_last + h) % m],
                }
            )
        return pd.DataFrame(rows)

    return df.groupBy(*series_cols).applyInPandas(fit, schema)


def ar_stages(p: int) -> list[tuple[str, str]]:
    """Shared SQL stages solving the AR(p)-with-intercept OLS.

    Inputs (one row per series): ``nn``, Gram sums ``g_{i}_{j}``
    (i ≤ j) over regressors z = [1, y_{t−1}, …, y_{t−p}], and
    ``gy_{i}`` = Σ zᵢ·y_t. Emits Cholesky X'X = RᵀR, forward solve,
    and the FULL back substitution c_0 (intercept), c_1..c_p (lag
    coefficients) — same staged-scalar design as ``adf_stages``; the
    same strings drive the Spark select chain and the DuckDB oracle.
    """
    from temporal_retriever_spark.diagnostics import gram_cholesky_stages

    m = p + 1
    # Cholesky + forward solve come from the shared emitter (same
    # strings as adf_stages — one generator, no drift)
    stages: list[tuple[str, str]] = list(gram_cholesky_stages(m))
    for i in range(m - 1, -1, -1):
        acc = " - ".join([f"w_{i}"] + [f"r_{i}_{k} * c_{k}" for k in range(i + 1, m)])
        stages.append((f"c_{i}", f"({acc}) / r_{i}_{i}"))
    return stages


def ar_forecast_stages(p: int, horizon: int) -> list[tuple[str, str]]:
    """Unrolled h-step AR recursion as shared expression stages.

    Inputs: coefficients ``c_0..c_p`` (from ``ar_stages``) and the
    last observations ``lv_1..lv_p`` (lv_1 = y_n, lv_2 = y_{n−1}, …).
    Emits ``f_1..f_horizon`` where each step substitutes prior
    forecasts for not-yet-observed lags — the standard plug-in
    multi-step AR forecast, closed-form because p and horizon are
    build-time constants.
    """
    stages = []
    for h in range(1, horizon + 1):
        terms = ["c_0"]
        for j in range(1, p + 1):
            src = f"f_{h - j}" if h - j >= 1 else f"lv_{j - h + 1}"
            terms.append(f"c_{j} * {src}")
        stages.append((f"f_{h}", " + ".join(terms)))
    return stages


def forecast_ar(
    df: DataFrame,
    *,
    p: int = 3,
    horizon: int = 14,
    series_cols: Iterable[str] = ("series_id",),
    ds_col: str = "ds",
    y_col: str = "y",
) -> DataFrame:
    """AR(p) forecast per series: y_t = c + Σ φⱼ·y_{t−j} + ε, fit by
    conditional least squares, forecast by the plug-in recursion —
    the autoregressive member of the forecaster family (complements
    the trend+seasonal, smoothing and theta models; the right tool
    when PACF shows a sharp lag-p cutoff).

    Daily-grain output: (series, ds, yhat) for h = 1..horizon.
    Series with ≤ p+1 usable fit rows (the regressor count — no
    degrees of freedom) are DROPPED from the output; use
    ``forecast_baseline`` for those. Rank-deficient series (e.g.
    constant) emit NULL yhat; null observations are ignored.

    Fully native: one ordered window pass builds the lag columns, ONE
    aggregation the Gram sums (plus the p-value tail of last
    observations), the entire OLS solve is the ``ar_stages`` staged
    Cholesky, and the multi-step recursion is unrolled into
    ``horizon`` scalar expressions (``ar_forecast_stages``) — no
    Python, no iteration at runtime; the oracle replays the identical
    strings.
    """
    if p < 1:
        raise ValueError(f"p must be >= 1: {p}")
    if horizon < 1:
        raise ValueError(f"horizon must be >= 1: {horizon}")
    series_cols = list(series_cols)
    m = p + 1
    ws = Window.partitionBy(*series_cols).orderBy(ds_col)
    y = F.col(y_col).cast("double")
    # drop null observations first: they would otherwise enter the
    # last-p tail and turn every recursion step NULL
    df = df.filter(F.col(y_col).isNotNull())
    d = df
    for j in range(1, p + 1):
        d = d.withColumn(f"_l{j}", F.lag(y, j).over(ws))
    fit_cond = y.isNotNull()
    for j in range(1, p + 1):
        fit_cond = fit_cond & F.col(f"_l{j}").isNotNull()
    fit_rows = d.filter(fit_cond)
    zs = [F.lit(1.0)] + [F.col(f"_l{j}") for j in range(1, p + 1)]
    aggs = [F.count(y_col).cast("double").alias("nn")]
    m_regressors = m  # intercept + p lags
    for i in range(m):
        for j in range(i, m):
            aggs.append(F.sum(zs[i] * zs[j]).alias(f"g_{i}_{j}"))
        aggs.append(F.sum(zs[i] * y).alias(f"gy_{i}"))
    gram = fit_rows.groupBy(*series_cols).agg(*aggs)
    tail = df.groupBy(*series_cols).agg(
        F.max(F.col(ds_col).cast("date")).alias("_max_ds"),
        F.slice(
            F.array_sort(F.collect_list(F.struct(F.col(ds_col).alias("ds"), y.alias("v")))),
            -p,
            p,
        ).alias("_tail"),
    )
    out = gram.join(tail, on=series_cols)
    for j in range(1, p + 1):
        # lv_1 = most recent observation
        out = out.withColumn(f"lv_{j}", F.element_at("_tail", -j)["v"])
    for name, expr in ar_stages(p) + ar_forecast_stages(p, horizon):
        out = out.withColumn(name, F.expr(expr))
    pairs = F.array(
        *[
            F.struct(F.lit(h).alias("h"), F.col(f"f_{h}").alias("yhat"))
            for h in range(1, horizon + 1)
        ]
    )
    # guard: series need more fit rows than regressors for a defined
    # OLS; below that the series is dropped (documented), and a
    # rank-deficient Gram (constant series) yields NULL yhat rather
    # than leaking NaN from a non-positive Cholesky pivot
    out = out.filter(F.col("nn") > F.lit(float(m_regressors)))
    yhat = F.col("_e.yhat")
    return out.select(*series_cols, "_max_ds", F.explode(pairs).alias("_e")).select(
        *series_cols,
        F.date_add(F.col("_max_ds"), F.col("_e.h")).alias(ds_col),
        F.when(~F.isnan(yhat), yhat).alias("yhat"),
    )


def forecast_baseline(
    df: DataFrame,
    *,
    method: str = "snaive",
    horizon: int = 14,
    period: int = 7,
    series_cols: Iterable[str] = ("series_id",),
    ds_col: str = "ds",
    y_col: str = "y",
) -> DataFrame:
    """The three standard benchmark forecasters every model must beat
    (Hyndman fpp baselines):

    * ``naive`` — repeat the last observation: ŷ_{n+h} = y_n.
    * ``snaive`` — repeat the last full season:
      ŷ_{n+h} = y_{n+h−m·⌈h/m⌉}.
    * ``drift`` — last observation plus the average historical step:
      ŷ_{n+h} = y_n + h·(y_n − y_1)/(n − 1).

    Daily-grain output: (series, ds, yhat). One aggregation per
    series collecting the seasonal tail (≤ ``period`` values) and the
    endpoints; forecasts are pure scalar arithmetic exploded over the
    horizon — zero Python, one shuffle.
    """
    if method not in ("naive", "snaive", "drift"):
        raise ValueError(f"method must be naive|snaive|drift: {method!r}")
    if horizon < 1:
        raise ValueError(f"horizon must be >= 1: {horizon}")
    if period < 1:
        raise ValueError(f"period must be >= 1: {period}")
    series_cols = list(series_cols)
    # the baselines repeat the last ACTUAL observation: null rows must
    # not occupy the tail (naive/drift would emit NULL forecasts)
    df = df.filter(F.col(y_col).isNotNull())
    y = F.col(y_col).cast("double")
    sorted_vals = F.array_sort(
        F.collect_list(F.struct(F.col(ds_col).alias("ds"), y.alias("v")))
    )
    # clamp the tail window to the series length: slice(arr, -p, p) on a
    # shorter-than-p array would be empty (and h % 0 throws under ANSI)
    tail_start = -F.least(F.lit(period), F.size(sorted_vals))
    agg = df.groupBy(*series_cols).agg(
        F.max(F.col(ds_col).cast("date")).alias("_max_ds"),
        F.count(y_col).cast("double").alias("_n"),
        F.slice(sorted_vals, tail_start, period).alias("_tail"),
        F.min(F.struct(F.col(ds_col).alias("ds"), y.alias("v"))).alias("_first"),
    )
    last = F.element_at("_tail", -1)["v"]
    entries = []
    for h in range(1, horizon + 1):
        if method == "naive":
            yhat = last
        elif method == "drift":
            yhat = last + F.lit(float(h)) * F.try_divide(
                last - F.col("_first")["v"], F.col("_n") - 1
            )
        else:  # snaive: position h in the repeating last season
            # tail is the last min(period, n) observations; index from
            # its end: offset = ((h-1) mod len) counted from the start
            # of the repeating block
            tail_len = F.size("_tail")
            idx = (F.lit(h - 1) % tail_len) - tail_len  # negative index
            yhat = F.element_at("_tail", idx.cast("int"))["v"]
        entries.append(F.struct(F.lit(h).alias("h"), yhat.alias("yhat")))
    return agg.select(
        *series_cols, "_max_ds", F.explode(F.array(*entries)).alias("_e")
    ).select(
        *series_cols,
        F.date_add(F.col("_max_ds"), F.col("_e.h")).alias(ds_col),
        F.col("_e.yhat").alias("yhat"),
    )


def var_stages(n_vars: int, p: int) -> list[tuple[str, str]]:
    """Shared SQL stages solving the VAR(p) least-squares system.

    All ``n_vars`` equations share ONE design matrix z = [1, y_0(t−1),
    …, y_{m−1}(t−1), …, y_0(t−p), …, y_{m−1}(t−p)] (k = 1 + m·p
    columns), so the Cholesky factorization of X'X is computed ONCE
    and only the forward/back substitutions repeat per equation —
    the classic multivariate-OLS economy. Inputs: Gram sums
    ``g_{i}_{j}`` (i ≤ j) and per-equation ``gy{e}_{i}`` = Σ zᵢ·y_e;
    emits ``r_{i}_{j}`` once, then ``w{e}_{i}`` / ``c{e}_{i}`` per
    equation — the same staged-scalar contract as ``ar_stages``, and
    the same strings drive the Spark plan and the DuckDB oracle.
    """
    k = 1 + n_vars * p

    def g(i: int, j: int) -> str:
        return f"g_{min(i, j)}_{max(i, j)}"

    stages: list[tuple[str, str]] = []
    # NULLIF guards the exactly-singular case (perfectly collinear
    # variables make a pivot exactly 0; ANSI division would ERROR
    # where the contract wants NULL yhat) — same literal in the oracle
    for i in range(k):
        acc = " - ".join([g(i, i)] + [f"r_{a}_{i} * r_{a}_{i}" for a in range(i)])
        stages.append((f"r_{i}_{i}", f"SQRT({acc})"))
        for j in range(i + 1, k):
            acc = " - ".join(
                [g(i, j)] + [f"r_{a}_{i} * r_{a}_{j}" for a in range(i)]
            )
            stages.append((f"r_{i}_{j}", f"({acc}) / NULLIF(r_{i}_{i}, 0.0)"))
    for e in range(n_vars):
        for i in range(k):
            acc = " - ".join(
                [f"gy{e}_{i}"] + [f"r_{a}_{i} * w{e}_{a}" for a in range(i)]
            )
            stages.append((f"w{e}_{i}", f"({acc}) / NULLIF(r_{i}_{i}, 0.0)"))
        for i in range(k - 1, -1, -1):
            acc = " - ".join(
                [f"w{e}_{i}"]
                + [f"r_{i}_{a} * c{e}_{a}" for a in range(i + 1, k)]
            )
            stages.append((f"c{e}_{i}", f"({acc}) / NULLIF(r_{i}_{i}, 0.0)"))
    return stages


def var_forecast_stages(
    n_vars: int, p: int, horizon: int
) -> list[tuple[str, str]]:
    """Unrolled h-step VAR recursion as shared expression stages.

    Inputs: coefficients ``c{e}_{i}`` (``var_stages`` layout) and last
    observations ``lv{j}_{i}`` (lv{j}_1 = most recent value of
    variable j). Emits ``f{e}_{h}`` — each step feeds every
    variable's prior forecasts back into every equation, the plug-in
    multi-step VAR forecast, closed-form because (m, p, horizon) are
    build-time constants.
    """
    stages = []
    for h in range(1, horizon + 1):
        for e in range(n_vars):
            terms = [f"c{e}_0"]
            for lag in range(1, p + 1):
                for j in range(n_vars):
                    idx = 1 + (lag - 1) * n_vars + j
                    src = (
                        f"f{j}_{h - lag}"
                        if h - lag >= 1
                        else f"lv{j}_{lag - h + 1}"
                    )
                    terms.append(f"c{e}_{idx} * {src}")
            stages.append((f"f{e}_{h}", " + ".join(terms)))
    return stages


def forecast_var(
    df: DataFrame,
    series_names: list[str],
    *,
    p: int = 2,
    horizon: int = 14,
    series_col: str = "series_id",
    ds_col: str = "ds",
    y_col: str = "y",
) -> DataFrame:
    """VAR(p) multivariate forecast: every series is regressed on the
    lags of ALL series jointly — the model Granger causality tests
    one restriction of, and the right forecaster when the CCF says
    series lead each other (clicks → purchases). ``series_names``
    pins the variable set at build time (the same contract that lets
    `granger_causality` generate closed-form plans).

    y_e(t) = c_e + Σ_{l≤p} Σ_j A_l[e,j]·y_j(t−l), each equation fit
    by conditional least squares on the INNER time grid (timestamps
    where every variable is observed — the same alignment rule as
    the Granger detrend stage).

    Fully native, one joint plan: a grid pivot (one aggregation), one
    ordered window pass for all m·p lag columns, ONE aggregation for
    the shared Gram + every equation's cross-moments, the shared
    single-Cholesky/per-equation-substitution solve (``var_stages``),
    and the fan-in recursion unrolled (``var_forecast_stages``). The
    grid table is observation-window-sized, so its single-partition
    window is safe at any input scale. Series with ≤ k = 1+m·p fit
    rows produce no output; rank-deficient grids (perfectly collinear
    variables) yield NULL yhat via the NULLIF'd pivots.

    Daily-grain output: (series, ds, yhat) for h = 1..horizon, one
    block per variable.
    """
    m = len(series_names)
    if m < 2:
        raise ValueError("VAR needs at least 2 series; use forecast_ar for 1")
    if len(set(series_names)) != m:
        raise ValueError(f"duplicate series_names: {series_names}")
    if p < 1:
        raise ValueError(f"p must be >= 1: {p}")
    if horizon < 1:
        raise ValueError(f"horizon must be >= 1: {horizon}")
    k = 1 + m * p
    y = F.col(y_col).cast("double")
    # inner grid: one row per ds where EVERY variable is observed
    wide = (
        df.filter(F.col(series_col).isin(series_names) & y.isNotNull())
        .groupBy(ds_col)
        .agg(
            *[
                F.max(F.when(F.col(series_col) == name, y)).alias(f"_y{j}")
                for j, name in enumerate(series_names)
            ]
        )
    )
    full = None
    for j in range(m):
        c = F.col(f"_y{j}").isNotNull()
        full = c if full is None else (full & c)
    wide = wide.filter(full)
    wg = Window.orderBy(ds_col)
    d = wide
    for lag in range(1, p + 1):
        for j in range(m):
            d = d.withColumn(f"_l{lag}_{j}", F.lag(f"_y{j}", lag).over(wg))
    fit_cond = F.lit(True)
    for j in range(m):
        fit_cond = fit_cond & F.col(f"_l{p}_{j}").isNotNull()
    zs = [F.lit(1.0)] + [
        F.col(f"_l{lag}_{j}") for lag in range(1, p + 1) for j in range(m)
    ]
    aggs = [F.count("*").cast("double").alias("nn")]
    for i in range(k):
        for j in range(i, k):
            aggs.append(F.sum(F.when(fit_cond, zs[i] * zs[j])).alias(f"g_{i}_{j}"))
    for e in range(m):
        for i in range(k):
            aggs.append(
                F.sum(F.when(fit_cond, zs[i] * F.col(f"_y{e}"))).alias(
                    f"gy{e}_{i}"
                )
            )
    aggs.append(F.max(F.col(ds_col).cast("date")).alias("_max_ds"))
    aggs.append(
        F.slice(
            F.array_sort(
                F.collect_list(
                    F.struct(
                        F.col(ds_col).alias("ds"),
                        *[F.col(f"_y{j}").alias(f"y{j}") for j in range(m)],
                    )
                )
            ),
            -p,
            p,
        ).alias("_tail")
    )
    aggs.append(F.sum(F.when(fit_cond, F.lit(1.0))).alias("_fit_n"))
    out = d.groupBy().agg(*aggs)
    for lag in range(1, p + 1):
        for j in range(m):
            out = out.withColumn(
                f"lv{j}_{lag}", F.element_at("_tail", -lag)[f"y{j}"]
            )
    for name, expr in var_stages(m, p) + var_forecast_stages(m, p, horizon):
        out = out.withColumn(name, F.expr(expr))
    out = out.filter(F.coalesce(F.col("_fit_n"), F.lit(0.0)) > F.lit(float(k)))
    entries = F.array(
        *[
            F.struct(
                F.lit(name).alias("sid"),
                F.lit(h).alias("h"),
                F.col(f"f{e}_{h}").alias("yhat"),
            )
            for e, name in enumerate(series_names)
            for h in range(1, horizon + 1)
        ]
    )
    yhat = F.col("_e.yhat")
    return out.select("_max_ds", F.explode(entries).alias("_e")).select(
        F.col("_e.sid").alias(series_col),
        F.date_add(F.col("_max_ds"), F.col("_e.h")).alias(ds_col),
        F.when(~F.isnan(yhat), yhat).alias("yhat"),
    )


def arma_forecast_stages(p: int, q: int, horizon: int) -> list[tuple[str, str]]:
    """Unrolled h-step ARMA recursion as shared expression stages.

    Inputs: coefficients ``c_0`` (intercept), ``c_1..c_p`` (AR),
    ``c_{p+1}..c_{p+q}`` (MA), last observations ``lv_1..lv_p``
    (lv_1 = y_n) and last residuals ``le_1..le_q`` (le_1 = e_n).
    Future shocks are their expectation 0, so MA terms only survive
    while ``h − k ≤ 0`` reaches back into observed residuals — the
    standard conditional-expectation ARMA forecast.
    """
    stages = []
    for h in range(1, horizon + 1):
        terms = ["c_0"]
        for j in range(1, p + 1):
            src = f"f_{h - j}" if h - j >= 1 else f"lv_{j - h + 1}"
            terms.append(f"c_{j} * {src}")
        for k in range(1, q + 1):
            s = h - k
            if s <= 0:
                terms.append(f"c_{p + k} * le_{1 - s}")
        stages.append((f"f_{h}", " + ".join(terms)))
    return stages


def forecast_arma(
    df: DataFrame,
    *,
    p: int = 2,
    q: int = 1,
    ar_order: int | None = None,
    horizon: int = 14,
    series_cols: Iterable[str] = ("series_id",),
    ds_col: str = "ds",
    y_col: str = "y",
) -> DataFrame:
    """ARMA(p, q) forecast per series via Hannan–Rissanen two-stage
    least squares — the moving-average extension of ``forecast_ar``
    (the right tool when the ACF, not the PACF, cuts off sharply).

    Stage 1 fits a long AR(``ar_order``, default p+q+2) by the same
    staged-Cholesky OLS as ``forecast_ar`` and materializes its
    residuals e_t per row (one broadcast join of the series-count-
    sized coefficient table). Stage 2 regresses y_t on
    [1, y_{t−1..p}, e_{t−1..q}] — one more window pass + ONE
    aggregation — and the multi-step forecast is the unrolled
    conditional-expectation recursion (future shocks = 0,
    ``arma_forecast_stages``). Everything is native expressions; the
    oracle replays the identical stage strings (Hannan & Rissanen
    1982; Brockwell & Davis §8.4 — public literature).

    Output: (series, ds, yhat), h = 1..horizon, daily grain. Series
    without enough rows for either regression are dropped;
    rank-deficient fits yield NULL yhat.
    """
    if p < 1:
        raise ValueError(f"p must be >= 1: {p}")
    if q < 1:
        raise ValueError(f"q must be >= 1: {q}")
    if horizon < 1:
        raise ValueError(f"horizon must be >= 1: {horizon}")
    P = ar_order if ar_order is not None else p + q + 2
    if P < max(p, q):
        raise ValueError(f"ar_order must be >= max(p, q): {P}")
    series_cols = list(series_cols)
    ws = Window.partitionBy(*series_cols).orderBy(ds_col)
    y = F.col(y_col).cast("double")
    df = df.filter(F.col(y_col).isNotNull())
    d = df
    for j in range(1, P + 1):
        d = d.withColumn(f"_l{j}", F.lag(y, j).over(ws))

    # ---- stage 1: long AR(P), coefficients a_0..a_P per series ----
    condA = y.isNotNull()
    for j in range(1, P + 1):
        condA = condA & F.col(f"_l{j}").isNotNull()
    zsA = [F.lit(1.0)] + [F.col(f"_l{j}") for j in range(1, P + 1)]
    mA = P + 1
    aggsA = [F.count(y_col).cast("double").alias("nn")]
    for i in range(mA):
        for j2 in range(i, mA):
            aggsA.append(F.sum(zsA[i] * zsA[j2]).alias(f"g_{i}_{j2}"))
        aggsA.append(F.sum(zsA[i] * y).alias(f"gy_{i}"))
    gramA = d.filter(condA).groupBy(*series_cols).agg(*aggsA)
    for name, expr in ar_stages(P):
        gramA = gramA.withColumn(name, F.expr(expr))
    coefA = gramA.filter(F.col("nn") > F.lit(float(mA))).select(
        *series_cols,
        *[F.col(f"c_{i}").alias(f"_a{i}") for i in range(mA)],
    )

    # ---- residuals per row under the long AR ----
    pred = F.col("_a0")
    for j in range(1, P + 1):
        pred = pred + F.col(f"_a{j}") * F.col(f"_l{j}")
    withe = d.join(F.broadcast(coefA), on=series_cols).withColumn(
        "_e", F.when(condA, y - pred)
    )

    # ---- stage 2: y_t on [1, y-lags 1..p, e-lags 1..q] ----
    d2 = withe
    for k in range(1, q + 1):
        d2 = d2.withColumn(f"_el{k}", F.lag(F.col("_e"), k).over(ws))
    condB = y.isNotNull()
    for j in range(1, p + 1):
        condB = condB & F.col(f"_l{j}").isNotNull()
    for k in range(1, q + 1):
        condB = condB & F.col(f"_el{k}").isNotNull()
    zsB = (
        [F.lit(1.0)]
        + [F.col(f"_l{j}") for j in range(1, p + 1)]
        + [F.col(f"_el{k}") for k in range(1, q + 1)]
    )
    mB = p + q + 1
    aggsB = [F.count(y_col).cast("double").alias("nn")]
    for i in range(mB):
        for j2 in range(i, mB):
            aggsB.append(F.sum(zsB[i] * zsB[j2]).alias(f"g_{i}_{j2}"))
        aggsB.append(F.sum(zsB[i] * y).alias(f"gy_{i}"))
    gramB = d2.filter(condB).groupBy(*series_cols).agg(*aggsB)

    # ---- tails: last p observations + last q residuals ----
    tail = d2.groupBy(*series_cols).agg(
        F.max(F.col(ds_col).cast("date")).alias("_max_ds"),
        F.slice(
            F.array_sort(
                F.collect_list(F.struct(F.col(ds_col).alias("ds"), y.alias("v")))
            ),
            -p,
            p,
        ).alias("_ytail"),
        F.slice(
            F.array_sort(
                F.collect_list(
                    F.when(
                        F.col("_e").isNotNull(),
                        F.struct(F.col(ds_col).alias("ds"), F.col("_e").alias("v")),
                    )
                )
            ),
            -q,
            q,
        ).alias("_etail"),
    )
    out = gramB.join(tail, on=series_cols)
    for j in range(1, p + 1):
        out = out.withColumn(f"lv_{j}", F.element_at("_ytail", -j)["v"])
    for k in range(1, q + 1):
        out = out.withColumn(f"le_{k}", F.element_at("_etail", -k)["v"])
    for name, expr in ar_stages(p + q) + arma_forecast_stages(p, q, horizon):
        out = out.withColumn(name, F.expr(expr))
    out = out.filter(F.col("nn") > F.lit(float(mB)))
    pairs = F.array(
        *[
            F.struct(F.lit(h).alias("h"), F.col(f"f_{h}").alias("yhat"))
            for h in range(1, horizon + 1)
        ]
    )
    yhat = F.col("_e.yhat")
    return out.select(
        *series_cols, "_max_ds", F.explode(pairs).alias("_e")
    ).select(
        *series_cols,
        F.date_add(F.col("_max_ds"), F.col("_e.h")).alias(ds_col),
        F.when(~F.isnan(yhat), yhat).alias("yhat"),
    )


def forecast_arima(
    df: DataFrame,
    *,
    p: int = 2,
    d: int = 1,
    q: int = 1,
    ar_order: int | None = None,
    horizon: int = 14,
    series_cols: Iterable[str] = ("series_id",),
    ds_col: str = "ds",
    y_col: str = "y",
) -> DataFrame:
    """ARIMA(p, d, q) for d ∈ {0, 1}: difference once, fit the ARMA by
    Hannan–Rissanen (:func:`forecast_arma`), integrate the forecasts
    back — the complete Box–Jenkins recipe for trending series whose
    LEVEL is non-stationary but whose changes are ARMA (d ≥ 2 is out
    of honest scope — double integration amplifies noise and the ADF
    test in ``diagnostics`` should decide d anyway).

    Integration is one per-series ordered window: yhat_h = y_n +
    Σ_{i≤h} Δŷ_i, with strict NULL propagation (a rank-deficient Δŷ
    poisons every later horizon, matching the recursion's semantics —
    Spark's SUM would silently skip the NULL otherwise). All native;
    the oracle composes the differenced-series SQL through the same
    ARMA strings and the same masked cumulative sum.
    """
    if d not in (0, 1):
        raise ValueError(f"d must be 0 or 1, got {d}")
    series_cols = list(series_cols)
    if d == 0:
        return forecast_arma(
            df,
            p=p,
            q=q,
            ar_order=ar_order,
            horizon=horizon,
            series_cols=series_cols,
            ds_col=ds_col,
            y_col=y_col,
        )
    y = F.col(y_col).cast("double")
    base = df.filter(y.isNotNull())
    ws = Window.partitionBy(*series_cols).orderBy(ds_col)
    diffed = base.select(
        *series_cols,
        F.col(ds_col).alias(ds_col),
        (y - F.lag(y, 1).over(ws)).alias(y_col),
    )
    fc = forecast_arma(
        diffed,
        p=p,
        q=q,
        ar_order=ar_order,
        horizon=horizon,
        series_cols=series_cols,
        ds_col=ds_col,
        y_col=y_col,
    )
    last = base.groupBy(*series_cols).agg(
        F.expr(f"max_by({y_col}, {ds_col})").cast("double").alias("_y_last")
    )
    wcum = Window.partitionBy(*series_cols).orderBy(ds_col).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    out = fc.join(last, on=series_cols).select(
        *series_cols,
        ds_col,
        F.when(
            F.sum(F.col("yhat").isNull().cast("int")).over(wcum) > 0,
            F.lit(None).cast("double"),
        )
        .otherwise(F.col("_y_last") + F.sum("yhat").over(wcum))
        .alias("yhat"),
    )
    return out


def reconcile_bottom_up(
    forecasts: DataFrame,
    *,
    parent_cols: Iterable[str] = (),
    series_cols: Iterable[str] = ("series_id",),
    ds_col: str = "ds",
    yhat_col: str = "yhat",
) -> DataFrame:
    """Bottom-up hierarchical reconciliation: parent forecasts = the
    SUM of their children's — the aggregation-consistency guarantee
    dashboards demand (independently-fit levels never add up; cf.
    Hyndman fpp3 ch. 11). One aggregation per level.

    Output: (parent_cols…, ds, yhat) — the reconciled parent level
    (empty ``parent_cols`` = the grand total).
    """
    parent_cols = list(parent_cols)
    return forecasts.groupBy(*parent_cols, ds_col).agg(
        F.sum(F.col(yhat_col).cast("double")).alias(yhat_col)
    )


def reconcile_top_down(
    total_forecast: DataFrame,
    history: DataFrame,
    *,
    series_cols: Iterable[str] = ("series_id",),
    ds_col: str = "ds",
    yhat_col: str = "yhat",
    y_col: str = "y",
) -> DataFrame:
    """Top-down hierarchical reconciliation (average historical
    proportions): forecast the STABLE aggregate once, split it to the
    children by their historical value shares

        share_i = Σ_hist y_i / Σ_hist y        ŷ_i(t) = share_i · ŷ(t)

    — the classic fpp3 top-down; children sum to the total EXACTLY by
    construction, and the noisy child series never get their own
    model. One share aggregation (child-count-sized, broadcast back)
    + one projection over the total forecast.

    Output: (series_cols…, ds, yhat, share).
    """
    series_cols = list(series_cols)
    y = F.col(y_col).cast("double")
    shares = history.filter(y.isNotNull()).groupBy(*series_cols).agg(
        F.sum(y).alias("_sy")
    )
    tot = shares.agg(F.sum("_sy").alias("_ty"))
    shares = shares.crossJoin(F.broadcast(tot)).select(
        *series_cols,
        F.try_divide(F.col("_sy"), F.col("_ty")).alias("share"),
    )
    return total_forecast.select(
        F.col(ds_col), F.col(yhat_col).cast("double").alias("_th")
    ).crossJoin(F.broadcast(shares)).select(
        *series_cols,
        ds_col,
        (F.col("_th") * F.col("share")).alias(yhat_col),
        "share",
    )
