"""Property tests for the numpy additive-model forecaster (SURVEY.md §5.4a).

Invariants: interval ordering, horizon length/grid, constant-series
flatness, linear-trend recovery, weekly-seasonality recovery, and
distributed (applyInPandas) ≡ local (fit_forecast_series) equivalence.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from time_series_spark_spark.operators.forecast import (
    fit_forecast_series,
    forecast,
)


def _dates(n: int, start: str = "2020-01-01") -> np.ndarray:
    return np.datetime64(start, "us") + np.timedelta64(1, "D") * np.arange(n)


def test_interval_ordering_and_horizon():
    rng = np.random.default_rng(0)
    ds = _dates(400)
    y = 50 + 0.1 * np.arange(400) + rng.normal(0, 2, 400)
    out = fit_forecast_series(ds, y, horizon=30)
    assert len(out) == 30
    assert (out["yhat_lower"] <= out["yhat"] + 1e-9).all()
    assert (out["yhat"] <= out["yhat_upper"] + 1e-9).all()
    # future grid: strictly daily, starting the day after the last point
    deltas = np.diff(out["ds"].to_numpy()) / np.timedelta64(1, "D")
    assert (deltas == 1.0).all()
    assert out["ds"].iloc[0] == pd.Timestamp("2021-02-04")


def test_constant_series_forecasts_constant():
    ds = _dates(100)
    y = np.full(100, 42.0)
    out = fit_forecast_series(ds, y, horizon=10)
    np.testing.assert_allclose(out["yhat"], 42.0, rtol=1e-3)


def test_linear_trend_recovered():
    ds = _dates(200)
    y = 10.0 + 2.5 * np.arange(200)
    out = fit_forecast_series(ds, y, horizon=20)
    expected = 10.0 + 2.5 * np.arange(200, 220)
    np.testing.assert_allclose(out["yhat"], expected, rtol=0.02)


def test_weekly_seasonality_recovered():
    rng = np.random.default_rng(1)
    n = 730
    ds = _dates(n)
    dow_effect = np.array([0.0, 5.0, -3.0, 2.0, 0.0, -4.0, 6.0])
    y = 100 + dow_effect[np.arange(n) % 7] + rng.normal(0, 0.5, n)
    out = fit_forecast_series(ds, y, horizon=14)
    got = out["yhat"].to_numpy()
    exp = 100 + dow_effect[np.arange(n, n + 14) % 7]
    assert np.corrcoef(got, exp)[0, 1] > 0.98


def test_short_series_fallback():
    ds = _dates(3)
    y = np.array([1.0, 2.0, 3.0])
    out = fit_forecast_series(ds, y, horizon=5)
    assert len(out) == 5
    np.testing.assert_allclose(out["yhat"], 2.0)
    assert (out["yhat_lower"] <= out["yhat"]).all()


def test_nan_rows_dropped():
    ds = _dates(50)
    y = np.full(50, 7.0)
    y[::5] = np.nan
    out = fit_forecast_series(ds, y, horizon=5)
    np.testing.assert_allclose(out["yhat"], 7.0, rtol=1e-3)


def test_distributed_matches_local(spark):
    rng = np.random.default_rng(2)
    frames = []
    for key in ["a", "b", "c"]:
        n = 300
        ds = _dates(n)
        y = rng.normal(100, 10, n).round(3)
        frames.append(pd.DataFrame({"key": key, "ds": ds, "y": y}))
    pdf = pd.concat(frames)
    df = spark.createDataFrame(pdf)
    got = (
        forecast(df, ["key"], "ds", "y", horizon=10)
        .orderBy("key", "ds")
        .toPandas()
    )
    assert len(got) == 30
    for key, sub in pdf.groupby("key"):
        local = fit_forecast_series(
            sub["ds"].to_numpy(), sub["y"].to_numpy(), horizon=10
        )
        dist = got[got["key"] == key]
        np.testing.assert_allclose(
            dist["yhat"].to_numpy(), local["yhat"].to_numpy(), rtol=1e-9
        )


@pytest.mark.parametrize("seed", [3, 4, 5])
def test_backtest_coverage_reasonable(seed):
    # in-sample-quantile intervals should cover a decent share of a
    # well-behaved held-out window
    rng = np.random.default_rng(seed)
    n = 500
    ds = _dates(n)
    y = 200 + 0.05 * np.arange(n) + rng.normal(0, 5, n)
    train, test = 450, 28
    fc = fit_forecast_series(ds[:train], y[:train], horizon=test)
    actual = y[train : train + test]
    cov = (
        (actual >= fc["yhat_lower"].to_numpy()[: len(actual)])
        & (actual <= fc["yhat_upper"].to_numpy()[: len(actual)])
    ).mean()
    assert cov >= 0.5


def _backtest_one_series(ds, y, cutoffs, horizon):
    """Per-fold reference: one scalar fit per cutoff, scored by merging
    the forecast with the series' actuals on ds."""
    rows = []
    for co in cutoffs:
        co = np.datetime64(co, "us")
        train = ds <= co
        if train.sum() < 5:
            continue
        fc = fit_forecast_series(ds[train], y[train], horizon)
        m = fc.merge(pd.DataFrame({"ds": ds, "y": y}), on="ds", how="inner")
        if m.empty:
            continue
        err = m["y"] - m["yhat"]
        rows.append(
            {
                "cutoff": pd.Timestamp(co),
                "n_test": len(m),
                "mae": float(err.abs().mean()),
                "rmse": float(np.sqrt((err**2).mean())),
                "coverage": float(
                    ((m["y"] >= m["yhat_lower"]) & (m["y"] <= m["yhat_upper"]))
                    .mean()
                ),
            }
        )
    return rows


def test_backtest_matches_per_series_folds(spark):
    """Fold-batched backtest (shared cohort solve + one scoring join) ≡
    one scalar fit and one merge per (series, cutoff), on the edge cases
    of the fold rules: NaN history, NaN and all-NaN test windows, too
    little history, a series starting after a cutoff, unobserved test
    windows, several cohorts, a two-column key, and series straddling
    Arrow batches."""
    from time_series_spark_spark.operators.forecast import backtest

    rng = np.random.default_rng(11)
    cutoffs = ["2020-04-09", "2020-05-19", "2020-06-08"]
    horizon = 14
    c0, c1, c2 = (np.datetime64(c, "us") for c in cutoffs)
    day = np.timedelta64(1, "D")

    def series(start, n):
        ds = np.datetime64(start, "us") + day * np.arange(n)
        t = np.arange(n)
        y = 50 + 0.1 * t + 4 * np.sin(2 * np.pi * t / 7) + rng.normal(0, 1, n)
        return ds, y.round(3)

    cases = {}
    for store, item, start in [  # two same-start cohorts of clean series
        ("s1", 1, "2020-01-01"), ("s1", 2, "2020-01-01"),
        ("s2", 1, "2020-02-01"), ("s2", 2, "2020-02-01"),
    ]:
        cases[store, item] = series(start, 180)
    ds, y = series("2020-01-01", 180)
    y[[10, 40, 41, 90]] = np.nan  # NaN in every training prefix
    cases["nan", 1] = ds, y
    ds, y = series("2020-01-01", 180)
    y[(ds > c0) & (ds <= c0 + 5 * day)] = np.nan  # NaN in one test window
    y[(ds > c1) & (ds <= c1 + horizon * day)] = np.nan  # all-NaN window
    y[(ds > c2 - 3 * day) & (ds <= c2)] = np.nan  # history ends in NaN
    cases["nan", 2] = ds, y
    cases["short", 1] = series("2020-04-06", 100)  # 4 rows before c0
    cases["late", 1] = series("2020-04-20", 90)  # starts after c0
    ds, y = series("2020-01-01", 180)
    keep = (ds <= c1) | (ds > c1 + horizon * day)  # unobserved test window
    cases["gap", 1] = ds[keep], y[keep]
    ds, y = series("2020-04-01", 60)
    y[:12] = np.nan  # history all NaN at c0 (>= 5 rows, nothing to fit)
    cases["allnan", 1] = ds, y

    pdf = pd.concat(
        [
            pd.DataFrame({"store": s, "item": i, "ds": ds, "y": y})
            for (s, i), (ds, y) in cases.items()
        ],
        ignore_index=True,
    )
    conf = "spark.sql.execution.arrow.maxRecordsPerBatch"
    prev = spark.conf.get(conf)
    spark.conf.set(conf, "97")  # every series spans several Arrow batches
    try:
        got = (
            backtest(
                spark.createDataFrame(pdf), ["store", "item"], "ds", "y",
                cutoffs, horizon=horizon,
            )
            .toPandas()
            .sort_values(["store", "item", "cutoff"])
            .reset_index(drop=True)
        )
    finally:
        spark.conf.set(conf, prev)

    ref = pd.DataFrame(
        [
            {"store": s, "item": i, **r}
            for (s, i), (ds, y) in sorted(cases.items())
            for r in _backtest_one_series(ds, y, cutoffs, horizon)
        ]
    )
    assert list(got.columns) == list(ref.columns)
    pd.testing.assert_frame_equal(
        got[["store", "item", "cutoff", "n_test"]],
        ref[["store", "item", "cutoff", "n_test"]],
        check_dtype=False,
    )
    for c in ["mae", "rmse", "coverage"]:
        np.testing.assert_allclose(
            np.round(got[c].to_numpy(dtype=float), 4),
            np.round(ref[c].to_numpy(dtype=float), 4),
            rtol=0, atol=1.5e-4, err_msg=c,
        )
    # the edge cases are present: skipped folds and NaN-only scores
    folds = set(zip(got["store"], got["item"], got["cutoff"]))
    assert ("short", 1, pd.Timestamp(c0)) not in folds
    assert ("late", 1, pd.Timestamp(c0)) not in folds
    assert ("gap", 1, pd.Timestamp(c1)) not in folds
    assert ("allnan", 1, pd.Timestamp(c0)) not in folds
    nan2 = got[(got["store"] == "nan") & (got["item"] == 2)]
    assert nan2["mae"].isna().sum() == 1 and (nan2["n_test"] >= horizon).all()
    assert len(set(zip(got["store"], got["item"]))) == len(cases)


@given(
    a_weekly=st.floats(2.0, 10.0),
    a_yearly=st.floats(5.0, 20.0),
    phase_w=st.floats(0.0, 6.28),
    phase_y=st.floats(0.0, 6.28),
    sigma=st.floats(0.0, 2.0),
    seed=st.integers(0, 10_000),
)
@settings(max_examples=12, deadline=None)
def test_seasonal_amplitude_recovered(a_weekly, a_yearly, phase_w, phase_y, sigma, seed):
    """Quality property, not just shape: with a planted weekly+yearly
    sinusoid at realistic noise, the OUT-OF-SAMPLE forecast must carry
    both seasonal components at the planted amplitude (±35% + a noise
    allowance) — guards the lstsq design matrix (Fourier blocks, ridge
    weights, scaling) against silent regression."""
    rng = np.random.default_rng(seed)
    n = 900  # ~2.5 years: yearly block active (span >= 365)
    t = np.arange(n, dtype=float)
    ds = _dates(n)
    y = (
        100.0
        + a_weekly * np.sin(2 * np.pi * t / 7.0 + phase_w)
        + a_yearly * np.sin(2 * np.pi * t / 365.25 + phase_y)
        + rng.normal(0, sigma, n)
    )
    horizon = 366
    out = fit_forecast_series(ds, y, horizon=horizon)
    yhat = out["yhat"].to_numpy()
    th = np.arange(n, n + horizon, dtype=float)

    def fitted_amplitude(period: float) -> float:
        # project the forecast onto the planted frequency (detrended LS)
        X = np.column_stack(
            [
                np.ones(horizon),
                th,
                np.sin(2 * np.pi * th / period),
                np.cos(2 * np.pi * th / period),
            ]
        )
        beta, *_ = np.linalg.lstsq(X, yhat, rcond=None)
        return float(np.hypot(beta[2], beta[3]))

    tol = lambda a: 0.35 * a + 3.0 * sigma / np.sqrt(n) + 0.5
    got_w = fitted_amplitude(7.0)
    got_y = fitted_amplitude(365.25)
    assert abs(got_w - a_weekly) <= tol(a_weekly), (got_w, a_weekly)
    assert abs(got_y - a_yearly) <= tol(a_yearly), (got_y, a_yearly)


def test_holiday_effect_recovered_out_of_sample():
    """Prophet-style holiday regressor: a planted +40 spike on listed
    dates is learned and applied to a FUTURE listed date; without the
    regressor the same spike is missed (it sits off the seasonal grid).
    Guards the indicator block and its ridge weight."""
    rng = np.random.default_rng(9)
    n = 400
    ds = _dates(n)
    days = ds.astype("datetime64[D]")
    # irregular "promo" days in-sample + one in the forecast window
    promo_train = [str(days[i]) for i in (30, 95, 160, 230, 300, 370)]
    promo_future = str((ds[-1] + np.timedelta64(10, "D")).astype("datetime64[D]"))
    promos = promo_train + [promo_future]
    y = 100 + rng.normal(0, 1.5, n)
    for p in promo_train:
        y[days == np.datetime64(p)] += 40.0

    with_hol = fit_forecast_series(
        ds, y, horizon=20, holidays={"promo": promos}
    )
    without = fit_forecast_series(ds, y, horizon=20)
    fut_days = with_hol["ds"].to_numpy().astype("datetime64[D]")
    on = fut_days == np.datetime64(promo_future)
    assert on.sum() == 1
    spike_with = float(with_hol["yhat"].to_numpy()[on][0])
    spike_without = float(without["yhat"].to_numpy()[on][0])
    base = float(np.median(with_hol["yhat"].to_numpy()[~on]))
    assert abs(spike_with - (base + 40.0)) < 8.0
    assert abs(spike_without - base) < 8.0  # no regressor -> no spike
    # non-promo future days unaffected by adding the regressor
    off_diff = np.abs(
        with_hol["yhat"].to_numpy()[~on] - without["yhat"].to_numpy()[~on]
    )
    assert float(off_diff.max()) < 3.0


def test_multiplicative_mode_scales_seasonality_with_trend():
    """On a series whose weekly amplitude grows proportionally to the
    trend level, multiplicative mode must beat additive out-of-sample
    and track the level-scaled amplitude; it must also reject
    non-positive data loudly."""
    rng = np.random.default_rng(2)
    n, horizon = 400, 28
    t = np.arange(n + horizon, dtype=float)
    level = 50.0 * np.exp(0.002 * t)  # gentle exponential growth
    season = 1.0 + 0.3 * np.sin(2 * np.pi * t / 7.0)
    noise = np.exp(rng.normal(0, 0.01, n + horizon))
    y_all = level * season * noise
    ds_all = _dates(n + horizon)

    mult = fit_forecast_series(
        ds_all[:n], y_all[:n], horizon=horizon,
        seasonality_mode="multiplicative",
    )
    addi = fit_forecast_series(ds_all[:n], y_all[:n], horizon=horizon)
    actual = y_all[n:]
    err_mult = np.abs(mult["yhat"].to_numpy() - actual).mean()
    err_addi = np.abs(addi["yhat"].to_numpy() - actual).mean()
    assert err_mult < err_addi
    assert err_mult / actual.mean() < 0.05  # within 5% MAPE
    assert (mult["yhat_lower"].to_numpy() > 0).all()  # positivity preserved

    with pytest.raises(ValueError, match="multiplicative"):
        fit_forecast_series(
            _dates(10), np.array([1.0] * 9 + [0.0]), horizon=5,
            seasonality_mode="multiplicative",
        )


def test_multi_rhs_cohort_matches_scalar_path():
    """fit_forecast_multi (one factorized solve for a same-grid cohort)
    must reproduce fit_forecast_series per column to fp noise — it is a
    pure factorization-reuse optimization, not a model change."""
    from time_series_spark_spark.operators.forecast import fit_forecast_multi

    rng = np.random.default_rng(3)
    n, m = 250, 7
    ds = _dates(n)
    Y = 50 + np.cumsum(rng.normal(0, 2, (n, m)), axis=0)
    Y = np.abs(Y) + 1.0
    multi = fit_forecast_multi(ds, Y, horizon=15)
    for j in range(m):
        single = fit_forecast_series(ds, Y[:, j], horizon=15)
        for c in ("yhat", "yhat_lower", "yhat_upper"):
            np.testing.assert_allclose(
                multi[j][c].to_numpy(), single[c].to_numpy(),
                rtol=1e-8, atol=1e-8,
            )


# ---------------------------------------------------------------------------
# Holt-Winters
# ---------------------------------------------------------------------------
def test_holt_winters_recovers_planted_signal():
    """Additive trend + weekly seasonality with tiny noise: the h-step
    forecast must track the true continuation closely."""
    import numpy as np

    from time_series_spark_spark.operators.forecast import holt_winters_series

    rng = np.random.default_rng(7)
    n, m, h = 140, 7, 14
    t = np.arange(n + h)
    season = np.array([5, -3, 0, 2, -4, 1, -1], dtype=float)
    y_full = 100 + 0.5 * t + season[t % m] + rng.normal(0, 0.05, n + h)
    yhat, sse = holt_winters_series(y_full[:n], m, h)
    true_tail = y_full[n:]
    mae = float(np.mean(np.abs(yhat - true_tail)))
    assert mae < 0.5, mae
    assert sse < n  # sub-unit per-point residuals on a near-exact model


def test_holt_winters_rejects_short_series():
    import numpy as np
    import pytest as _pytest

    from time_series_spark_spark.operators.forecast import holt_winters_series

    with _pytest.raises(ValueError):
        holt_winters_series(np.arange(10.0), 7, 5)


def test_holt_winters_spark_grid_and_skip(spark):
    """Distributed path: forecast grid continues daily from each series'
    last observation; series shorter than two seasons are skipped."""
    import datetime as dt

    import numpy as np

    from time_series_spark_spark.operators.forecast import holt_winters

    t0 = dt.datetime(2024, 1, 1)
    rows = []
    season = [5, -3, 0, 2, -4, 1, -1]
    for i in range(28):
        rows.append(("long", t0 + dt.timedelta(days=i), 10.0 + season[i % 7]))
    for i in range(5):
        rows.append(("short", t0 + dt.timedelta(days=i), 1.0))
    df = spark.createDataFrame(rows, "key string, ds timestamp, y double")
    out = holt_winters(df, ["key"], "ds", "y", season_length=7, horizon=3)
    rows_out = out.collect()
    assert {r["key"] for r in rows_out} == {"long"}
    ds = sorted(r["ds"] for r in rows_out)
    assert ds == [t0 + dt.timedelta(days=28 + i) for i in range(3)]
    # constant-trend seasonal series: forecast ~ level + seasonal exactly
    for r in rows_out:
        day_idx = (r["ds"] - t0).days
        assert abs(r["yhat"] - (10.0 + season[day_idx % 7])) < 0.5


def test_model_selection_prefers_matching_generator(spark):
    """Series generated BY one model class should elect that class: pure
    weekly-additive-seasonal data (HW's exact form, also additive's) is a
    fair fight, but a sharp changepoint trend favors the recursive HW —
    assert instead the structural contract: folds counted, champion is
    the argmin of the two reported MAEs."""
    import datetime as dt

    import numpy as np

    from time_series_spark_spark.operators.forecast import model_selection

    t0 = dt.datetime(2024, 1, 1)
    rng = np.random.default_rng(2)
    rows = []
    season = [5, -3, 0, 2, -4, 1, -1]
    for i in range(120):
        rows.append(
            ("s", t0 + dt.timedelta(days=i),
             100 + 0.5 * i + season[i % 7] + float(rng.normal(0, 0.1)))
        )
    df = spark.createDataFrame(rows, "key string, ds timestamp, y double")
    out = model_selection(
        df, ["key"], "ds", "y",
        cutoffs=["2024-03-15", "2024-04-01"], horizon=14,
    ).collect()
    assert len(out) == 1
    r = out[0]
    assert r["n_folds"] == 2
    want = "additive" if r["mae_additive"] <= r["mae_hw"] else "holt_winters"
    assert r["champion"] == want
    assert r["mae_additive"] < 5 and r["mae_hw"] < 5  # both sane on-model


def test_conformal_coverage_guarantee(spark):
    """Split-conformal coverage: over many level+noise series, held-out
    actuals fall inside [lo, hi] at >= ~(1 - alpha) rate."""
    import datetime as dt

    import numpy as np

    from time_series_spark_spark.operators.forecast import conformal_forecast

    t0 = dt.datetime(2024, 1, 1)
    rng = np.random.default_rng(7)
    n_hist, h = 90, 10
    rows, truth = [], {}
    for s in range(30):
        level = float(rng.uniform(-50, 50))
        y = level + rng.normal(0, 3.0, n_hist + h)
        for i in range(n_hist):
            rows.append((s, t0 + dt.timedelta(days=i), float(y[i])))
        truth[s] = y[n_hist:]
    df = spark.createDataFrame(rows, "sid long, ds timestamp, y double")
    out = conformal_forecast(
        df, ["sid"], "ds", "y", horizon=h, alpha=0.1
    ).collect()
    assert len(out) == 30 * h
    hits = total = 0
    for r in out:
        day_idx = (r["ds"] - (t0 + dt.timedelta(days=n_hist - 1))).days - 1
        actual = truth[r["sid"]][day_idx]
        hits += int(r["lo"] <= actual <= r["hi"])
        total += 1
    assert hits / total >= 0.85, hits / total
    # intervals are symmetric around yhat with half-width qhat
    for r in out[:20]:
        assert abs((r["hi"] - r["yhat"]) - (r["yhat"] - r["lo"])) < 2.1e-4
        assert abs((r["hi"] - r["yhat"]) - r["qhat"]) < 1e-3


def test_theta_halves_linear_drift():
    """Hyndman-Billah: Theta(2) ≡ SES + b/2 drift — on a long pure
    linear series the forecast increments must be exactly b/2."""
    import numpy as np

    from time_series_spark_spark.operators.forecast import theta_series

    y = 5.0 * np.arange(200, dtype=float) + 10
    yhat, alpha, _ = theta_series(y, horizon=10)
    incr = np.diff(yhat)
    assert np.allclose(incr, 2.5, atol=1e-6), incr
    # and on a flat series the drift vanishes: forecast == SES level
    flat = np.full(100, 7.0)
    yh2, _, _ = theta_series(flat, horizon=5)
    assert np.allclose(yh2, 7.0, atol=1e-9)


def test_croston_recovers_planted_intermittent_demand():
    import numpy as np

    from time_series_spark_spark.operators.forecast import croston_series

    y = np.zeros(400)
    y[3::4] = 8.0  # demand of 8 every 4th period
    rate, z_hat, p_hat, n_dem = croston_series(y, alpha=0.1)
    assert abs(z_hat - 8.0) < 1e-9
    assert abs(p_hat - 4.0) < 0.35  # first-interval init decays at (1-α)^k
    assert abs(rate - 2.0) < 0.25
    assert n_dem == 100
    # all-zero demand -> rate 0, no crash
    assert croston_series(np.zeros(50))[0] == 0.0


def test_forecast_on_grid_matches_join_densify(spark):
    """forecast_on_grid (sparse rows + in-stage numpy densify) must be
    byte-identical to forecast() over the dense grid-join form it
    replaced — including users with leading/trailing gap days and a
    user with a single observation (zero-dominated series)."""
    import datetime as dt

    import numpy as np
    import pandas as pd
    from pyspark.sql import functions as F

    from time_series_spark_spark.operators.forecast import (
        forecast,
        forecast_on_grid,
    )

    rng = np.random.default_rng(5)
    t0 = dt.datetime(2024, 3, 1)
    rows = []
    for u in range(12):
        days = sorted(
            rng.choice(40, size=int(rng.integers(1, 35)), replace=False)
        )
        for d in days:
            rows.append((u, t0 + dt.timedelta(days=int(d)),
                         float(np.round(rng.normal(), 6))))
    sparse = spark.createDataFrame(rows, "u long, ds timestamp, y double")
    bounds = sparse.agg(F.min("ds").alias("lo"), F.max("ds").alias("hi"))

    grid = (
        sparse.select("u").distinct()
        .crossJoin(F.broadcast(bounds))
        .select("u", F.explode(
            F.expr("sequence(lo, hi, interval 1 day)")).alias("ds"))
    )
    dense = grid.join(sparse, ["u", "ds"], "left").select(
        "u", "ds", F.coalesce("y", F.lit(0.0)).alias("y"))
    want = (
        forecast(dense, ["u"], "ds", "y", horizon=6)
        .toPandas().sort_values(["u", "ds"]).reset_index(drop=True)
    )
    brow = bounds.collect()[0]
    got = (
        forecast_on_grid(
            sparse, ["u"], "ds", "y", brow["lo"], brow["hi"], horizon=6,
        )
        .toPandas().sort_values(["u", "ds"]).reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(want, got)
