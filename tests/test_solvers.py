"""Solver-layer correctness on synthetic signals with known ground truth —
the reference validates its decompositions the same way (golden signals +
tolerances, SURVEY §5)."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F


def test_tv_denoise_recovers_steps_and_is_optimal():
    from solar_data_tools_spark.solvers.tv import tv1d_denoise

    rng = np.random.default_rng(0)
    truth = np.concatenate([np.full(120, 1.0), np.full(90, 4.0), np.full(140, 2.5)])
    y = truth + rng.normal(0, 0.15, len(truth))
    lam = 4.0
    x = tv1d_denoise(y, lam)

    def obj(z):
        return 0.5 * np.sum((y - z) ** 2) + lam * np.sum(np.abs(np.diff(z)))

    base = obj(x)
    for _ in range(300):
        assert obj(x + rng.normal(0, 1e-3, len(x))) >= base - 1e-9
    # step locations recovered within 2 samples
    jumps = np.where(np.abs(np.diff(x)) > 0.5)[0]
    assert any(abs(j - 119) <= 2 for j in jumps)
    assert any(abs(j - 209) <= 2 for j in jumps)


def test_tv_denoise_nan_gaps():
    from solar_data_tools_spark.solvers.tv import tv1d_denoise_nan

    y = np.concatenate([np.full(50, 1.0), np.full(50, 3.0)])
    y[20:25] = np.nan
    x = tv1d_denoise_nan(y, 1.0)
    assert np.isfinite(x).all()
    assert abs(x[0] - 1.0) < 0.2 and abs(x[-1] - 3.0) < 0.2


def test_d1_separates_pwc_from_seasonal():
    from solar_data_tools_spark.solvers.decompositions import l2_l1d1_l2d2p365_fit

    rng = np.random.default_rng(1)
    n = 730
    t = np.arange(n)
    seasonal_true = 1.5 * np.sin(2 * np.pi * t / 365.2425)
    pwc_true = np.where(t < 400, 0.0, 2.0)
    y = 10.0 + seasonal_true + pwc_true + rng.normal(0, 0.1, n)
    pwc, seasonal = l2_l1d1_l2d2p365_fit(y, w1=8.0)
    # the step is recovered: difference between segment means ~ 2.0
    step = np.nanmean(pwc[450:]) - np.nanmean(pwc[:350])
    assert abs(step - 2.0) < 0.3, step
    # seasonal component tracks the sinusoid shape (zero-mean basis)
    corr = np.corrcoef(seasonal, seasonal_true)[0, 1]
    assert corr > 0.95, corr


def test_tl1_batch_matches_single_fits():
    """J batched D2 columns against J separate single-series fits: mixed
    tau, a different use mask per column, and one series that starts at
    a day offset on the shared axis (the phase invariance that
    ``fit_seasonal_quantile`` relies on when it stacks sites onto one
    global day axis)."""
    from solar_data_tools_spark.solvers.exact import (
        solve_tl1_l2d2p365,
        solve_tl1_l2d2p365_batch,
    )

    rng = np.random.default_rng(0)
    T, off, n_off = 800, 170, 500

    def series(n, start):
        t = np.arange(n) + start
        w = 2 * np.pi * t / 365.2425
        return 5.0 + 2.0 * np.sin(w) + 0.5 * np.cos(2 * w) + rng.normal(0, 0.4, n)

    y0, use0 = series(T, 0), rng.random(T) < 0.8
    y1 = series(T, 0)
    y1[rng.random(T) < 0.1] = np.nan
    y2, use2 = series(n_off, off), rng.random(n_off) < 0.9
    y3, use3 = series(T, 0), np.ones(T, dtype=bool)
    use3[300:420] = False
    taus = np.array([0.1, 0.5, 0.9, 0.75])

    Y = np.full((T, 4), np.nan)
    U = np.ones((T, 4), dtype=bool)
    Y[:, 0], U[:, 0] = y0, use0
    Y[:, 1] = y1
    Y[off : off + n_off, 2], U[off : off + n_off, 2] = y2, use2
    Y[:, 3], U[:, 3] = y3, use3
    S, obj = solve_tl1_l2d2p365_batch(Y, taus, use_ixs=U)

    singles = [
        solve_tl1_l2d2p365(y0, taus[0], use_ixs=use0),
        solve_tl1_l2d2p365(y1, taus[1]),
        solve_tl1_l2d2p365(y2, taus[2], use_ixs=use2),
        solve_tl1_l2d2p365(y3, taus[3], use_ixs=use3),
    ]
    rows = [slice(None), slice(None), slice(off, off + n_off), slice(None)]
    for j, ((s_j, o_j), r) in enumerate(zip(singles, rows)):
        assert abs(obj[j] - o_j) < 1e-8 * max(1.0, abs(o_j)), (j, obj[j], o_j)
        # each column stops on its own scale and stall rule, so its fit
        # does not depend on its batch-mates
        gap = np.max(np.abs(S[r, j] - s_j))
        assert gap < 1e-8, (j, gap)

    # the offset column alone on the shared axis equals its local-axis fit
    S2, obj2 = solve_tl1_l2d2p365_batch(Y[:, 2:3], taus[2], use_ixs=U[:, 2:3])
    assert np.max(np.abs(S2[off : off + n_off, 0] - singles[2][0])) < 1e-8
    assert abs(obj2[0] - singles[2][1]) < 1e-8 * abs(singles[2][1])


def _noon_series(n_days, shift_day, shift_hours, seed, masked_frac):
    """Daily solar-noon metric (hours) of a 15-minute site: 12 h plus the
    equation-of-time wobble and noise, stepping by ``shift_hours`` from
    ``shift_day`` on, with a seeded ``masked_frac`` of the days masked
    (never the two days around the step)."""
    rng = np.random.default_rng(seed)
    t = np.arange(n_days)
    w = 2 * np.pi * t / 365.2425
    noon = 12.0 + 0.12 * np.sin(w) - 0.16 * np.sin(2 * w + 0.4)
    noon = noon + rng.normal(0, 0.02, n_days)
    noon[shift_day:] += shift_hours
    use = rng.random(n_days) >= masked_frac
    use[shift_day - 1 : shift_day + 1] = True
    return noon, use


def _exact_off_support(s):
    """Every first difference is either a real jump or exactly zero:
    no near-zero dust off the support."""
    d = np.diff(s)
    return bool(np.all((d == 0) | (np.abs(d) > 1e-6)))


def test_d1_grid_batch_matches_single_fits():
    """A site's w1 grid solved as one batch equals the grid solved one
    w1 at a time, and picks the same best_w1."""
    from solar_data_tools_spark.algorithms.grid_search import grid_holdout_mse
    from solar_data_tools_spark.solvers.exact import (
        solve_l2_l1d1_l2d2p365,
        solve_l2_l1d1_l2d2p365_batch,
    )

    noon, use = _noon_series(366, 200, 1.0, seed=5, masked_frac=0.10)
    y = np.where(use, noon, np.nan)
    holdout = np.random.default_rng(42).random(len(y)) < 0.15
    y_train = np.where(holdout, np.nan, y)
    grid = [float(w) for w in np.logspace(-1, 2, 11)]
    S_hat, S_seas, obj = solve_l2_l1d1_l2d2p365_batch(
        y_train, grid, period=365.2425
    )
    mse_single = []
    for j, w1 in enumerate(grid):
        s_hat, s_seas, o = solve_l2_l1d1_l2d2p365(
            y_train, w1=w1, period=365.2425
        )
        assert np.max(np.abs(S_hat[:, j] - s_hat)) < 1e-9, w1
        assert np.max(np.abs(S_seas[:, j] - s_seas)) < 1e-9, w1
        assert abs(obj[j] - o) < 1e-9 * max(1.0, abs(o)), w1
        r = (y - s_hat - s_seas)[holdout & np.isfinite(y)]
        mse_single.append(float(np.mean(r**2)))
    mse_batch = grid_holdout_mse(y, grid, 0.15, 42)
    np.testing.assert_allclose(mse_batch, mse_single, rtol=1e-9)
    assert grid[int(np.argmin(mse_batch))] == grid[int(np.argmin(mse_single))]


def test_time_shift_roundtrip_on_masked_noon():
    """Two years of a 15-minute site whose clock falls an hour behind on
    day 400, with ~40 % of the days masked out of the fit: the detection
    finds exactly that transition (through the transition_locs re-solve)
    and rolls the late days forward by 4 slots. The D1 and D3 plateaus
    are exact: off their jumps every first difference is exactly 0."""
    from solar_data_tools_spark.algorithms.time_shift import (
        detect_time_shifts_from_noon,
    )
    from solar_data_tools_spark.solvers.exact import (
        solve_l1_pwc_smoothper_trend,
        solve_l2_l1d1_l2d2p365,
    )

    noon, use = _noon_series(730, 400, -1.0, seed=11, masked_frac=0.40)
    assert 0.35 < 1 - use.mean() < 0.45
    out = detect_time_shifts_from_noon(
        noon, use_ixs=use, w1=75.0, slots_per_day=96
    )
    assert out["transitions"].tolist() == [399]
    assert set(out["roll_by_index"].tolist()) == {0.0, 4.0}
    assert np.all(out["roll_by_index"][400:] == 4.0)

    s1, _s2, _obj = solve_l2_l1d1_l2d2p365(noon, w1=75.0, use_ixs=use)
    assert _exact_off_support(s1)
    log_max = np.log(np.where(np.arange(730) < 300, 5.0, 3.5))
    log_max = log_max + np.random.default_rng(2).normal(0, 0.01, 730)
    log_max[~use] = np.nan
    x2, _seas, _lin, _obj = solve_l1_pwc_smoothper_trend(
        log_max, w2=0.5, period=365.2425
    )
    assert _exact_off_support(x2)


def test_d4_cdf_fit_is_piecewise_linear_with_endpoints():
    from solar_data_tools_spark.solvers.decompositions import l2_l1d2_constrained_fit

    rng = np.random.default_rng(2)
    n = 201
    q = np.linspace(0, 1, n)
    truth = np.where(q < 0.5, q, 0.5 + 3 * (q - 0.5))  # kink at 0.5
    y = truth + rng.normal(0, 0.01, n)
    fit = l2_l1d2_constrained_fit(y, w=50.0)
    assert abs(fit[0] - y[0]) < 1e-4 and abs(fit[-1] - y[-1]) < 1e-4
    # l1-of-D2 sparsifies curvature: most cells have ~zero second diff
    d2 = np.abs(np.diff(fit, 2))
    assert np.mean(d2 < 1e-4) > 0.9, np.mean(d2 < 1e-4)
    assert np.max(np.abs(fit - truth)) < 0.05


def test_clear_sky_dp_labels_band():
    from solar_data_tools_spark.algorithms.daily_flags import clear_sky_dp_labels

    n = 200
    baseline = np.full(n, 10.0)
    values = baseline.copy()
    values[80:120] = 4.0  # a cloudy block well below the band
    labels = clear_sky_dp_labels(values=values, baseline=baseline)
    assert labels[:80].all() and labels[120:].all()
    assert not labels[90:110].any()
    # stickiness: a single-sample dip should NOT flip the state
    values2 = baseline.copy()
    values2[100] = 4.0
    labels2 = clear_sky_dp_labels(values=values2, baseline=baseline)
    assert labels2.all()


def test_time_shift_detection_on_synthetic_shift(spark):
    """A fleet of 1 site whose solar noon steps by +1h on day 60 must be
    detected with a -1h correction after the step."""
    from solar_data_tools_spark.algorithms.daily_flags import detect_time_shifts

    import pandas as pd

    dates = pd.date_range("2024-01-01", periods=120).date
    noon = np.where(np.arange(120) < 60, 12.0, 13.0) + np.random.default_rng(
        3
    ).normal(0, 0.02, 120)
    pdf = pd.DataFrame({"site": 1, "date": dates, "solar_noon_com": noon})
    daily = spark.createDataFrame(pdf)
    out = (
        detect_time_shifts(daily, w1=0.5, min_shift_hours=0.25)
        .orderBy("date")
        .toPandas()
    )
    assert abs(out.shift_hours.iloc[:55].abs().max()) < 1e-6
    assert abs(out.shift_hours.iloc[65:].mean() + 1.0) < 0.1


def test_stalled_capacity_solve_is_a_site_error(spark, monkeypatch):
    """A D3 solve that reaches the interior-point iteration cap without
    meeting its gap (the cap forced to 1 inside the executor) is not
    returned as "No error": the site gets an error row."""
    from solar_data_tools_spark import parallel
    from solar_data_tools_spark.algorithms import daily_flags

    import pandas as pd

    real = parallel.grouped_apply

    def capped(df, keys, fn, schema, **kwargs):
        def run(pdf):
            from solar_data_tools_spark.solvers import exact

            cap = exact._TV_IPM_MAX_ITERS
            exact._TV_IPM_MAX_ITERS = 1
            try:
                return fn(pdf)
            finally:
                exact._TV_IPM_MAX_ITERS = cap

        return real(df, keys, run, schema, **kwargs)

    monkeypatch.setattr(daily_flags, "grouped_apply", capped)
    dates = pd.date_range("2024-01-01", periods=100).date
    log_max = np.where(np.arange(100) < 50, np.log(5.0), np.log(3.0))
    log_max = log_max + np.random.default_rng(4).normal(0, 0.01, 100)
    pdf = pd.DataFrame({"site": 1, "date": dates, "log_day_max": log_max})
    out = daily_flags.detect_capacity_changes(
        spark.createDataFrame(pdf), w1=0.5, capture_errors=True
    ).toPandas()
    assert len(out) == 1
    assert out.error.iloc[0] == (
        "RuntimeError: l1_pwc_smoothper_trend: interior-point solve did "
        "not converge in 1 iterations"
    )


def test_stalled_soiling_solve_is_a_site_error(spark, monkeypatch):
    """A D5 soiling solve that reaches the active-set step cap without a
    KKT certificate (the cap forced to 1 inside the executor) is not
    returned as "No error": the site gets an error row."""
    from solar_data_tools_spark import parallel
    from solar_data_tools_spark.algorithms.loss_factors import (
        run_loss_factor_analysis,
    )

    import pandas as pd

    real = parallel.grouped_apply

    def capped(df, keys, fn, schema, **kwargs):
        def run(pdf):
            from solar_data_tools_spark.solvers import soiling

            cap = soiling._NNLASSO_MAX_STEPS
            soiling._NNLASSO_MAX_STEPS = 1
            try:
                return fn(pdf)
            finally:
                soiling._NNLASSO_MAX_STEPS = cap

        return real(df, keys, run, schema, **kwargs)

    monkeypatch.setattr(parallel, "grouped_apply", capped)
    t = np.arange(120)
    energy = (10.0 + np.sin(2 * np.pi * t / 365.2425)) * (
        1.0 - 0.004 * (t % 30)
    ) * np.random.default_rng(5).normal(1.0, 0.01, 120)
    dates = pd.date_range("2024-01-01", periods=120).date
    pdf = pd.DataFrame({"site": 1, "date": dates, "energy": energy})
    out = run_loss_factor_analysis(
        spark.createDataFrame(pdf), capture_errors=True
    ).toPandas()
    assert len(out) == 1
    assert out.error.iloc[0] == (
        "RuntimeError: soiling_sawtooth: active-set solve did not "
        "converge in 1 steps"
    )


def test_capacity_change_labels_on_step(spark):
    from solar_data_tools_spark.algorithms.daily_flags import (
        detect_capacity_changes,
    )

    import pandas as pd

    dates = pd.date_range("2024-01-01", periods=100).date
    log_max = np.where(np.arange(100) < 50, np.log(5.0), np.log(3.0))
    pdf = pd.DataFrame({"site": 1, "date": dates, "log_day_max": log_max})
    out = (
        detect_capacity_changes(spark.createDataFrame(pdf), w1=0.5)
        .orderBy("date")
        .toPandas()
    )
    assert out.capacity_label.nunique() == 2
    assert out.cap_changed.sum() == 1
    assert out.cap_changed.iloc[50]
