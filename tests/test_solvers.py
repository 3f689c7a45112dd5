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
    y_scale = float(np.nanmax(np.abs(Y)))
    for j, ((s_j, o_j), r) in enumerate(zip(singles, rows)):
        assert abs(obj[j] - o_j) < 1e-8 * max(1.0, abs(o_j)), (j, obj[j], o_j)
        # The batch shares one stopping scale and one stall rule across
        # its columns, so a column can stop a few iterations away from
        # where it stops alone; on this nearly flat objective that moves
        # the fitted values by up to ~1e-7 relative (1e-10 in objective).
        gap = np.max(np.abs(S[r, j] - s_j))
        assert gap < 1e-5 * y_scale, (j, gap)

    # the offset column alone on the shared axis equals its local-axis fit
    S2, obj2 = solve_tl1_l2d2p365_batch(Y[:, 2:3], taus[2], use_ixs=U[:, 2:3])
    assert np.max(np.abs(S2[off : off + n_off, 0] - singles[2][0])) < 1e-8
    assert abs(obj2[0] - singles[2][1]) < 1e-8 * abs(singles[2][1])


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
