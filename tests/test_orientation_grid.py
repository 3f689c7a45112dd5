"""Orientation fit recovery + grid-search fan-out behavior."""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import functions as F


def test_tilt_azimuth_recovery():
    from solar_data_tools_spark.algorithms.orientation import (
        _cos_theta_np,
        fit_tilt_azimuth,
    )

    rng = np.random.default_rng(9)
    n = 500
    delta = rng.uniform(-23.45, 23.45, n)
    omega = rng.uniform(-60, 60, n)
    true_tilt, true_az, lat = 25.0, 15.0, 37.45
    y = _cos_theta_np(delta, omega, lat, true_tilt, true_az)
    y = y + rng.normal(0, 0.01, n)
    tilt, az = fit_tilt_azimuth(delta, omega, y, lat)
    assert abs(tilt - true_tilt) < 0.5, tilt
    assert abs(az - true_az) < 1.0, az


def test_tilt_azimuth_too_few_samples():
    from solar_data_tools_spark.algorithms.orientation import fit_tilt_azimuth

    nan = fit_tilt_azimuth(
        np.array([1.0]), np.array([1.0]), np.array([1.0]), 37.0
    )
    assert np.isnan(nan[0]) and np.isnan(nan[1])


def test_w1_grid_search_picks_sensible_regularization(spark):
    """On a clean step signal, heavy regularization wins the holdout (the
    noise floor dominates); the search must return one row per site with
    the grid fully evaluated."""
    from solar_data_tools_spark.algorithms.grid_search import tune_time_shift_w1

    rng = np.random.default_rng(4)
    rows = []
    for site in (1, 2):
        dates = pd.date_range("2024-01-01", periods=200).date
        noon = np.where(np.arange(200) < 100, 12.0, 13.0) + rng.normal(0, 0.05, 200)
        rows.append(pd.DataFrame({"site": site, "date": dates, "solar_noon_com": noon}))
    daily = spark.createDataFrame(pd.concat(rows))
    out = tune_time_shift_w1(daily, w1_grid=[0.01, 1.0, 100.0]).toPandas()
    assert len(out) == 2
    assert (out.n_grid == 3).all()
    # w1=100 over-smooths a real 1h step; w1=0.01 overfits noise -> the
    # middle value should win on holdout for both sites
    assert (out.best_w1 == 1.0).all(), out


def test_pick_w1_ticks_and_knee():
    """The w1 pick on one site's holdout errors: the argmin compares 1e-6
    integer ticks (a sub-tick gap is a tie, won by the smaller w1; inf
    ranks last) and the knee takes the largest w1 within knee_tol of the
    minimum."""
    from solar_data_tools_spark.algorithms.grid_search import pick_w1

    grid = [0.1, 1.0, 10.0]

    def pick(mse, selection="argmin"):
        return pick_w1(grid, np.array(mse), selection, 0.05)

    assert pick([1.0 + 1e-8, 1.0, np.inf]) == 0
    assert pick([np.inf, np.inf, 2.0]) == 2
    assert pick([1.0, 1.04, 1.2], "knee") == 1
    assert pick([np.inf, np.inf, np.inf], "knee") == 2


def test_w1_grid_search_bit_equal_across_partitionings(spark):
    """r8 verdict item 4: the selected w1 AND the emitted holdout MSE
    must be bit-identical regardless of input partitioning or shuffle
    width — each (site, w1) solve runs in one task over date-sorted
    input (deterministic numpy), and since round 9 the argmin compares
    integer 1e-6 ticks of the MSE, so no float comparison rides the
    selection."""
    from solar_data_tools_spark.algorithms.grid_search import (
        tune_time_shift_w1,
    )

    rng = np.random.default_rng(11)
    rows = []
    for site in (1, 2, 3):
        dates = pd.date_range("2024-01-01", periods=150).date
        noon = (
            12.0
            + 0.3 * np.sin(np.arange(150) / 20.0)
            + rng.normal(0, 0.05, 150)
        )
        rows.append(
            pd.DataFrame(
                {"site": site, "date": dates, "solar_noon_com": noon}
            )
        )
    pdf = pd.concat(rows)
    grid = [0.05, 0.5, 5.0]

    def run(n_parts, shuffled):
        data = pdf.sample(frac=1.0, random_state=7) if shuffled else pdf
        daily = spark.createDataFrame(data).repartition(n_parts)
        out = tune_time_shift_w1(daily, w1_grid=grid).toPandas()
        return sorted(
            (int(r.site), float(r.best_w1), float(r.holdout_mse).hex())
            for r in out.itertuples()
        )

    base = run(2, False)
    assert run(32, False) == base
    assert run(5, True) == base
