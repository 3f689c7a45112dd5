"""Hyperparameter grid fan-out (SURVEY §2.8 wrappers).

The reference runs its w1 / weight / threshold grids as sequential Python
loops with holdout validation (time_shifts.py:201-272,
capacity_change.py:132-182, sunrise_sunset_estimation.py:184-335). Here
the sites are the parallel axis — one grouped-map task per site — and a
site's whole grid is one batched solve inside it (the w1 grid is the
batch axis of the D1 interior-point core), then an argmin per site.
"""

from __future__ import annotations

import math
from functools import partial

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame

from solar_data_tools_spark.parallel import grouped_apply, site_key_type


def grid_holdout_mse(
    y: np.ndarray,
    w1_grid,
    holdout_frac: float = 0.15,
    seed: int = 42,
) -> np.ndarray:
    """Holdout MSE of the D1 fit (pwc + seasonal) at every w1 of the
    grid on one site's daily series (NaN = no data): a seeded
    ``holdout_frac`` of the days is hidden from one batched fit of the
    whole grid and scored; inf where no holdout day has a fit."""
    from solar_data_tools_spark.solvers.decompositions import (
        l2_l1d1_l2d2p365_grid_fit,
    )

    n = len(y)
    rng = np.random.default_rng(seed)
    holdout = rng.random(n) < holdout_frac
    y_train = np.where(holdout, np.nan, y)
    pwc, seasonal = l2_l1d1_l2d2p365_grid_fit(
        y_train, w1_grid, period=min(n, 365.2425)
    )
    fit = pwc + seasonal
    scored = (holdout & np.isfinite(y))[:, None] & np.isfinite(fit)
    sq = np.where(scored, (y[:, None] - fit) ** 2, 0.0)
    cnt = scored.sum(axis=0)
    with np.errstate(invalid="ignore", divide="ignore"):
        return np.where(cnt > 0, sq.sum(axis=0) / cnt, np.inf)


_LONG_MAX = (1 << 63) - 1


def pick_w1(w1_grid, mse: np.ndarray, selection: str, knee_tol: float) -> int:
    """Index of the grid point ``selection`` picks from one site's
    holdout errors (see :func:`tune_time_shift_w1`). The argmin compares
    integer 1e-6 ticks (the q143 recipe; ties to the smaller w1, inf
    last), so the pick is replayable from the emitted MSE by integer
    comparison alone."""
    w = [float(v) for v in w1_grid]
    if selection == "knee":
        cand = np.flatnonzero(mse <= mse.min() * (1.0 + float(knee_tol)))
        return int(cand[np.argmax(np.asarray(w)[cand])])
    ticks = [
        _LONG_MAX if m == np.inf else min(math.floor(m * 1e6 + 0.5), _LONG_MAX)
        for m in mse
    ]
    return min(range(len(w)), key=lambda i: (ticks[i], w[i]))


def w1_grid_kernel(
    pdf: pd.DataFrame, w1_grid, holdout_frac: float, seed: int,
    noon_col: str, site_col: str, use_col: str | None, selection: str,
    knee_tol: float,
) -> pd.DataFrame:
    """The per-site kernel of :func:`tune_time_shift_w1`."""
    pdf = pdf.sort_values("date").reset_index(drop=True)
    y = pdf[noon_col].to_numpy(dtype=np.float64)
    if use_col is not None:
        use = pdf[use_col].fillna(False).to_numpy(dtype=bool)
        y = np.where(use & np.isfinite(y), y, np.nan)
    mse = grid_holdout_mse(y, w1_grid, holdout_frac, seed)
    i = pick_w1(w1_grid, mse, selection, knee_tol)
    return pd.DataFrame(
        {
            site_col: [pdf[site_col].iloc[0]],
            "best_w1": [float(w1_grid[i])],
            "holdout_mse": [float(mse[i])],
            # every site solves exactly len(w1_grid) points
            "n_grid": [len(w1_grid)],
        }
    )


def tune_time_shift_w1(
    daily: DataFrame,
    w1_grid: list[float] | None = None,
    holdout_frac: float = 0.15,
    seed: int = 42,
    noon_col: str = "solar_noon_com",
    site_col: str = "site",
    use_col: str | None = None,
    selection: str = "argmin",
    knee_tol: float = 0.05,
) -> DataFrame:
    """w1 grid search for the time-shift decomposition (D1) with seeded
    holdout validation, fleet-parallel.

    For each site: fit D1 on the train days at every w1 of the grid in
    one batched solve, score pinball-free MSE of (pwc + seasonal) on the
    holdout days (:func:`grid_holdout_mse`), and pick one grid point
    (:func:`pick_w1`). Returns the per-site best row: (site, best_w1,
    holdout_mse, n_grid).

    ``use_col`` masks the fit to good days (the reference's use_ixs,
    time_shifts.py:65-69). ``selection="knee"`` picks the LARGEST w1
    whose holdout error is within ``knee_tol`` of the minimum — the
    parsimony rule mirroring the reference's error-increase-threshold
    pick (time_shifts.py:250-262: step up w1 until the holdout error
    jumps), which prevents argmin's bias toward overfit small-w1 fits;
    ``"argmin"`` (default, the committed q74 semantics) takes the
    smallest error outright.
    """
    if w1_grid is None:
        w1_grid = [float(w) for w in np.logspace(-1, 1.5, 11)]
    schema = (
        f"{site_col} {site_key_type(daily, site_col)}, best_w1 double, "
        "holdout_mse double, n_grid long"
    )
    kernel = partial(
        w1_grid_kernel, w1_grid=w1_grid, holdout_frac=holdout_frac,
        seed=seed, noon_col=noon_col, site_col=site_col, use_col=use_col,
        selection=selection, knee_tol=knee_tol,
    )
    cols = [site_col, "date", noon_col] + ([use_col] if use_col else [])
    return grouped_apply(daily.select(*cols), [site_col], kernel, schema)
