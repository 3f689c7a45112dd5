"""Signal decompositions (SURVEY.md §2.8) — Spark-first wrappers.

The reference solves these as cvxpy/OSD convex programs per series
(solardatatools/signal_decompositions.py). Here each model is a small,
deterministic numpy solve from ``solvers.exact``, wrapped in
``applyInPandas``/``mapInPandas`` so a fleet of N sites runs as parallel
tasks after one shuffle on the site key.

The per-series wrappers below (D1 ``l2_l1d1_l2d2p365``, D2
``tl1_l2d2p365``, D4 ``l2_l1d2_constrained``) guard short or degenerate
inputs and delegate to the fixture-validated exact solvers; the fleet
form of D2 (``fit_seasonal_quantile``) batches a partition's sites into
one interior-point solve, and the D1 grid form
(``l2_l1d1_l2d2p365_grid_fit``) fits a site's whole w1 grid in one.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def tl1_l2d2p365_fit(
    y: np.ndarray,
    tau: float = 0.75,
    num_harmonics: int = 3,
    period: float = 365.2425,
    use_ixs: np.ndarray | None = None,
) -> np.ndarray:
    """D2 — smooth periodic quantile fit of a daily signal.

    Parity target: ``tl1_l2d2p365`` (signal_decompositions.py:127-185) —
    pinball(tau) residual + smooth periodic component with period 365.2425.
    Delegates to the exact interior-point solver
    (``solvers.exact.solve_tl1_l2d2p365``), which is validated against
    the reference's own fixture files at the reference tolerances
    (tests/test_solver_fixtures.py).

    Returns the fitted seasonal values (same length as ``y``); NaNs in
    ``y`` are excluded from the fit and filled in the output.
    """
    from solar_data_tools_spark.solvers.exact import solve_tl1_l2d2p365

    y = np.asarray(y, dtype=np.float64)
    n = len(y)
    mask = np.isfinite(y)
    if use_ixs is not None:
        mask &= np.asarray(use_ixs, dtype=bool)
    if mask.sum() < 2 * num_harmonics + 2:
        return np.full(n, np.nan)
    s_seas, _obj = solve_tl1_l2d2p365(
        y,
        tau=tau,
        use_ixs=use_ixs,
        num_harmonics=num_harmonics,
        period=period,
    )
    return s_seas


def l2_l1d1_l2d2p365_fit(
    y: np.ndarray,
    w1: float = 5.0,
    num_harmonics: int = 3,
    period: float = 365.2425,
) -> tuple[np.ndarray, np.ndarray]:
    """D1 — decompose a daily signal into piecewise-constant + smooth
    seasonal components.

    Parity target: ``l2_l1d1_l2d2p365`` (signal_decompositions.py:45-124):
    l2 residual + l1-of-first-diff (piecewise constant, weight w1) +
    smooth periodic seasonal. The one-weight call of
    :func:`l2_l1d1_l2d2p365_grid_fit`.

    Returns (pwc, seasonal); NaNs in y are masked out of both fits.
    """
    pwc, seasonal = l2_l1d1_l2d2p365_grid_fit(
        y, [w1], num_harmonics=num_harmonics, period=period
    )
    return pwc[:, 0], seasonal[:, 0]


def l2_l1d1_l2d2p365_grid_fit(
    y: np.ndarray,
    w1_grid,
    num_harmonics: int = 3,
    period: float = 365.2425,
) -> tuple[np.ndarray, np.ndarray]:
    """D1 at every weight of ``w1_grid`` as one batched solve
    (``solvers.exact.solve_l2_l1d1_l2d2p365_batch``: the interior-point
    core + support polish, fixture-validated against the reference's
    published outputs in tests/test_solver_fixtures.py).

    Returns (pwc, seasonal), each (len(y), len(w1_grid)); all NaN when
    ``y`` has too few finite values to fit.
    """
    from solar_data_tools_spark.solvers.exact import (
        solve_l2_l1d1_l2d2p365_batch,
    )

    y = np.asarray(y, dtype=np.float64)
    shape = (len(y), len(w1_grid))
    if np.isfinite(y).sum() < 2 * num_harmonics + 3:
        return np.full(shape, np.nan), np.full(shape, np.nan)
    s_hat, s_seas, _obj = solve_l2_l1d1_l2d2p365_batch(
        y, w1_grid, num_harmonics=num_harmonics, period=period
    )
    return s_hat, s_seas


def l2_l1d2_constrained_fit(
    y: np.ndarray,
    w: float = 1.0,
) -> np.ndarray:
    """D4 — piecewise-linear fit of a CDF: l2 residual + l1 of the second
    difference, constrained to f(0)=y[0], f(end)=y[-1].

    Parity target: ``l2_l1d2_constrained`` (signal_decompositions.py:229-
    256), used by clipping detection on the resampled CDF. Delegates to
    the exact ADMM + support-polish solver (``solvers.exact``), which pins
    x[0]=0, x[-1]=1; general endpoints are handled by the affine map
    x = a + (b-a) x_hat, under which the l1 weight rescales to w/(b-a).

    Scale note: each ADMM iteration is two FFT-based DST solves, O(n log n)
    in the CDF grid size; the resample step (A11) keeps n bounded, exactly
    as in the reference.
    """
    from solar_data_tools_spark.solvers.exact import solve_l2_l1d2_constrained

    y = np.asarray(y, dtype=np.float64)
    n = len(y)
    if n < 4:
        return y.copy()
    a, b = float(y[0]), float(y[-1])
    if not np.isfinite(a) or not np.isfinite(b) or abs(b - a) < 1e-12:
        return y.copy()
    y_norm = (y - a) / (b - a)
    x_norm, _obj = solve_l2_l1d2_constrained(y_norm, w0=1.0, w1=w / abs(b - a))
    return a + (b - a) * x_norm


def fit_seasonal_quantile(
    daily: DataFrame,
    value_col: str = "energy",
    tau: float = 0.75,
    num_harmonics: int = 3,
    period: float = 365.2425,
    site_col: str = "site",
    date_col: str = "date",
) -> DataFrame:
    """Run D2 over the daily table, batched per partition.

    One shuffle on ``site``; each task stacks ALL of its sites onto one
    shared day axis (phase shifts rotate within each harmonic pair and
    the penalty is pair-isotropic, so per-site fits on a global axis are
    identical to local-axis fits — see ``solve_tl1_l2d2p365_batch``) and
    runs ONE batched interior-point solve for the whole column matrix.
    This amortizes the per-fit setup cost across the partition's fleet
    slice — the dominant cost once the solve itself is ~30 Newton steps.

    Memory per task is (span_days x sites_in_partition) doubles — a
    45-year span at 1 000 sites/partition is ~130 MB, far under executor
    memory; sites are hash-spread so a fleet of millions of sites scales
    by partition count, not per-task size (SURVEY §7.4 risk 4). Rows are
    sorted *inside* the UDF (never trust shuffle order, risk 5).

    Output: (site, date, <value_col>, seasonal_fit).
    """
    from solar_data_tools_spark.parallel import site_key_type
    from solar_data_tools_spark.shipping import ensure_package_on_executors
    from solar_data_tools_spark.solvers.exact import solve_tl1_l2d2p365_batch

    spark = daily.sparkSession
    ensure_package_on_executors(spark)
    schema = (
        f"{site_col} {site_key_type(daily, site_col)}, {date_col} date, "
        f"{value_col} double, seasonal_fit double"
    )
    min_rows = 2 * num_harmonics + 2

    def _fit_partition(batches):
        pdfs = [p for p in batches]
        if not pdfs:
            return
        pdf = pd.concat(pdfs, ignore_index=True)
        dates = pd.to_datetime(pdf[date_col])
        d0 = dates.min()
        offs = (dates - d0).dt.days.to_numpy()
        T = int(offs.max()) + 1
        vals = pdf[value_col].to_numpy(dtype=np.float64)
        sites, inv = np.unique(pdf[site_col].to_numpy(), return_inverse=True)
        if T > 40000:
            # pathological era spread (sites decades apart in one
            # partition): fall back to per-site fits rather than build a
            # huge mostly-masked matrix
            fit_out = np.full(len(pdf), np.nan)
            for j in range(len(sites)):
                sel = inv == j
                o = offs[sel]
                o = o - o.min()
                y = np.full(int(o.max()) + 1, np.nan)
                y[o] = vals[sel]
                f = tl1_l2d2p365_fit(
                    y, tau=tau, num_harmonics=num_harmonics, period=period
                )
                fit_out[sel] = f[o]
        else:
            Y = np.full((T, len(sites)), np.nan)
            Y[offs, inv] = vals
            fits, _obj = solve_tl1_l2d2p365_batch(
                Y, tau, num_harmonics=num_harmonics, period=period
            )
            # min-data guard per column, matching tl1_l2d2p365_fit
            low = np.isfinite(Y).sum(axis=0) < min_rows
            if low.any():
                fits[:, low] = np.nan
            fit_out = fits[offs, inv]
        yield pd.DataFrame(
            {
                site_col: pdf[site_col],
                date_col: pdf[date_col],
                value_col: pdf[value_col],
                "seasonal_fit": fit_out,
            }
        )

    # one task wave per core: the per-partition batched solve costs
    # milliseconds, so task-count overhead dominates straggler variance
    prepared = daily.select(site_col, date_col, value_col).repartition(
        spark.sparkContext.defaultParallelism, site_col
    )
    return prepared.mapInPandas(_fit_partition, schema=schema)


def detrend_daily_signal(
    daily: DataFrame,
    value_col: str = "energy",
    site_col: str = "site",
    date_col: str = "date",
    tau: float = 0.9,
) -> DataFrame:
    """Seasonal-correct a daily signal: value / seasonal_fit (the reference
    normalizes daily signals by their seasonal quantile fit before change
    detection, e.g. data_quality.py:42, clear_day_detection.py:75-86)."""
    fitted = fit_seasonal_quantile(daily, value_col, tau, site_col=site_col)
    return fitted.withColumn(
        "seasonal_ratio",
        F.when(
            F.col("seasonal_fit") > 0, F.col(value_col) / F.col("seasonal_fit")
        ),
    )
