"""Smooth periodic quantile surfaces (SURVEY §2.8 D7; reference:
algorithms/quantile_estimation.py:62-94, backed by the public
SmoothPeriodicQuantiles API).

Per site, fit several quantile levels of the dilated signal
simultaneously smooth in BOTH periods — intraday (dilated slot) and
yearly (day-of-year) — on a product Fourier basis, fitting levels
sequentially from low to high with a non-crossing clip (the reference
fits sequentially per level the same way).

Each level is one penalty-free pinball regression on the product basis
(``solvers.exact.pinball_regression``, the interior-point solver every
pinball fit in the package uses) — a few dozen features, per-site data
of (days x nvals) rows; the whole fleet runs as one grouped-map pass.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame

from solar_data_tools_spark.parallel import site_key_type


def product_basis(
    dil_slot: np.ndarray,
    doy: np.ndarray,
    nvals: int,
    daily_harmonics: int = 3,
    yearly_harmonics: int = 1,
) -> np.ndarray:
    """[1, daily sin/cos(k)] x [1, yearly sin/cos(m)] product features."""
    cols_d = [np.ones_like(dil_slot, dtype=np.float64)]
    for k in range(1, daily_harmonics + 1):
        w = 2 * np.pi * k * dil_slot / nvals
        cols_d += [np.sin(w), np.cos(w)]
    cols_y = [np.ones_like(doy, dtype=np.float64)]
    for m in range(1, yearly_harmonics + 1):
        w = 2 * np.pi * m * doy / 365.2425
        cols_y += [np.sin(w), np.cos(w)]
    feats = [d * y for d in cols_d for y in cols_y]
    return np.column_stack(feats)


def fit_quantile_surface(
    dil_slot: np.ndarray,
    doy: np.ndarray,
    values: np.ndarray,
    nvals: int,
    levels: tuple[float, ...] = (0.1, 0.5, 0.9),
    daily_harmonics: int = 3,
    yearly_harmonics: int = 1,
) -> dict[float, np.ndarray]:
    """Sequential non-crossing quantile fits; returns level -> fitted
    values aligned with the inputs."""
    from solar_data_tools_spark.solvers.exact import pinball_regression

    X = product_basis(dil_slot, doy, nvals, daily_harmonics, yearly_harmonics)
    mask = np.isfinite(values)
    out: dict[float, np.ndarray] = {}
    prev: np.ndarray | None = None
    for tau in sorted(levels):
        if mask.sum() < X.shape[1] + 1:
            fit = np.full(len(values), np.nan)
        else:
            beta = pinball_regression(X[mask], values[mask], tau=tau)
            fit = X @ beta
            if prev is not None:
                fit = np.maximum(fit, prev)  # non-crossing
        out[tau] = fit
        prev = fit
    return out


def estimate_quantiles(
    dilated: DataFrame,
    nvals: int,
    levels: tuple[float, ...] = (0.1, 0.5, 0.9),
    site_col: str = "site",
) -> DataFrame:
    """Fleet D7: dilated long table (site, date, dil_slot, dil_value) ->
    (site, date, dil_slot, level, qvalue) long quantile-surface table."""
    schema = (
        f"{site_col} {site_key_type(dilated, site_col)}, date date, "
        "dil_slot int, level double, qvalue double"
    )

    def _fit(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(["date", "dil_slot"]).reset_index(drop=True)
        doy = pd.to_datetime(pdf["date"]).dt.dayofyear.to_numpy(dtype=np.float64)
        slots = pdf["dil_slot"].to_numpy(dtype=np.float64)
        vals = pdf["dil_value"].to_numpy(dtype=np.float64)
        fits = fit_quantile_surface(slots, doy, vals, nvals, levels)
        frames = []
        for tau, fit in fits.items():
            frames.append(
                pd.DataFrame(
                    {
                        site_col: pdf[site_col],
                        "date": pdf["date"],
                        "dil_slot": pdf["dil_slot"],
                        "level": tau,
                        "qvalue": fit,
                    }
                )
            )
        return pd.concat(frames, ignore_index=True)

    from solar_data_tools_spark.parallel import grouped_apply

    return grouped_apply(
        dilated.select(site_col, "date", "dil_slot", "dil_value"),
        [site_col],
        _fit,
        schema,
    )


def detect_clear_sky(
    dilated: DataFrame,
    quantiles: DataFrame,
    clear_level: float = 0.9,
    site_col: str = "site",
) -> DataFrame:
    """§3.3(a) lifecycle tail — M3 clear-sky labeling against the q90
    surface: per site, run the 2-state Viterbi DP over the dilated series
    with the quantile surface as the clear-sky baseline.

    Output: (site, date, dil_slot, is_clear).
    """
    from pyspark.sql import functions as F

    q = quantiles.where(F.col("level") == clear_level).select(
        site_col, "date", "dil_slot", F.col("qvalue").alias("baseline")
    )
    joined = dilated.join(q, on=[site_col, "date", "dil_slot"], how="inner")

    schema = (
        f"{site_col} {site_key_type(dilated, site_col)}, date date, "
        "dil_slot int, is_clear boolean"
    )

    def _label(pdf: pd.DataFrame) -> pd.DataFrame:
        from solar_data_tools_spark.algorithms.daily_flags import (
            clear_sky_dp_labels,
        )

        pdf = pdf.sort_values(["date", "dil_slot"]).reset_index(drop=True)
        labels = clear_sky_dp_labels(
            values=pdf["dil_value"].to_numpy(dtype=np.float64),
            baseline=pdf["baseline"].to_numpy(dtype=np.float64),
        )
        return pd.DataFrame(
            {
                site_col: pdf[site_col],
                "date": pdf["date"],
                "dil_slot": pdf["dil_slot"],
                "is_clear": labels,
            }
        )

    from solar_data_tools_spark.parallel import grouped_apply

    return grouped_apply(joined, [site_col], _label, schema)
