"""Tilt/azimuth estimation — nonlinear cosθ model fit (SURVEY §2.10 M4,
§3.3b; reference: pvsystemprofiler curve_fitting.py + estimator.py:133-184).

The reference uses ``scipy.curve_fit``; here a damped Gauss-Newton in
pure numpy (the model has 2 parameters and analytic derivatives — no
library needed). Runs per site as a grouped-map UDF over the filtered
(declination, hour angle, normalized cosθ) sample table.
"""

from __future__ import annotations

import math

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame

from solar_data_tools_spark.parallel import site_key_type

_DEG = math.pi / 180.0


def _cos_theta_np(
    delta_deg: np.ndarray,
    omega_deg: np.ndarray,
    lat_deg: float,
    tilt_deg: float,
    az_deg: float,
) -> np.ndarray:
    d = delta_deg * _DEG
    w = omega_deg * _DEG
    phi = lat_deg * _DEG
    b = tilt_deg * _DEG
    g = az_deg * _DEG
    return (
        np.sin(d) * np.sin(phi) * np.cos(b)
        - np.sin(d) * np.cos(phi) * np.sin(b) * np.cos(g)
        + np.cos(d) * np.cos(phi) * np.cos(b) * np.cos(w)
        + np.cos(d) * np.sin(phi) * np.sin(b) * np.cos(g) * np.cos(w)
        + np.cos(d) * np.sin(b) * np.sin(g) * np.sin(w)
    )


def fit_tilt_azimuth(
    delta_deg: np.ndarray,
    omega_deg: np.ndarray,
    costheta: np.ndarray,
    lat_deg: float,
    init_tilt: float = 20.0,
    init_az: float = 0.0,
    max_iter: int = 50,
) -> tuple[float, float]:
    """Damped Gauss-Newton fit of (tilt, azimuth) to measured cosθ.

    Derivatives are taken numerically (central differences) — the model is
    smooth and 2-D, so this matches analytic Jacobians to ~1e-8. Azimuth
    is wrapped to [-180, 180] like the reference.
    """
    mask = (
        np.isfinite(delta_deg) & np.isfinite(omega_deg) & np.isfinite(costheta)
    )
    d, w, y = delta_deg[mask], omega_deg[mask], costheta[mask]
    if len(y) < 10:
        return float("nan"), float("nan")
    p = np.array([init_tilt, init_az], dtype=np.float64)
    lam = 1e-3
    eps = 1e-5

    def resid(p_):
        return y - _cos_theta_np(d, w, lat_deg, p_[0], p_[1])

    r = resid(p)
    cost = float(r @ r)
    for _ in range(max_iter):
        J = np.empty((len(y), 2))
        for j in range(2):
            dp = np.zeros(2)
            dp[j] = eps
            J[:, j] = (resid(p + dp) - resid(p - dp)) / (2 * eps)
        g = J.T @ r
        H = J.T @ J + lam * np.eye(2)
        step = np.linalg.solve(H, -g)
        p_new = p + step
        r_new = resid(p_new)
        cost_new = float(r_new @ r_new)
        if cost_new < cost:
            p, r, cost = p_new, r_new, cost_new
            lam = max(lam * 0.3, 1e-9)
            if np.max(np.abs(step)) < 1e-8:
                break
        else:
            lam *= 10.0
            if lam > 1e6:
                break
    tilt = float(np.clip(p[0], 0.0, 90.0))
    az = float(((p[1] + 180.0) % 360.0) - 180.0)
    return tilt, az


def estimate_orientation(
    samples: DataFrame,
    lat_deg: float,
    site_col: str = "site",
) -> DataFrame:
    """Fleet orientation estimation: input (site, delta_deg, omega_deg,
    costheta) filtered samples -> one (tilt_deg, azimuth_deg) per site."""
    schema = (
        f"{site_col} {site_key_type(samples, site_col)}, tilt_deg double, "
        "azimuth_deg double"
    )

    def _fit(pdf: pd.DataFrame) -> pd.DataFrame:
        tilt, az = fit_tilt_azimuth(
            pdf["delta_deg"].to_numpy(dtype=np.float64),
            pdf["omega_deg"].to_numpy(dtype=np.float64),
            pdf["costheta"].to_numpy(dtype=np.float64),
            lat_deg,
        )
        return pd.DataFrame(
            {site_col: [pdf[site_col].iloc[0]], "tilt_deg": [tilt], "azimuth_deg": [az]}
        )

    from solar_data_tools_spark.parallel import grouped_apply

    return grouped_apply(
        samples.select(site_col, "delta_deg", "omega_deg", "costheta"),
        [site_col],
        _fit,
        schema,
    )
