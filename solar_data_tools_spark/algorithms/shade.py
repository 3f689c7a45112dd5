"""Shade analysis (SURVEY §2.8 D8 + §2.5 A17; reference:
solardatatools/algorithms/shade.py).

Pipeline parity:
  1. **transform_data** (shade.py:323-349): clear days are normalized onto
     a (solar-declination bin x daylight-fraction) grid — here via the
     dilation operator (each day resampled between sunrise and sunset)
     followed by a mean aggregation per (delta bin, fraction slot). Pure
     DataFrame ops up to this point.
  2. **decomposition** (shade.py:351-410): the reference constrains the
     clear-sky rows to an affine rank-6 PCA class (shade.py:469-492) with
     an eigenvalue-spectrum penalty, and fits shade >= 0 below it. Here
     the same class (M7, shipped as package data) is fit per declination
     row by a deterministic scale + spectrum-ridge alternation, shade =
     the nonnegative relative deficit below the class fit; the concave
     upper-hull model remains available as ``model="envelope"``. The grid
     is ~tens x 64 per site, so the solve is a trivial grouped-map task.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from solar_data_tools_spark.operators.canonical import pround
from solar_data_tools_spark.parallel import site_key_type


def load_shade_pca_basis() -> dict[str, np.ndarray]:
    """M7 — the rank-6 clear-sky PCA class (mean profile, eigenbasis,
    eigenvalue spectrum) over normalized daylight-fraction profiles.

    Values are the reference's published package data
    (solardatatools/fixtures/{mu,Q,eigvals}.txt, loaded at shade.py:22-28
    and produced by the covariance eigendecomposition at shade.py:469-492
    from the public transformed-data corpus), truncated to the rank the
    model uses.
    """
    import os

    path = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "data",
        "shade_pca_basis.npz",
    )
    with np.load(path) as z:
        return {k: z[k].copy() for k in ("mu", "q_mat", "lambd")}


def _resample_basis(basis: dict, n: int) -> dict:
    """Linear-resample the 256-sample basis onto an n-sample grid (the
    engine's dilation width is configurable; the class shape is smooth so
    interpolation preserves it)."""
    m = len(basis["mu"])
    if n == m:
        return basis
    x_old = np.linspace(0.0, 1.0, m)
    x_new = np.linspace(0.0, 1.0, n)
    return {
        "mu": np.interp(x_new, x_old, basis["mu"]),
        "q_mat": np.column_stack(
            [np.interp(x_new, x_old, basis["q_mat"][:, j]) for j in range(basis["q_mat"].shape[1])]
        ),
        "lambd": basis["lambd"],
    }


def _fit_pca_clearsky(
    obs: np.ndarray,
    basis: dict,
    w_spectrum: float = 0.01,
    n_iter: int = 5,
) -> tuple[np.ndarray, np.ndarray]:
    """Fit one declination row with the PCA class + nonnegative shade
    deficit (deterministic alternating version of the reference's joint
    problem, shade.py:351-410):

      clear-sky row = mu + Q z, penalized 1/2 ||diag(1/sqrt(lambda)) z||^2
      shade         = max(clear - obs, 0)

    Alternation: the z-update is a 6x6 spectrum-weighted ridge solve of
    (obs + shade - mu); adding the CURRENT shade back before projecting
    means shade notches stop dragging the class fit down, which is the
    bridging behavior the reference gets from the asymmetric (t=0.95)
    residual loss. Endpoints pinned to 0 as in the reference constraints.
    """
    q_mat, mu, lam = basis["q_mat"], basis["mu"], basis["lambd"]
    A = q_mat.T @ q_mat + w_spectrum * np.diag(1.0 / lam)
    Ainv = np.linalg.inv(A)
    shade = np.zeros_like(obs)
    clear = np.zeros_like(obs)
    # amplitude freedom: the corpus profiles carry the reference's
    # energy-preserving batch_process scaling, not the engine's
    # normalized-by-day-max scaling — the class is used shape-wise with a
    # per-row scale estimated inside the alternation
    s = float(np.quantile(obs, 0.98) / max(np.quantile(mu, 0.98), 1e-9))
    for _ in range(n_iter):
        target = (obs + shade) / max(s, 1e-9) - mu
        z = Ainv @ (q_mat.T @ target)
        shape = np.clip(mu + q_mat @ z, 0.0, None)
        shape[0] = 0.0
        shape[-1] = 0.0
        denom = float(shape @ shape)
        if denom > 1e-12:
            s = float((obs + shade) @ shape) / denom
        clear = s * shape
        shade = np.clip(clear - obs, 0.0, None)
    return clear, shade


def _concave_envelope(row: np.ndarray) -> np.ndarray:
    """Clear-sky envelope of one declination row: the upper CONCAVE hull
    of the (lightly smoothed) profile — the shape constraint the reference
    imposes as 'concave rows'. Unlike a monotone sweep, the hull bridges
    straight across shade notches, which is exactly what makes the deficit
    below it attributable to shade.

    The hull is built on the raw row (the row is already a mean over many
    days, so day-level noise is averaged out); pre-smoothing would drag
    the envelope below the observations near sharp notches."""
    s = np.asarray(row, dtype=np.float64)
    n = len(s)
    x = np.arange(n, dtype=np.float64)
    # Andrew's monotone chain, upper hull
    hull: list[int] = []
    for i in range(n):
        while len(hull) >= 2:
            x1, x2 = hull[-2], hull[-1]
            # pop while the turn is not convex-from-above
            cross = (x[x2] - x[x1]) * (s[i] - s[x1]) - (x[i] - x[x1]) * (
                s[x2] - s[x1]
            )
            if cross >= 0:
                hull.pop()
            else:
                break
        hull.append(i)
    return np.interp(x, x[hull], s[hull])


def shade_grid(
    dilated: DataFrame,
    site_col: str = "site",
    delta_bin_size: float = 2.0,
) -> DataFrame:
    """Step 1 — mean normalized power per (site, declination bin,
    daylight-fraction slot) over the dilated clear-day table.

    Input: (site, date, dil_slot, dil_value). One aggregation; the
    declination is a native expression of day-of-year (F3).
    """
    from solar_data_tools_spark.functions.solar import delta_cooper

    delta = delta_cooper(F.dayofyear("date"))
    day_max = F.max("dil_value").over(Window.partitionBy(site_col, "date"))
    normalized = dilated.withColumn(
        "norm_value",
        F.when(day_max > 0, F.col("dil_value") / day_max).otherwise(0.0),
    ).withColumn(
        # pround, not F.round (r8 verdict item 8): if q80 is ever
        # promoted to an oracle the grouping key must use the portable
        # floor pattern — engine round() builtins disagree on
        # half-boundary doubles (see canonical.pround)
        "delta_bin", pround(delta / delta_bin_size, 0) * delta_bin_size
    )
    return normalized.groupBy(site_col, "delta_bin", "dil_slot").agg(
        F.avg("norm_value").alias("observed"), F.count("*").alias("n_days")
    )


def decompose_shade(
    grid: DataFrame,
    site_col: str = "site",
    shade_threshold: float = 0.1,
    model: str = "pca",
) -> DataFrame:
    """Step 2 — per-site clear-sky model + nonnegative shade deficit.

    ``model="pca"`` (default) fits each declination row with the M7
    rank-6 clear-sky PCA class (broadcast as package data; reference
    shade.py:351-410); ``model="envelope"`` keeps the concave upper-hull
    approximation.

    Output: (site, delta_bin, dil_slot, observed, clearsky, shade_frac,
    is_shaded).
    """
    schema = (
        f"{site_col} {site_key_type(grid, site_col)}, delta_bin double, "
        "dil_slot int, observed double, clearsky double, shade_frac double, "
        "is_shaded boolean"
    )
    basis = load_shade_pca_basis() if model == "pca" else None

    def _decompose(pdf: pd.DataFrame) -> pd.DataFrame:
        out = []
        rs_basis: dict | None = None
        for db, rowdf in pdf.groupby("delta_bin"):
            rowdf = rowdf.sort_values("dil_slot")
            obs = rowdf["observed"].to_numpy(dtype=np.float64)
            if basis is not None and len(obs) >= 8:
                if rs_basis is None or len(rs_basis["mu"]) != len(obs):
                    rs_basis = _resample_basis(basis, len(obs))
                clear, _shade = _fit_pca_clearsky(obs, rs_basis)
            else:
                clear = _concave_envelope(obs)
            with np.errstate(invalid="ignore", divide="ignore"):
                deficit = np.where(clear > 1e-9, (clear - obs) / clear, 0.0)
            deficit = np.clip(deficit, 0.0, 1.0)
            out.append(
                pd.DataFrame(
                    {
                        site_col: rowdf[site_col].iloc[0],
                        "delta_bin": db,
                        "dil_slot": rowdf["dil_slot"].to_numpy(),
                        "observed": obs,
                        "clearsky": clear,
                        "shade_frac": deficit,
                        "is_shaded": deficit >= shade_threshold,
                    }
                )
            )
        return pd.concat(out, ignore_index=True)

    from solar_data_tools_spark.parallel import grouped_apply

    return grouped_apply(
        grid.select(site_col, "delta_bin", "dil_slot", "observed"),
        [site_col],
        _decompose,
        schema,
    )
