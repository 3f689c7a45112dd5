"""M10 — PVPRO post-processing (reference: pvpro_post_processing.py).

PVPRO fits single-diode module parameters (photocurrent, series /
shunt resistance, ...) over time; this module decomposes each parameter
series into five components (reference optimize(),
pvpro_post_processing.py:270-440):

  x1 dense noise (l2) + x2 sparse noise (l1) + x3 constant
  + x4 periodic zero-mean smooth + x5 degradation

with the degradation model one of 'linear' (no curvature), 'monotonic'
(signed first differences), or 'smooth_monotonic' (monotone + curvature
penalty); parameters with 'series' in the name degrade UPWARD (series
resistance grows), everything else downward, matching the reference's
``decreasing`` rule.

The solve is deterministic numpy block-coordinate descent with exact
block updates (soft-threshold for x2, per-phase ridge for x4, and a
small ADMM with an exact PAVA monotone projection for x5). Data prep
mirrors the reference: max-abs scaling and optional log space.

Fleet shape: one grouped-map task per (site, parameter) series.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame

from solar_data_tools_spark.parallel import site_key_type


def pava_decreasing(y: np.ndarray) -> np.ndarray:
    """Pool-adjacent-violators projection onto nonincreasing sequences."""
    vals: list[float] = []
    wts: list[float] = []
    for v in y:
        vals.append(float(v))
        wts.append(1.0)
        # pooling for DEcreasing fit: merge while a later block exceeds
        # an earlier one
        while len(vals) >= 2 and vals[-1] > vals[-2]:
            v2, w2 = vals.pop(), wts.pop()
            v1, w1 = vals.pop(), wts.pop()
            vals.append((v1 * w1 + v2 * w2) / (w1 + w2))
            wts.append(w1 + w2)
    out = np.empty(len(y))
    i = 0
    for v, w in zip(vals, wts):
        out[i : i + int(w)] = v
        i += int(w)
    return out


def _fit_monotone_smooth(
    r: np.ndarray,
    known: np.ndarray,
    lam5: float,
    decreasing: bool,
    smooth: bool,
    admm_iters: int = 400,
    rho: float = 1.0,
    weights: np.ndarray | None = None,
) -> np.ndarray:
    """x5 block: min (1/T)||r - x||^2_{known,weights} + lam5 ||D2 x||^2
    s.t. monotone, x[0] = 0. ADMM with exact PAVA projection.
    ``weights`` (optional, per-point) let callers run IRLS pinball
    reweighting around the fit (envelope-tracing monotone degradation in
    the loss-factor model)."""
    from solar_data_tools_spark.solvers.exact import _apply_d2, _apply_d2t

    T = len(r)
    # work on sgn*x so the projection is always onto NONINCREASING
    sgn = 1.0 if decreasing else -1.0
    rr = np.where(known, r, 0.0) * sgn
    # quadratic: (1/T) x'Wx + lam5 x'D2'D2 x + (rho/2)||x - z + u||^2
    W = known.astype(np.float64) / T
    if weights is not None:
        W = W * np.asarray(weights, dtype=np.float64)
    lam = lam5 if smooth else 0.0
    # dense system matrix (T x T) — parameter series are short (weekly /
    # 5-day samples, a few hundred points)
    A = np.diag(2.0 * W + rho)
    if lam > 0:
        D = np.zeros((T - 2, T))
        idx = np.arange(T - 2)
        D[idx, idx], D[idx, idx + 1], D[idx, idx + 2] = 1.0, -2.0, 1.0
        A += 2.0 * lam * (D.T @ D)
    Ainv = np.linalg.inv(A)
    z = np.zeros(T)
    u = np.zeros(T)
    x = np.zeros(T)
    for _ in range(admm_iters):
        x = Ainv @ (2.0 * W * rr + rho * (z - u))
        z_prev = z
        z = pava_decreasing(x + u)
        u += x - z
        if max(np.max(np.abs(x - z)), rho * np.max(np.abs(z - z_prev))) < 1e-10:
            break
    # anchor x5[0] = 0 AFTER the solve (the level is re-absorbed by the
    # constant component on the next outer iteration)
    z = z - z[0]
    return sgn * z


def solve_pvpro_components(
    y: np.ndarray,
    period: int,
    model: str = "smooth_monotonic",
    lambda2: float = 1e-3,
    lambda4: float = 1e-1,
    lambda5: float = 1.0,
    decreasing: bool = True,
    n_iter: int = 20,
) -> dict[str, np.ndarray]:
    """Five-component decomposition of one (scaled) parameter series.

    Returns dict with x2 (sparse noise), x3 (constant), x4 (periodic),
    x5 (degradation), and composed = x3 + x4 + x5 (the denoised model).
    """
    if model not in ("linear", "monotonic", "smooth_monotonic"):
        raise ValueError(f"unsupported degradation model: {model}")
    y = np.asarray(y, dtype=np.float64)
    T = len(y)
    known = np.isfinite(y)
    yk = np.where(known, y, 0.0)
    p = int(period)
    phase = np.arange(T) % p

    x2 = np.zeros(T)
    x4 = np.zeros(T)
    x5 = np.zeros(T)
    c = float(np.nanmedian(y)) if known.any() else 0.0
    x5_prev = x5
    for _ in range(n_iter):
        # x2: sparse noise — prox of lambda2 ||.||_1 against (1/T) l2
        r = yk - c - x4 - x5
        x2 = np.where(
            known, np.sign(r) * np.maximum(np.abs(r) - lambda2 * T / 2.0, 0.0), 0.0
        )
        # x3: constant
        r = yk - x2 - x4 - x5
        c = float(r[known].mean()) if known.any() else 0.0
        # x4: periodic, zero-mean, smooth — per-phase ridge with circular
        # second-difference penalty on the phase profile
        r = yk - x2 - c - x5
        nk = np.bincount(phase[known], minlength=p).astype(np.float64)
        sk = np.bincount(phase[known], weights=r[known], minlength=p)
        reps = T / p
        C2 = np.zeros((p, p))
        ii = np.arange(p)
        C2[ii, ii] = 6.0 * lambda4 * reps / T
        for off, coef in ((1, -4.0), (2, 1.0)):
            C2[ii, (ii + off) % p] += coef * lambda4 * reps / T
            C2[ii, (ii - off) % p] += coef * lambda4 * reps / T
        M = np.diag(2.0 * nk / T) + 2.0 * C2
        u = np.linalg.solve(M + 1e-12 * np.eye(p), 2.0 * sk / T)
        u -= u.mean()
        x4 = u[phase]
        # x5: degradation
        r = yk - x2 - c - x4
        if model == "linear":
            t = np.arange(T, dtype=np.float64)
            beta = float(
                np.linalg.lstsq(
                    t[known].reshape(-1, 1), r[known] - r[known][0], rcond=None
                )[0][0]
            ) if known.sum() > 1 else 0.0
            x5 = beta * t
        else:
            x5 = _fit_monotone_smooth(
                r,
                known,
                lambda5,
                decreasing,
                smooth=(model == "smooth_monotonic"),
            )
        if np.max(np.abs(x5 - x5_prev)) < 1e-7:
            break
        x5_prev = x5
    return {
        "x2": x2,
        "x3": np.full(T, c),
        "x4": x4,
        "x5": x5,
        "composed": c + x4 + x5,
    }


def pvpro_postprocess(
    params: DataFrame,
    period: int,
    model: str = "smooth_monotonic",
    site_col: str = "site",
    param_col: str = "param",
    value_col: str = "value",
    log_space: bool = False,
) -> DataFrame:
    """Fleet wrapper: long table (site, param, seq, value) -> per-sample
    decomposition rows. Max-abs scaling per series (reference
    scale_max_1, pvpro_post_processing.py:225-240), optional log space
    (ln_df, :242-254); 'series' parameters degrade upward.

    Output: (site, param, seq, value, composed, degradation, periodic,
    sparse_noise)."""
    schema = (
        f"{site_col} {site_key_type(params, site_col)}, {param_col} string, "
        "seq long, value double, composed double, degradation double, "
        "periodic double, sparse_noise double"
    )

    def _fit(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("seq").reset_index(drop=True)
        y = pdf[value_col].to_numpy(dtype=np.float64)
        label = str(pdf[param_col].iloc[0])
        scale = np.nanmax(np.abs(y))
        scale = scale if np.isfinite(scale) and scale > 0 else 1.0
        ys = y / scale
        if log_space:
            with np.errstate(divide="ignore", invalid="ignore"):
                ys = np.where(ys > 0, np.log(ys), np.nan)
        out = solve_pvpro_components(
            ys, period=period, model=model, decreasing="series" not in label
        )
        back = (lambda v: np.exp(v) * scale) if log_space else (lambda v: v * scale)
        return pd.DataFrame(
            {
                site_col: pdf[site_col],
                param_col: label,
                "seq": pdf.seq,
                "value": y,
                "composed": back(out["composed"]),
                "degradation": out["x5"] * scale,
                "periodic": out["x4"] * scale,
                "sparse_noise": out["x2"] * scale,
            }
        )

    from solar_data_tools_spark.parallel import grouped_apply

    return grouped_apply(
        params.select(site_col, param_col, "seq", value_col),
        [site_col, param_col],
        _fit,
        schema,
    )
