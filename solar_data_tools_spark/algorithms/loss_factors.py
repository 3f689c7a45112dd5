"""Loss-factor analysis (SURVEY §2.8 D6 + §2.10 M6 + §3.2).

Reference: solardatatools/algorithms/loss_factor_analysis.py — decompose
log daily energy into multiplicative loss components (baseline seasonal x
degradation x soiling x residual weather), estimate the degradation rate,
and attribute total energy loss to factors with exact Shapley values
(enumerating all factor orderings; k factors -> k! paths, trivial for
k<=5).

Spark shape: the single-fit path is one grouped-map UDF per site; the
Monte-Carlo degradation estimate fans out a parameter DataFrame of
(sample_id, seed, holdout_frac) rows — each MC sample is an independent
solve, so the fleet x samples grid parallelizes on the cluster (the
reference runs this loop sequentially, loss_factor_analysis.py:78-197).
"""

from __future__ import annotations

import itertools
import math
from functools import partial

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from solar_data_tools_spark.parallel import site_key_type


def fit_loss_components(
    energy: np.ndarray,
    seed: int | None = None,
    holdout_frac: float = 0.0,
    soiling_lam: float = 2.0,
    num_harmonics: int = 2,
    period: float = 365.2425,
    n_iter: int = 4,
    capacity_labels: np.ndarray | None = None,
    deg_type: str = "linear",
    deg_rate: float | None = None,
) -> dict[str, np.ndarray | float]:
    """Decompose log daily energy into baseline + seasonal + degradation +
    soiling (+ capacity-change) components (all additive in log space ==
    multiplicative in energy space).

    Deterministic fit:
      * seasonal  — Fourier least squares (zero-mean basis),
      * degradation — ``deg_type`` in {"linear", "monotone", "none"} or a
        fixed known ``deg_rate`` [%/yr] (reference
        loss_factor_analysis.py:487-533; "monotone" is the reference's
        "nonlinear" option: non-increasing smooth, first value 0),
      * soiling   — D5 sawtooth-dictionary fit (descending teeth with
        cleaning-event resets, reference loss_factor_analysis.py:497-508,
        :759-780); series shorter than 60 days fall back to the TV
        approximation (too short for the tooth dictionary, mirroring the
        reference's own short-series seasonal guard, soiling.py:163),
      * capacity  — one-hot expansion of detected capacity-change labels
        with nonpositivity + tiny l1 (reference :536-550); without it an
        inverter replacement's step lands in soiling/degradation,
    with optional seeded random holdout (the MC wrapper's knob).

    Returns components + ``degradation_rate_pct_per_year``.
    """
    from solar_data_tools_spark.solvers.exact import trig_basis
    from solar_data_tools_spark.solvers.soiling import (
        fit_soiling_sawtooth_with_trend,
    )
    from solar_data_tools_spark.solvers.tv import tv1d_denoise_nan

    energy = np.asarray(energy, dtype=np.float64)
    n = len(energy)
    mask = np.isfinite(energy) & (energy > 0)
    if seed is not None and holdout_frac > 0:
        rng = np.random.default_rng(seed)
        drop = rng.random(n) < holdout_frac
        mask &= ~drop
    y = np.where(mask, np.log(np.where(energy > 0, energy, 1.0)), np.nan)

    t = np.arange(n, dtype=np.float64)
    years = t / 365.2425
    Xs = trig_basis(n, num_harmonics, period, include_const=False)

    baseline = np.nanmedian(y)
    seasonal = np.zeros(n)
    deg = np.zeros(n)
    soil = np.zeros(n)
    capacity = np.zeros(n)
    beta_deg = 0.0
    if n >= 60:
        # ONE joint convex fit of all components (see solvers/soiling.py:
        # the soiling-reset / envelope identification is lost if the
        # trend, seasonal, and soiling terms are fit alternately)
        (
            baseline,
            beta_deg,
            seasonal,
            soil,
            capacity,
            deg,
        ) = fit_soiling_sawtooth_with_trend(
            y,
            years,
            num_harmonics=num_harmonics,
            period=period,
            capacity_labels=capacity_labels,
            deg_type=deg_type,
            deg_rate=deg_rate,
        )
    else:
        for _ in range(n_iter):
            r = y - baseline - deg - soil
            m = np.isfinite(r)
            if m.sum() > Xs.shape[1] + 1:
                bs = np.linalg.lstsq(Xs[m], r[m], rcond=None)[0]
                seasonal = Xs @ bs
            r = y - baseline - seasonal - soil
            m = np.isfinite(r)
            if m.sum() > 2:
                A = np.column_stack([np.ones(m.sum()), years[m]])
                sol = np.linalg.lstsq(A, r[m], rcond=None)[0]
                baseline = baseline + sol[0]
                beta_deg = sol[1]
                deg = beta_deg * years
            resid = y - baseline - seasonal - deg
            resid_f = np.where(np.isfinite(resid), resid, 0.0)
            soil = np.minimum(tv1d_denoise_nan(resid_f, soiling_lam), 0.0)

    return {
        "baseline": float(baseline),
        "seasonal": seasonal,
        "degradation": deg,
        "soiling": soil,
        "capacity": capacity,
        "degradation_rate_pct_per_year": float(
            100.0 * (math.exp(beta_deg) - 1.0)
        ),
    }


def shapley_attribution(component_sums: dict[str, float]) -> dict[str, float]:
    """M6 — exact Shapley attribution of total multiplicative energy loss.

    ``component_sums[f]`` is the log-space total of factor f (<= 0 for
    losses). The model is multiplicative: E = E0 * prod_f exp(c_f), so the
    loss from switching factor f 'on' depends on which others are already
    on. Enumerate all k! orderings (reference enumerates monotone paths on
    the k-cube, loss_factor_analysis.py:560-656) and average marginal
    contributions — exact for k <= 7.
    """
    factors = sorted(component_sums)
    k = len(factors)
    marginals = {f: 0.0 for f in factors}

    def total(on: tuple[str, ...]) -> float:
        return math.exp(sum(component_sums[f] for f in on))

    for perm in itertools.permutations(factors):
        acc: tuple[str, ...] = ()
        for f in perm:
            before = total(acc)
            acc = acc + (f,)
            marginals[f] += total(acc) - before
    n_perms = math.factorial(k)
    return {f: marginals[f] / n_perms for f in factors}


# the stage's output fields after the site
LOSS_FIELDS = (
    "degradation_rate_pct_per_year double, loss_seasonal double, "
    "loss_degradation double, loss_soiling double, loss_capacity double"
)


def loss_factor_kernel(
    pdf: pd.DataFrame, energy_col: str, site_col: str,
    label_col: str | None, deg_type: str,
) -> pd.DataFrame:
    """The per-site kernel of :func:`run_loss_factor_analysis`."""
    pdf = pdf.sort_values("date").reset_index(drop=True)
    labels = pdf[label_col].to_numpy() if label_col is not None else None
    comps = fit_loss_components(
        pdf[energy_col].to_numpy(),
        capacity_labels=labels,
        deg_type=deg_type,
    )
    n = max(len(pdf), 1)
    sums = {
        "seasonal": float(np.nansum(np.minimum(comps["seasonal"], 0.0))) / n,
        "degradation": float(
            np.nansum(np.minimum(comps["degradation"], 0.0))
        )
        / n,
        "soiling": float(np.nansum(comps["soiling"])) / n,
        "capacity": float(np.nansum(comps["capacity"])) / n,
    }
    attr = shapley_attribution(sums)
    return pd.DataFrame(
        {
            site_col: [pdf[site_col].iloc[0]],
            "degradation_rate_pct_per_year": [
                comps["degradation_rate_pct_per_year"]
            ],
            "loss_seasonal": [attr["seasonal"]],
            "loss_degradation": [attr["degradation"]],
            "loss_soiling": [attr["soiling"]],
            "loss_capacity": [attr["capacity"]],
        }
    )


def run_loss_factor_analysis(
    daily: DataFrame,
    energy_col: str = "energy",
    site_col: str = "site",
    label_col: str | None = None,
    deg_type: str = "linear",
    capture_errors: bool = False,
) -> DataFrame:
    """Single-fit loss analysis per site -> one row per site with the
    degradation rate and Shapley-attributed loss fractions.

    ``label_col`` (optional): integer capacity-change regime labels per
    (site, date) — the output of ``detect_capacity_changes`` — routed to
    the capacity component so capacity steps are attributed separately
    (``loss_capacity``) instead of contaminating soiling/degradation.
    """
    schema = f"{site_col} {site_key_type(daily, site_col)}, " + LOSS_FIELDS
    kernel = partial(
        loss_factor_kernel, energy_col=energy_col, site_col=site_col,
        label_col=label_col, deg_type=deg_type,
    )
    from solar_data_tools_spark.parallel import grouped_apply

    cols = [c for c in (site_col, "date", energy_col, label_col) if c]
    return grouped_apply(
        daily.select(*cols), [site_col], kernel, schema,
        capture_errors=capture_errors,
    )


def mc_degradation_estimate(
    daily: DataFrame,
    n_samples: int = 20,
    holdout_frac: float = 0.2,
    energy_col: str = "energy",
    site_col: str = "site",
) -> DataFrame:
    """Monte-Carlo degradation estimate with cluster fan-out.

    The (site x sample) grid is built as a DataFrame cross join against a
    seeded parameter table, then every cell solves independently in one
    grouped-map pass — the reference's sequential 50-500 sample loop
    (loss_factor_analysis.py:78-197) becomes embarrassingly parallel.
    Output: per-site median / 2.5% / 97.5% quantiles of the rate (A21).
    """
    spark = daily.sparkSession
    params = spark.createDataFrame(
        [(i, 1000 + i) for i in range(n_samples)], "sample_id int, seed int"
    )
    grid = daily.select(site_col, "date", energy_col).crossJoin(
        F.broadcast(params)
    )

    fit_schema = (
        f"{site_col} {site_key_type(daily, site_col)}, sample_id int, "
        "rate double"
    )

    def _fit_one(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("date").reset_index(drop=True)
        comps = fit_loss_components(
            pdf[energy_col].to_numpy(),
            seed=int(pdf["seed"].iloc[0]),
            holdout_frac=holdout_frac,
        )
        return pd.DataFrame(
            {
                site_col: [pdf[site_col].iloc[0]],
                "sample_id": [int(pdf["sample_id"].iloc[0])],
                "rate": [comps["degradation_rate_pct_per_year"]],
            }
        )

    from solar_data_tools_spark.parallel import grouped_apply

    rates = grouped_apply(grid, [site_col, "sample_id"], _fit_one, fit_schema)
    return rates.groupBy(site_col).agg(
        F.expr("percentile(rate, 0.5)").alias("rate_median"),
        F.expr("percentile(rate, 0.025)").alias("rate_lo"),
        F.expr("percentile(rate, 0.975)").alias("rate_hi"),
        F.count("*").alias("n_samples"),
    )
