"""D5 sawtooth-dictionary soiling separation: planted cleaning-event
recovery (no Spark needed — pure numpy core, the same code that runs
per site inside the loss-factor grouped map)."""

from __future__ import annotations

import numpy as np
import pytest


def _planted_sawtooth(T, n_teeth, depth, rng):
    """Gradual soiling decline with sharp recoveries at cleaning events."""
    bounds = np.sort(rng.choice(np.arange(30, T - 30), n_teeth - 1, replace=False))
    bounds = np.r_[0, bounds, T]
    soil = np.zeros(T)
    for i in range(len(bounds) - 1):
        seg = slice(bounds[i], bounds[i + 1])
        L = bounds[i + 1] - bounds[i]
        soil[seg] = -depth * np.arange(L) / max(L - 1, 1)
    return soil, bounds[1:-1]


def test_dictionary_shapes():
    from solar_data_tools_spark.solvers.soiling import make_sawtooth_dictionary

    D = make_sawtooth_dictionary(365)
    assert D.shape[0] == 365
    assert (D <= 1e-12).all()  # every atom nonpositive
    # constant atom plus per-tooth atoms for k=2..31 at two phases
    assert D.shape[1] > 500


def test_planted_sawtooth_recovered():
    from solar_data_tools_spark.solvers.soiling import (
        fit_soiling_sawtooth_with_trend,
    )

    rng = np.random.default_rng(7)
    T = 730
    soil_true, events = _planted_sawtooth(T, 5, 0.15, rng)
    resid = soil_true + rng.normal(0, 0.01, T)
    years = np.arange(T) / 365.2425
    soil_hat = fit_soiling_sawtooth_with_trend(resid, years)[3]
    assert (soil_hat <= 1e-9).all()
    # recovered component tracks the planted sawtooth closely
    corr = np.corrcoef(soil_hat, soil_true)[0, 1]
    assert corr > 0.9, corr
    assert np.mean(np.abs(soil_hat - soil_true)) < 0.03
    # cleaning events appear as sharp upward steps in the recovery
    jumps = np.diff(soil_hat)
    for ev in events:
        assert jumps[max(ev - 3, 0) : ev + 3].max() > 0.02, ev


def test_nonneg_lasso_steps_along_a_dependent_atom():
    """Atoms (1,0), (1,1), (0,1): the third enters after the other two
    span the plane, so the solve must step along the null direction
    (1, -1, 1) until the expensive diagonal atom leaves."""
    from solar_data_tools_spark.solvers.soiling import nonneg_lasso

    D = np.array([[1.0, 1.0, 0.0], [0.0, 1.0, 1.0]])
    c = np.array([0.1, 1.0, 0.1])
    a = nonneg_lasso(D.T @ D, D.T @ np.array([2.0, 3.0]) - 0.5 * c)
    np.testing.assert_allclose(a, [1.95, 0.0, 2.95], atol=1e-12)


def _planted_residual(T, seed, noise, missing):
    """Seasonal + 25-day sawtooth + noise, a share of days missing."""
    rng = np.random.default_rng(seed)
    t = np.arange(T)
    r = (
        0.1 * np.sin(2 * np.pi * t / 365.2425)
        - 0.003 * (t % 25)
        + rng.normal(0, noise, T)
    )
    r[rng.random(T) < missing] = np.nan
    return r


@pytest.mark.parametrize(
    "T,seed,noise,missing",
    [
        (366, 0, 0.01, 0.0),
        (730, 0, 0.01, 0.0),
        (1095, 0, 0.01, 0.0),
        # an atom dependent on the passive set enters on this one
        (80, 0, 0.1, 0.3),
        # a passive set passes through a condition number near 1e10
        (80, 3, 0.3, 0.0),
    ],
)
def test_soiling_solve_meets_kkt(T, seed, noise, missing):
    """The loss model's soiling stage on planted residuals: coefficients
    nonnegative, and the KKT conditions of the joint problem (gradient
    in the atoms, with the smooth block at its returned optimum) hold
    within the solver's tolerance."""
    from solar_data_tools_spark.solvers.exact import (
        harmonic_penalty,
        trig_basis,
    )
    from solar_data_tools_spark.solvers.soiling import (
        NNLASSO_TOL,
        fit_seasonal_soiling,
        make_sawtooth_dictionary,
    )

    r = _planted_residual(T, seed, noise, missing)
    use = np.isfinite(r)
    S = np.hstack([np.ones((T, 1)), trig_basis(T, 2, include_const=False)])
    q = np.r_[0.0, harmonic_penalty(2, 1e-3, include_const=False)]
    D = make_sawtooth_dictionary(T)
    c = 5e-2 - 1e-4 * D.sum(axis=0)
    w, a = fit_seasonal_soiling(r, use, S, q, D, c)
    assert (a >= 0).all()

    Su, Du, ru = S[use], D[use], r[use]

    def half_neg_grad(w, a):
        return Du.T @ (ru - Su @ w - Du @ a) - 0.5 * c

    w0 = np.linalg.solve(Su.T @ Su + np.diag(q), Su.T @ ru)
    scale = max(1.0, np.abs(half_neg_grad(w0, np.zeros_like(a))).max())
    g = half_neg_grad(w, a)
    on = a > 0
    assert on.any()
    assert np.abs(g[on]).max() <= NNLASSO_TOL * scale
    assert g[~on].max() <= NNLASSO_TOL * scale


def test_loss_components_recover_aligned_sawtooth():
    """Atom-compatible teeth (the dictionary's quasi-periodic cleaning
    grid, like the reference's): the joint fit recovers the component and
    keeps the degradation line near truth."""
    from solar_data_tools_spark.algorithms.loss_factors import fit_loss_components

    rng = np.random.default_rng(11)
    T = 730
    t = np.arange(T)
    soil_true = -0.2 * ((t % (T // 4)) / (T // 4 - 1))
    log_e = (
        3.0
        + 0.1 * np.sin(2 * np.pi * t / 365.2425)
        - 0.01 * t / 365.2425
        + soil_true
        + rng.normal(0, 0.01, T)
    )
    comps = fit_loss_components(np.exp(log_e))
    corr = np.corrcoef(comps["soiling"], soil_true)[0, 1]
    assert corr > 0.85, corr
    assert np.mean(np.abs(comps["soiling"] - soil_true)) < 0.03
    # trend/soiling split: degradation within ~3 %/yr of truth (the
    # sawtooth's mean slope is 10x that, so this bounds the leakage)
    assert comps["degradation_rate_pct_per_year"] == pytest.approx(
        100 * (np.exp(-0.01) - 1), abs=3.0
    )


def test_cleaning_events_found_at_arbitrary_positions():
    """Teeth at positions off the dictionary's grid: the exact shape is
    not expressible, but every planted cleaning event must still appear
    as a sharp upward step in the recovered component."""
    from solar_data_tools_spark.algorithms.loss_factors import fit_loss_components

    rng = np.random.default_rng(11)
    T = 730
    t = np.arange(T)
    soil_true, events = _planted_sawtooth(T, 3, 0.2, rng)
    # drop degenerate teeth narrower than a week
    events = [e for e in events if soil_true[max(e - 8, 0)] < -0.02]
    log_e = (
        3.0
        + 0.1 * np.sin(2 * np.pi * t / 365.2425)
        - 0.01 * t / 365.2425
        + soil_true
        + rng.normal(0, 0.01, T)
    )
    comps = fit_loss_components(np.exp(log_e))
    jumps = np.diff(comps["soiling"])
    for ev in events:
        assert jumps[max(ev - 4, 0) : ev + 4].max() > 0.02, ev
