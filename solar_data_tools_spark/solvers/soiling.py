"""D5 — sawtooth-dictionary soiling separation.

Parity target: the reference's soiling term in the loss-factor model
(loss_factor_analysis.py:497-508 with the dictionary built at :759-780):
the soiling component is expanded on a dictionary of descending sawtooth
"teeth" — each atom ramps from 0 down to -1 over its support and resets
at a cleaning event — plus a constant atom, with an l1 penalty on the
atom coefficients (stiffness) and on the component itself (sparsity),
and the component constrained nonpositive.

Restricting coefficients to alpha >= 0 makes the pointwise
nonpositivity automatic (every atom is <= 0) and turns the fit into a
nonnegative LASSO solved by monotone FISTA — deterministic numpy, no
cone solver. The reference allows sign-free coefficients with a
pointwise constraint; on sawtooth soiling signals the active atoms are
nonnegative combinations, so the restriction does not change the
recovered structure (validated on planted sawtooths in
tests/test_soiling_dictionary.py).
"""

from __future__ import annotations

import numpy as np


def _falling_sawtooth(k: int, phase: float, T: int) -> np.ndarray:
    """scipy.signal.sawtooth(x, width=0)/2 - 0.5 over k periods: value
    -frac((x)/(2pi)) in (-1, 0]."""
    x = np.linspace(-phase, k * 2.0 * np.pi - phase, T)
    return -((x / (2.0 * np.pi)) % 1.0)


def make_st(k: int, phase: float, T: int) -> np.ndarray:
    """One (k, phase) sawtooth split into per-tooth atoms
    (loss_factor_analysis.py:770-780): columns are the waveform restricted
    to the span between consecutive resets (local maxima), zero
    elsewhere."""
    wf = _falling_sawtooth(k, phase, T)
    # interior local maxima = the sample right after each reset
    peaks = (
        np.where((wf[1:-1] > wf[:-2]) & (wf[1:-1] >= wf[2:]))[0] + 1
    )
    bounds = np.r_[0, peaks, T]
    out = np.zeros((T, len(bounds) - 1))
    for s in range(len(bounds) - 1):
        out[bounds[s] : bounds[s + 1], s] = wf[bounds[s] : bounds[s + 1]]
    return out


def make_sawtooth_dictionary(T: int) -> np.ndarray:
    """Dense T x K dictionary: constant -1 atom + per-tooth atoms for
    k = 2..31 teeth at phases {0, pi} (loss_factor_analysis.py:759-767)."""
    cols = [-np.ones((T, 1))]
    for k in range(2, 32):
        for ph in (0.0, np.pi):
            cols.append(make_st(k, ph, T))
    return np.concatenate(cols, axis=1)


def fit_soiling_sawtooth(
    resid: np.ndarray,
    w_stiff: float = 5e-2,
    w_sparse: float = 5e-3,
    max_iters: int = 1000,
    tol: float = 1e-9,
) -> np.ndarray:
    """Fit the soiling component to a (log-space) residual:

        min ||r - D a||^2 + w_stiff ||a||_1 + w_sparse ||D a||_1
        s.t. a >= 0            (=> soiling = D a <= 0 pointwise)

    With a >= 0 and D <= 0 both l1 terms are linear, so this is a
    nonnegative-constrained least squares with a linear offset — solved
    by monotone FISTA with projection onto the nonnegative orthant.
    NaNs in ``resid`` are excluded from the data term.
    """
    resid = np.asarray(resid, dtype=np.float64)
    T = len(resid)
    use = np.isfinite(resid)
    D = make_sawtooth_dictionary(T)
    Du = D[use]
    ru = resid[use]
    K = D.shape[1]
    # linear term: w_stiff * sum(a) + w_sparse * sum(-D a)
    c = w_stiff - w_sparse * D.sum(axis=0)
    # Lipschitz constant of the quadratic via power iteration
    v = np.ones(K) / np.sqrt(K)
    for _ in range(50):
        v = Du.T @ (Du @ v)
        nv = np.linalg.norm(v)
        if nv == 0:
            break
        v /= nv
    L = 2.0 * max(nv, 1e-12)
    step = 1.0 / L
    a = np.zeros(K)
    z = a.copy()
    t_mom = 1.0
    best = np.inf
    for _ in range(max_iters):
        grad = 2.0 * (Du.T @ (Du @ z - ru)) + c
        a_new = np.maximum(z - step * grad, 0.0)
        t_new = 0.5 * (1.0 + np.sqrt(1.0 + 4.0 * t_mom**2))
        z = a_new + ((t_mom - 1.0) / t_new) * (a_new - a)
        move = float(np.max(np.abs(a_new - a), initial=0.0))
        a, t_mom = a_new, t_new
        scale = float(np.abs(ru).max()) if len(ru) else 1.0
        if move < tol * max(1.0, scale):
            break
    return D @ a


def fit_soiling_sawtooth_with_trend(
    resid: np.ndarray,
    years: np.ndarray,
    w_stiff: float = 5e-2,
    w_sparse: float = 1e-4,
    num_harmonics: int = 2,
    w_seasonal: float = 1e-3,
    period: float = 365.2425,
    max_iters: int = 5000,
    tol: float = 1e-9,
    capacity_labels: np.ndarray | None = None,
    deg_type: str = "linear",
    deg_rate: float | None = None,
    tau: float = 0.9,
) -> tuple[float, float, np.ndarray, np.ndarray, np.ndarray, np.ndarray]:
    """Loss-model decomposition: intercept + degradation + smooth seasonal
    + capacity-change + sawtooth soiling of log daily energy.

    Architecture (parity target loss_factor_analysis.py:447-556): the
    reference's loss is pinball(tau=0.9) — the smooth/step components ride
    the UPPER ENVELOPE of the data, which the nonpositive soiling term
    cannot pull down. We solve the same identification in two stages:

    1. **Envelope stage** — penalized quantile regression (exact IPM,
       :func:`solvers.exact.pinball_regression`) of the series on
       [intercept, trend?, Fourier(num_harmonics), capacity-regime
       indicators]. Because soiling/noise dips sit below the tau=0.9
       envelope by construction, the trend, seasonal curve and capacity
       steps are estimated WITHOUT competing against the sawtooth
       dictionary (the direct joint l2 fit is degenerate: gradations of
       tooth depth are collinear with the trend, and a capacity step
       leaks into both — observed on planted fleets).
       Capacity offsets are re-anchored so the largest regime is 0 and
       the component is nonpositive, matching the reference's
       ``Inequality(vmax=0)`` (:543-550).
    2. **Soiling stage** — with the trend and capacity steps fixed, one
       joint l2 fit of intercept + seasonal + the D5 nonnegative-lasso
       sawtooth (the same penalties as :func:`fit_soiling_sawtooth`):
       the smooth block is minimized in closed form and the tooth atoms
       by exact cyclic coordinate descent.

    Both stages run twice; the second envelope fit sees the series with
    the first pass's soiling removed.

    ``deg_type``: "linear" (slope column in the envelope design),
    "monotone" (the reference's "nonlinear": non-increasing smooth,
    first value 0 — IRLS-weighted PAVA-ADMM on the envelope residual),
    "none", or fixed ``deg_rate`` [%/yr] (:487-492).

    Returns (intercept, beta_per_year, seasonal, soiling, capacity,
    degradation_series); ``beta_per_year`` is the log-space slope per
    year (end-to-end average for "monotone").
    """
    from solar_data_tools_spark.solvers.exact import (
        harmonic_penalty,
        pinball_regression,
        trig_basis,
    )

    resid = np.asarray(resid, dtype=np.float64)
    T = len(resid)
    years = np.asarray(years, dtype=np.float64)
    use = np.isfinite(resid)

    deg_fixed = np.zeros(T)
    if deg_rate is not None:
        deg_fixed = np.log(1.0 + deg_rate / 100.0) / 365.0 * np.arange(T)
        deg_type = "fixed"

    y_work = resid - deg_fixed

    # capacity regime indicator block (base regime = first by appearance)
    cap_cols = None
    regimes: list = []
    if capacity_labels is not None:
        labels = np.asarray(capacity_labels)
        seen: list = []
        for lb in labels:
            if lb >= 0 and lb not in seen:
                seen.append(lb)
        if len(seen) > 1:
            regimes = seen
            cap_cols = np.zeros((T, len(seen) - 1))
            for j, lb in enumerate(seen[1:]):
                cap_cols[labels == lb, j] = 1.0

    B = trig_basis(T, num_harmonics, period, include_const=False)
    qs = harmonic_penalty(
        num_harmonics, w_seasonal, period, include_const=False
    )
    p = B.shape[1]
    with_trend = deg_type == "linear"

    blocks = [np.ones((T, 1))]
    pens = [np.zeros(1)]
    if with_trend:
        blocks.append(years.reshape(-1, 1))
        pens.append(np.zeros(1))
    blocks.append(B)
    pens.append(qs)
    if cap_cols is not None:
        blocks.append(cap_cols)
        pens.append(np.zeros(cap_cols.shape[1]))
    X = np.hstack(blocks)
    pen = np.concatenate(pens)

    def _split(beta_hat):
        i = 0
        b = float(beta_hat[i]); i += 1
        slope = 0.0
        if with_trend:
            slope = float(beta_hat[i]); i += 1
        th = beta_hat[i : i + p]; i += p
        seasonal = B @ th
        capacity = np.zeros(T)
        b_out = b
        if cap_cols is not None:
            offs = beta_hat[i : i + cap_cols.shape[1]]
            # re-anchor: largest regime offset (including the base at 0)
            # moves into the intercept so the component is <= 0
            # everywhere, matching the reference's Inequality(vmax=0)
            shift = max(0.0, float(offs.max()) if len(offs) else 0.0)
            capacity = cap_cols @ offs - shift
            b_out = b + shift
        return b_out, slope, seasonal, capacity

    span_years = float(years[-1] - years[0]) if T > 1 else 0.0

    def _monotone_env(r_env: np.ndarray) -> np.ndarray:
        """Upper-envelope monotone fit: IRLS pinball weights around the
        PAVA-projected smooth monotone solve."""
        from solar_data_tools_spark.algorithms.pvpro import (
            _fit_monotone_smooth,
        )

        r0 = np.where(use, r_env, 0.0)
        wts = np.ones(T)
        deg = np.zeros(T)
        eps = 1e-3 * max(1.0, float(np.max(np.abs(r0))) if T else 1.0)
        for _ in range(3):
            deg = _fit_monotone_smooth(
                r0,
                known=use,
                lam5=0.1,
                decreasing=True,
                smooth=True,
                weights=wts,
            )
            rr = r0 - deg
            wts = np.where(rr >= 0, tau, 1.0 - tau) / np.maximum(
                np.abs(rr), eps
            )
        return deg

    def _joint_seasonal_soiling(r_target: np.ndarray):
        """Joint l2 fit of intercept + seasonal + sawtooth soiling (the
        trend/capacity are FIXED by the envelope stage, which removes
        the tooth-gradient <-> trend degeneracy this solve would
        otherwise have). Partial minimization over the smooth block +
        exact cyclic coordinate descent on the nonneg tooth atoms; this
        l2 competition is what allocates a period-matched sawtooth to
        the teeth rather than the seasonal harmonics (the envelope
        regression alone absorbs the tooth fundamental into the
        coincident harmonic)."""
        S = np.hstack([np.ones((T, 1)), B])
        Su = S[use]
        Du = Dteeth[use]
        ru = r_target[use]
        q_smooth = np.concatenate([[0.0], qs])
        A = Su.T @ Su + np.diag(q_smooth) + 1e-12 * np.eye(1 + p)
        Ainv = np.linalg.inv(A)
        proj = Su @ (Ainv @ Su.T)
        c = w_stiff - w_sparse * Dteeth.sum(axis=0)
        MDu = Du - proj @ Du
        G = Du.T @ MDu
        g = MDu.T @ ru
        K = Dteeth.shape[1]
        a = np.zeros(K)
        uacc = np.zeros(K)
        diag = np.maximum(np.diag(G), 1e-12)
        scale = float(np.abs(ru).max()) if len(ru) else 1.0
        n_sweeps = max(30, max_iters // 50)
        for _ in range(n_sweeps):
            max_move = 0.0
            for j in range(K):
                new = max(
                    0.0, a[j] + (g[j] - uacc[j] - 0.5 * c[j]) / diag[j]
                )
                delta = new - a[j]
                if delta != 0.0:
                    uacc += G[:, j] * delta
                    a[j] = new
                    max_move = max(max_move, abs(delta))
            if max_move < tol * max(1.0, scale):
                break
        w_sm = Ainv @ (Su.T @ (ru - Du @ a))
        return float(w_sm[0]), B @ w_sm[1:], Dteeth @ a

    Dteeth = make_sawtooth_dictionary(T)
    if T < 365:
        # Short-series perf path only: the reference's k=2..31 grid is
        # built for multi-year series; on a month-scale series most
        # atoms span <3 days and can only fit noise, while the
        # coordinate-descent cost is O(K^2) in the atom count (observed
        # 0.4 s/site on 27-day fleets, nearly all on ~1000 one-day
        # atoms). Series of a year or more keep the FULL reference
        # dictionary — including boundary-clipped partial teeth — so
        # the parity model space (loss_factor_analysis.py:759-780) is
        # untouched where the reference is actually used.
        support = (Dteeth < 0).sum(axis=0)
        Dteeth = Dteeth[:, support >= 3]

    # Stage A — envelope quantile regression identifies the trend and
    # capacity steps (nonpositive soiling cannot pull the tau=0.9
    # envelope down). Stage B — joint l2 seasonal+soiling with those
    # fixed. One repeat of A on the soiling-subtracted series refines
    # the envelope where soiling polluted the first pass.
    soiling = np.zeros(T)
    deg_series = np.zeros(T)
    b = beta = slope = 0.0
    seasonal = np.zeros(T)
    capacity = np.zeros(T)
    for _round in range(2):
        y_env = np.where(use, y_work - soiling, np.nan)
        beta_hat = pinball_regression(X, y_env, tau=tau, pen_diag=pen)
        b, slope, seasonal, capacity = _split(beta_hat)
        if deg_type == "monotone":
            deg_series = _monotone_env(
                y_work - soiling - (b + seasonal + capacity)
            )
            beta = (
                float(deg_series[-1] - deg_series[0]) / span_years
                if span_years > 0
                else 0.0
            )
        elif deg_type == "fixed":
            beta = (
                float(deg_fixed[-1] - deg_fixed[0]) / span_years
                if span_years > 0
                else 0.0
            )
            deg_series = deg_fixed
        elif deg_type == "none":
            beta = 0.0
            deg_series = np.zeros(T)
        else:
            beta = slope
            deg_series = slope * years
        r_fixed = y_work - capacity - (deg_series - deg_fixed)
        b, seasonal, soiling = _joint_seasonal_soiling(
            np.where(use, r_fixed, 0.0)
        )
    return float(b), float(beta), seasonal, soiling, capacity, deg_series
