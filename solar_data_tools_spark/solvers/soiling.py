"""D5 — sawtooth-dictionary soiling separation.

Parity target: the reference's soiling term in the loss-factor model
(loss_factor_analysis.py:497-508 with the dictionary built at :759-780):
the soiling component is expanded on a dictionary of descending sawtooth
"teeth" — each atom ramps from 0 down to -1 over its support and resets
at a cleaning event — plus a constant atom, with an l1 penalty on the
atom coefficients (stiffness) and on the component itself (sparsity),
and the component constrained nonpositive.

Restricting coefficients to alpha >= 0 makes the pointwise
nonpositivity automatic (every atom is <= 0) and, with the l1 terms
linear on the orthant, turns the fit into a nonnegative LASSO. The loss
model fits it jointly with a smooth (intercept + seasonal) block
(:func:`fit_seasonal_soiling`); after the smooth block is minimized out
in closed form, :func:`nonneg_lasso` solves the atom problem exactly
with an active-set method that stops on a KKT certificate —
deterministic numpy, no cone solver. The reference allows sign-free
coefficients with a pointwise constraint; on sawtooth soiling signals
the active atoms are nonnegative combinations, so the restriction does
not change the recovered structure (validated on planted sawtooths in
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


# Step cap of nonneg_lasso. One step is one entering atom, with the atoms
# that leave after it; the recorded loss-model fits certify in under 400
# steps. A solve that reaches the cap raises, and a capturing
# ``parallel.grouped_apply`` stage turns that into the site's error row.
_NNLASSO_MAX_STEPS = 2000
# nonneg_lasso's KKT tolerance, relative to max(1, |h|_inf).
NNLASSO_TOL = 1e-10
# An entering atom whose Schur complement is below this share of its own
# Gram diagonal is treated as dependent on the passive atoms.
_DEPENDENT_PIVOT = 1e-9


def nonneg_lasso(G: np.ndarray, h: np.ndarray) -> np.ndarray:
    """argmin of a'Ga - 2h'a subject to a >= 0, for a PSD ``G`` (K, K).

    An active-set method in the style of Lawson & Hanson (*Solving Least
    Squares Problems*, 1974, ch. 23) on the Gram form: the atom with the
    largest positive w_j = (h - Ga)_j enters the passive set P, the
    passive subproblem G_PP z = h_P is solved, and when z leaves the
    orthant the step is cut at the first passive atom to reach zero,
    which leaves. The inverse of G_PP is kept up to date with rank-one
    bordering formulas as atoms enter and leave. Each passive solve
    takes one step of iterative refinement, and the inverse is
    recomputed when the refined residual is above tolerance: the
    updates drift after many steps on short, noisy series, where a
    passive set can also pass through a condition number near 1e10
    before its near-dependent atoms leave. The solve stops on a KKT
    certificate, w_j <= tol off the passive set and |w_j| <= tol on it,
    with tol = ``NNLASSO_TOL * max(1, |h|_inf)``; when no atom can
    enter but the passive residual is above tol, it raises.

    An entering atom that is linearly dependent on the passive ones
    (``G`` is rank-deficient whenever there are more atoms than samples)
    has a null direction d, G d = 0, with d_j = 1. The objective falls
    along it at the rate 2 w_j, so the solve moves along d until a
    passive atom reaches zero and swaps the two. For the soiling problem
    h - Ga is orthogonal to the null space up to -c/2 with c > 0, so d
    always has a negative passive entry and the move is finite.

    Also raises ``RuntimeError`` after ``_NNLASSO_MAX_STEPS`` entering
    atoms.
    """
    tol = NNLASSO_TOL * max(1.0, float(np.abs(h).max(initial=0.0)))
    a = np.zeros(len(h))
    P = np.zeros(0, dtype=np.intp)  # passive atoms, in the order of H
    H = np.zeros((0, 0))  # inverse of G[P][:, P]
    w = h.copy()

    def leave(P, H, step):
        """Move a_P along ``step`` until its first entry reaches zero and
        drop that atom. Returns the new P and H and the step length."""
        aP = a[P]
        neg = step < 0
        ratio = np.full(len(P), np.inf)
        ratio[neg] = aP[neg] / -step[neg]
        i = int(np.argmin(ratio))
        aP += ratio[i] * step
        aP[i] = 0.0
        a[P] = np.maximum(aP, 0.0)
        k = np.arange(len(P)) != i
        H = H[np.ix_(k, k)] - np.outer(H[k, i], H[i, k]) / H[i, i]
        return P[k], H, ratio[i]

    def passive_solve(P, H):
        """G_PP z = h_P with one refinement step, on a fresh inverse when
        the kept one leaves a residual above tolerance. Returns z and
        the inverse used."""
        GP = G[np.ix_(P, P)]
        for fresh in (False, True):
            if fresh:
                H = np.linalg.inv(GP)
            z = H @ h[P]
            z += H @ (h[P] - GP @ z)
            if np.abs(h[P] - GP @ z).max(initial=0.0) <= tol:
                break
        return z, H

    for _ in range(_NNLASSO_MAX_STEPS):
        free = w.copy()
        free[P] = -np.inf
        j = int(np.argmax(free))
        if free[j] <= tol:
            if np.abs(w[P]).max(initial=0.0) <= tol:
                return a
            raise RuntimeError(
                "soiling_sawtooth: active-set solve ended without a KKT "
                "certificate")
        u = H @ G[P, j]
        s = G[j, j] - G[P, j] @ u
        if s <= _DEPENDENT_PIVOT * G[j, j]:
            # null direction: d_P = -G_PP^-1 G_Pj, d_j = 1 (w is unchanged)
            P, H, a[j] = leave(P, H, -u)
            u = H @ G[P, j]
            s = G[j, j] - G[P, j] @ u
        k = len(P)
        grown = np.empty((k + 1, k + 1))
        grown[:k, :k] = H + np.outer(u, u) / s
        grown[:k, k] = grown[k, :k] = -u / s
        grown[k, k] = 1.0 / s
        P, H = np.append(P, j), grown
        z, H = passive_solve(P, H)
        while (z <= 0).any():
            P, H, _ = leave(P, H, z - a[P])
            z, H = passive_solve(P, H)
        a[P] = z
        w = h - G[:, P] @ z
    raise RuntimeError(
        "soiling_sawtooth: active-set solve did not converge in "
        f"{_NNLASSO_MAX_STEPS} steps")


def fit_seasonal_soiling(
    r: np.ndarray,
    use: np.ndarray,
    S: np.ndarray,
    q: np.ndarray,
    D: np.ndarray,
    c: np.ndarray,
) -> tuple[np.ndarray, np.ndarray]:
    """Exact joint l2 fit of a smooth block and the sawtooth atoms:

        min_{w, a >= 0}  ||r_u - S_u w - D_u a||^2 + w' diag(q) w + c'a

    over the rows ``use``. The smooth block is minimized out in closed
    form, which leaves the nonnegative lasso a'Ga - 2h'a over the atoms
    (:func:`nonneg_lasso`). Returns (w, a).

    The elimination goes through a QR factor of S_u stacked on
    sqrt(diag(q)) rather than the inverse of S_u'S_u + diag(q): on short
    series the annual harmonics are nearly collinear with the
    intercept, and the inverse put errors near 1e-10 into G.
    """
    Su, Du, ru = S[use], D[use], r[use]
    # a 1e-12 ridge keeps R invertible when q has zeros and rows are few
    Q, R = np.linalg.qr(np.vstack([Su, np.diag(np.sqrt(q + 1e-12))]))
    Q = Q[: len(ru)]
    E = Q.T @ Du
    G = Du.T @ Du - E.T @ E
    h = Du.T @ ru - E.T @ (Q.T @ ru) - 0.5 * c
    a = nonneg_lasso(G, h)
    return np.linalg.solve(R, Q.T @ (ru - Du @ a)), a


def fit_soiling_sawtooth_with_trend(
    resid: np.ndarray,
    years: np.ndarray,
    w_stiff: float = 5e-2,
    w_sparse: float = 1e-4,
    num_harmonics: int = 2,
    w_seasonal: float = 1e-3,
    period: float = 365.2425,
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
       exact joint l2 fit of intercept + seasonal + the nonnegative-lasso
       sawtooth over the full dictionary, penalties ``w_stiff ||a||_1 +
       w_sparse ||D a||_1`` (:func:`fit_seasonal_soiling`).

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

    Dteeth = make_sawtooth_dictionary(T)
    S = np.hstack([np.ones((T, 1)), B])
    q_smooth = np.concatenate([[0.0], qs])
    c = w_stiff - w_sparse * Dteeth.sum(axis=0)

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
        # the l2 competition between the smooth block and the teeth is
        # what allocates a period-matched sawtooth to the teeth rather
        # than the coincident seasonal harmonic
        r_fixed = y_work - capacity - (deg_series - deg_fixed)
        w_sm, alpha = fit_seasonal_soiling(
            r_fixed, use, S, q_smooth, Dteeth, c
        )
        b, seasonal, soiling = float(w_sm[0]), B @ w_sm[1:], Dteeth @ alpha
    return float(b), float(beta), seasonal, soiling, capacity, deg_series
