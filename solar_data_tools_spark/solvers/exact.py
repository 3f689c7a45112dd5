"""Exact convex signal-decomposition solvers (SURVEY.md §2.8, D1-D4).

Parity targets (reference formulations, re-derived from public problem
statements — NOT a code port):

- ``l2_l1d1_l2d2p365``  (reference signal_decompositions.py:45-124 and
  _osd_signal_decompositions.py:48-135): squared residual + w1 * l1 of the
  first difference of a piecewise-constant component + a smooth seasonal
  component restricted to a 3-harmonic Fourier basis (period 365.2425,
  plus intercept) with zero average and a tiny quadratic harmonic penalty.
- ``tl1_l2d2p365``      (reference _osd_signal_decompositions.py:138-186):
  pinball(tau) residual + the same smooth Fourier seasonal component.
- ``l1_pwc_smoothper_trend`` (reference _cvx_signal_decompositions.py:193-
  289): mean-abs residual + w2 * mean of (reweighted) abs first diffs of a
  piecewise-constant term + quadratic harmonic penalty on a 6-harmonic
  seasonal + bounded linear trend, with one pass of iterative reweighting.
- ``l2_l1d2_constrained`` (reference _osd_signal_decompositions.py:255-288):
  squared residual + w1 * l1 of second differences, first value pinned to
  0 and last to 1 (piecewise-linear CDF fit for clipping detection).

``tl1_l2d2p365`` is a penalized quantile regression and is solved by
``_pinball_ipm``, a batched Mehrotra interior-point method that is also
the package's only other pinball solver (``pinball_regression``: the
loss-factor envelope and the D7 quantile surface). ``l2_l1d1_l2d2p365``
and ``l1_pwc_smoothper_trend`` share ``_tv_ipm``, a batched interior-
point core whose Newton step is a tridiagonal system plus a small
border, finished by a support polish (an exact re-solve on the detected
jump pattern, which makes the piecewise-constant part exactly constant
between jumps). ``l2_l1d2_constrained`` is solved with over-relaxed ADMM
and a breakpoint polish. All four are validated against the reference's
own fixture files in ``tests/test_solver_fixtures.py`` at the
reference's tolerances (MAE < 1e-3, objective to 1 decimal; see
reference tests/solardatatools/test_signal_decompositions.py:57-61).

The harmonic penalty constant is the reference's published regularization:
weight^2 * (2*pi*k)^2 / (2*period) per (sin, cos) pair — the square of
``weight * 2*pi*k / sqrt(period)`` on a sqrt(2)-normalized trig basis (see
_cvx_signal_decompositions.py:269-276), intercept unpenalized.

Scale note: these run per site inside ``applyInPandas`` on daily-level
series (365 * years points, <= a few thousand). A D1 or D3 Newton step
costs O(T k^2) with cyclic reduction (~log2 T vectorized steps) for the
tridiagonal part, so a one-year fit takes ~10-50 ms and a site's whole
w1 grid is one batched solve; the fleet dimension is Spark's.
"""

from __future__ import annotations

import numpy as np

PERIOD_DAYS = 365.2425


# ---------------------------------------------------------------------------
# bases and penalties
# ---------------------------------------------------------------------------

def trig_basis(T: int, num_harmonics: int, period: float = PERIOD_DAYS,
               include_const: bool = True) -> np.ndarray:
    """[sin(2pi k t/P), cos(2pi k t/P)]_{k=1..K} (+ trailing ones column)."""
    t = np.arange(T, dtype=np.float64)
    cols = []
    for k in range(1, num_harmonics + 1):
        w = 2.0 * np.pi * k * t / period
        cols.append(np.sin(w))
        cols.append(np.cos(w))
    if include_const:
        cols.append(np.ones(T))
    return np.column_stack(cols)


def harmonic_penalty(num_harmonics: int, weight: float,
                     period: float = PERIOD_DAYS,
                     include_const: bool = True,
                     normalized_basis: bool = True) -> np.ndarray:
    """Diagonal quadratic penalty on trig_basis coefficients.

    The reference regularization weight per harmonic is
    ``weight * 2*pi*k / sqrt(period)`` (squared in the objective;
    _cvx_signal_decompositions.py:271-276), applied in the coefficient
    space of the published basis. Expressed on the plain trig basis used
    here this is ``weight^2 (2 pi k)^2 / period`` per sin/cos coefficient
    — halved when the consuming path normalizes basis columns by sqrt(2)
    (the gfosd Fourier component does; the direct CVXPY path does not).
    Intercept unpenalized (reference drops the bias row).

    Both constants are fixture-validated: ``normalized_basis=True``
    against the l2_l1d1/tl1 fixtures, ``False`` against the
    l1_pwc_smoothper_trend fixture (tests/test_solver_fixtures.py).
    """
    denom = 2.0 * period if normalized_basis else period
    vals = []
    for k in range(1, num_harmonics + 1):
        q = weight ** 2 * (2.0 * np.pi * k) ** 2 / denom
        vals.extend([q, q])
    if include_const:
        vals.append(0.0)
    return np.array(vals)


def _soft(v: np.ndarray, k) -> np.ndarray:
    return np.sign(v) * np.maximum(np.abs(v) - k, 0.0)


def _admm_converged(r_prim: np.ndarray, z_step: np.ndarray, rho: float,
                    tol: float = 1e-8) -> bool:
    """Early-exit test: primal residual and (scaled) dual step both tiny.

    The dual residual is rho * ||A' (z - z_prev)||; dropping the constant
    operator keeps the check allocation-free, and the tolerance is far
    below the fixture tolerances (MAE 1e-3), so stopping here never costs
    parity — it only trims the fixed-iteration overdrive that dominates
    wall time on short (fleet-daily-length) series.
    """
    return (
        float(np.max(np.abs(r_prim), initial=0.0)) < tol
        and rho * float(np.max(np.abs(z_step), initial=0.0)) < tol
    )


# ---------------------------------------------------------------------------
# D1 / D3 core: data term + weighted l1 of first differences + a border
# ---------------------------------------------------------------------------

# Iteration cap of _tv_ipm. Fits converge in 5-25 iterations; a column
# that reaches the cap without meeting its gap raises in the public
# solvers unless its support polish passes the KKT check.
_TV_IPM_MAX_ITERS = 100


def _diff(x: np.ndarray, wrap: bool) -> np.ndarray:
    """D x along axis 0: the first differences, plus x[0] - x[-1] as a
    last row when ``wrap``."""
    dx = x[1:] - x[:-1]
    return np.concatenate([dx, x[:1] - x[-1:]]) if wrap else dx


def _diff_t(d: np.ndarray, n: int, wrap: bool) -> np.ndarray:
    """D' d for the operator of :func:`_diff` on length-n signals."""
    out = np.zeros((n,) + d.shape[1:])
    out[:-1] -= d[: n - 1]
    out[1:] += d[: n - 1]
    if wrap:
        out[0] += d[-1]
        out[-1] -= d[-1]
    return out


def _cr_factor(a: np.ndarray, o: np.ndarray):
    """Cyclic-reduction factorization of the symmetric positive definite
    tridiagonal matrices with diagonal ``a`` (n, J) and off-diagonal
    ``o`` (n-1, J), one per column. Each level eliminates the odd rows
    (Gaussian elimination in odd-even order), so a solve is ~log2(n)
    vectorized steps instead of a sweep of n. An even-length level is
    padded with a decoupled unit row, dropped again after the level."""
    levels = []
    while len(a) > 1:
        m = len(a)
        if m % 2 == 0:
            a = np.concatenate([a, np.ones_like(a[:1])])
            o = np.concatenate([o, np.zeros_like(o[:1])])
        ao, oL, oR = a[1::2], o[0::2], o[1::2]
        fL, fR = oL / ao, oR / ao
        a_e = a[0::2].copy()
        a_e[:-1] -= oL * fL
        a_e[1:] -= oR * fR
        # pivot floor: where huge difference weights swamp the data
        # curvature, elimination can cancel a pivot to 0 in rounding
        a_e = np.maximum(a_e, 1e-14 * a[0::2])
        levels.append((m, ao, oL, oR, fL, fR))
        k = (m + 1) // 2
        a, o = a_e[:k], (-oL * fR)[: k - 1]
    return levels, a


def _cr_solve(fac, R: np.ndarray) -> np.ndarray:
    """Solve for the right-hand sides R (n, J, r) with the factors of
    :func:`_cr_factor`."""
    levels, a_last = fac
    odd = []
    for m, _ao, _oL, _oR, fL, fR in levels:
        if m % 2 == 0:
            R = np.concatenate([R, np.zeros_like(R[:1])])
        Ro, R = R[1::2], R[0::2].copy()
        R[:-1] -= fL[:, :, None] * Ro
        R[1:] -= fR[:, :, None] * Ro
        odd.append(Ro)
        R = R[: (m + 1) // 2]
    X = R / a_last[:, :, None]
    for (m, ao, oL, oR, _fL, _fR), Ro in zip(reversed(levels), reversed(odd)):
        if m % 2 == 0:
            X = np.concatenate([X, np.zeros_like(X[:1])])
        out = np.empty((2 * len(X) - 1,) + X.shape[1:])
        out[0::2] = X
        out[1::2] = (Ro - oL[:, :, None] * X[:-1] - oR[:, :, None] * X[1:]) / ao[:, :, None]
        X = out[:m]
    return X


def _tv_ipm(Y0, M, B, Q, w, n, wrap=False, l1_weight=None):
    """The D1/D3 solver: for every column of ``Y0`` (T, J), using only
    the rows where the mask ``M`` (T, J) is true (``Y0`` is 0 elsewhere),

        min  data(y - x[t % n] - B th) + sum_i w_i |(D x)_i| + th' Q th

    over x (n) and the border th (k); the data term is sum (.)^2, or
    ``l1_weight`` * sum |.|. D x is :func:`_diff` and ``w`` (rows of
    D x, J) its positive weights.

    A batched Mehrotra predictor-corrector interior-point method. Each
    l1 term sum c|a| is split as a = p - m (p, m >= 0, dual d), and each
    Newton step eliminates (p, m) and their duals: what is left is
    diag(data curvature) + D' diag D, tridiagonal in x, bordered by th
    and one column for the wrap row — cyclic reduction plus a small
    Schur complement, no dense (n + k)^2 matrix. Each column stops on
    its own duality gap and residuals, scaled by its own data, and is
    frozen when its gap stalls, so it does not depend on its batch-mates.
    Returns (x (n, J), th (k, J), D x, residual y - fit on M, converged).
    """
    T, J = Y0.shape
    k = B.shape[1]
    l1 = l1_weight is not None
    Mf = M.astype(np.float64)
    reps = -(-T // n)
    y_scale = np.maximum(1.0, np.abs(Y0).max(axis=0, initial=0.0))

    def fold(v):  # (T, ...) -> (n, ...): sum over t % n
        pad = np.zeros((reps * n - T,) + v.shape[1:])
        return v if n == T else np.concatenate([v, pad]).reshape(
            (reps, n) + v.shape[1:]).sum(axis=0)

    def unfold(v):  # (n, ...) -> (T, ...)
        return v if n == T else np.concatenate([v] * reps)[:T]

    def resid_of(x, th):
        return Mf * (Y0 - unfold(x) - B @ th)

    nb = k + int(wrap)
    Wx = np.zeros((n, J, nb))
    if wrap:
        Wx[0, :, k], Wx[-1, :, k] = 1.0, -1.0
    Eb = np.zeros((J, nb, nb))

    def factor(h, g):
        """The Newton matrix for data curvature h (T, J) and curvature g
        of the difference rows, as its tridiagonal factor, A^-1 W and
        the Schur complement of the border."""
        a = fold(h).copy()
        a[:-1] += g[: n - 1]
        a[1:] += g[: n - 1]
        cr = _cr_factor(a, -g[: n - 1])
        Wx[:, :, :k] = fold(h[:, :, None] * B[:, None, :])
        Eb[:, :k, :k] = np.einsum("tk,tj,tl->jkl", B, h, B, optimize=True) + 2.0 * Q
        if wrap:  # the wrap row's g (vv') enters as a bordered auxiliary
            Eb[:, k, k] = -1.0 / g[-1]
        AW = _cr_solve(cr, Wx)
        return cr, AW, Eb - np.einsum("njk,njl->jkl", Wx, AW, optimize=True)

    def solve(fac, rx, rth):
        cr, AW, S = fac
        Ar = _cr_solve(cr, rx[:, :, None])[:, :, 0]
        rb = np.pad(rth.T, ((0, 0), (0, nb - k))) - np.einsum("njk,nj->jk", Wx, Ar)
        db = np.linalg.solve(S, rb[:, :, None])[:, :, 0]
        return Ar - np.einsum("njk,jk->nj", AW, db), db[:, :k].T

    def split(a, c, mask):  # the l1 term sum c |a| on mask, as a = p - m
        pad = 0.1 * y_scale
        return {
            "p": np.where(mask, np.maximum(a, 0.0) + pad, 1.0),
            "m": np.where(mask, np.maximum(-a, 0.0) + pad, 1.0),
            "zp": np.where(mask, c, 1.0), "zm": np.where(mask, c, 1.0),
            "d": np.zeros(a.shape), "c": c, "M": mask.astype(np.float64),
        }

    def lin_part(s, tp, tm):  # eliminate (p, m, zp, zm) for targets tp, tm
        ap = s["M"] * (tp - s["p"] * s["zp"] + s["p"] * s["Fp"]) / s["zp"]
        am = s["M"] * (tm - s["m"] * s["zm"] + s["m"] * s["Fm"]) / s["zm"]
        return ap, am, s["r"] - ap + am

    def back(s, ap, am, gt, da):  # recover them from the step da of a
        dd = s["g"] * (da + gt)
        return {"p": ap + s["p"] / s["zp"] * dd, "m": am - s["m"] / s["zm"] * dd,
                "zp": s["M"] * (-s["Fp"] - dd), "zm": s["M"] * (-s["Fm"] + dd),
                "d": dd}

    def step(dirs):
        a = np.full(J, np.inf)
        for s, ds in zip(blocks, dirs):
            for key in ("p", "m", "zp", "zm"):
                with np.errstate(divide="ignore", invalid="ignore"):
                    rr = np.where(ds[key] < 0, -s[key] / ds[key], np.inf)
                a = np.minimum(a, rr.min(axis=0))
        return np.minimum(1.0, 0.99 * a)

    def comp_after(dirs, a):
        return sum((s["M"] * ((s["p"] + a * ds["p"]) * (s["zp"] + a * ds["zp"])
                              + (s["m"] + a * ds["m"]) * (s["zm"] + a * ds["zm"])
                              )).sum(axis=0) for s, ds in zip(blocks, dirs))

    # warm start: the fit with the l1 terms replaced by unit quadratics
    h = Mf if l1 else 2.0 * Mf
    x, th = solve(factor(h, np.ones(w.shape)), fold(h * Y0), B.T @ (h * Y0))
    blocks = [split(_diff(x, wrap), w, np.ones(w.shape, dtype=bool))]
    if l1:
        blocks.append(split(resid_of(x, th), l1_weight, M))
    n_comp = sum(s["M"].sum(axis=0) for s in blocks)

    done = frozen = np.zeros(J, dtype=bool)
    stall, mu_prev = np.zeros(J, dtype=np.int64), np.full(J, np.inf)
    for _ in range(_TV_IPM_MAX_ITERS):
        resid = resid_of(x, th)
        Dx = _diff(x, wrap)
        for s, a in zip(blocks, [Dx, resid]):
            s["r"] = s["M"] * (a - s["p"] + s["m"])
            s["Fp"] = s["M"] * (s["zp"] - s["c"] + s["d"])
            s["Fm"] = s["M"] * (s["zm"] - s["c"] - s["d"])
            with np.errstate(divide="ignore", invalid="ignore", over="ignore"):
                g = 1.0 / (s["p"] / s["zp"] + s["m"] / s["zm"])
            # clamp: converging columns drive the weights to 0 or inf, and
            # one degenerate column would make the batched solve raise
            s["g"] = s["M"] * np.clip(np.where(np.isfinite(g), g, 1e14), 1e-14, 1e14)
        gfit = -blocks[1]["M"] * blocks[1]["d"] if l1 else -2.0 * resid
        r_x = fold(gfit) + _diff_t(blocks[0]["d"], n, wrap)
        r_th = B.T @ gfit + 2.0 * Q @ th
        comp = sum((s["M"] * (s["p"] * s["zp"] + s["m"] * s["zm"])).sum(axis=0)
                   for s in blocks)
        prim = np.max([np.abs(s["r"]).max(axis=0) for s in blocks], axis=0)
        dual = np.max([np.abs(r_x).max(axis=0), np.abs(r_th).max(axis=0)]
                      + [np.abs(s[f]).max(axis=0) for s in blocks for f in ("Fp", "Fm")],
                      axis=0)
        pobj = ((l1_weight * np.abs(resid) if l1 else resid ** 2).sum(axis=0)
                + (w * np.abs(Dx)).sum(axis=0) + np.einsum("kj,kl,lj->j", th, Q, th))
        mu = comp / n_comp
        done = ((comp <= 1e-9 * (1.0 + np.abs(pobj)))
                & (prim <= 1e-9 * y_scale) & (dual <= 1e-9 * y_scale))
        stall = np.where(~done & (mu > 0.9 * mu_prev), stall + 1, 0)
        frozen = frozen | (stall >= 5)
        mu_prev = mu
        if np.all(done | frozen):
            break

        h = blocks[1]["g"] if l1 else 2.0 * Mf
        fac = factor(h, blocks[0]["g"])

        def direction(targets):
            parts = [lin_part(s, *t) for s, t in zip(blocks, targets)]
            rx = -r_x - _diff_t(blocks[0]["g"] * parts[0][2], n, wrap)
            rth = -r_th
            if l1:
                hg = h * parts[1][2]
                rx, rth = rx + fold(hg), rth + B.T @ hg
            dx, dth = solve(fac, rx, rth)
            das = [_diff(dx, wrap), -Mf * (unfold(dx) + B @ dth)]
            return dx, dth, [back(s, *pt, da) for s, pt, da in zip(blocks, parts, das)]

        _dx, _dth, aff = direction([(0.0, 0.0)] * len(blocks))
        with np.errstate(divide="ignore", invalid="ignore"):
            sigma = np.clip((comp_after(aff, step(aff)) / comp) ** 3, 0.0, 1.0)
        tgt = np.where(np.isfinite(sigma), sigma, 0.0) * mu
        dx, dth, cor = direction([
            (s["M"] * (tgt - a["p"] * a["zp"]), s["M"] * (tgt - a["m"] * a["zm"]))
            for s, a in zip(blocks, aff)])
        alpha = np.where(done | frozen, 0.0, step(cor))
        x, th = x + alpha * dx, th + alpha * dth
        for s, ds in zip(blocks, cor):
            for key in ("p", "m", "zp", "zm", "d"):
                s[key] = s[key] + alpha * ds[key]
    return x, th, _diff(x, wrap), resid_of(x, th), done


def _plateaus(active: np.ndarray, cnt: np.ndarray, wrap: bool):
    """Plateaus of a level x (n) whose nonzero differences (rows of
    :func:`_diff`) are ``active``: (seg, Q), seg[i] the plateau of x[i]
    and Q (plateaus, K) each plateau's level in terms of the K holding
    data (``cnt`` > 0) — its own, or for a plateau without data the
    linear interpolation between its data neighbours (the monotone ramp
    an interior-point method converges to across a gap), constant at
    either end. None when no plateau holds data."""
    n = len(cnt)
    seg = np.concatenate([[0], np.cumsum(active[: n - 1])])
    if wrap and not active[-1]:
        seg[seg == seg[-1]] = 0
    nseg = int(seg.max()) + 1
    obs = np.flatnonzero(np.bincount(seg, weights=cnt, minlength=nseg) > 0)
    if len(obs) == 0:
        return None
    Q = np.stack([np.interp(np.arange(nseg), obs, e)
                  for e in np.eye(len(obs))], axis=1)
    return seg, Q


# ---------------------------------------------------------------------------
# D1: l2_l1d1_l2d2p365
# ---------------------------------------------------------------------------

def solve_l2_l1d1_l2d2p365(
    y: np.ndarray,
    w1: float = 50.0,
    w2: float = 1e-3,
    use_ixs: np.ndarray | None = None,
    yearly_periodic: bool = False,
    num_harmonics: int = 3,
    period: float = PERIOD_DAYS,
    transition_locs: np.ndarray | None = None,
):
    """Minimize  sum_use (y - B th - x)^2 + w1 ||D1 x||_1 + th' Q th
    s.t. mean(B th) = 0 over the full index, optionally x 365-periodic.

    The J=1 call of :func:`solve_l2_l1d1_l2d2p365_batch`.

    With ``transition_locs`` the l1 term is replaced by a segment-basis
    constraint (x piecewise constant with breakpoints AT the given
    indices, reference _osd_signal_decompositions.py:106-118) and the
    problem reduces to one equality-constrained least squares.

    Returns (s_hat, s_seas, obj).
    """
    if transition_locs is None:
        S_hat, S_seas, obj = solve_l2_l1d1_l2d2p365_batch(
            y, [w1], w2=w2, use_ixs=use_ixs, yearly_periodic=yearly_periodic,
            num_harmonics=num_harmonics, period=period,
        )
        return S_hat[:, 0], S_seas[:, 0], float(obj[0])
    y, use, yc, B, q, N = _d1_setup(y, use_ixs, w2, num_harmonics, period)
    T = len(y)
    locs = np.asarray(transition_locs, dtype=np.int64)
    active = np.zeros(T - 1, dtype=bool)
    active[locs[(locs > 0) & (locs < T)] - 1] = True
    s_hat, phi = _plateau_lsq(yc, use, B @ N, (N.T * q) @ N, np.zeros(T),
                              active, T, False)
    th = N @ phi
    s_seas = B @ th
    e = (y - s_seas - s_hat)[use]
    return s_hat, s_seas, float(np.sum(e**2) + th @ (q * th))


def _d1_setup(y, use_ixs, w2, num_harmonics, period):
    """D1's data, mask, basis, penalty, and an orthonormal basis N of
    the null space of the mean-zero constraint c' th = 0 (c = B.sum(0)):
    th = N phi fits the seasonal with that constraint built in."""
    y = np.asarray(y, dtype=np.float64)
    use = np.isfinite(y)
    if use_ixs is not None:
        use &= np.asarray(use_ixs, dtype=bool)
    B = trig_basis(len(y), num_harmonics, period)
    q = harmonic_penalty(num_harmonics, w2, period) + 1e-12
    N = np.linalg.qr(B.sum(axis=0)[:, None], mode="complete")[0][:, 1:]
    return y, use, np.where(use, y, 0.0), B, q, N


def solve_l2_l1d1_l2d2p365_batch(
    y: np.ndarray,
    w1,
    w2: float = 1e-3,
    use_ixs: np.ndarray | None = None,
    yearly_periodic: bool = False,
    num_harmonics: int = 3,
    period: float = PERIOD_DAYS,
):
    """D1 for one series ``y`` (T,) at every weight in ``w1`` (J,) at
    once (the time-shift w1 grid). Returns (S_hat, S_seas (T, J), obj).

    :func:`_tv_ipm` fits every column (x per day, or per day of year when
    ``yearly_periodic``); :func:`_polish_l1d1` re-solves each on its
    detected support, so the piecewise-constant part is exactly constant
    between jumps. A column that reaches the iteration cap without
    meeting its gap raises ``RuntimeError`` unless its polish passes the
    KKT check; a capturing ``parallel.grouped_apply`` stage turns that
    into the site's error row.
    """
    y, use, yc, B, q, N = _d1_setup(y, use_ixs, w2, num_harmonics, period)
    w1 = np.atleast_1d(np.asarray(w1, dtype=np.float64))
    T, J = len(y), len(w1)
    BN, QN = B @ N, (N.T * q) @ N
    n = 365 if yearly_periodic and T > 365 else T
    wrap = n < T
    # an x difference weighs w1 times the number of day differences it is
    mult = np.bincount(np.arange(T - 1) % n, minlength=n).astype(np.float64)
    W = (mult if wrap else mult[: n - 1])[:, None] * w1[None, :]
    X, PHI, DX, _resid, conv = _tv_ipm(
        np.repeat(yc[:, None], J, axis=1), np.repeat(use[:, None], J, axis=1),
        BN, QN, W, n, wrap=wrap,
    )
    t_ix = np.arange(T) % n
    S_hat = np.empty((T, J))
    S_seas = np.empty((T, J))
    obj = np.empty(J)
    for j in range(J):
        x, phi, ok = _polish_l1d1(yc, use, BN, QN, W[:, j], DX[:, j], n, wrap)
        if not ok:
            if not conv[j]:
                raise RuntimeError(
                    f"l2_l1d1_l2d2p365: interior-point solve (w1={w1[j]:g}) "
                    f"did not converge in {_TV_IPM_MAX_ITERS} iterations")
            x, phi = X[:, j], PHI[:, j]
        th = N @ phi
        S_hat[:, j] = x[t_ix]
        S_seas[:, j] = B @ th
        e = (y - S_seas[:, j] - S_hat[:, j])[use]
        obj[j] = (np.sum(e ** 2) + w1[j] * np.sum(np.abs(np.diff(S_hat[:, j])))
                  + th @ (q * th))
    return S_hat, S_seas, obj


def _plateau_lsq(yc, use, B, Q, lin, active, n, wrap):
    """min sum_use (y - x[t % n] - B th)^2 + th' Q th + lin' x over x
    with one level per plateau of ``active`` (:func:`_plateaus`) and th.
    Returns (x, th), or None when the system is singular."""
    T, k = B.shape
    t_ix = np.arange(T) % n
    pl = _plateaus(active, np.bincount(t_ix, weights=use, minlength=n), wrap)
    if pl is None:
        return None
    seg, P = pl
    K = P.shape[1]
    # on days with data the plateau map is one-hot: its data plateau
    col = np.argmax(P[seg[t_ix[use]]], axis=1)
    Bu, yu = B[use], yc[use]
    LB = np.stack([np.bincount(col, weights=Bu[:, i], minlength=K)
                   for i in range(k)], axis=1)
    H = np.block([[np.diag(np.bincount(col, minlength=K).astype(float)), LB],
                  [LB.T, Bu.T @ Bu + Q]])
    rhs = np.concatenate([
        np.bincount(col, weights=yu, minlength=K)
        - 0.5 * P.T @ np.bincount(seg, weights=lin, minlength=len(P)),
        Bu.T @ yu])
    try:
        sol = np.linalg.solve(H, rhs)
    except np.linalg.LinAlgError:
        return None
    return ((P @ sol[:K])[seg], sol[K:]) if np.all(np.isfinite(sol)) else None


def _polish_l1d1(yc, use, B, Q, w, Dx, n, wrap):
    """Support polish for D1: fix the zero pattern of the interior-point
    D x, re-solve with the active signs' linear term exactly
    (:func:`_plateau_lsq`) and check the KKT conditions of the full
    problem. A weakly active difference (dual at its bound, value -> 0)
    can flip sign in the re-solve: flipped ones leave the support,
    inactive ones whose dual exceeds the weight join it, and the solve
    repeats. Returns (x, th, ok)."""
    T = B.shape[0]
    tol = 1e-6 * max(1.0, float(np.abs(Dx).max(initial=0.0)))
    sgn = np.sign(Dx) * (np.abs(Dx) > tol)
    t_ix = np.arange(T) % n
    x = th = None
    for _ in range(4):
        active = sgn != 0
        fit = _plateau_lsq(yc, use, B, Q, _diff_t(w * sgn, n, wrap), active, n, wrap)
        if fit is None:
            break
        x, th = fit
        # the difference duals d from x-stationarity (grad_x f + D' d = 0)
        g = np.bincount(t_ix, weights=2.0 * use * (x[t_ix] + B @ th - yc),
                        minlength=n)
        d = np.cumsum(g)[:-1]
        if wrap:  # d on the cycle is fixed up to the wrap row's own dual
            ac = active[:-1]
            if active[-1]:
                dw = w[-1] * sgn[-1]
            elif ac.any():
                dw = float(np.median((w[:-1] * sgn[:-1] - d)[ac]))
            else:
                dw = 0.5 * (max(-w[-1], np.max(-w[:-1] - d))
                            + min(w[-1], np.min(w[:-1] - d)))
            d = np.append(d + dw, dw)
        over = ~active & (np.abs(d) > w * (1.0 + 1e-4) + 1e-9 * (1.0 + np.abs(g).sum()))
        flipped = active & (_diff(x, wrap) * sgn < -1e-9 * (1.0 + tol))
        if not (over.any() or flipped.any()):
            return x, th, True
        sgn = np.where(flipped, 0.0, np.where(over, np.sign(d), sgn))
    return x, th, False


# ---------------------------------------------------------------------------
# D2: tl1_l2d2p365
# ---------------------------------------------------------------------------

def solve_tl1_l2d2p365(
    y: np.ndarray,
    tau: float = 0.75,
    w0: float = 1.0,
    w2: float = 1e-3,
    use_ixs: np.ndarray | None = None,
    num_harmonics: int = 3,
    period: float = PERIOD_DAYS,
):
    """Minimize  w0 * sum_use pinball_tau(y - B th) + th' Q th.

    Returns (s_seas, obj).

    The J=1 call of :func:`solve_tl1_l2d2p365_batch` (fixture-validated).
    A fit that is not finite raises ``FloatingPointError``; inside a
    fleet stage ``parallel.grouped_apply(..., capture_errors=True)``
    turns it into that site's error row.
    """
    y = np.asarray(y, dtype=np.float64)
    use1 = None if use_ixs is None else np.asarray(use_ixs, dtype=bool)[:, None]
    S1, O1 = solve_tl1_l2d2p365_batch(
        y[:, None],
        tau,
        w0=w0,
        w2=w2,
        use_ixs=use1,
        num_harmonics=num_harmonics,
        period=period,
    )
    if not (np.all(np.isfinite(S1)) and np.isfinite(O1[0])):
        raise FloatingPointError("tl1_l2d2p365: interior-point fit is not finite")
    return S1[:, 0], float(O1[0])


def solve_tl1_l2d2p365_batch(
    Y: np.ndarray,
    tau,
    w0: float = 1.0,
    w2: float = 1e-3,
    use_ixs: np.ndarray | None = None,
    num_harmonics: int = 3,
    period: float = PERIOD_DAYS,
):
    """Batched D2: solve ``tl1_l2d2p365`` for J series at once.

    ``Y`` is (T, J) — one column per independent series on a shared time
    axis; ``tau`` is a scalar or a length-J vector; ``use_ixs`` an
    optional (T, J) boolean mask (AND-ed with finiteness). Returns
    (S_seas (T, J), obj (J,)).

    The trig basis is whitened once for the whole batch and every column
    is fitted by :func:`_pinball_ipm`, the package's one pinball solver.

    A column whose series starts at global offset d relative to the
    shared axis yields the same fitted values as a per-series fit with a
    local t=0 axis: a phase shift rotates each (sin, cos) harmonic pair
    within its own 2-D span, and the harmonic penalty is isotropic per
    pair, so both the feasible set and the objective are invariant.
    Callers may therefore stack sites with different start dates onto one
    global axis and mask the rows outside each site's range.

    The columns share one stopping scale (the batch's largest |y|) and
    one stall rule, so a column's fit equals its single-series fit to the
    stopping tolerance (objectives to ~1e-10 relative), not bit for bit.
    """
    Y = np.asarray(Y, dtype=np.float64)
    T, J = Y.shape
    tau_v = np.broadcast_to(np.asarray(tau, dtype=np.float64), (J,)).astype(
        np.float64
    )
    M = np.isfinite(Y)
    if use_ixs is not None:
        M = M & np.asarray(use_ixs, dtype=bool)
    Y0 = np.where(M, Y, 0.0)

    B = trig_basis(T, num_harmonics, period)
    q = harmonic_penalty(num_harmonics, w2, period) + 1e-12

    # Whitened coordinates, shared across the batch: B = U0 S0 V0', keep
    # directions with non-negligible singular values, fit c with
    # B th = U0 c and penalty Qw = W' diag(q) W (W = V0 / s0). Short
    # series against the yearly basis make cond(B'B) ~ 1e14 — the raw-
    # coordinate Newton systems stall; in whitened coordinates the masked
    # Gram is a row-subset of an orthonormal matrix. Dropped directions
    # carry O(sv_threshold) fitted-value mass at bounded coefficients, so
    # truncation is far below the reference solver tolerances.
    U0, s0, V0t = np.linalg.svd(B, full_matrices=False)
    keep = s0 > 1e-7 * (s0[0] if len(s0) else 1.0)
    U0, s0, V0t = U0[:, keep], s0[keep], V0t[keep]
    Wmap = V0t.T / s0
    Qw = (Wmap.T * q) @ Wmap

    C = _pinball_ipm(U0, Qw, Y0, M, tau_v, w0)
    TH = Wmap @ C
    S_seas = U0 @ C
    Rfin = M * (Y0 - S_seas)
    pin = np.where(Rfin >= 0, tau_v[None, :] * Rfin, (tau_v - 1.0)[None, :] * Rfin)
    obj = w0 * pin.sum(axis=0) + np.einsum("pj,p,pj->j", TH, q, TH)
    return S_seas, obj


def pinball_regression(
    X: np.ndarray,
    y: np.ndarray,
    tau: float = 0.9,
    pen_diag: np.ndarray | None = None,
):
    """Penalized quantile regression on an ARBITRARY design matrix:

        min  sum_i pinball_tau(y_i - X_i beta) + beta' diag(pen) beta

    by :func:`_pinball_ipm` on the design whitened through its own SVD,
    so near-collinear designs (short series, one-hot regime blocks) stay
    solvable. NaNs in ``y`` are excluded. Returns beta.

    This is the envelope-fitting core of the loss-factor model
    (solvers/soiling.py): at a high tau the fit rides the upper envelope
    of log energy, which nonpositive components (soiling) cannot pull
    down — the identification mechanism of the reference's SumQuantile
    loss (loss_factor_analysis.py:491) — and the per-level fit of the D7
    quantile surface (solvers/quantile_surface.py).
    """
    X = np.asarray(X, dtype=np.float64)
    y = np.asarray(y, dtype=np.float64)
    use = np.isfinite(y)
    Xu = X[use]
    yu = y[use]
    p = X.shape[1]
    if pen_diag is None:
        pen_diag = np.zeros(p)
    pen_diag = np.asarray(pen_diag, dtype=np.float64) + 1e-12

    U0, s0, V0t = np.linalg.svd(Xu, full_matrices=False)
    keep = s0 > 1e-10 * (s0[0] if len(s0) else 1.0)
    U0, s0, V0t = U0[:, keep], s0[keep], V0t[keep]
    Wmap = V0t.T / s0
    Qw = (Wmap.T * pen_diag) @ Wmap

    C = _pinball_ipm(
        U0, Qw, yu[:, None], np.ones((len(yu), 1), dtype=bool), np.full(1, tau)
    )
    return Wmap @ C[:, 0]


def _pinball_ipm(U0, Qw, Y0, M, tau_v, w0=1.0):
    """The pinball solver: fit every column of ``Y0`` (T, J) on the
    orthonormal design ``U0`` (T, r) with the whitened quadratic penalty
    ``Qw`` (r, r), using only the rows where the (T, J) mask ``M`` is
    true (``Y0`` must be 0 elsewhere). ``tau_v`` holds one level per
    column. Returns the whitened coefficients C (r, J).

    A batched Mehrotra predictor-corrector interior-point method. With
    the residual split r = u - v (u, v >= 0) each column solves

        min  w0 (tau 1'u + (1-tau) 1'v) + c' Qw c
        s.t. U0 c + u - v = y   on its mask,

    and each Newton step reduces — after eliminating (u, v, z_u, z_v) —
    to one r x r normal-equation solve per column with a diagonal
    weight, formed for all columns at once with a single einsum. A fit
    converges in ~20-40 iterations; the loop is capped at 200. Each
    column stops on its own scale (its largest |y|) and is frozen by its
    own stall rule, so its fit does not depend on its batch-mates.
    """
    T, J = Y0.shape
    Mf = M.astype(np.float64)
    nm = np.maximum(Mf.sum(axis=0), 1.0)  # valid rows per column
    r = U0.shape[1]
    Qw2 = 2.0 * Qw

    y_scale = np.maximum(1.0, np.abs(Y0).max(axis=0, initial=0.0))
    cu = (w0 * tau_v)[None, :]  # dual box: -cv <= d <= cu
    cv = (w0 * (1.0 - tau_v))[None, :]

    # warm start: ridge LS fit per column for c; residual split for u, v
    G0 = np.einsum("tp,tj,tq->jpq", U0, Mf, U0, optimize=True)
    H0 = G0 + Qw2[None, :, :]
    H0[:, np.arange(r), np.arange(r)] += 1e-9
    C = np.linalg.solve(H0, (U0.T @ Y0).T[:, :, None])[:, :, 0].T  # (r, J)
    R0 = Mf * (Y0 - U0 @ C)
    pad = 0.1 * y_scale
    u = np.where(M, np.maximum(R0, 0.0) + pad, 1.0)
    v = np.where(M, np.maximum(-R0, 0.0) + pad, 1.0)
    d = np.zeros((T, J))
    zu = np.where(M, np.broadcast_to(cu, (T, J)), 1.0).copy()
    zv = np.where(M, np.broadcast_to(cv, (T, J)), 1.0).copy()

    eye_r = np.arange(r)
    done = np.zeros(J, dtype=bool)
    frozen = np.zeros(J, dtype=bool)
    mu = np.full(J, np.inf)
    stall = np.zeros(J, dtype=np.int64)
    for _ in range(200):
        r_p = Mf * (U0 @ C + u - v - Y0)
        r_dc = Qw2 @ C - U0.T @ (Mf * d)
        Fu = Mf * (zu - cu + d)
        Fv = Mf * (zv - cv - d)
        mu_prev = mu
        mu = (Mf * (u * zu + v * zv)).sum(axis=0) / (2.0 * nm)
        prim = np.max(np.abs(r_p), axis=0, initial=0.0)
        dual = np.max(np.abs(r_dc), axis=0, initial=0.0)
        box = np.maximum(
            np.max(np.abs(Fu), axis=0, initial=0.0),
            np.max(np.abs(Fv), axis=0, initial=0.0),
        )
        done = (
            (mu < 1e-10 * y_scale)
            & (prim < 1e-9 * y_scale)
            & (dual < 1e-8 * y_scale)
            & (box < 1e-8)
        )
        # stall freeze: a column whose complementarity stops shrinking is
        # as converged as FP arithmetic allows (well below fixture
        # tolerances); do not burn the remaining iteration budget on it
        stall = np.where(~done & (mu > 0.9 * mu_prev), stall + 1, 0)
        frozen |= stall >= 5
        if np.all(done | frozen):
            break

        with np.errstate(divide="ignore", invalid="ignore", over="ignore"):
            Wd = u / zu + v / zv
        # clamp the complementarity weights: near-converged columns drive
        # u/zu or v/zv to 0 or inf, and ONE degenerate column would make
        # the whole batched np.linalg.solve raise
        Wd = np.where(np.isfinite(Wd), Wd, 1e14)
        np.clip(Wd, 1e-12, 1e14, out=Wd)
        Dinv = Mf / Wd
        Hj = np.einsum("tp,tj,tq->jpq", U0, Dinv, U0, optimize=True)
        Hj += Qw2[None, :, :]
        Hj[:, eye_r, eye_r] += 1e-12 * (
            1.0 + Hj[:, eye_r, eye_r].max(axis=1)[:, None]
        )

        def newton(tu, tv):
            g = Mf * (
                -r_p
                - (tu - u * zu + u * Fu) / zu
                + (tv - v * zv + v * Fv) / zv
            )
            rhs = -r_dc + U0.T @ (Dinv * g)
            try:
                dc = np.linalg.solve(Hj, rhs.T[:, :, None])[:, :, 0].T
            except np.linalg.LinAlgError:
                # last-ditch: heavy shared ridge (answers for healthy
                # columns move O(ridge); degenerate ones get a usable
                # direction instead of killing the whole batch)
                Hj2 = Hj.copy()
                Hj2[:, eye_r, eye_r] += 1e-6 * (
                    1.0 + Hj2[:, eye_r, eye_r].max(axis=1)[:, None]
                )
                dc = np.linalg.solve(Hj2, rhs.T[:, :, None])[:, :, 0].T
            dd = Dinv * (g - U0 @ dc)
            dzu = Mf * (-Fu - dd)
            dzv = Mf * (-Fv + dd)
            du = Mf * (tu - u * zu - u * dzu) / zu
            dv = Mf * (tv - v * zv - v * dzv) / zv
            return dc, dd, du, dv, dzu, dzv

        def steplen(x, dx):
            with np.errstate(divide="ignore", invalid="ignore"):
                rr = np.where(M & (dx < 0), -x / dx, np.inf)
            return np.minimum(1.0, 0.99 * rr.min(axis=0, initial=np.inf))

        # predictor
        zero = np.zeros((T, J))
        dc_a, dd_a, du_a, dv_a, dzu_a, dzv_a = newton(zero, zero)
        ap = np.minimum(steplen(u, du_a), steplen(v, dv_a))
        ad = np.minimum(steplen(zu, dzu_a), steplen(zv, dzv_a))
        mu_aff = (
            Mf
            * ((u + ap * du_a) * (zu + ad * dzu_a)
               + (v + ap * dv_a) * (zv + ad * dzv_a))
        ).sum(axis=0) / (2.0 * nm)
        with np.errstate(divide="ignore", invalid="ignore"):
            sigma = np.where(mu > 0, (mu_aff / np.maximum(mu, 1e-300)) ** 3, 0.0)
        sigma = np.clip(sigma, 0.0, 1.0)
        # corrector
        tgt = (sigma * mu)[None, :]
        tu = Mf * (tgt - du_a * dzu_a)
        tv = Mf * (tgt - dv_a * dzv_a)
        dc, dd, du, dv, dzu, dzv = newton(tu, tv)
        ap = np.minimum(steplen(u, du), steplen(v, dv))
        ad = np.minimum(steplen(zu, dzu), steplen(zv, dzv))
        # freeze converged columns
        ap = np.where(done | frozen, 0.0, ap)[None, :]
        ad = np.where(done | frozen, 0.0, ad)[None, :]
        C = C + ap * dc
        u = u + ap * du
        v = v + ap * dv
        d = d + ad * dd
        zu = zu + ad * dzu
        zv = zv + ad * dzv
    return C


# ---------------------------------------------------------------------------
# D3: l1_pwc_smoothper_trend
# ---------------------------------------------------------------------------

def solve_l1_pwc_smoothper_trend(
    y: np.ndarray,
    use_ixs: np.ndarray | None = None,
    w2: float = 2e1,
    w3: float = 1.0,
    w4: float = 1e1,
    num_harmonics: int = 6,
    period: float = PERIOD_DAYS,
    n_reweight: int = 1,
    reweight_eps: float = 0.1,
):
    """Reference capacity-change model (_cvx_signal_decompositions.py:193-289):

    min (1/T)||e||_1 + (w2/(T-1)) sum tvw_i |(D1 x2)_i| + z3' Q3 z3
        + w4 * T * beta^2
    s.t. e = y - x2 - B z3 - beta*t on the use set,
         beta*365 in [-0.2, 0.05],
    followed by ``n_reweight`` passes of tvw = 1/(eps + |D1 x2|).

    Each pass is one :func:`_tv_ipm` solve (l1 data term, border [B, t])
    finished by :func:`_polish_pwc`, solved again with beta pinned if it
    leaves its box (the optimum then lies on the crossed bound). The
    interior-point path heads for the analytic center of the degenerate
    optimal face, as the reference's conic solver does. A solve that
    reaches the iteration cap without meeting its gap raises
    ``RuntimeError`` unless its polish passes the KKT check.

    Returns (s_hat, s_seas, s_lin, obj).
    """
    y = np.asarray(y, dtype=np.float64)
    T = len(y)
    use = np.isfinite(y)
    if use_ixs is not None:
        use &= np.asarray(use_ixs, dtype=bool)
    yc = np.where(use, y, 0.0)
    t_full = np.arange(T, dtype=np.float64)

    B = trig_basis(T, num_harmonics, period, include_const=False)
    q3 = harmonic_penalty(num_harmonics, w3, period, include_const=False,
                          normalized_basis=False)
    lo, hi = -0.2 / 365.0, 0.05 / 365.0

    tvw = np.ones(T - 1)
    for _pass in range(n_reweight + 1):
        kt = w2 * tvw / (T - 1)
        x2, zt = _pwc_pass(yc, use, np.column_stack([B, t_full]),
                           np.append(q3, w4 * T), kt)
        z3, beta = zt[:-1], zt[-1]
        if not lo <= beta <= hi:
            beta = min(max(beta, lo), hi)
            x2, z3 = _pwc_pass(yc - beta * t_full, use, B, q3, kt)
        if _pass < n_reweight:
            tvw = 1.0 / (reweight_eps + np.abs(np.diff(x2)))

    s_seas = B @ z3
    s_lin = beta * t_full
    e = y[use] - (x2 + s_seas + s_lin)[use]
    obj = float(np.sum(np.abs(e)) / T
                + w2 * np.sum(tvw * np.abs(np.diff(x2))) / (T - 1)
                + z3 @ (q3 * z3) + w4 * T * beta ** 2)
    return x2, s_seas, s_lin, obj


def _pwc_pass(yc, use, B, q, kt):
    """One D3 solve without the beta box, polished: (x2, border)."""
    X, TH, DX, R, conv = _tv_ipm(yc[:, None], use[:, None], B, np.diag(q),
                                 kt[:, None], len(yc), l1_weight=1.0 / len(yc))
    pol = _polish_pwc(yc, use, B, q, kt, R[:, 0], DX[:, 0], X[:, 0], TH[:, 0])
    if not conv[0] and (pol is None or not pol[2]):
        raise RuntimeError(
            "l1_pwc_smoothper_trend: interior-point solve did not converge "
            f"in {_TV_IPM_MAX_ITERS} iterations")
    return (X[:, 0], TH[:, 0]) if pol is None else pol[:2]


def _polish_pwc(yc, use, B, q, kt, r, Dx, x0, th0):
    """Support polish for D3: zero residuals and zero differences of the
    interior-point iterate become equality constraints (x one level per
    plateau, :func:`_plateaus`), nonzero ones add their fixed-sign l1
    terms; several support thresholds are tried. KKT-passing candidates
    (optimal) win, then the lowest true objective; one that fails the
    check must lower the iterate's true objective. Returns (x, th,
    kkt_ok) or None."""
    T, kb = B.shape
    ke = 1.0 / T

    def true_obj(x, th):
        return (ke * np.sum(np.abs((yc - x - B @ th)[use]))
                + np.sum(kt * np.abs(np.diff(x))) + th @ (q * th))

    obj0 = true_obj(x0, th0)
    se = max(1.0, float(np.abs(r).max(initial=0.0)))
    st = max(1.0, float(np.abs(Dx).max(initial=0.0)))
    best, best_key = None, None
    for rel in (1e-3, 1e-4, 1e-5):
        zero_e = use & (np.abs(r) <= rel * se)
        act_e = use & ~zero_e
        act_t = np.abs(Dx) > rel * st
        sgn_e = np.sign(r) * act_e
        sgn_t = np.sign(Dx) * act_t
        pl = _plateaus(act_t, use.astype(np.float64), False)
        if pl is None:
            continue
        seg, P = pl
        K = P.shape[1]
        Xz = np.hstack([P[seg], B])  # fit = Xz [levels; th]
        lin = -ke * (Xz.T @ sgn_e)
        lin[:K] += P.T @ np.bincount(seg, weights=_diff_t(kt * sgn_t, T, False),
                                     minlength=len(P))
        E = Xz[zero_e]
        nv, neq = K + kb, E.shape[0]
        # levels carry a tiny ridge (the KKT singularity guard)
        H = np.diag(np.concatenate([1e-9 * (Xz[:, :K] ** 2).sum(axis=0), 2.0 * q]))
        KKT = np.block([[H, E.T], [E, np.zeros((neq, neq))]])
        try:
            sol = np.linalg.solve(KKT, np.concatenate([-lin, yc[zero_e]]))
        except np.linalg.LinAlgError:
            continue
        if not np.all(np.isfinite(sol)):
            continue
        x, th, nu = Xz[:, :K] @ sol[:K], sol[K:nv], sol[nv:]
        # KKT of the full problem: the multipliers of the zero residuals
        # act as their subgradients; difference duals by cumulative sum
        g = -ke * sgn_e
        g[zero_e] += nu
        dual_t = np.cumsum(g)[:-1]
        atol = 1e-9 * (1.0 + ke * T)
        kkt = bool(
            np.all(np.abs(nu) <= ke * (1.0 + 1e-4) + atol)
            and np.all(np.abs(dual_t[~act_t]) <= kt[~act_t] * (1.0 + 1e-4) + atol)
            and np.all((yc - x - B @ th)[act_e] * sgn_e[act_e] >= -1e-9)
            and np.all(np.diff(x)[act_t] * sgn_t[act_t] >= -1e-9)
        )
        o = true_obj(x, th)
        if not kkt and not o < obj0 - 1e-15:
            continue
        if best_key is None or (kkt, -o) > best_key:
            best, best_key = (x, th, kkt), (kkt, -o)
    return best


# ---------------------------------------------------------------------------
# D4: l2_l1d2_constrained
# ---------------------------------------------------------------------------

def cdf_grid_points(n_finite: int, cap: int = 5000) -> int:
    """Resampled-CDF grid size for the D4 clipping fit: ~8 points per
    observation, clamped to [101, cap], then rounded up so 2*(gp-1) —
    the FFT length of the DST-based solver in
    :func:`solve_l2_l1d2_constrained` — has only {2, 3, 5} factors.
    (The reference uses a fixed 5000-point grid, clipping.py:368; the
    8x-adaptive size is this repo's refinement and the smooth rounding
    costs at most a few extra grid points.)"""
    gp = int(min(cap, max(101, 8 * n_finite)))
    target = gp - 1
    while True:
        x = target
        for f in (2, 3, 5):
            while x % f == 0:
                x //= f
        if x == 1:
            return target + 1
        target += 1


def _apply_d2(x: np.ndarray) -> np.ndarray:
    """D2 @ x as an O(n) stencil (x full length)."""
    return x[2:] - 2.0 * x[1:-1] + x[:-2]


def _apply_d2t(v: np.ndarray, n: int) -> np.ndarray:
    """D2.T @ v as an O(n) stencil (v length n-2)."""
    out = np.zeros(n)
    out[: n - 2] += v
    out[1 : n - 1] -= 2.0 * v
    out[2:] += v
    return out


def solve_l2_l1d2_constrained(
    y: np.ndarray,
    w0: float = 1.0,
    w1: float = 5.0,
    admm_iters: int = 3000,
    rho: float = 100.0,
):
    """Minimize  w0 ||y - x||^2 + w1 ||D2 x||_1  s.t. x[0]=0, x[-1]=1.

    Over-relaxed ADMM finds the kink support; an exact breakpoint polish
    (the optimum is piecewise-linear with kinks only where D2 x != 0, so
    the restricted problem is a tiny least-squares in the kink values)
    recovers the interior-point optimum. Per-iteration cost is one dense
    (T-2)^2 matvec + O(T) stencils; the polish is O(T K^2) for K kinks.

    Returns (s_hat, obj).
    """
    y = np.asarray(y, dtype=np.float64)
    T = len(y)
    m = T - 2
    fix = np.zeros(T)
    fix[-1] = 1.0
    # x-update system: (2 w0 I + rho * Ai) xf = rhs, where Ai is the
    # interior block of D2'D2. Ai == S^2 exactly, with S the Dirichlet
    # tridiagonal second-difference matrix of size m, so the system is
    # diagonalized by the orthogonal DST-I: eigenvalues of S are
    # -4 sin^2(k pi / (2(m+1))). Each solve is two length-2(m+1) real
    # FFTs — O(m log m) versus the dense O(m^2) matvec (and O(m^3)
    # inverse) this replaces, which dominated fleet scoring on the
    # reference's 5000-point CDF grid. Iterates match the dense path to
    # machine precision. Callers should prefer grid sizes with smooth
    # 2(gp-1) factorizations (see cdf_grid_points) so the FFT stays fast.
    kk = np.arange(1, m + 1)
    lam = -4.0 * np.sin(kk * np.pi / (2.0 * (m + 1))) ** 2
    den = 2.0 * w0 + rho * lam**2
    next_ = 2 * (m + 1)
    ext = np.zeros(next_)

    def _dst_solve(b):
        ext[1 : m + 1] = b
        ext[m + 2 :] = -b[::-1]
        t1 = np.fft.rfft(ext).imag[1 : m + 1]
        t1 /= den
        ext[1 : m + 1] = t1
        ext[m + 2 :] = -t1[::-1]
        return np.fft.rfft(ext).imag[1 : m + 1] / (2.0 * (m + 1))

    base = 2.0 * w0 * (y - fix)[1:-1]
    z = np.zeros(m)
    s = np.zeros(m)
    alpha = 1.8
    x = fix.copy()
    obj_prev = np.inf
    obj_stable = 0
    for it in range(admm_iters):
        rhs_full = _apply_d2t(z - s - _apply_d2(fix), T)
        xf = _dst_solve(base + rho * rhs_full[1:-1])
        x = fix.copy()
        x[1:-1] = xf
        Dx = _apply_d2(x)
        Dh = alpha * Dx + (1.0 - alpha) * z
        z_prev = z
        z = _soft(Dh + s, w1 / rho)
        s += Dh - z
        if it % 25 == 24:
            if _admm_converged(Dx - z, z - z_prev, rho):
                break
            # objective-plateau stop: the breakpoint polish below recovers
            # the exact optimum once the iterate is near-optimal, so
            # iterate only until the true objective stops moving.
            obj_cur = w0 * float(np.sum((y - x) ** 2)) + w1 * float(
                np.sum(np.abs(Dx))
            )
            if abs(obj_prev - obj_cur) < 1e-9 * max(1.0, obj_cur):
                obj_stable += 1
                if obj_stable >= 4:
                    break
            else:
                obj_stable = 0
            obj_prev = obj_cur

    def true_obj(xx):
        return float(
            w0 * np.sum((y - xx) ** 2) + w1 * np.sum(np.abs(_apply_d2(xx)))
        )

    best = true_obj(x)
    sz = max(1.0, np.abs(z).max() if m else 1.0)
    for rel in (1e-3, 1e-4, 1e-5, 1e-6):
        cand = _polish_l1d2_breakpoints(y, z, w0, w1, rel * sz)
        if cand is None:
            continue
        o = true_obj(cand)
        if o < best - 1e-15:
            best = o
            x = cand
    obj = true_obj(x)
    return x, obj


def _polish_l1d2_breakpoints(y, z, w0, w1, tol):
    """Exact restricted solve: fix the kink support from z, parameterize x
    by its values at the kinks (piecewise-linear between breakpoints,
    endpoints pinned to 0 and 1), minimize the now-smooth objective."""
    T = len(y)
    active = np.abs(z) > tol
    kinks = np.where(active)[0] + 1  # interior positions of nonzero D2
    sgn = np.sign(z[active])
    K = len(kinks)
    bp = np.concatenate([[0], kinks, [T - 1]]).astype(np.int64)
    # interpolation: x = M @ v + m0, v = x at interior kinks; endpoints 0, 1
    t = np.arange(T, dtype=np.float64)
    M = np.zeros((T, K))
    m0 = np.zeros(T)
    vals_fixed = {0: 0.0, T - 1: 1.0}
    for j in range(len(bp) - 1):
        a, b = bp[j], bp[j + 1]
        seg = slice(a, b + 1)
        alpha = (t[seg] - a) / float(b - a)
        for pos, wcol in ((j, 1.0 - alpha), (j + 1, alpha)):
            p = bp[pos]
            if p in vals_fixed:
                m0[seg] += vals_fixed[p] * wcol
            else:
                M[seg, pos - 1] += wcol
    if K == 0:
        return m0
    # linear term from the active l1 pieces: w1 * sgn' D2_active x
    g = np.zeros(T)
    for i, kk in enumerate(np.where(active)[0]):
        g[kk] += w1 * sgn[i]
        g[kk + 1] -= 2.0 * w1 * sgn[i]
        g[kk + 2] += w1 * sgn[i]
    lin = M.T @ g
    A = 2.0 * w0 * (M.T @ M)
    rhs = 2.0 * w0 * (M.T @ (y - m0)) - lin
    try:
        v = np.linalg.solve(A + 1e-12 * np.eye(K), rhs)
    except np.linalg.LinAlgError:
        return None
    return M @ v + m0
