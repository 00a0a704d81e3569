"""Pure-Python statistical kernels (no scipy in this environment).

chi2_sf: survival function of the chi-square distribution via the
regularized incomplete gamma function Q(a, x) (series + continued
fraction, Numerical Recipes 6.2 style — public-domain algorithms).

ks_pvalue: asymptotic two-sample Kolmogorov-Smirnov p-value via the
Kolmogorov distribution Q_KS(lambda) = 2 * sum_{j>=1} (-1)^{j-1}
exp(-2 j^2 lambda^2)  (Smirnov's theorem).
"""

from __future__ import annotations

import math

_MAX_ITER = 500
_EPS = 3.0e-12


def _gamma_series(a: float, x: float) -> float:
    """P(a,x) via series expansion (x < a+1)."""
    if x <= 0:
        return 0.0
    ap = a
    summ = 1.0 / a
    delta = summ
    for _ in range(_MAX_ITER):
        ap += 1.0
        delta *= x / ap
        summ += delta
        if abs(delta) < abs(summ) * _EPS:
            break
    return summ * math.exp(-x + a * math.log(x) - math.lgamma(a))


def _gamma_cf(a: float, x: float) -> float:
    """Q(a,x) via continued fraction (x >= a+1)."""
    tiny = 1.0e-300
    b = x + 1.0 - a
    c = 1.0 / tiny
    d = 1.0 / b
    h = d
    for i in range(1, _MAX_ITER + 1):
        an = -i * (i - a)
        b += 2.0
        d = an * d + b
        if abs(d) < tiny:
            d = tiny
        c = b + an / c
        if abs(c) < tiny:
            c = tiny
        d = 1.0 / d
        delta = d * c
        h *= delta
        if abs(delta - 1.0) < _EPS:
            break
    return math.exp(-x + a * math.log(x) - math.lgamma(a)) * h


def gammainc_q(a: float, x: float) -> float:
    """Regularized upper incomplete gamma Q(a, x) = 1 - P(a, x)."""
    if x < 0 or a <= 0:
        raise ValueError("gammainc_q: require x >= 0, a > 0")
    if x == 0:
        return 1.0
    if x < a + 1.0:
        return 1.0 - _gamma_series(a, x)
    return _gamma_cf(a, x)


def chi2_sf(stat: float, dof: int) -> float:
    """P[Chi2(dof) >= stat]."""
    if dof <= 0:
        raise ValueError("chi2_sf: dof must be positive")
    if stat <= 0:
        return 1.0
    return gammainc_q(dof / 2.0, stat / 2.0)


def chi2_crit(dof: int, alpha: float) -> float:
    """Critical value c with P[Chi2(dof) >= c] = alpha, by bisection on
    chi2_sf. Lets pass/fail be evaluated IN-PLAN as statistic <= crit
    (an expression), keeping p-value math off the row path."""
    if not (0.0 < alpha < 1.0):
        raise ValueError("chi2_crit: alpha must be in (0, 1)")
    hi = 1.0
    while chi2_sf(hi, dof) > alpha:
        hi *= 2.0
        if hi > 1e12:
            break
    lo = 0.0
    for _ in range(200):
        mid = (lo + hi) / 2.0
        if chi2_sf(mid, dof) > alpha:
            lo = mid
        else:
            hi = mid
    return (lo + hi) / 2.0


def _kolmogorov_q(lam: float) -> float:
    """Q_KS(lambda) = 2 * sum_{j>=1} (-1)^{j-1} exp(-2 j^2 lambda^2),
    clipped to [0, 1] — the one Kolmogorov series."""
    total = 0.0
    for j in range(1, 101):
        term = 2.0 * ((-1.0) ** (j - 1)) * math.exp(-2.0 * j * j * lam * lam)
        total += term
        if abs(term) < 1e-12:
            break
    return min(max(total, 0.0), 1.0)


def ks_pvalue(d: float, n1: float, n2: float) -> float:
    """Asymptotic two-sample KS p-value for statistic d with sample
    sizes n1, n2 (Smirnov)."""
    if d <= 0:
        return 1.0
    ne = n1 * n2 / (n1 + n2)
    return _kolmogorov_q((math.sqrt(ne) + 0.12 + 0.11 / math.sqrt(ne)) * d)


def ks_crit_lambda(alpha: float) -> float:
    """Critical lambda with Q_KS(lambda) = alpha, by bisection on the
    Kolmogorov series. Since ks_pvalue(d, n1, n2) = Q_KS(lam(d)) with
    lam(d) = (sqrt(ne) + 0.12 + 0.11/sqrt(ne)) * d monotone in d, the
    pass rule p >= alpha becomes d <= ks_crit_lambda(alpha) /
    (sqrt(ne) + 0.12 + 0.11/sqrt(ne)) — an alpha-only CONSTANT over a
    pure expression of the sample sizes, so the KS verdict evaluates
    in-plan like the chi2 one (chi2_crit)."""
    if not (0.0 < alpha < 1.0):
        raise ValueError("ks_crit_lambda: alpha must be in (0, 1)")
    lo, hi = 1e-6, 5.0
    for _ in range(200):
        mid = (lo + hi) / 2.0
        if _kolmogorov_q(mid) > alpha:
            lo = mid
        else:
            hi = mid
    return (lo + hi) / 2.0
