"""NumPy reference for per-study all-pairs Spearman with BH q-values.

Semantics the correlation job must reproduce: for each gene pair, take the
samples where both genes have a value; require at least ``min_samples`` of
them and two distinct values per gene; rank each side with average ranks
among those shared samples; rho is Pearson on the ranks, clamped to [-1, 1].
The p-value is the two-sided normal approximation of the t statistic, with
erf from Abramowitz & Stegun 7.1.26 (the engine's stated formula), NULL for
n < 3 and 0 for |rho| = 1. q-values are Benjamini-Hochberg within a study
over the non-NULL p-values.
"""
from __future__ import annotations

import math

import numpy as np

_P = 0.3275911
_A = (0.254829592, -0.284496736, 1.421413741, -1.453152027, 1.061405429)


def average_ranks(x: np.ndarray) -> np.ndarray:
    order = np.argsort(x, kind="mergesort")
    sorted_x = x[order]
    ranks = np.empty(len(x), dtype=float)
    i = 0
    while i < len(x):
        j = i
        while j + 1 < len(x) and sorted_x[j + 1] == sorted_x[i]:
            j += 1
        ranks[order[i:j + 1]] = (i + j) / 2.0 + 1.0
        i = j + 1
    return ranks


def _erf(x: float) -> float:
    ax = abs(x)
    t = 1.0 / (1.0 + _P * ax)
    poly = sum(a * t ** (k + 1) for k, a in enumerate(_A))
    return math.copysign(1.0 - poly * math.exp(-ax * ax), x) if x else 0.0


def p_value(rho: float, n: int) -> float | None:
    if n < 3:
        return None
    if abs(rho) >= 1.0:
        return 0.0
    t = rho * math.sqrt((n - 2) / (1.0 - rho * rho))
    p = 2.0 * (1.0 - 0.5 * (1.0 + _erf(abs(t) / math.sqrt(2.0))))
    return min(max(p, 0.0), 1.0)


def pair_stats(
    a: np.ndarray, b: np.ndarray, min_samples: int = 2
) -> tuple[float, int] | None:
    """(rho, n) for one pair of gene rows (NaN = no value), or None when
    the pair is gated out."""
    shared = np.isfinite(a) & np.isfinite(b)
    n = int(shared.sum())
    if n < min_samples:
        return None
    ra, rb = average_ranks(a[shared]), average_ranks(b[shared])
    va, vb = ra.var(ddof=1), rb.var(ddof=1)
    if not (va > 0 and vb > 0):
        return None
    cov = ((ra - ra.mean()) * (rb - rb.mean())).sum() / (n - 1)
    rho = min(max(cov / math.sqrt(va * vb), -1.0), 1.0)
    return rho, n


def study_correlations(
    genes: list[str], matrix: np.ndarray, min_samples: int = 2
) -> dict[tuple[str, str], tuple[float, float, float | None, int]]:
    """(gene_a, gene_b) with gene_a < gene_b -> (rho, p, q, n) for every
    pair that survives the gates; p is 1.0 where the engine stores NULL.

    Vectorized over the partner genes of each gene; ``pair_stats``,
    ``p_value`` and ``bh_qvalues`` are the one-pair forms it must equal."""
    order = sorted(range(len(genes)), key=lambda i: genes[i])
    names = [genes[i] for i in order]
    m = matrix[order]
    finite = np.isfinite(m)
    keys: list[tuple[str, str]] = []
    rhos, ns = [], []
    for x in range(len(names) - 1):
        shared = finite[x] & finite[x + 1:]
        a = np.where(shared, m[x], np.nan)
        b = np.where(shared, m[x + 1:], np.nan)
        n = shared.sum(axis=1)
        ra, rb = _masked_average_ranks(a), _masked_average_ranks(b)
        with np.errstate(invalid="ignore", divide="ignore"):
            da = ra - np.nanmean(ra, axis=1, keepdims=True)
            db = rb - np.nanmean(rb, axis=1, keepdims=True)
            va = np.nansum(da * da, axis=1) / (n - 1)
            vb = np.nansum(db * db, axis=1) / (n - 1)
            cov = np.nansum(da * db, axis=1) / (n - 1)
            rho = np.clip(cov / np.sqrt(va * vb), -1.0, 1.0)
        ok = (n >= min_samples) & (va > 0) & (vb > 0)
        for y in np.flatnonzero(ok):
            keys.append((names[x], names[x + 1 + y]))
            rhos.append(float(rho[y]))
            ns.append(int(n[y]))
    ps = [p_value(r, n) for r, n in zip(rhos, ns)]
    qs = bh_qvalues(ps)
    return {
        k: (r, 1.0 if p is None else p, q, n)
        for k, r, p, q, n in zip(keys, rhos, ps, qs, ns)
    }


def _masked_average_ranks(x: np.ndarray) -> np.ndarray:
    """Row-wise average ranks of the non-NaN entries of a 2-D array; NaN
    stays NaN."""
    rows, cols = x.shape
    order = np.argsort(x, axis=1, kind="mergesort")  # NaN sorts last
    s = np.take_along_axis(x, order, axis=1)
    pos = np.broadcast_to(np.arange(cols), (rows, cols))
    new_group = np.ones((rows, cols), dtype=bool)
    new_group[:, 1:] = s[:, 1:] != s[:, :-1]
    first = np.maximum.accumulate(np.where(new_group, pos, 0), axis=1)
    ends = np.ones((rows, cols), dtype=bool)
    ends[:, :-1] = new_group[:, 1:]
    last = np.minimum.accumulate(
        np.where(ends, pos, cols)[:, ::-1], axis=1
    )[:, ::-1]
    ranks_sorted = np.where(np.isnan(s), np.nan, (first + last) / 2.0 + 1.0)
    out = np.empty_like(ranks_sorted)
    np.put_along_axis(out, order, ranks_sorted, axis=1)
    return out


def bh_qvalues(pvalues: list[float | None]) -> list[float | None]:
    """Benjamini-Hochberg q-values; None p-values keep a None q and do not
    count toward m."""
    valid = [(p, i) for i, p in enumerate(pvalues) if p is not None]
    m = len(valid)
    out: list[float | None] = [None] * len(pvalues)
    if not m:
        return out
    valid.sort()
    raw = [p * m / (j + 1) for j, (p, _) in enumerate(valid)]
    # ties share the running minimum taken from the least significant end
    running = math.inf
    k = m - 1
    while k >= 0:
        start = k
        while start > 0 and valid[start - 1][0] == valid[k][0]:
            start -= 1
        running = min(running, min(raw[start:k + 1]))
        for t in range(start, k + 1):
            out[valid[t][1]] = min(running, 1.0)
        k = start - 1
    return out
