"""Correctness gate: pure checks of sketch outputs against exact answers.

Each check returns a list of failure messages (empty = pass). The bounds
are the library's published ones: HLL within 3 sigma (1.04/sqrt(2^p)),
count-min never under and at most eps*T over (eps = e/width) except with
probability e^-depth per key, Bloom with
zero false negatives and a false-positive count within the design rate
plus Poisson slack, and quantile rank errors within the bounds BENCH.md and the
quantile tests state (KLL 2/k, merged t-digest 0.015).
"""

from __future__ import annotations

import math

import numpy as np

TDIGEST_RANK_BOUND = 0.015
QUANTILES = (0.01, 0.5, 0.99)


def hll_sigma3(p: int = 14) -> float:
    return 3 * 1.04 / math.sqrt(1 << p)


def hll_within(name: str, est: float, exact: int, p: int = 14) -> list[str]:
    rel = abs(est - exact) / max(exact, 1)
    if rel > hll_sigma3(p):
        return [f"{name}: HLL estimate {est} vs exact {exact} (rel err {rel:.4f} > {hll_sigma3(p):.4f})"]
    return []


def cms_slack(width: int, total: int) -> float:
    """eps*T with eps = e/width."""
    return math.e / width * total


def cms_over_limit(n_keys: int, depth: int) -> float:
    """Largest number of keys allowed over eps*T: each key exceeds it with
    probability at most delta = e^-depth, plus 4 binomial sigmas plus 1."""
    expected = n_keys * math.exp(-depth)
    return expected + 4 * math.sqrt(expected) + 1


def cms_violations(name: str, under: int, over: int, n_keys: int, depth: int) -> list[str]:
    """Count-min never under-counts; over-counts beyond eps*T stay within
    the failure probability delta."""
    out = []
    if under:
        out.append(f"{name}: CMS under-counts {under} keys")
    limit = cms_over_limit(n_keys, depth)
    if over > limit:
        out.append(f"{name}: {over} of {n_keys} keys over-counted by more than eps*T "
                   f"(limit {limit:.1f})")
    return out


def cms_within(name: str, est: dict, exact: dict, width: int, depth: int, total: int) -> list[str]:
    """``est``/``exact`` map key -> count over the sampled keys."""
    slack = cms_slack(width, total)
    under = sum(est[k] < want for k, want in exact.items())
    over = sum(est[k] - want > slack for k, want in exact.items())
    return cms_violations(name, under, over, len(exact), depth)


def bloom_fp_limit(m: int, k: int, n_items: int, n_absent: int) -> float:
    """Largest false-positive count accepted among ``n_absent`` probes: the
    design rate's expected count plus 4 Poisson sigmas plus 3."""
    expected = (1.0 - math.exp(-k * n_items / m)) ** k * n_absent
    return expected + 4 * math.sqrt(expected) + 3


def bloom_within(name: str, false_neg: int, false_pos: int, n_absent: int,
                 m: int, k: int, n_items: int) -> list[str]:
    out = []
    if false_neg:
        out.append(f"{name}: Bloom has {false_neg} false negatives")
    limit = bloom_fp_limit(m, k, n_items, n_absent)
    if false_pos > limit:
        out.append(f"{name}: {false_pos} Bloom false positives > {limit:.1f} "
                   f"of {n_absent} absent keys")
    return out


def rank_error(hist: dict[float, int], q: float, est: float) -> float:
    """Distance from q to the exact rank interval [P(X<est), P(X<=est)] of
    the estimate over a value histogram (ties own a rank range)."""
    vals = np.array(sorted(hist), dtype=np.float64)
    cnt = np.array([hist[v] for v in vals], dtype=np.float64)
    cum = np.cumsum(cnt)
    n = cum[-1]
    lo = cum[np.searchsorted(vals, est, side="left") - 1] / n if est > vals[0] else 0.0
    hi = cum[np.searchsorted(vals, est, side="right") - 1] / n if est >= vals[0] else 0.0
    if lo <= q <= hi:
        return 0.0
    return min(abs(q - lo), abs(q - hi))


def quantiles_within(name: str, ests: list[float], hist: dict[float, int], bound: float,
                     qs=QUANTILES) -> list[str]:
    out = []
    for q, est in zip(qs, ests):
        err = rank_error(hist, q, float(est))
        if err > bound:
            out.append(f"{name}: rank error {err:.4f} at q={q} > {bound}")
    return out


def same_bytes(name: str, got: bytes | None, want: bytes) -> list[str]:
    if got is None or bytes(got) != bytes(want):
        return [f"{name}: state bytes differ from the reference"]
    return []


def equal(name: str, got, want) -> list[str]:
    if got != want:
        return [f"{name}: got {got!r}, want {want!r}"]
    return []


def simhash_reference(text: str) -> int:
    """SimHash of whitespace tokens computed on the driver, the library's
    definition: bit b is set iff more than half the token hashes set it."""
    from probably_jl_spark.sketches.hashing import xxhash64_any

    toks = [t for t in text.split() if t]
    if not toks:
        return 0
    hs = np.array([xxhash64_any(t) for t in toks], dtype=np.uint64)
    bits = (hs[:, None] >> np.arange(64, dtype=np.uint64)) & np.uint64(1)
    ones = bits.sum(axis=0)
    out = 0
    for b in range(64):
        if 2 * int(ones[b]) > len(toks):
            out |= 1 << b
    return out - (1 << 64) if out >= 1 << 63 else out
