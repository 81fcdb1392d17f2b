"""Distribution-drift tests — north-rule operator (BASELINE.json:6:
"KS/chi-square distribution-drift tests against baseline snapshots").

Scale design: the *distributed* part is a bucketed ``groupBy(bucket)
.count()`` per snapshot — one shuffle producing at most ``n_buckets``
rows. The statistic itself runs on the driver over those tiny
histograms (numpy; scipy is absent in the sandbox so both statistics
are implemented by hand — they're ~15 lines each).

* KS (two-sample, on binned data): D = max |ECDF1 - ECDF2| over bucket
  boundaries, with the asymptotic two-sample p-value
  Q(d * sqrt(n1*n2/(n1+n2))) via the Kolmogorov distribution series.
  Binned KS slightly underestimates D vs the exact statistic — fine for
  drift *monitoring* (threshold semantics), and the only option at
  10^12 rows where sorting the raw column is off the table.

* Chi-square (categorical): sum((obs - exp)^2 / exp) with expected
  counts scaled from the baseline distribution; p-value via the
  regularized upper incomplete gamma (series/continued-fraction,
  Numerical Recipes §6.2 formulas — public domain math).
"""

from __future__ import annotations

import math
from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


# ---------------------------------------------------------------------------
# Distributed histogram builders
# ---------------------------------------------------------------------------

def _bucket_expr(column: str, lo: float, hi: float, n_buckets: int):
    if not hi > lo:
        raise ValueError(
            f"histogram range must satisfy hi > lo (got [{lo}, {hi}]) — "
            "a zero/negative width divides to ±Inf and the int cast "
            "throws under ANSI mode"
        )
    col = F.col(column).cast("double")
    width = (hi - lo) / n_buckets
    # NaN guard: isNotNull() does NOT filter NaN, and floor(NaN)
    # .cast('int') throws under ANSI (which is ON — CLAUDE.md); a NaN
    # value falls out of every bucket instead, like a null
    return F.when(
        ~F.isnan(col),
        F.least(
            F.greatest(
                F.floor((col - F.lit(lo)) / F.lit(width)).cast("int"),
                F.lit(0),
            ),
            F.lit(n_buckets - 1),
        ),
    )


def numeric_histogram(
    df: DataFrame,
    column: str,
    *,
    lo: float,
    hi: float,
    n_buckets: int = 64,
) -> DataFrame:
    """Fixed-range bucketed counts: (bucket, n). Nulls AND NaNs dropped
    (r5 ADVICE: a NaN passes ``isNotNull`` but ``_bucket_expr`` gives it
    a NULL bucket — the groupBy then emits a (NULL, n) row that crashes
    ``ks_from_histograms``'s sort and inflates the sample size; filter
    it at the source like the fused ``_hist_aggs`` path does). Values
    outside [lo, hi) clamp into the edge buckets so mass is conserved."""
    col = F.col(column).cast("double")
    return (
        df.where(col.isNotNull() & ~F.isnan(col))
        .select(_bucket_expr(column, lo, hi, n_buckets).alias("bucket"))
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).alias("n"))
    )


def category_counts(df: DataFrame, column: str) -> DataFrame:
    """(category, n) counts; null becomes the '__null__' category."""
    return (
        df.select(
            F.coalesce(F.col(column).cast("string"), F.lit("__null__"))
            .alias("category")
        )
        .groupBy("category")
        .agg(F.count(F.lit(1)).alias("n"))
    )


# ---------------------------------------------------------------------------
# Driver-side statistics (numpy/math only — scipy absent by design)
# ---------------------------------------------------------------------------

def _kolmogorov_sf(t: float) -> float:
    """Q_KS(t) = 2 * sum_{j>=1} (-1)^{j-1} exp(-2 j^2 t^2)."""
    if t <= 0:
        return 1.0
    total = 0.0
    for j in range(1, 101):
        term = (-1) ** (j - 1) * math.exp(-2.0 * j * j * t * t)
        total += term
        if abs(term) < 1e-12:
            break
    return max(0.0, min(1.0, 2.0 * total))


def ks_from_histograms(
    hist1: dict[int, int], hist2: dict[int, int]
) -> tuple[float, float]:
    """(D, p_value) from two bucket→count maps over the same bucketing."""
    n1 = sum(hist1.values())
    n2 = sum(hist2.values())
    if n1 == 0 or n2 == 0:
        raise ValueError("empty histogram")
    buckets = sorted(set(hist1) | set(hist2))
    c1 = c2 = 0
    d = 0.0
    for b in buckets:
        c1 += hist1.get(b, 0)
        c2 += hist2.get(b, 0)
        d = max(d, abs(c1 / n1 - c2 / n2))
    en = math.sqrt(n1 * n2 / (n1 + n2))
    # Stephens' small-sample correction (as used by scipy asymp mode)
    p = _kolmogorov_sf((en + 0.12 + 0.11 / en) * d)
    return d, p


def _gammainc_upper_reg(a: float, x: float) -> float:
    """Regularized upper incomplete gamma Q(a, x) — series for x < a+1,
    continued fraction otherwise (Numerical Recipes 6.2)."""
    if x < 0 or a <= 0:
        raise ValueError("bad args")
    if x == 0:
        return 1.0
    gln = math.lgamma(a)
    if x < a + 1.0:
        # P(a,x) by series, return 1-P
        ap = a
        s = 1.0 / a
        delta = s
        for _ in range(500):
            ap += 1.0
            delta *= x / ap
            s += delta
            if abs(delta) < abs(s) * 1e-14:
                break
        p = s * math.exp(-x + a * math.log(x) - gln)
        return max(0.0, min(1.0, 1.0 - p))
    # Q(a,x) by continued fraction (Lentz)
    tiny = 1e-300
    b = x + 1.0 - a
    c = 1.0 / tiny
    d = 1.0 / b
    h = d
    for i in range(1, 500):
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
        if abs(delta - 1.0) < 1e-14:
            break
    q = math.exp(-x + a * math.log(x) - gln) * h
    return max(0.0, min(1.0, q))


def chi2_sf(stat: float, dof: int) -> float:
    """P(X >= stat) for chi-square with ``dof`` degrees of freedom."""
    if dof <= 0:
        return 1.0
    return _gammainc_upper_reg(dof / 2.0, stat / 2.0)


def chi_square_from_counts(
    observed: dict[str, int], baseline: dict[str, int]
) -> tuple[float, int, float]:
    """(statistic, dof, p_value). Expected counts scale the baseline
    distribution to the observed total. Categories absent from the
    baseline get a 0.5 pseudo-count (Haldane) to stay finite."""
    n_obs = sum(observed.values())
    n_base = sum(baseline.values())
    if n_obs == 0 or n_base == 0:
        raise ValueError("empty counts")
    cats = sorted(set(observed) | set(baseline))
    stat = 0.0
    for cat in cats:
        o = observed.get(cat, 0)
        b = baseline.get(cat, 0.5)
        e = max(b, 0.5) / n_base * n_obs
        stat += (o - e) ** 2 / e
    dof = max(len(cats) - 1, 1)
    return stat, dof, chi2_sf(stat, dof)


# ---------------------------------------------------------------------------
# High-level drift checks
# ---------------------------------------------------------------------------

@dataclass
class DriftReport:
    kind: str  # 'ks' | 'chi2' | 'psi' (psi carries p_value=NaN)
    statistic: float
    p_value: float
    drifted: bool
    detail: dict


def _ks_report(h1: dict, h2: dict, alpha: float) -> DriftReport:
    """KS report from the current and baseline bucket→count maps."""
    d, p = ks_from_histograms(h1, h2)
    return DriftReport(
        kind="ks", statistic=d, p_value=p, drifted=p < alpha,
        detail={"n_current": sum(h1.values()),
                "n_baseline": sum(h2.values())},
    )


def _chi2_report(obs: dict, base: dict, alpha: float) -> DriftReport:
    """Chi-square report from the current and baseline
    category→count maps."""
    stat, dof, p = chi_square_from_counts(obs, base)
    return DriftReport(
        kind="chi2", statistic=stat, p_value=p, drifted=p < alpha,
        detail={"dof": dof, "n_categories": len(set(obs) | set(base))},
    )


def _psi_report(cur: dict, base: dict, threshold: float) -> DriftReport:
    """PSI report from the current and baseline category→count maps;
    PSI has no p-value (NaN), ``drifted`` is the threshold test."""
    stat = psi_from_counts(cur, base)
    return DriftReport(
        kind="psi", statistic=stat, p_value=float("nan"),
        drifted=stat >= threshold,
        detail={"n_categories": len(set(cur) | set(base)),
                "threshold": threshold},
    )


def ks_drift(
    current: DataFrame,
    baseline: DataFrame,
    column: str,
    *,
    lo: float,
    hi: float,
    n_buckets: int = 64,
    alpha: float = 0.01,
) -> DriftReport:
    """Two-snapshot KS drift on a numeric column. Two scans (one per
    snapshot), each a single bucketed hash-agg."""
    h1 = {
        r["bucket"]: r["n"]
        for r in numeric_histogram(
            current, column, lo=lo, hi=hi, n_buckets=n_buckets
        ).collect()
    }
    h2 = {
        r["bucket"]: r["n"]
        for r in numeric_histogram(
            baseline, column, lo=lo, hi=hi, n_buckets=n_buckets
        ).collect()
    }
    return _ks_report(h1, h2, alpha)


def _split_counts(df, key_expr, is_current, key_name: str):
    """Shared core of the *_drift_split variants: one scan, one
    ``groupBy(key, split)`` hash-agg, returned as the two
    (key → count) maps. Any fix to the split handling (the
    ``isNotNull`` filter, sentinel keys) lives HERE once."""
    rows = (
        df.where(is_current.isNotNull())
        .select(key_expr.alias(key_name), is_current.alias("_cur"))
        .groupBy(key_name, "_cur")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    )
    cur = {r[key_name]: r["n"] for r in rows if r["_cur"]}
    base = {r[key_name]: r["n"] for r in rows if not r["_cur"]}
    return cur, base


def _category_expr(column: str):
    return F.coalesce(
        F.col(column).cast("string"), F.lit("__null__")
    )


def ks_drift_split(
    df: DataFrame,
    column: str,
    is_current,
    *,
    lo: float,
    hi: float,
    n_buckets: int = 64,
    alpha: float = 0.01,
) -> DriftReport:
    """Two-sample KS where current/baseline are a boolean SPLIT of the
    same table (``is_current`` a Column predicate): ONE scan, one
    ``groupBy(bucket, split)`` hash-agg (≤ 2·n_buckets rows collected)
    — use instead of two :func:`ks_drift` scans whenever both snapshots
    live in one table (time windows, A/B halves, partition parity)."""
    col = F.col(column).cast("double")
    # NaN filtered like numeric_histogram (same r5-ADVICE leak)
    h1, h2 = _split_counts(
        df.where(col.isNotNull() & ~F.isnan(col)),
        _bucket_expr(column, lo, hi, n_buckets),
        is_current,
        "bucket",
    )
    return _ks_report(h1, h2, alpha)


def chi2_drift_split(
    df: DataFrame,
    column: str,
    is_current,
    *,
    alpha: float = 0.01,
) -> DriftReport:
    """Categorical chi-square drift over a boolean split of one table —
    one scan, one ``groupBy(category, split)`` hash-agg."""
    obs, base = _split_counts(
        df, _category_expr(column), is_current, "category"
    )
    return _chi2_report(obs, base, alpha)


def chi2_drift(
    current: DataFrame,
    baseline: DataFrame,
    column: str,
    *,
    alpha: float = 0.01,
) -> DriftReport:
    """Categorical chi-square drift between two snapshots."""
    obs = {
        r["category"]: r["n"] for r in category_counts(current, column).collect()
    }
    base = {
        r["category"]: r["n"] for r in category_counts(baseline, column).collect()
    }
    return _chi2_report(obs, base, alpha)


def psi_from_counts(current: dict, baseline: dict) -> float:
    """Population Stability Index over two category→count maps:
    Σ (p_cur − p_base) · ln(p_cur / p_base). Laplace smoothing
    (0.5 added to every cell over the category UNION) keeps
    empty cells finite and is mirrored exactly by the SQL oracle.
    Conventional reading: < 0.1 stable, 0.1–0.25 moderate shift,
    ≥ 0.25 drifted."""
    cats = sorted(set(current) | set(baseline))
    k = len(cats)
    n1 = sum(current.values())
    n2 = sum(baseline.values())
    if n1 == 0 or n2 == 0 or k == 0:
        raise ValueError("empty histogram")
    smooth = 0.5
    psi = 0.0
    for c in cats:
        pc = (current.get(c, 0) + smooth) / (n1 + smooth * k)
        pb = (baseline.get(c, 0) + smooth) / (n2 + smooth * k)
        psi += (pc - pb) * math.log(pc / pb)
    return psi


def psi_drift(
    current: DataFrame,
    baseline: DataFrame,
    column: str,
    *,
    threshold: float = 0.25,
) -> DriftReport:
    """Categorical PSI drift between two snapshots — the standard ML
    monitoring statistic alongside KS (numeric shape) and chi-square
    (significance). Two bucketed hash-aggs + a ≤|categories|-row
    driver statistic; PSI has no p-value (NaN) — ``drifted`` is the
    conventional threshold test."""
    cur = {
        r["category"]: r["n"]
        for r in category_counts(current, column).collect()
    }
    base = {
        r["category"]: r["n"]
        for r in category_counts(baseline, column).collect()
    }
    return _psi_report(cur, base, threshold)


def psi_drift_split(
    df: DataFrame,
    column: str,
    is_current,
    *,
    threshold: float = 0.25,
) -> DriftReport:
    """PSI over a boolean split of one table — one scan, one
    ``groupBy(category, split)`` hash-agg (same shape as
    :func:`chi2_drift_split`)."""
    cur, base = _split_counts(
        df, _category_expr(column), is_current, "category"
    )
    return _psi_report(cur, base, threshold)
