"""Fused constraint suite — the whole north-rule checklist in THREE jobs.

The classic suite runs each check as its own Spark job: validate
summary, column stats, salted uniqueness, referential anti-join,
KS + chi-square drift, span-order — six-plus scans of the fact table.
At 100 TB the scan IS the dominant cost, and every *global* (ungrouped)
metric can ride another job's scan via ``DataFrame.observe``
(CollectMetrics): the metrics aggregate map-side inside the same
whole-stage-codegen pass and add zero shuffle, zero extra IO.

Exactly three jobs remain because there are exactly three main outputs
that need their own shuffle/join shape:

1. **fact pass** — main output: salted duplicate-key count (the one
   keyed shuffle); riding it: verdict counts + violation totals (the
   compiled validate projection), the full per-column stats aggregate,
   and the span-order check.
2. **fact spans pass** — main output: dangling-FK count (explode →
   broadcast anti-join); riding it: the KS histogram of span counts
   (observed BEFORE the explode) and the current-side category counts
   for chi-square (observed after).
3. **baseline spans pass** — main output: baseline category counts for
   chi-square; riding it: the baseline KS histogram.

Single-JVM local mode gains a second way: one fused job compiles ~3×
fewer codegen units than six phases, so the first-run Catalyst/Janino/
JIT fixed cost (~1-2 s per distinct stage on this box) shrinks with it.

Semantics are pinned to the classic phases by construction — the agg
expressions are imported from the same modules (`column_stat_aggs`,
`non_monotonic_flag`, `_bucket_expr`, and the `_ks_report`/`_chi2_report`
builders) — and by `tests/test_fused_suite.py`, which
asserts result equality check-by-check on a generated table.

Category caveat: chi-square categories must be declared up front
(`kind_values`) because CollectMetrics cannot group; values outside the
list pool into ``'__other__'``. Pass the full expected domain (it is a
schema-level fact in any real deployment) to match the classic
grouped-count path exactly.
"""

from __future__ import annotations

import time
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F

from ..generator import non_monotonic_flag
from ..validation import VERDICT_COL, VIOLATIONS_COL, validate
from .drift import DriftReport, _bucket_expr, _chi2_report, _ks_report
from .referential import dangling_rows
from .stats import column_stat_aggs, column_stats_from_flat
from .uniqueness import duplicate_keys_salted

_VERDICTS = ("Valid", "ValidationError", "DecodingError")


@dataclass
class FusedSuiteReport:
    verdicts: dict
    n_violations: int
    column_stats: list
    n_non_monotonic: int
    n_dup_keys: int
    n_dangling: int
    ks: DriftReport
    chi2: DriftReport
    timings: dict = field(default_factory=dict)

    @property
    def n_docs(self) -> int:
        return sum(self.verdicts.values())


def _hist_aggs(n_col: str, lo: float, hi: float, n_buckets: int):
    """Per-bucket conditional sums equivalent to ``numeric_histogram``
    (nulls fall out of every bucket; out-of-range clamps to the edges).

    The null guard is load-bearing: ``_bucket_expr`` clamps via
    ``greatest(floor(...), 0)`` and ``greatest`` SKIPS nulls, so a NULL
    value would land in bucket 0 instead of falling out — diverging
    from the classic ``numeric_histogram`` path, which filters
    ``isNotNull`` before bucketing. Wrapping in ``when(isNotNull)``
    makes the bucket NULL for NULL input, and ``sum`` drops it."""
    b = F.when(
        F.col(n_col).isNotNull(), _bucket_expr(n_col, lo, hi, n_buckets)
    )
    return [
        F.sum((b == i).cast("long")).alias(f"__b{i}")
        for i in range(n_buckets)
    ]


def _kind_aggs(cat, kind_values: tuple):
    if "__null__" in kind_values or "__other__" in kind_values:
        raise ValueError(
            "kind_values may not contain the reserved sentinels "
            "'__null__' / '__other__' — NULL kinds pool under "
            "'__null__' and unlisted kinds under '__other__', so a "
            "real category with either name would be silently merged"
        )
    listed = [str(k) for k in kind_values] + ["__null__"]
    aggs = [
        F.sum((cat == F.lit(k)).cast("long")).alias(f"__k_{k}")
        for k in listed
    ]
    aggs.append(
        F.sum((~cat.isin(listed)).cast("long")).alias("__k___other__")
    )
    return aggs


def _kind_counts(flat: dict, kind_values: tuple) -> dict:
    listed = [str(k) for k in kind_values] + ["__null__", "__other__"]
    # zero-count categories are dropped to match the classic grouped
    # path (a groupBy never emits a row for an absent category — keeping
    # zeros would inflate the chi-square dof)
    return {
        k: flat[f"__k_{k}"] for k in listed if (flat[f"__k_{k}"] or 0) > 0
    }


def run_fused_suite(
    docs: DataFrame,
    baseline: DataFrame,
    dim: DataFrame,
    spec,
    *,
    key_col: str = "doc_id",
    spans_col: str = "spans",
    kind_col: str = "kind",
    ref_col: str = "media_ref",
    kind_values: tuple = ("text", "media"),
    ks_lo: float = 0.0,
    ks_hi: float = 16.0,
    ks_buckets: int = 16,
    salt_buckets: int = 64,
    alpha: float = 0.01,
) -> FusedSuiteReport:
    """Run the full constraint suite (validate + stats + span-order +
    uniqueness + referential + KS/chi² drift) in three jobs. See the
    module docstring for which metric rides which scan.

    The three jobs are INDEPENDENT (disjoint outputs over two inputs),
    so they are submitted from a small thread pool (optimization guide
    §2.6): Spark's FIFO scheduler gives job 1 (the heavy fact pass) the
    cluster and back-fills the tail with jobs 2/3's tasks — wall-clock
    approaches max(job1, job2+job3) instead of their sum, and the
    per-job Catalyst/codegen fixed cost overlaps too. Results are
    byte-identical to sequential execution (still pinned check-by-check
    against the classic suite in tests/test_fused_suite.py); the
    per-phase timings keep their names but now overlap, so they sum to
    more than the wall time."""
    timings = {}

    def _timed(name, fn):
        sc = docs.sparkSession.sparkContext
        sc.setJobDescription(f"fused suite: {name}")
        t0 = time.time()
        try:
            return fn()
        finally:
            timings[name] = time.time() - t0
            sc.setJobDescription(None)

    # -- job 1: fact pass ------------------------------------------------
    def job1():
        ann = validate(docs, spec).annotated
        obs1 = Observation("fused_rowlocal")
        fields = {f.name: f.dataType for f in docs.schema.fields}
        columns = list(fields)
        exprs = [
            F.sum((F.col(VERDICT_COL) == v).cast("long"))
            .alias(f"__verdict_{v}")
            for v in _VERDICTS
        ]
        exprs.append(F.sum(F.size(VIOLATIONS_COL)).alias("__n_violations"))
        exprs.append(
            F.sum(non_monotonic_flag(spans_col).cast("long"))
            .alias("__n_nonmono")
        )
        exprs.extend(column_stat_aggs(fields, columns))
        n_dup_keys = duplicate_keys_salted(
            ann.observe(obs1, *exprs), key_col, salt_buckets=salt_buckets
        ).count()
        return n_dup_keys, obs1.get, columns

    # -- job 2: fact spans pass ------------------------------------------
    def job2():
        obs_hist = Observation("ks_current")
        obs_kind = Observation("chi2_current")
        cur = docs.select(
            F.col(spans_col), F.size(spans_col).alias("__n_spans")
        )
        ex = cur.observe(
            obs_hist, *_hist_aggs("__n_spans", ks_lo, ks_hi, ks_buckets)
        ).select(F.explode(spans_col).alias("__span"))
        cat = F.coalesce(
            F.col(f"__span.{kind_col}").cast("string"), F.lit("__null__")
        )
        refs = ex.observe(obs_kind, *_kind_aggs(cat, kind_values)).select(
            F.col(f"__span.{ref_col}").alias(ref_col)
        )
        n_dangling = dangling_rows(
            refs.where(F.col(ref_col).isNotNull()),
            dim,
            ref_col,
            broadcast=True,
        ).count()
        cur_hist = {
            b: v
            for b in range(ks_buckets)
            if (v := (obs_hist.get[f"__b{b}"] or 0)) > 0
        }
        cur_kinds = _kind_counts(obs_kind.get, kind_values)
        return n_dangling, cur_hist, cur_kinds

    # -- job 3: baseline spans pass --------------------------------------
    def job3():
        obs_bhist = Observation("ks_baseline")
        bcur = baseline.select(
            F.col(spans_col), F.size(spans_col).alias("__n_spans")
        )
        bex = bcur.observe(
            obs_bhist, *_hist_aggs("__n_spans", ks_lo, ks_hi, ks_buckets)
        ).select(F.explode(spans_col).alias("__span"))
        bcat = F.coalesce(
            F.col(f"__span.{kind_col}").cast("string"), F.lit("__null__")
        )
        base_rows = (
            bex.select(bcat.alias("category"))
            .groupBy("category")
            .agg(F.count(F.lit(1)).alias("n"))
            .collect()
        )
        listed = {str(k) for k in kind_values} | {"__null__"}
        base_kinds: dict = {}
        for r in base_rows:
            k = r["category"] if r["category"] in listed else "__other__"
            base_kinds[k] = base_kinds.get(k, 0) + r["n"]
        base_hist = {
            b: v
            for b in range(ks_buckets)
            if (v := (obs_bhist.get[f"__b{b}"] or 0)) > 0
        }
        return base_hist, base_kinds

    from concurrent.futures import ThreadPoolExecutor

    with ThreadPoolExecutor(max_workers=3) as pool:
        f1 = pool.submit(_timed, "fact_rowlocal_uniqueness", job1)
        f2 = pool.submit(_timed, "spans_referential", job2)
        f3 = pool.submit(_timed, "baseline_drift", job3)
        n_dup_keys, m1, columns = f1.result()
        n_dangling, cur_hist, cur_kinds = f2.result()
        base_hist, base_kinds = f3.result()

    # -- driver-side statistics (same code paths as the classic suite) ---
    ks = _ks_report(cur_hist, base_hist, alpha)
    chi2 = _chi2_report(cur_kinds, base_kinds, alpha)
    verdicts = {
        v: m1[f"__verdict_{v}"] or 0
        for v in _VERDICTS
        if (m1[f"__verdict_{v}"] or 0) > 0
    }
    return FusedSuiteReport(
        verdicts=verdicts,
        n_violations=m1["__n_violations"] or 0,
        column_stats=column_stats_from_flat(m1, columns),
        n_non_monotonic=m1["__n_nonmono"] or 0,
        n_dup_keys=n_dup_keys,
        n_dangling=n_dangling,
        ks=ks,
        chi2=chi2,
        timings=timings,
    )
