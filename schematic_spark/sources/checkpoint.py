"""Checkpoint / resume + per-partition lineage & metrics tables.

North rule: "resumable from Iceberg-snapshot checkpoints with
per-partition lineage + metrics tables" (BASELINE.json:6,14).

Model: a validation *run* processes a table in key-range partitions
(``bucket = pmod(xxhash64(doc_id), n_buckets)``). A run handles ALL
pending buckets in a constant number of passes (NOT one scan per
bucket — the round-1 design rescanned the input n_buckets times, which
is thousands of full scans at 100 TB):

  1. one scan writes the violation rows for every pending bucket
     (bucket id is a column, so downstream pruning works);
  2. one scan aggregates per-(bucket, verdict) metrics — a tiny
     hash-agg result collected to the driver;
  3. one lineage append marks the processed buckets complete.

**Idempotency / atomicity** (commit protocol): every invocation gets a
fresh ``attempt_id``; violations and metrics rows carry it, and the
lineage "complete" row — written LAST — records which attempt produced
the bucket. A crash between the appends leaves orphan rows from an
uncommitted attempt; readers (:func:`read_violations`,
:func:`partition_passfail`) join against the committed
(bucket, attempt_id) pairs in lineage, so orphans are invisible and a
resumed run can safely re-append without deduping storage. This is the
same trick as Iceberg's snapshot commit: data files are inert until the
metadata pointer lands.

At 100 TB the bucket count is sized so each bucket is a few hundred GB
(n_buckets ≈ thousands); the pending-bucket filter pushes down to the
scan when the table is clustered/bucketed by the same key, and the
violations sink can be partitioned by bucket.
"""

from __future__ import annotations

import hashlib
import json
import uuid
from dataclasses import dataclass

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

from .table_format import TableFormat
from ..schema.ast import SObject
from ..schema.parser import dump_spec
from ..validation import (
    VERDICT_COL,
    VIOLATIONS_COL,
    exploded_error_rows,
    validate,
)

_VERDICTS = ("Valid", "ValidationError", "DecodingError")

#: per-wave bucket-count bound for the observe-fused metrics path: the
#: fused pass declares 6 conditional aggregates per bucket up front
#: (CollectMetrics cannot group), which is fine for commit waves of a
#: few dozen buckets but would balloon the plan for a thousands-bucket
#: unbounded wave — those fall back to the grouped two-action shape.
_FUSE_MAX_BUCKETS = 64

LINEAGE_TABLE = "_schematic_lineage"
METRICS_TABLE = "_schematic_metrics"
VIOLATIONS_TABLE = "_schematic_violations"


def spec_fingerprint(schema: SObject) -> str:
    """Stable content hash of a spec — lineage keys on it so a spec
    change invalidates prior checkpoints."""
    blob = json.dumps(dump_spec(schema), sort_keys=True).encode()
    return hashlib.sha256(blob).hexdigest()[:16]


@dataclass
class CheckpointedRun:
    fmt: TableFormat
    run_id: str
    input_snapshot: str
    spec_fp: str
    n_buckets: int

    def completed(self, spark: SparkSession) -> dict[int, str]:
        """bucket → committed attempt_id for this (input snapshot, spec
        fingerprint, n_buckets). The SAME min-attempt rule as
        ``_committed_pairs`` — with concurrent double-commits, readers
        and resume logic must agree on which attempt owns a bucket.

        Only a missing lineage table means "nothing committed"; any
        other failure (corrupt manifest, transient storage error)
        PROPAGATES — swallowing it would silently restart the whole run
        and duplicate attempts."""
        from pyspark.errors import AnalysisException

        try:
            lineage = self.fmt.read(spark, LINEAGE_TABLE)
        except (FileNotFoundError, AnalysisException):
            return {}
        rows = (
            lineage
            .where(
                (F.col("input_snapshot") == self.input_snapshot)
                & (F.col("spec_fp") == self.spec_fp)
                & (F.col("n_buckets") == self.n_buckets)
                & (F.col("status") == "complete")
            )
            .groupBy("bucket")
            .agg(F.min("attempt_id").alias("attempt_id"))
            .collect()
        )
        return {r["bucket"]: r["attempt_id"] for r in rows}

    def completed_buckets(self, spark: SparkSession) -> set[int]:
        return set(self.completed(spark))


def run_validation_checkpointed(
    spark: SparkSession,
    df: DataFrame,
    schema: SObject,
    fmt: TableFormat,
    *,
    key_col: str = "doc_id",
    n_buckets: int = 8,
    run_id: str = "run-0",
    input_snapshot: str = "unversioned",
    violations_table: str = VIOLATIONS_TABLE,
    commit_every: int | None = None,
) -> dict:
    """Validate all pending buckets with resume (see module docstring
    for the pass structure and commit protocol).

    Already-complete buckets (same input snapshot + spec fingerprint)
    are skipped. Returns a summary dict with counts and the buckets
    processed vs skipped.

    ``commit_every=k`` commits lineage per WAVE of k buckets instead of
    once for all pending buckets: a crash at 99% loses at most the
    in-flight wave, not the whole run (round-2 verdict note). Each wave
    is the same 3-pass protocol over its bucket subset, so the
    atomicity of the attempt-id commit is preserved per wave. Cost: one
    scan per wave instead of one total — worth it exactly when the
    input is clustered/bucketed by ``key_col`` so the wave's bucket
    filter prunes at the storage level (the 100 TB deployment shape);
    leave ``None`` for unclustered inputs where every wave would rescan.
    """
    fp = spec_fingerprint(schema)
    run = CheckpointedRun(fmt, run_id, input_snapshot, fp, n_buckets)
    done = run.completed_buckets(spark)
    pending = [b for b in range(n_buckets) if b not in done]
    attempt_id = f"{run_id}-{uuid.uuid4().hex[:12]}"

    if not pending:
        return {
            "run_id": run_id,
            "spec_fp": fp,
            "attempt_id": attempt_id,
            "processed_buckets": [],
            "skipped_buckets": sorted(done),
            "totals": {},
        }

    bucket_col = F.pmod(F.xxhash64(F.col(key_col)), F.lit(n_buckets)) \
        .cast("int")
    # the spec compiles ONCE for the whole run; each wave filters the
    # compiled frame on its buckets, and the filter is pushed below the
    # validation projection into the scan
    res = validate(df.withColumn("_bucket", bucket_col), schema)

    run_cols = {
        "run_id": F.lit(run_id),
        "attempt_id": F.lit(attempt_id),
        "input_snapshot": F.lit(input_snapshot),
        "spec_fp": F.lit(fp),
        "n_buckets": F.lit(n_buckets),
    }
    meta = {
        "run_id": run_id,
        "attempt_id": attempt_id,
        "input_snapshot": input_snapshot,
        "spec_fp": fp,
        "n_buckets": n_buckets,
    }

    if commit_every and commit_every > 0:
        waves = [
            pending[i:i + commit_every]
            for i in range(0, len(pending), commit_every)
        ]
    else:
        waves = [pending]

    totals: dict[str, int] = {}
    for wave in waves:
        ann = (res.annotated if len(wave) == n_buckets
               else res.annotated.where(F.col("_bucket").isin(*wave)))

        # passes 1+2 fused (r6): the per-(bucket, verdict) metrics ride
        # the violations write via ``observe`` (CollectMetrics — the
        # fused-suite pattern): the wave's bucket list and the 3-way
        # verdict are both known up front, so the groupBy is expressible
        # as conditional sums and zero-count pairs are dropped below
        # exactly as a groupBy would never emit them. ONE scan per wave
        # produces both outputs, which (a) halves the validation cost of
        # the old two-action shape at the commit_every=None 100 TB
        # design point, (b) guarantees the committed metrics and the
        # written violations come from the SAME snapshot of a mutable
        # input (the round-5 ADVICE consistency gap), and (c) removes
        # the per-wave persist entirely. Waves wider than
        # ``_FUSE_MAX_BUCKETS`` keep the grouped two-action shape so the
        # fused plan's aggregate list stays bounded.
        wave_bounded = bool(commit_every and commit_every > 0)
        fuse = len(wave) <= _FUSE_MAX_BUCKETS
        obs = Observation()
        if fuse:
            exprs = []
            for b in wave:
                for v in _VERDICTS:
                    cond = (F.col("_bucket") == b) & (F.col(VERDICT_COL) == v)
                    exprs.append(
                        F.sum(cond.cast("long")).alias(f"__n_{b}_{v}"))
                    exprs.append(
                        F.sum(F.when(cond, F.size(VIOLATIONS_COL)))
                        .alias(f"__v_{b}_{v}"))
            ann = ann.observe(obs, *exprs)
        elif wave_bounded:
            ann.persist(StorageLevel.MEMORY_AND_DISK)

        # pass 1: violations for the wave's buckets — ONE append, one
        # scan, bucket-partitioned files so bucket filters prune at the
        # storage level (exploded_error_rows = res.violations over the
        # observed frame)
        viol = exploded_error_rows(ann, VIOLATIONS_COL, key_col, "_bucket") \
            .withColumnRenamed("_bucket", "bucket") \
            .withColumns(run_cols)
        fmt.write(viol, violations_table, mode="append",
                  partition_by=["bucket"])

        # pass 2: per-(bucket, verdict) metrics — from the observation
        # (fused) or a tiny hash-agg result (wide-wave fallback)
        if fuse:
            m = obs.get  # filled by the write's one action (TableFormat.write)
            agg = [
                {"bucket": b, "verdict": v,
                 "n_rows": m[f"__n_{b}_{v}"] or 0,
                 "n_violations": m[f"__v_{b}_{v}"] or 0}
                for b in wave for v in _VERDICTS
                if (m[f"__n_{b}_{v}"] or 0) > 0
            ]
        else:
            agg = (
                ann
                .groupBy(F.col("_bucket").alias("bucket"),
                         F.col(VERDICT_COL).alias("verdict"))
                .agg(
                    F.count(F.lit(1)).alias("n_rows"),
                    F.sum(F.size(VIOLATIONS_COL)).alias("n_violations"),
                )
                .collect()
            )
            if wave_bounded:
                ann.unpersist()
        metrics_rows = [
            {
                **meta,
                "bucket": int(r["bucket"]),
                "verdict": r["verdict"],
                "n_rows": int(r["n_rows"]),
                "n_violations": int(r["n_violations"]),
            }
            for r in agg
        ]
        # committed zero-row buckets still get a metrics row — without
        # one, partition_passfail cannot distinguish "validated, empty"
        # from "never validated", and an all-empty run would leave the
        # metrics table nonexistent entirely
        seen_buckets = {int(r["bucket"]) for r in agg}
        metrics_rows += [
            {**meta, "bucket": b, "verdict": "Valid",
             "n_rows": 0, "n_violations": 0}
            for b in wave if b not in seen_buckets
        ]
        if metrics_rows:
            _append_rows(fmt, spark, metrics_rows, METRICS_TABLE)

        # pass 3 (commit point): lineage rows for the wave's buckets —
        # buckets with zero rows are complete too
        rows_per_bucket: dict[int, int] = {}
        for r in agg:
            b = int(r["bucket"])
            rows_per_bucket[b] = rows_per_bucket.get(b, 0) + int(r["n_rows"])
            totals[r["verdict"]] = \
                totals.get(r["verdict"], 0) + int(r["n_rows"])
        lineage_rows = [
            {
                **meta,
                "bucket": b,
                "status": "complete",
                "n_rows": rows_per_bucket.get(b, 0),
            }
            for b in wave
        ]
        _append_rows(fmt, spark, lineage_rows, LINEAGE_TABLE)

    return {
        "run_id": run_id,
        "spec_fp": fp,
        "attempt_id": attempt_id,
        "processed_buckets": pending,
        "skipped_buckets": sorted(done),
        "totals": totals,
    }


def _append_rows(
    fmt: TableFormat, spark: SparkSession, rows: list[dict], table: str
) -> None:
    """Append bookkeeping ``rows`` (dicts of int and str values, all
    with the same keys) to ``table`` as one file. The rows travel as
    ONE JSON string literal that ``inline(from_json(...))`` expands in
    a one-partition relation: no Python worker starts (``createDataFrame``
    pickles local rows through them), the build costs a handful of py4j
    round trips whatever the row count, and no caller value is spliced
    into SQL text. The schema is the one ``createDataFrame`` inferred:
    columns sorted by name, ints as bigint, strings as string."""
    ddl = ", ".join(
        f"{k}: {'bigint' if isinstance(v, int) else 'string'}"
        for k, v in sorted(rows[0].items())
    )
    data = F.from_json(
        F.lit(json.dumps(rows)), f"array<struct<{ddl}>>",
        {"mode": "FAILFAST"},
    )
    fmt.write(spark.range(1, numPartitions=1).select(F.inline(data)),
              table, mode="append")


def _committed_pairs(spark: SparkSession, fmt: TableFormat) -> DataFrame:
    """(input_snapshot, spec_fp, n_buckets, bucket, attempt_id) pairs
    marked complete in lineage — the commit metadata readers join on.

    Exactly ONE attempt per (input_snapshot, spec_fp, n_buckets,
    bucket): two concurrent runs can both process and commit the same
    pending bucket (each attempt's data is complete and equivalent),
    and keeping both would double-count its rows downstream — pick the
    min attempt_id deterministically."""
    lineage = fmt.read(spark, LINEAGE_TABLE)
    return (
        lineage.where(F.col("status") == "complete")
        .groupBy("input_snapshot", "spec_fp", "n_buckets", "bucket")
        .agg(F.min("attempt_id").alias("attempt_id"))
    )


def read_violations(
    spark: SparkSession,
    fmt: TableFormat,
    violations_table: str = VIOLATIONS_TABLE,
) -> DataFrame:
    """Violation rows from COMMITTED attempts only — orphan rows from
    crashed attempts (appended but never marked complete in lineage)
    are filtered out by a broadcast semi-join on the commit metadata."""
    viol = fmt.read(spark, violations_table)
    keys = ["input_snapshot", "spec_fp", "n_buckets", "bucket",
            "attempt_id"]
    return viol.join(
        F.broadcast(_committed_pairs(spark, fmt)), keys, "left_semi"
    )


def partition_passfail(spark: SparkSession, fmt: TableFormat) -> DataFrame:
    """Per-partition pass/fail from the metrics table (no rescan);
    committed attempts only."""
    m = fmt.read(spark, METRICS_TABLE)
    keys = ["input_snapshot", "spec_fp", "n_buckets", "bucket",
            "attempt_id"]
    m = m.join(F.broadcast(_committed_pairs(spark, fmt)), keys, "left_semi")
    # n_buckets is part of the partition identity (the commit keys
    # include it): without it, re-validating the same snapshot+spec at
    # a different bucketing would merge both configs' bucket-3 rows
    # into one inflated row with a wrong `passed` flag
    return (
        m.groupBy(
            "run_id", "input_snapshot", "spec_fp", "n_buckets", "bucket"
        )
        .agg(
            F.sum("n_rows").alias("n_rows"),
            F.sum(
                F.when(F.col("verdict") != "Valid", F.col("n_rows"))
                .otherwise(F.lit(0))
            ).alias("n_bad_rows"),
            F.sum("n_violations").alias("n_violations"),
        )
        .withColumn("passed", F.col("n_bad_rows") == 0)
    )
