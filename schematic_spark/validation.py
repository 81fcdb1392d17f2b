"""Table-level validation entry point — the engine analog of
``parseAndValidateJson`` (``/root/reference/src/Data/Schematic/Validation.hs:285-299``)
run over every row of a DataFrame in one projection.

``validate(df, spec)`` →

* ``annotated``: input columns + ``_structural`` / ``_violations``
  (arrays of ``struct<path,error>``) + ``_verdict``
  (``Valid | DecodingError | ValidationError`` — 3-way, Validation.hs:30-34)
  + ``_decoding_error`` (first structural message, mirroring the
  reference's single-Text DecodingError payload);
* ``.violations(id_cols)``: exploded ``(…id, json_path, error)`` rows —
  the ErrorMap as a DataFrame;
* ``.summary()``: per-verdict counts;
* ``.partition_verdicts()``: per-partition pass/fail (north rule).

Scale notes: the verdict projection is shuffle-free and whole-stage
codegen'd; summary is a single hash-agg; partition verdicts aggregate on
``spark_partition_id()`` which never shuffles more than one row per
partition per verdict class.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .compiler import (
    SchemaMismatchError,
    check_conformance,
    compile_regex_preflight,
    compile_structural,
    compile_valid_mask,
    compile_violations,
    spark_type_for,
)
from .schema.ast import SNull, SObject, Schema, SOptional, render_path
from .schema.parser import parse_spec
from .schema.verifier import verify_schema

VERDICT_COL = "_verdict"
VIOLATIONS_COL = "_violations"
STRUCTURAL_COL = "_structural"
DECODING_ERROR_COL = "_decoding_error"


def as_schema(spec: Schema | dict | str) -> Schema:
    if isinstance(spec, Schema):
        return spec
    return parse_spec(spec)


@dataclass
class ValidationResult:
    annotated: DataFrame
    schema: SObject

    def valid_rows(self) -> DataFrame:
        """Rows whose verdict is Valid, output columns = input columns.

        Plan note (audited, Spark 4.1): the optimizer inlines the
        verdict tree into this Filter — unpreventable (alias inlining
        happens regardless of predicate determinism; barrier columns
        are pruned first). The inlined form is nonetheless the plan
        you'd want: the output projections are pruned away, so the
        validation evaluates ONCE per row inside the filter, the
        verdict CASE short-circuits valid rows after the cheap flat
        mask (evaluated at most twice), and the expensive HOF array
        trees run only on FAILING rows. Filtering on a recomputed
        valid-mask alone would be marginally cheaper but WRONG for
        raw-JSON results, whose verdict carries structural errors
        (malformed/type-failure) invisible to the mask."""
        cols = [
            c for c in self.annotated.columns
            if c not in (VERDICT_COL, VIOLATIONS_COL, STRUCTURAL_COL,
                         DECODING_ERROR_COL)
        ]
        return (
            self.annotated
            .where(F.col(VERDICT_COL) == "Valid")
            .select(*cols)
        )

    def violations(self, *id_cols: str) -> DataFrame:
        """Exploded violation rows ``(…id_cols, json_path, error)`` —
        constraint layer only (the ErrorMap, Validation.hs:26-28).

        explode_OUTER + a post-Generate null filter, NOT a
        ``size(...) > 0`` pre-filter: predicate pushdown would inline
        the entire compiled violations tree into that Filter below the
        projections (CLAUDE.md pushdown trap), re-evaluating the whole
        validation per row a second time. The isNotNull filter sits on
        the Generate's OUTPUT and cannot be pushed below it, so the
        violations array is computed exactly once per row. The pattern
        lives in :func:`exploded_error_rows`, which also takes the
        annotated frame of
        :func:`~schematic_spark.streaming.validate_stream`."""
        return exploded_error_rows(self.annotated, VIOLATIONS_COL,
                                   *id_cols)

    def structural_errors(self, *id_cols: str) -> DataFrame:
        return exploded_error_rows(self.annotated, STRUCTURAL_COL,
                                   *id_cols)

    def summary(self) -> DataFrame:
        """(verdict, n_rows, n_violations) — one hash-agg pass."""
        return (
            self.annotated
            .groupBy(F.col(VERDICT_COL).alias("verdict"))
            .agg(
                F.count(F.lit(1)).alias("n_rows"),
                F.sum(F.size(VIOLATIONS_COL)).alias("n_violations"),
            )
        )

    def partition_verdicts(self) -> DataFrame:
        """Per-input-partition pass/fail verdicts (north rule:
        per-partition pass/fail). ``passed`` = no row in the partition
        decodes or validates badly."""
        return (
            self.annotated
            .groupBy(F.spark_partition_id().alias("partition_id"))
            .agg(
                F.count(F.lit(1)).alias("n_rows"),
                F.sum((F.col(VERDICT_COL) != "Valid").cast("long"))
                 .alias("n_bad_rows"),
                F.sum(F.size(VIOLATIONS_COL)).alias("n_violations"),
                F.sum(F.size(STRUCTURAL_COL)).alias("n_structural"),
            )
            .withColumn("passed", F.col("n_bad_rows") == 0)
        )


def exploded_error_rows(
    annotated: DataFrame, array_col: str, *id_cols: str
) -> DataFrame:
    """``(…id_cols, json_path, error)`` rows from one (path, error)
    array column of an annotated frame, batch or streaming — the
    single copy of the pushdown-trap-safe pattern: explode_OUTER + a
    post-Generate null filter, never a ``size(...) > 0`` pre-filter
    (predicate pushdown would re-inline the whole compiled tree into
    the Filter below the projections and evaluate the validation a
    second time per row; the isNotNull filter sits on the Generate's
    OUTPUT and cannot be pushed below it)."""
    v = F.explode_outer(F.col(array_col)).alias("v")
    return (
        annotated
        .select(*[F.col(c) for c in id_cols], v)
        .where(F.col("v").isNotNull())
        .select(
            *id_cols,
            F.col("v.path").alias("json_path"),
            F.col("v.error").alias("error"),
        )
    )


def _preflight(schema: Schema) -> None:
    """The spec checks every validation entry runs while the query is
    built, before anything is compiled: a top-level object (TopLevel
    restriction, Schema.hs:592-595), satisfiable constraints
    (:class:`~schematic_spark.schema.verifier.UnsatisfiableSchema`
    otherwise) and regexes that compile (``ValueError`` otherwise, not
    a failed task mid-job)."""
    if not isinstance(schema, SObject):
        raise TypeError(
            "top-level spec must be an object (table row) — "
            "TopLevel restriction, Schema.hs:592-595"
        )
    verify_schema(schema)
    compile_regex_preflight(schema)


def _verdict_and_error(structural: Column, violations: Column) -> dict:
    """``_verdict`` and ``_decoding_error`` from the two error arrays:
    the 3-way verdict (Validation.hs:30-34) and the first structural
    message (the reference's single-Text DecodingError payload)."""
    return {
        VERDICT_COL: (
            F.when(F.size(structural) > 0, F.lit("DecodingError"))
            .when(F.size(violations) > 0, F.lit("ValidationError"))
            .otherwise(F.lit("Valid"))
        ),
        # try_element_at: null (not ANSI error) on empty structural array
        DECODING_ERROR_COL: F.try_element_at(structural, F.lit(1))["error"],
    }


def compile_verdict_columns(
    schema: SObject, row: Column | None = None
) -> dict[str, Column]:
    """The whole validation walk as four Columns over a row struct,
    after the same :func:`_preflight` as :func:`validate`. Exposed
    separately so callers can embed validation into larger plans (the
    versioned dispatch and the versioned raw-JSON parse) without
    re-validating. ``row`` defaults to a struct of the frame's
    top-level columns; pass any struct column (e.g. a ``from_json``
    result) to validate nested documents."""
    _preflight(schema)
    if row is None:
        row = F.struct(
            *[F.col(name).alias(name) for name in schema.field_names()]
        )
    empty_path = F.lit("")
    structural = compile_structural(schema, row, empty_path)
    violations = compile_violations(schema, row, empty_path)
    # self-contained expressions (no reference to output column names,
    # so callers may use any subset). WARNING: selecting several of
    # these in ONE projection evaluates the shared structural/violations
    # trees once PER REFERENCE — codegen subexpression elimination does
    # NOT dedupe across HOF lambdas (CLAUDE.md). Callers needing more
    # than the verdict should materialize the array columns first and
    # derive the rest from the columns, as validate() does.
    return {
        STRUCTURAL_COL: structural,
        VIOLATIONS_COL: violations,
        **_verdict_and_error(structural, violations),
    }


def validate(df: DataFrame, spec: Schema | dict | str) -> ValidationResult:
    """Validate every row of ``df`` against the spec in one projection.

    Spec columns the table lacks are added as typed nulls when the spec
    allows a null there (optional and null fields). Then the table
    schema must be able to carry the spec — the compile-time structural
    guarantee: :class:`SchemaMismatchError` lists every incompatibility
    (the analog of schematic's type error).
    """
    schema = as_schema(spec)
    _preflight(schema)
    present = set(df.columns)
    for name, fschema in schema.fields:
        if name not in present and isinstance(fschema, (SOptional, SNull)):
            df = df.withColumn(
                name, F.lit(None).cast(spark_type_for(fschema).simpleString())
            )
    problems = check_conformance(schema, df.schema)
    if problems:
        raise SchemaMismatchError(problems)
    reserved = {
        "_row_ok", STRUCTURAL_COL, VIOLATIONS_COL, VERDICT_COL,
        DECODING_ERROR_COL,
    } & set(df.columns)
    if reserved:
        raise ValueError(
            f"input columns collide with validation outputs: "
            f"{sorted(reserved)} — rename them before validating "
            f"(they would be silently overwritten)"
        )
    row = F.struct(*[F.col(n).alias(n) for n in schema.field_names()])
    empty_path = F.lit("")
    # valid-mask fast path: a flat predicate chain decides "no errors at
    # all" first; the expensive array/path-building trees run only on
    # rows that failed it (on mostly-valid data: predicates only)
    empty = F.array().cast("array<struct<path:string,error:string>>")
    mask = compile_valid_mask(schema, row)
    annotated = df.withColumn("_row_ok", mask)
    # two-stage projection: the expensive violation/structural trees are
    # materialized as columns first; verdict/decoding_error reference the
    # COLUMNS (not re-inlined trees — CollapseProject keeps non-cheap
    # multi-referenced producers separate, so each tree evaluates once)
    annotated = (
        annotated
        .withColumn(
            STRUCTURAL_COL,
            F.when(F.col("_row_ok"), empty).otherwise(
                compile_structural(schema, row, empty_path)
            ),
        )
        .withColumn(
            VIOLATIONS_COL,
            F.when(F.col("_row_ok"), empty).otherwise(
                compile_violations(schema, row, empty_path)
            ),
        )
        .drop("_row_ok")
    )
    annotated = annotated.withColumns(
        _verdict_and_error(F.col(STRUCTURAL_COL), F.col(VIOLATIONS_COL))
    )
    return ValidationResult(annotated=annotated, schema=schema)
