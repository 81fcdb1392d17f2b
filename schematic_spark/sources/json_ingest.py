"""Raw-JSON ingest — the engine analog of ``decodeAndValidateJson``
(``/root/reference/src/Data/Schematic.hs:78-85``): bytes → decode →
structural parse → validate, all three layers distinguishable and
layered exactly like the reference:

* **decode** (aeson's ``decode``): syntactic failure and non-object top
  levels only — ``json_object_keys`` is NULL for both — reported with
  the reference's exact message ``"malformed json"``
  (Data/Schematic.hs:84);
* **structural parse**: a field whose raw token is PRESENT but whose
  typed ``from_json`` slot parsed NULL failed that field's type — the
  reference's ``expected Number``/``expected Array``/… DecodingError at
  the field path (Schema.hs:525-567, mirrored by interpret.py:101-126);
  missing required fields ride the normal structural layer. One
  JSON-only refinement the typed-table path cannot make: a *missing
  key* is distinguishable from an explicit ``null`` via
  ``json_object_keys``. That matters for required ``SNull`` fields
  (Schema.hs:530-532: only the literal ``null`` parses): missing key →
  missing-field DecodingError, explicit ``null`` → fine, any other
  value → ``expected Null``. Optional fields keep the collapsed
  missing/null semantics (Schema.hs:561-563).

Documented leniencies (both directions of the Jackson parser, shared
with the versioned entry point): JSON numbers COERCE into text fields
("5" for 5 — from_json StringType captures any scalar), and a
type-mismatched field nested INSIDE a struct nulls only that inner
field (outer struct survives; a required inner field then reports
missing-field instead of expected-Kind, an optional one parses None).

One decoder, :func:`_decode`, serves both raw-JSON entry points:
:func:`validate_json_strings` here and
``migrations.validate_versioned_json_strings``.
"""

from __future__ import annotations

import re as _re

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import StructField, StructType

from ..compiler import (
    UNION_NO_MATCH,
    VIOLATION_DDL,
    _compact,
    _kind_label,
    _union_no_match_possible,
    _viol,
    spark_type_for,
)
from ..schema.ast import (
    SArray,
    SBoolean,
    SNull,
    SNumber,
    SObject,
    SOptional,
    SText,
    SUnion,
    missing_field_message,
)
from ..validation import (
    STRUCTURAL_COL,
    VIOLATIONS_COL,
    ValidationResult,
    _verdict_and_error,
    as_schema,
    validate,
)

MALFORMED = "malformed json"

_SIMPLE_KEY = _re.compile(r"^[A-Za-z_][A-Za-z0-9_]*$")


def _json_path(name: str) -> str:
    return f"$.{name}" if _SIMPLE_KEY.match(name) else f"$['{name}']"


# ---------------------------------------------------------------------------
# Raw-JSON unions — kind-faithful decode via the VARIANT type
# ---------------------------------------------------------------------------
#
# ``from_json`` cannot carry a union: the alt_i struct encoding never
# appears in raw JSON (every branch would parse null → spurious "empty
# union"), and its StringType slot coerces numbers to strings, losing
# the JSON kind the left-biased parse dispatches on (Schema.hs:514-519).
# ``try_parse_json`` → ``schema_of_variant`` recovers the exact kind
# (STRING/BIGINT/DECIMAL…/BOOLEAN/ARRAY<…>/OBJECT<…>/VOID, NULL for a
# missing key), so a union whose alternatives occupy DISTINCT JSON
# kinds decodes exactly: the kind picks the branch, ``try_variant_get``
# converts the payload to the branch's Spark type, and the standard
# struct-of-branches machinery (no-match error, branch validation)
# takes over unchanged.

_KIND_CLASS = {
    SText: "text", SNumber: "number", SBoolean: "boolean",
    SArray: "array", SObject: "object",
}


def _variant_kind_pred(alt, kind_col):
    if isinstance(alt, SText):
        return kind_col == "STRING"
    if isinstance(alt, SNumber):
        return kind_col.isin("BIGINT", "DOUBLE", "FLOAT") \
            | kind_col.startswith("DECIMAL")
    if isinstance(alt, SBoolean):
        return kind_col == "BOOLEAN"
    if isinstance(alt, SArray):
        return kind_col.startswith("ARRAY")
    if isinstance(alt, SObject):
        return kind_col.startswith("OBJECT")
    raise TypeError(f"no JSON kind for union alternative {alt!r}")


def _contains_default_union(schema) -> bool:
    """True if the subtree holds an alt_i-encoded union — the one shape
    ``from_json`` cannot carry (named/tagged unions are plain structs
    whose field names match the raw JSON keys, so they parse fine at
    any depth)."""
    if isinstance(schema, SUnion):
        if schema.branch_fields is None:
            return True
        return any(
            _contains_default_union(a) for a in schema.alternatives
        )
    if isinstance(schema, SObject):
        return any(_contains_default_union(s) for _, s in schema.fields)
    if isinstance(schema, SArray):
        return _contains_default_union(schema.item)
    if isinstance(schema, SOptional):
        return _contains_default_union(schema.inner)
    return False


def check_raw_union_support(schema: SObject) -> None:
    """Raw-JSON ingest decodes default (alt_i-encoded) unions as
    TOP-LEVEL fields whose alternatives occupy distinct JSON kinds
    (text/number/boolean/array/object) — the kind picks the branch.
    Named/tagged (``branch_fields``) unions ride ``from_json`` directly
    at any depth. What remains unsupported — default unions below top
    level, SNull/SOptional/SUnion alternatives, two same-kind
    alternatives (e.g. two object shapes) — raises here with a pointer
    to the typed-table path rather than mis-validating."""
    for name, fs in schema.fields:
        target = fs.inner if isinstance(fs, SOptional) else fs
        if isinstance(target, SUnion) and target.branch_fields is None:
            if target.tag_field is not None:
                raise NotImplementedError(
                    f"raw-JSON union field {name!r}: a tag_field union "
                    f"needs branch_fields (the default alt_i payload "
                    f"names have no JSON counterpart) — declare "
                    f"branch_fields or use the typed-table path"
                )
            kinds = []
            for alt in target.alternatives:
                cls = _KIND_CLASS.get(type(alt))
                if cls is None:
                    raise NotImplementedError(
                        f"raw-JSON union field {name!r}: alternative "
                        f"{type(alt).__name__} unsupported (use the "
                        f"typed-table path, or SOptional for nullability)"
                    )
                if _contains_default_union(alt):
                    raise NotImplementedError(
                        f"raw-JSON union field {name!r}: nested default-"
                        f"encoding unions inside a branch are unsupported"
                    )
                kinds.append(cls)
            if len(set(kinds)) != len(kinds):
                raise NotImplementedError(
                    f"raw-JSON union field {name!r}: two alternatives "
                    f"share JSON kind "
                    f"{[k for k in kinds if kinds.count(k) > 1][0]!r}; "
                    f"the kind-dispatch decode cannot disambiguate — "
                    f"use the typed-table path"
                )
        elif _contains_default_union(target):
            raise NotImplementedError(
                f"field {name!r}: default-encoding (alt_i) unions below "
                f"the top level are not supported by raw-JSON ingest "
                f"(declare branch_fields/tag_field, or use the "
                f"typed-table path)"
            )


def with_raw_tokens(df: DataFrame, json_col: str, names) -> DataFrame:
    """Add one ``_raw__<name>`` string column per top-level field name:
    the field's raw JSON token text, NULL for a missing key, a literal
    ``null`` value, or a malformed document. One ``json_tuple`` parse
    serves every name (a single streaming pass per row); falls back to
    per-name ``get_json_object`` only if the positional c0..cN output
    names would collide with existing columns."""
    names = list(names)
    if not names:
        return df
    taken = set(df.columns)
    if any(f"c{i}" in taken for i in range(len(names))):
        for n in names:
            df = df.withColumn(
                f"_raw__{n}",
                F.get_json_object(F.col(json_col), _json_path(n)),
            )
        return df
    df = df.select("*", F.json_tuple(F.col(json_col), *names))
    for i, n in enumerate(names):
        df = df.withColumnRenamed(f"c{i}", f"_raw__{n}")
    return df


def variant_union_carrier(variant_col, kind_col, name: str, fs):
    """The ``alt_i`` struct carrier for one variant-decoded top-level
    union field: branch i holds the payload iff the JSON kind matches
    alternative i (kinds are distinct, so at most one branch fires).
    An SOptional wrap maps a missing key (kind NULL) and an explicit
    null (VOID) to None. The one place the kind-dispatch leniencies
    live; :func:`_decode` is its caller."""
    union = fs.inner if isinstance(fs, SOptional) else fs
    carrier = F.struct(*[
        F.when(
            _variant_kind_pred(alt, kind_col),
            F.try_variant_get(
                variant_col, _json_path(name),
                spark_type_for(alt).simpleString(),
            ),
        ).alias(f"alt_{i}")
        for i, alt in enumerate(union.alternatives)
    ])
    if isinstance(fs, SOptional):
        carrier = F.when(
            kind_col.isNotNull() & (kind_col != "VOID"), carrier
        )
    return carrier


def is_variant_union(fs) -> bool:
    """True for fields that must decode via the variant kind dispatch:
    a default-encoding (no ``branch_fields``, no ``tag_field``) union,
    possibly Optional-wrapped. Named unions ride ``from_json``; a
    tag_field union without branch_fields is rejected up front
    (check_raw_union_support) — the kind dispatch would ignore its tag
    and the alt_i payload names have no raw-JSON counterpart."""
    t = fs.inner if isinstance(fs, SOptional) else fs
    return (
        isinstance(t, SUnion)
        and t.branch_fields is None
        and t.tag_field is None
    )


def _mismatch_message(fs) -> str | None:
    """The DecodingError for a field whose raw token is present but
    whose typed ``from_json`` slot parsed NULL: the reference's
    ``expected <Kind>`` (interpret.py:101-126). None where the
    compiler's union no-match machinery owns the case: a REQUIRED
    union that can no-match. An optional union needs the check (the
    optional would absorb the nulled slot as absent: a silent
    false-Valid), and so does a branch_fields union with an SNull
    alternative (its all-null struct IS the SNull match)."""
    target = fs.inner if isinstance(fs, SOptional) else fs
    if not isinstance(target, SUnion):
        return f"expected {_kind_label(target)}"
    if _union_no_match_possible(target) and not isinstance(fs, SOptional):
        return None
    return UNION_NO_MATCH


def _decode(df: DataFrame, json_col: str, schemas: list[SObject]):
    """Decode the raw-JSON column ONCE for every schema — the one
    raw-JSON decoder behind both raw-JSON entry points.

    Returns ``(decoded, malformed, per_schema)``: ``decoded`` is ``df``
    plus the shared decode columns, ``malformed`` is the purely
    syntactic check (``json_object_keys`` is NULL for invalid JSON and
    non-object top levels), and ``per_schema`` holds one
    ``(fields, errors)`` pair per schema: the top-level field Columns in
    schema field order (each aliased to its name) and the array of that
    schema's decode errors, SNull cells first, then typed-slot
    mismatches.

    Shared columns, each added once:

    * one ``json_tuple`` extracting every field's raw token (NULL =
      missing key, literal null, or malformed document);
    * ``_keys`` (``json_object_keys``): the malformed check and SNull
      key presence;
    * one ``from_json`` per field-type-compatible group of schemas: a
      chain of AddKey/DeleteKey revisions is one group, a type-changing
      ``Update`` opens a second;
    * for default-encoding unions, one ``try_parse_json`` plus one kind
      and one carrier column per distinct field, MATERIALIZED so later
      expressions reference columns, never re-inlined parse trees
      (CLAUDE.md CSE rule).

    Required-SNull fields carry no data and never enter the parse
    struct (NullType cannot ride ``from_json``): missing key → the
    missing-field error, explicit ``null`` → fine, any other value →
    ``expected Null``. A field whose raw token is present but whose
    typed slot parsed NULL failed THAT schema's type."""
    groups: list[dict] = []       # field name -> Spark type
    group_of: list[int] = []
    tokens: list[str] = []
    vunions: list[tuple] = []
    for schema in schemas:
        check_raw_union_support(schema)
        data = {}
        for n, fs in schema.fields:
            if is_variant_union(fs):
                if (n, fs) not in vunions:
                    vunions.append((n, fs))
                continue
            if n not in tokens:
                tokens.append(n)
            if not isinstance(fs, SNull):
                data[n] = spark_type_for(fs)
        gi = next(
            (j for j, g in enumerate(groups)
             if all(g.get(n, t) == t for n, t in data.items())),
            len(groups),
        )
        if gi == len(groups):
            groups.append({})
        groups[gi].update(data)
        group_of.append(gi)

    decoded = with_raw_tokens(df, json_col, tokens)
    decoded = decoded.withColumn(
        "_keys", F.json_object_keys(F.col(json_col))
    )
    for j, g in enumerate(groups):
        if g:  # a schema with no parseable fields (all SNull/union)
            st = StructType([StructField(n, t, True) for n, t in g.items()])
            decoded = decoded.withColumn(
                f"_doc__g{j}",
                F.from_json(F.col(json_col), st, {"mode": "PERMISSIVE"}),
            )
    if vunions:
        decoded = decoded.withColumn(
            "_variant", F.try_parse_json(F.col(json_col))
        )
        for n in dict.fromkeys(n for n, _ in vunions):
            decoded = decoded.withColumn(
                f"_kind__{n}",
                F.schema_of_variant(F.try_variant_get(
                    F.col("_variant"), _json_path(n), "variant"
                )),
            )
        for i, (n, fs) in enumerate(vunions):
            decoded = decoded.withColumn(f"_u__{i}", variant_union_carrier(
                F.col("_variant"), F.col(f"_kind__{n}"), n, fs
            ))

    per_schema = []
    for schema, gi in zip(schemas, group_of):
        doc = F.col(f"_doc__g{gi}")
        fields, null_cells, mismatch_cells = [], [], []
        for n, fs in schema.fields:
            raw = F.col(f"_raw__{n}")
            if isinstance(fs, SNull):
                present = F.coalesce(
                    F.array_contains(F.col("_keys"), n), F.lit(False)
                )
                null_cells.append(F.when(
                    ~present,
                    _viol(F.lit(""), missing_field_message(n, SNull())),
                ))
                null_cells.append(F.when(
                    present & raw.isNotNull(),
                    _viol(F.lit(f".{n}"), "expected Null"),
                ))
                fields.append(F.lit(None).cast("void").alias(n))
            elif is_variant_union(fs):
                fields.append(F.col(f"_u__{vunions.index((n, fs))}").alias(n))
            else:
                message = _mismatch_message(fs)
                if message is not None:
                    mismatch_cells.append(F.when(
                        doc[n].isNull() & raw.isNotNull(),
                        _viol(F.lit(f".{n}"), message),
                    ))
                fields.append(doc[n].alias(n))
        errors = _compact(null_cells + mismatch_cells).cast(VIOLATION_DDL)
        per_schema.append((fields, errors))
    malformed = F.col(json_col).isNull() | F.col("_keys").isNull()
    return decoded, malformed, per_schema


def validate_json_strings(
    df: DataFrame, json_col: str, spec, *, keep_raw: bool = False
) -> ValidationResult:
    """Parse a string column of JSON documents against the spec and
    validate. Malformed documents get verdict DecodingError with
    message ``"malformed json"``; otherwise the structural errors are
    the decode errors of :func:`_decode` followed by those of
    :func:`~schematic_spark.validation.validate`, run over the decoded
    fields, and the verdict follows the standard 3-way rule."""
    schema = as_schema(spec)
    if not isinstance(schema, SObject):
        raise TypeError("top-level spec must be an object")
    decoded, malformed, [(fields, errors)] = _decode(df, json_col, [schema])
    passthrough = [c for c in df.columns if c != json_col] + (
        [json_col] if keep_raw else []
    )
    # the annotated frame lists typed fields, then variant unions, then
    # SNull fields (a stable sort of the schema-ordered field Columns)
    kinds = [int(is_variant_union(fs)) + 2 * isinstance(fs, SNull)
             for _, fs in schema.fields]
    fields = [c for _, c in sorted(zip(kinds, fields), key=lambda t: t[0])]
    flat = decoded.select(
        *[F.col(c) for c in passthrough],
        malformed.alias("_malformed"),
        errors.alias("_decode_errs"),
        *fields,
    )
    ann = validate(flat, schema).annotated
    ann = ann.withColumn(
        STRUCTURAL_COL,
        F.when(
            F.col("_malformed"), F.array(_viol(F.lit(""), MALFORMED))
        ).otherwise(F.concat(F.col("_decode_errs"), F.col(STRUCTURAL_COL))),
    )
    ann = ann.withColumns(
        _verdict_and_error(F.col(STRUCTURAL_COL), F.col(VIOLATIONS_COL))
    ).drop("_malformed", "_decode_errs")
    return ValidationResult(annotated=ann, schema=schema)
