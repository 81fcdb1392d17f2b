"""Schema AST → Catalyst expressions.

The reference validates one document at a time with a recursive
interpreter (``/root/reference/src/Data/Schematic/Validation.hs:193-244``).
This engine inverts the loop to columnar: the whole validation walk is
compiled **once** on the driver into a single ``select`` projection —
one boolean predicate per (column × constraint), nested arrays handled
with higher-order functions (``transform``/``flatten``) so everything
stays inside whole-stage codegen. No shuffle, no per-row Python.

Cost model at 100 TB scale:
  * paths and error messages are built inside ``when(violated, …)``
    guards, so string concatenation only materializes for *violating*
    elements — the happy path evaluates predicates only;
  * only the columns the spec mentions are referenced, so Catalyst
    prunes the parquet/Iceberg scan to exactly those columns.
"""

from __future__ import annotations

import operator
import re

from pyspark.errors import IllegalArgumentException
from pyspark.sql import Column, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    BooleanType,
    DataType,
    DoubleType,
    NullType,
    NumericType,
    StringType,
    StructField,
    StructType,
)

from .schema.ast import (
    AEq,
    AGe,
    AGt,
    ALe,
    ALt,
    ArrayConstraint,
    Constraint,
    NEq,
    NGe,
    NGt,
    NLe,
    NLt,
    SArray,
    SBoolean,
    Schema,
    SNull,
    SNumber,
    SObject,
    SOptional,
    SText,
    SUnion,
    TEnum,
    TEq,
    TextConstraint,
    TGe,
    TGt,
    TLe,
    TLt,
    TRegex,
    missing_field_message,
    translate_posix_classes,
)

VIOLATION_DDL = "array<struct<path:string,error:string>>"


def _empty_violations() -> Column:
    return F.array().cast(VIOLATION_DDL)


def _viol(path: Column, message: str) -> Column:
    return F.struct(path.alias("path"), F.lit(message).alias("error"))


def _compact(cells: list[Column]) -> Column:
    """array of optional violation structs → dense violations array."""
    if not cells:
        return _empty_violations()
    return F.array_compact(F.array(*cells))


def _concat_all(arrays: list[Column]) -> Column:
    arrays = [a for a in arrays if a is not None]
    if not arrays:
        return _empty_violations()
    if len(arrays) == 1:
        return arrays[0]
    return F.concat(*arrays)


# ---------------------------------------------------------------------------
# Constraint predicates (the §2.1 operator table)
# ---------------------------------------------------------------------------

_COMPARE = {
    TEq: operator.eq, TLt: operator.lt, TLe: operator.le,
    TGt: operator.gt, TGe: operator.ge,
    NEq: operator.eq, NLt: operator.lt, NLe: operator.le,
    NGt: operator.gt, NGe: operator.ge,
    AEq: operator.eq, ALt: operator.lt, ALe: operator.le,
    AGt: operator.gt, AGe: operator.ge,
}


def constraint_predicate(c: Constraint, value: Column) -> Column:
    """THE Catalyst predicate of one constraint: true when ``value``
    satisfies ``c``, null when ``value`` is null. Both the violation
    cells and the valid mask are built from it, so the two can never
    disagree about a row (a mask that passes a violating row reports it
    Valid)."""
    if isinstance(c, TRegex):
        # unanchored search = matchTest
        return value.rlike(translate_posix_classes(c.pattern))
    if isinstance(c, TEnum):
        return value.isin(*c.values) if c.values else F.lit(False)
    compare = _COMPARE.get(type(c))
    if compare is None:
        raise TypeError(f"unknown constraint {c!r}")
    if isinstance(c, TextConstraint):
        value = F.length(value)  # codepoint length
    elif isinstance(c, ArrayConstraint):
        value = F.size(value)
    return compare(value, F.lit(c.n))


def _violation_cells(constraints, value: Column, path: Column) -> Column:
    # null value → predicate null → when() falls through → no violation
    # cell (structural layer reports the null; mirrors parse-before-validate)
    return _compact([
        F.when(~constraint_predicate(c, value), _viol(path, c.message()))
        for c in constraints
    ])


# ---------------------------------------------------------------------------
# Violations (ValidationError layer) — Validation.hs:193-244 columnar
# ---------------------------------------------------------------------------

def compile_violations(schema: Schema, value: Column, path: Column) -> Column:
    """array<struct<path,error>> of all constraint violations in the
    subtree rooted at ``value``. Never null. Accumulates everything
    (monoidal ErrorMap semantics — Validation.hs:26-28)."""
    if isinstance(schema, (SText, SNumber)):
        return _violation_cells(schema.constraints, value, path)
    if isinstance(schema, (SBoolean, SNull)):
        return _empty_violations()  # vacuously valid — Validation.hs:217-218
    if isinstance(schema, SOptional):
        # Nothing short-circuits valid — Validation.hs:231-234
        return F.when(value.isNull(), _empty_violations()).otherwise(
            compile_violations(schema.inner, value, path)
        )
    if isinstance(schema, SArray):
        own = _violation_cells(schema.constraints, value, path)
        elem = _elem_violations(schema.item, value, path)
        combined = _concat_all([own, elem]) if elem is not None else own
        return F.when(value.isNull(), _empty_violations()).otherwise(combined)
    if isinstance(schema, SObject):
        parts = []
        for name, fschema in schema.fields:
            fpath = F.concat(path, F.lit("." + name))
            parts.append(compile_violations(fschema, value[name], fpath))
        body = _concat_all(parts)
        return F.when(value.isNull(), _empty_violations()).otherwise(body)
    if isinstance(schema, SUnion):
        if not schema.validate_branches:
            # reference parity: union validation is a NO-OP (Validation.hs:244)
            return _empty_violations()
        # opt-in: validate the FIRST matched branch's constraints (the
        # interpreter's validate_unions twin) — a when-chain keyed on the
        # left-biased first matched branch
        return _union_branch_cascade(
            schema, value,
            lambda alt, payload: compile_violations(alt, payload, path),
        )
    raise TypeError(f"unknown schema node {schema!r}")


def _has_any_constraint(schema: Schema) -> bool:
    if isinstance(schema, (SText, SNumber)):
        return bool(schema.constraints)
    if isinstance(schema, SArray):
        return bool(schema.constraints) or _has_any_constraint(schema.item)
    if isinstance(schema, SObject):
        return any(_has_any_constraint(s) for _, s in schema.fields)
    if isinstance(schema, SOptional):
        return _has_any_constraint(schema.inner)
    if isinstance(schema, SUnion) and schema.validate_branches:
        return any(_has_any_constraint(a) for a in schema.alternatives)
    return False


def _elem_violations(item: Schema, arr: Column, path: Column) -> Column | None:
    """Per-element descent: ``transform(arr, (x,i) -> …)`` + ``flatten``.
    Skipped entirely (None) when the element schema is constraint-free —
    no point building empty arrays per element."""
    if not _has_any_constraint(item):
        return None
    return F.flatten(
        F.transform(
            arr,
            lambda x, i: compile_violations(
                item,
                x,
                F.concat(path, F.lit("["), i.cast("string"), F.lit("]")),
            ),
        )
    )


# ---------------------------------------------------------------------------
# Structural errors (DecodingError layer) — Schema.hs:525-567 columnar
# ---------------------------------------------------------------------------

UNION_NO_MATCH = "empty union"  # Schema.hs:515 — the alternative chain's
# terminal failure message when no union branch matches


def _null_tolerant(schema: Schema) -> bool:
    """True for positions where a null is not itself a structural
    error: optional and null nodes accept it, and a union reports its
    own no-match."""
    return isinstance(schema, (SOptional, SNull, SUnion))


def structural_possible(schema: Schema) -> bool:
    """True when the subtree can produce structural (decode-layer)
    errors — i.e. :func:`_structural_child` returns a non-None column.

    This is THE shared predicate for both the structural compiler's
    descent decisions and the valid-mask compiler, so the two can never
    disagree (round-1 bug: an array item of SOptional(SObject) was
    descended by the structural compiler but not by the mask, producing
    a silent false-Valid)."""
    if isinstance(schema, SOptional):
        return structural_possible(schema.inner)
    if isinstance(schema, SObject):
        return True
    if isinstance(schema, SArray):
        return (
            not _null_tolerant(schema.item)
            or structural_possible(schema.item)
        )
    if isinstance(schema, SUnion):
        return _union_no_match_possible(schema) or any(
            structural_possible(a) for a in schema.alternatives
        )
    return False


def _branch_col(union: SUnion, value: Column, i: int) -> Column:
    """Payload column of alternative ``i`` under the union's encoding
    (``alt_i`` by default, a named field when ``branch_fields`` set)."""
    return value[union.branch_field(i)]


def _branch_matched(union: SUnion, value: Column, i: int) -> Column:
    """Branch-commit predicate: explicit tag equality under the
    tag-column encoding, payload non-nullness otherwise. Null-safe so a
    null tag (or null struct) matches nothing."""
    if union.tag_field is not None:
        return value[union.tag_field].eqNullSafe(F.lit(union.tag_value(i)))
    return _branch_col(union, value, i).isNotNull()


def _union_no_match_possible(union: SUnion) -> bool:
    """Tag encodings can always no-match (unknown/null tag); the
    branch-nullability encodings can't when an SNull alternative
    swallows the all-null case."""
    if union.tag_field is not None:
        return True
    return not any(isinstance(a, SNull) for a in union.alternatives)


def _union_branch_cascade(union: SUnion, value: Column, fn) -> Column:
    """Left-biased first-matched-branch when-chain over the non-SNull
    alternatives; ``fn(alt, payload) -> Column`` produces the branch's
    violations array. Under the tag encoding a matched branch with a
    null payload yields no entry here (the structural layer reports the
    missing payload)."""
    expr = _empty_violations()
    for i in range(len(union.alternatives) - 1, -1, -1):
        alt = union.alternatives[i]
        if isinstance(alt, SNull):
            continue
        payload = _branch_col(union, value, i)
        cond = _branch_matched(union, value, i)
        if union.tag_field is not None:
            cond = cond & payload.isNotNull()
        expr = F.when(cond, fn(alt, payload)).otherwise(expr)
    return expr


def _union_matched(union: SUnion, value: Column) -> Column:
    """True when some alternative structurally matches — the columnar
    analog of the left-biased alternative parse succeeding
    (Schema.hs:514-519). Tag encoding: the tag equals some branch's
    tag value. Branch-nullability encodings: some branch column is
    non-null; an SNull alternative matches the everything-null case
    (explicit null / absent)."""
    if union.tag_field is not None:
        matched = F.lit(False)
        for i in range(len(union.alternatives)):
            matched = matched | _branch_matched(union, value, i)
        return matched
    if any(isinstance(a, SNull) for a in union.alternatives):
        return F.lit(True)
    matched = F.lit(False)
    for i, alt in enumerate(union.alternatives):
        matched = matched | _branch_col(union, value, i).isNotNull()
    return matched


def _union_structural(union: SUnion, value: Column, path: Column) -> Column:
    """No-match DecodingError + structural descent into the first
    matched branch (the branch the reference's parse would have
    committed to). Under the tag encoding the tag COMMITS the branch,
    so a matched branch with a null payload field is itself a
    structural (missing-field) error."""
    parts: list[Column] = []
    if _union_no_match_possible(union):
        parts.append(_compact([
            F.when(~_union_matched(union, value),
                   _viol(path, UNION_NO_MATCH))
        ]))
    if union.tag_field is not None:
        cells = []
        for i, alt in enumerate(union.alternatives):
            if isinstance(alt, SNull):
                continue
            cells.append(F.when(
                _branch_matched(union, value, i)
                & _branch_col(union, value, i).isNull(),
                _viol(path, missing_field_message(
                    union.branch_field(i), alt)),
            ))
        if cells:
            parts.append(_compact(cells))
    if any(
        structural_possible(a) for a in union.alternatives
        if not isinstance(a, SNull)
    ):
        def _branch_structural(alt, payload):
            child = _structural_child(alt, payload, path)
            return child if child is not None else _empty_violations()

        parts.append(_union_branch_cascade(union, value, _branch_structural))
    return _concat_all(parts)


def compile_structural(schema: Schema, value: Column, path: Column) -> Column:
    """array<struct<path,error>> of structural (decode-layer) errors:
    nulls in required positions. In a typed table, "missing key" and
    "null" are both column-null; for required fields both map to the
    reference's missing-field DecodingError (Schema.hs:536-566).

    Unlike the reference's fail-fast aeson parse, we report all
    structural errors per row (superset; verdict logic uses element 1
    for the reference's single-message DecodingError)."""
    if isinstance(schema, SObject):
        cells: list[Column] = []
        children: list[Column] = []
        for name, fschema in schema.fields:
            fv = value[name]
            fpath = F.concat(path, F.lit("." + name))
            if not _null_tolerant(fschema):
                cells.append(
                    F.when(
                        fv.isNull(),
                        _viol(path, missing_field_message(name, fschema)),
                    )
                )
            child = _structural_child(fschema, fv, fpath)
            if child is not None:
                children.append(child)
        body = _concat_all([_compact(cells)] + children)
        return F.when(value.isNull(), _empty_violations()).otherwise(body)
    child = _structural_child(schema, value, path)
    return child if child is not None else _empty_violations()


def _structural_child(schema: Schema, value: Column, path: Column) -> Column | None:
    """Structural errors strictly below a field (parent null already
    handled by the owner). Returns None when the subtree can't produce
    structural errors (pure scalars)."""
    if isinstance(schema, SOptional):
        inner = _structural_child(schema.inner, value, path)
        if inner is None:
            return None
        return F.when(value.isNull(), _empty_violations()).otherwise(inner)
    if isinstance(schema, SObject):
        return compile_structural(schema, value, path)
    if isinstance(schema, SUnion):
        if not structural_possible(schema):
            return None
        return _union_structural(schema, value, path)
    if isinstance(schema, SArray):
        elem_required = not _null_tolerant(schema.item)
        elem_has_struct = structural_possible(schema.item)
        if not elem_required and not elem_has_struct:
            return None

        def per_elem(x: Column, i: Column) -> Column:
            ep = F.concat(path, F.lit("["), i.cast("string"), F.lit("]"))
            parts: list[Column] = []
            if elem_required:
                parts.append(_compact([
                    F.when(
                        x.isNull(),
                        _viol(ep, f"expected {_kind_label(schema.item)}"),
                    )
                ]))
            child = _structural_child(schema.item, x, ep)
            if child is not None:
                if isinstance(schema.item, SUnion):
                    # union handles null itself: all-branches-null IS the
                    # no-match DecodingError, don't suppress it
                    parts.append(child)
                else:
                    parts.append(
                        F.when(x.isNull(), _empty_violations())
                        .otherwise(child)
                    )
            return _concat_all(parts)

        return F.when(value.isNull(), _empty_violations()).otherwise(
            F.flatten(F.transform(value, per_elem))
        )
    return None


_KIND_LABELS = {
    "text": "String", "number": "Number", "boolean": "Boolean",
    "null": "Null", "array": "Array", "object": "Object",
    "union": "Union", "optional": "Optional",
}


def _kind_label(schema: Schema) -> str:
    return _KIND_LABELS[schema.kind]


# ---------------------------------------------------------------------------
# Pre-flight schema conformance — the compile-time structural guarantee
# ---------------------------------------------------------------------------

class SchemaMismatchError(TypeError):
    """Table shape can't carry the spec — the analog of the reference's
    compile-time structural guarantee (SURVEY §1.2). Lists every
    incompatibility."""

    def __init__(self, problems: list[str]) -> None:
        super().__init__("; ".join(problems))
        self.problems = problems


def spark_type_for(schema: Schema) -> DataType:
    """Canonical Spark type for a schema node (used for synthesis and
    docs; conformance checking is structural, see :func:`check_conformance`)."""
    if isinstance(schema, SText):
        return StringType()
    if isinstance(schema, SNumber):
        return DoubleType()
    if isinstance(schema, SBoolean):
        return BooleanType()
    if isinstance(schema, SNull):
        return NullType()
    if isinstance(schema, SArray):
        return ArrayType(spark_type_for(schema.item))
    if isinstance(schema, SObject):
        return StructType([
            StructField(n, spark_type_for(s), True)
            for n, s in schema.fields
        ])
    if isinstance(schema, SOptional):
        return spark_type_for(schema.inner)
    if isinstance(schema, SUnion):
        fields = []
        if schema.tag_field is not None:
            fields.append(StructField(schema.tag_field, StringType(), True))
        for i, a in enumerate(schema.alternatives):
            if isinstance(a, SNull) and schema.branch_fields is not None:
                continue  # named encodings carry no payload for null branches
            fields.append(
                StructField(schema.branch_field(i), spark_type_for(a), True)
            )
        return StructType(fields)
    raise TypeError(f"unknown schema node {schema!r}")


def check_conformance(
    schema: SObject, df_schema: StructType, path: str = "$"
) -> list[str]:
    """Structural compatibility of a DataFrame schema with a spec.
    Extra DataFrame columns are fine (pass-through); spec fields must
    exist with a compatible type. Returns problem list (empty = ok)."""
    problems: list[str] = []
    by_name = {f.name: f for f in df_schema.fields}
    for name, fschema in schema.fields:
        f = by_name.get(name)
        fpath = f"{path}.{name}"
        if f is None:
            if not isinstance(fschema, (SOptional, SNull)):
                problems.append(f"{fpath}: required column missing")
            continue
        problems.extend(_type_conforms(fschema, f.dataType, fpath))
    return problems


def _type_conforms(schema: Schema, dt: DataType, path: str) -> list[str]:
    if isinstance(schema, SOptional):
        return _type_conforms(schema.inner, dt, path)
    if isinstance(schema, SNull):
        return []  # any type can hold nulls
    if isinstance(schema, SUnion):
        # The carrier is a struct of branch columns (alt_i by default,
        # named fields via branch_fields, plus a string tag column via
        # tag_field). The compilers reference EVERY non-SNull branch
        # column and the tag column unconditionally, so each must be
        # present — an absent one would be an AnalysisException
        # mid-plan; fail at preflight with an actionable message.
        if not isinstance(dt, StructType):
            return [
                f"{path}: union columns must be a struct of branch "
                f"columns (alt_0…/branch_fields); got {dt.simpleString()}"
            ]
        problems: list[str] = []
        by_name = {f.name: f for f in dt.fields}
        expected = set()
        if schema.tag_field is not None:
            expected.add(schema.tag_field)
            tf = by_name.get(schema.tag_field)
            if tf is None:
                problems.append(
                    f"{path}.{schema.tag_field}: union tag column missing"
                )
            elif not isinstance(tf.dataType, StringType):
                problems.append(
                    f"{path}.{schema.tag_field}: union tag must be "
                    f"string, got {tf.dataType.simpleString()}"
                )
        for i, alt in enumerate(schema.alternatives):
            name = schema.branch_field(i)
            expected.add(name)
            f = by_name.get(name)
            if isinstance(alt, SNull):
                continue  # null branch carries no payload
            if f is None:
                problems.append(
                    f"{path}.{name}: union branch column missing"
                )
                continue
            problems.extend(_type_conforms(alt, f.dataType, f"{path}.{name}"))
        if schema.branch_fields is None:
            # alt_i encoding: a stray alt_j field is spec drift
            for f in dt.fields:
                if f.name.startswith("alt_") and f.name not in expected:
                    problems.append(
                        f"{path}.{f.name}: union has no alternative "
                        f"{f.name!r} (n={len(schema.alternatives)})"
                    )
        return problems
    if isinstance(schema, SText):
        if isinstance(dt, StringType):
            return []
        return [f"{path}: expected string, got {dt.simpleString()}"]
    if isinstance(schema, SNumber):
        if isinstance(dt, NumericType):
            return []
        return [f"{path}: expected numeric, got {dt.simpleString()}"]
    if isinstance(schema, SBoolean):
        if isinstance(dt, BooleanType):
            return []
        return [f"{path}: expected boolean, got {dt.simpleString()}"]
    if isinstance(schema, SArray):
        if not isinstance(dt, ArrayType):
            return [f"{path}: expected array, got {dt.simpleString()}"]
        return _type_conforms(schema.item, dt.elementType, path + "[]")
    if isinstance(schema, SObject):
        if not isinstance(dt, StructType):
            return [f"{path}: expected struct, got {dt.simpleString()}"]
        return check_conformance(schema, dt, path)
    raise TypeError(f"unknown schema node {schema!r}")


# ---------------------------------------------------------------------------
# Valid-mask fast path
# ---------------------------------------------------------------------------

def _constraints_ok(constraints, value: Column) -> Column:
    """AND of the constraints' predicates (null value passes — the
    structural mask covers nulls)."""
    ok = F.lit(True)
    for c in constraints:
        ok = ok & F.coalesce(constraint_predicate(c, value), F.lit(True))
    return ok


def compile_valid_mask(schema: SObject, value: Column) -> Column:
    """One boolean: row has NO structural errors and NO violations.

    This is the hot-path gate: a flat predicate chain (fully
    codegen-able apart from forall lambdas) that lets the expensive
    array/path-building trees run only on rows that already failed.
    On mostly-valid data the cost per row is predicate evaluation only.
    """
    return _mask_node(schema, value, required=True)


def _mask_node(schema: Schema, value: Column, *, required: bool) -> Column:
    if isinstance(schema, SOptional):
        inner = _mask_node(schema.inner, value, required=True)
        return value.isNull() | inner
    if isinstance(schema, (SBoolean, SNull)):
        return F.lit(True) if not required or isinstance(
            schema, SNull
        ) else value.isNotNull()
    if isinstance(schema, SUnion):
        # mirrors _union_structural + (opt-in) branch violations: row is
        # clean iff some branch matched and the first-matched branch is
        # itself clean. Branch checks run even when validate_branches is
        # off — a FALSE mask only routes the row to the slow path, which
        # then computes the true (no-op) violation arrays; a TRUE mask
        # with a hidden structural error would be the bug.
        ok = _union_matched(schema, value)
        for i, alt in enumerate(schema.alternatives):
            if isinstance(alt, SNull):
                continue
            payload = _branch_col(schema, value, i)
            branch_ok = _mask_node(alt, payload, required=False)
            if schema.tag_field is not None:
                # tag committed the branch: payload must be PRESENT and
                # clean (a null payload is the structural missing-field
                # error _union_structural reports)
                ok = ok & F.coalesce(
                    F.when(
                        _branch_matched(schema, value, i),
                        payload.isNotNull()
                        & F.coalesce(branch_ok, F.lit(False)),
                    ),
                    F.lit(True),
                )
            else:
                ok = ok & F.coalesce(
                    F.when(payload.isNotNull(), branch_ok),
                    F.lit(True),
                )
        return ok
    present = value.isNotNull() if required else F.lit(True)
    if isinstance(schema, (SText, SNumber)):
        return present & _constraints_ok(schema.constraints, value)
    if isinstance(schema, SArray):
        own = _constraints_ok(schema.constraints, value)
        elem_required = not _null_tolerant(schema.item)
        # SAME predicate as the structural compiler (structural_possible)
        # so mask and structural can never disagree (round-1 ADVICE bug)
        needs_descent = elem_required or _has_any_constraint(schema.item) \
            or structural_possible(schema.item)
        if needs_descent:
            elem_ok = F.forall(
                value,
                lambda x: _mask_node(schema.item, x, required=elem_required),
            )
            own = own & F.coalesce(elem_ok, F.lit(True))
        return present & own
    if isinstance(schema, SObject):
        ok = present
        for name, fschema in schema.fields:
            freq = not _null_tolerant(fschema)
            field_ok = _mask_node(fschema, value[name], required=freq)
            # a null parent struct is itself the failure; guard children
            ok = ok & F.coalesce(field_ok, F.lit(not required))
        return ok
    raise TypeError(f"unknown schema node {schema!r}")


def union_tag(value: Column, union: SUnion) -> Column:
    """First-match-wins branch index for a union column — the columnar
    analog of the reference's left-biased alternative parse
    (Schema.hs:514-519): a ``when`` cascade returning the index of the
    first matched branch, -1 when none matched. Supports all three
    encodings: ``alt_i`` structs, named ``branch_fields`` structs, and
    ``tag_field`` (kind-tagged) structs where the match is explicit tag
    equality. SNull alternatives in the non-tagged encodings carry no
    payload column and are never tagged (the all-null value is -1)."""
    tag = F.lit(-1)
    for i in range(len(union.alternatives) - 1, -1, -1):
        if union.tag_field is None and isinstance(
            union.alternatives[i], SNull
        ):
            continue
        tag = F.when(_branch_matched(union, value, i), F.lit(i)) \
               .otherwise(tag)
    return tag


def compile_regex_preflight(schema: Schema) -> None:
    """Reject, while the query is built, a regex that either engine
    cannot compile — not mid-job on an executor. The pattern checked is
    the one both engines run (:func:`translate_posix_classes`), compiled
    by Python ``re`` (the interpreter) and by ``java.util.regex.Pattern``
    (``rlike``) over the session's JVM gateway: a py4j call, no Spark
    job."""
    if isinstance(schema, SText):
        for c in schema.constraints:
            if isinstance(c, TRegex):
                try:
                    pattern = translate_posix_classes(c.pattern)
                    re.compile(pattern)
                    jvm = SparkSession.active()._jvm  # noqa: SLF001
                    jvm.java.util.regex.Pattern.compile(pattern)
                except (ValueError, re.error, IllegalArgumentException) as e:
                    raise ValueError(
                        f"invalid regex {c.pattern!r}: {e}"
                    ) from None
    elif isinstance(schema, SArray):
        compile_regex_preflight(schema.item)
    elif isinstance(schema, SObject):
        for _, s in schema.fields:
            compile_regex_preflight(s)
    elif isinstance(schema, SOptional):
        compile_regex_preflight(schema.inner)
    elif isinstance(schema, SUnion):
        for a in schema.alternatives:
            compile_regex_preflight(a)
