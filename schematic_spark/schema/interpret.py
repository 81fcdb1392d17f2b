"""Pure-Python reference interpreter — semantic mirror of the reference's
structural parse (``Schema.hs:525-567``) + constraint walk
(``Validation.hs:193-244``).

Two uses in the engine:
  1. the *oracle* for property tests (Spark compiler output must agree),
  2. validation of in-flight Python values (spec tooling, generators).

This is NOT the hot path — the hot path is the Catalyst compiler in
``schematic_spark/compiler.py``.
"""

from __future__ import annotations

import math
import re
from dataclasses import dataclass
from typing import Any

from .ast import (
    AEq,
    AGe,
    AGt,
    ALe,
    ALt,
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
    TGe,
    TGt,
    TLe,
    TLt,
    TRegex,
    missing_field_message,
    render_path,
    translate_posix_classes,
)

VERDICT_VALID = "Valid"
VERDICT_DECODING_ERROR = "DecodingError"
VERDICT_VALIDATION_ERROR = "ValidationError"


class DecodingError(Exception):
    """Structural mismatch — the analog of ``ParseResult DecodingError``
    (Validation.hs:30-34). Parse is all-or-nothing in the reference
    (aeson Parser), so the first structural failure aborts."""

    def __init__(self, message: str, path: str = "") -> None:
        super().__init__(message)
        self.message = message
        self.path = path


@dataclass
class ParseResult:
    """3-way verdict — Validation.hs:30-34."""

    verdict: str
    violations: list[tuple[str, str]]
    decoding_error: str | None = None

    @property
    def is_valid(self) -> bool:
        return self.verdict == VERDICT_VALID


# ---------------------------------------------------------------------------
# Structural parse — Schema.hs:525-567
# ---------------------------------------------------------------------------

_MISSING = object()


@dataclass
class _UnionMatch:
    """Committed branch of a named/tagged union parse — carries WHICH
    alternative matched so branch validation (validate_parsed) checks
    the branch the encoding committed to, exactly like the Catalyst
    compiler's tag/branch cascade, instead of re-dispatching on the
    payload's Python kind (which mis-commits when two branches share a
    kind, e.g. two SText branches under different tags)."""

    index: int
    payload: Any


def structural_parse(schema: Schema, value: Any, path: tuple = ()) -> Any:
    """Schema-directed structural check. Returns the (normalized) value or
    raises :class:`DecodingError`. Missing keys in optional positions
    normalize to ``None`` (Schema.hs:561-563)."""
    if isinstance(schema, SOptional):
        if value is _MISSING or value is None:
            return None
        return structural_parse(schema.inner, value, path)
    if isinstance(schema, SUnion) and schema.tag_field is not None:
        # kind-tagged encoding (engine extension, compiler parity
        # compiler.py:_union_structural): the tag COMMITS the branch;
        # unknown/missing tag or a non-object value = no-match; a
        # committed branch with a missing/null payload is the
        # missing-field DecodingError at the union's path.
        if not isinstance(value, dict):
            raise DecodingError("empty union", render_path(path))
        tag = value.get(schema.tag_field)
        for i, alt in enumerate(schema.alternatives):
            if tag != schema.tag_value(i):
                continue
            if isinstance(alt, SNull):
                return _UnionMatch(i, None)
            payload = value.get(schema.branch_field(i))
            if payload is None:
                raise DecodingError(
                    missing_field_message(schema.branch_field(i), alt),
                    render_path(path),
                )
            return _UnionMatch(i, structural_parse(alt, payload, path))
        raise DecodingError("empty union", render_path(path))
    if isinstance(schema, SUnion) and schema.branch_fields is not None:
        # named-field encoding: an object carrying one branch key;
        # leftmost non-null branch wins (compiler cascade order). The
        # all-null cases (absent field / literal null / empty object)
        # are the SNull match when an SNull alternative exists —
        # typed-table parity (an all-null branch struct IS the null
        # branch) — and no-match otherwise.
        snull_idx = next(
            (i for i, a in enumerate(schema.alternatives)
             if isinstance(a, SNull)), None,
        )
        if isinstance(value, dict):
            for i, alt in enumerate(schema.alternatives):
                if isinstance(alt, SNull):
                    continue
                payload = value.get(schema.branch_field(i))
                if payload is not None:
                    return _UnionMatch(
                        i, structural_parse(alt, payload, path)
                    )
        elif (value is None or value is _MISSING) and snull_idx is not None:
            return _UnionMatch(snull_idx, None)
        if isinstance(value, dict) and snull_idx is not None:
            return _UnionMatch(snull_idx, None)
        raise DecodingError("empty union", render_path(path))
    if value is _MISSING:
        raise DecodingError("missing value", render_path(path))
    if isinstance(schema, SText):
        if not isinstance(value, str):
            raise DecodingError("expected String", render_path(path))
        return value
    if isinstance(schema, SNumber):
        if isinstance(value, bool) or not isinstance(value, (int, float)):
            raise DecodingError("expected Number", render_path(path))
        if isinstance(value, float) and (math.isnan(value) or math.isinf(value)):
            raise DecodingError("expected Number", render_path(path))
        return value
    if isinstance(schema, SBoolean):
        if not isinstance(value, bool):
            raise DecodingError("expected Boolean", render_path(path))
        return value
    if isinstance(schema, SNull):
        if value is not None:
            raise DecodingError("expected Null", render_path(path))
        return None
    if isinstance(schema, SArray):
        if not isinstance(value, (list, tuple)):
            raise DecodingError("expected Array", render_path(path))
        return [
            structural_parse(schema.item, v, path + (i,))
            for i, v in enumerate(value)
        ]
    if isinstance(schema, SObject):
        if not isinstance(value, dict):
            raise DecodingError("expected Object", render_path(path))
        out = {}
        for name, fschema in schema.fields:
            raw = value.get(name, _MISSING)
            if raw is _MISSING and not isinstance(
                fschema, (SOptional, SUnion)
            ):
                # missing required field — message parity Schema.hs:536-566
                raise DecodingError(
                    missing_field_message(name, fschema), render_path(path)
                )
            out[name] = structural_parse(fschema, raw, path + (name,))
        return out
    if isinstance(schema, SUnion):
        # left-to-right, first structural match wins — Schema.hs:514-519
        for alt in schema.alternatives:
            try:
                return structural_parse(alt, value, path)
            except DecodingError:
                continue
        raise DecodingError("empty union", render_path(path))
    raise TypeError(f"unknown schema node {schema!r}")


# ---------------------------------------------------------------------------
# Constraint validation — Validation.hs:193-244
# ---------------------------------------------------------------------------

def _text_len(s: str) -> int:
    # Data.Text length = codepoint count; Python len(str) matches.
    return len(s)


def _check_text(value: str, constraints, path: str, out: list) -> None:
    for c in constraints:
        if isinstance(c, TEq):
            ok = _text_len(value) == c.n
        elif isinstance(c, TLt):
            ok = _text_len(value) < c.n
        elif isinstance(c, TLe):
            ok = _text_len(value) <= c.n
        elif isinstance(c, TGt):
            ok = _text_len(value) > c.n
        elif isinstance(c, TGe):
            ok = _text_len(value) >= c.n
        elif isinstance(c, TRegex):
            # unanchored search — matchTest semantics (Validation.hs:96)
            pattern = translate_posix_classes(c.pattern)
            ok = re.search(pattern, value) is not None
        elif isinstance(c, TEnum):
            ok = value in c.values
        else:
            raise TypeError(f"unknown text constraint {c!r}")
        if not ok:
            out.append((path, c.message()))


def _check_number(value, constraints, path: str, out: list) -> None:
    for c in constraints:
        if isinstance(c, NEq):
            ok = value == c.n
        elif isinstance(c, NGt):
            ok = value > c.n
        elif isinstance(c, NGe):
            ok = value >= c.n
        elif isinstance(c, NLt):
            ok = value < c.n
        elif isinstance(c, NLe):
            ok = value <= c.n
        else:
            raise TypeError(f"unknown number constraint {c!r}")
        if not ok:
            out.append((path, c.message()))


def _check_array(value, constraints, path: str, out: list) -> None:
    n = len(value)
    for c in constraints:
        if isinstance(c, AEq):
            ok = n == c.n
        elif isinstance(c, AGt):
            ok = n > c.n
        elif isinstance(c, AGe):
            ok = n >= c.n
        elif isinstance(c, ALt):
            ok = n < c.n
        elif isinstance(c, ALe):
            ok = n <= c.n
        else:
            raise TypeError(f"unknown array constraint {c!r}")
        if not ok:
            out.append((path, c.message()))


def validate_parsed(
    schema: Schema,
    value: Any,
    path: tuple = (),
    out: list | None = None,
    *,
    validate_unions: bool = False,
) -> list[tuple[str, str]]:
    """Recursive constraint walk over an already structurally-parsed value.
    Accumulates ALL violations (monoidal, never fail-fast —
    Validation.hs:26-28)."""
    if out is None:
        out = []
    if isinstance(schema, SText):
        _check_text(value, schema.constraints, render_path(path), out)
    elif isinstance(schema, SNumber):
        _check_number(value, schema.constraints, render_path(path), out)
    elif isinstance(schema, (SBoolean, SNull)):
        pass  # vacuously valid — Validation.hs:217-218
    elif isinstance(schema, SArray):
        _check_array(value, schema.constraints, render_path(path), out)
        for i, item in enumerate(value):
            validate_parsed(
                schema.item, item, path + (i,), out,
                validate_unions=validate_unions,
            )
    elif isinstance(schema, SOptional):
        if value is not None:  # Nothing short-circuits valid (:231-234)
            validate_parsed(
                schema.inner, value, path, out,
                validate_unions=validate_unions,
            )
    elif isinstance(schema, SObject):
        for name, fschema in schema.fields:
            validate_parsed(
                fschema, value.get(name), path + (name,), out,
                validate_unions=validate_unions,
            )
    elif isinstance(schema, SUnion):
        # Reference parity: union validation is a NO-OP (Validation.hs:244
        # FIXME). Opt-in real validation of the matching branch — either
        # globally (validate_unions) or per-node (SUnion.validate_branches,
        # the flag the Catalyst compiler honours):
        if validate_unions or schema.validate_branches:
            if isinstance(value, _UnionMatch):
                # named/tagged parse committed a branch — validate THAT
                # branch (compiler parity), never re-dispatch by kind
                alt = schema.alternatives[value.index]
                if not isinstance(alt, SNull) and value.payload is not None:
                    validate_parsed(
                        alt, value.payload, path, out,
                        validate_unions=True,
                    )
            else:
                for alt in schema.alternatives:
                    try:
                        parsed = structural_parse(alt, value, path)
                    except DecodingError:
                        continue
                    validate_parsed(
                        alt, parsed, path, out, validate_unions=True
                    )
                    break
    else:
        raise TypeError(f"unknown schema node {schema!r}")
    return out


def parse_and_validate(
    schema: Schema, value: Any, *, validate_unions: bool = False
) -> ParseResult:
    """decode → structural parse → validate → 3-way verdict.
    Mirrors ``parseAndValidateJson`` (Validation.hs:285-299)."""
    try:
        parsed = structural_parse(schema, value)
    except DecodingError as e:
        return ParseResult(
            VERDICT_DECODING_ERROR, [], decoding_error=e.message
        )
    violations = validate_parsed(
        schema, parsed, validate_unions=validate_unions
    )
    if violations:
        return ParseResult(VERDICT_VALIDATION_ERROR, violations)
    return ParseResult(VERDICT_VALID, [])
