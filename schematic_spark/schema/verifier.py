"""Constraint verifier / simplifier — the engine's pre-Catalyst optimizer.

Semantics follow the reference's ``src/Data/Schematic/Verifier/``:

* normalize inclusive → strict bounds (``Le x → Lt x+1``, ``Ge x → Gt x-1``)
  — ``Verifier/Number.hs:6-11``, ``Verifier/Text.hs:11-16``;
* fold redundant bounds (min of uppers, max of lowers)
  — ``Verifier/Common.hs:5-15``;
* detect contradictions: ≥2 distinct Eq; gt/eq/lt inconsistent
  — ``Verifier/Common.hs:17-43``;
* static regex length bounds cross-checked against explicit length bounds
  — ``Verifier/Text.hs:44-121`` (we use Python's ``re`` parse tree);
* arrays: only ``AEq`` folds — ``Verifier/Array.hs:6-14``.

Deviation (superset, noted per SURVEY §4.1): the reference rejects ≥2
regexes (``Verifier/Text.hs:91-98``); we allow N regexes (conjunction of
searches) but still compute length bounds from each.

Catalyst constant-folds literal comparisons but won't merge
``len<5 AND len<9`` across generated predicates, so this runs at
spec-compile time on the driver.
"""

from __future__ import annotations

import re
import warnings
from dataclasses import dataclass

with warnings.catch_warnings():
    warnings.simplefilter("ignore", DeprecationWarning)
    import sre_parse

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
    Schema,
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
    translate_posix_classes,
)


class UnsatisfiableSchema(ValueError):
    """Raised when a constraint set can never be satisfied (the reference
    returns ``Nothing`` from the verifier; we fail loudly at spec-compile)."""


# ---------------------------------------------------------------------------
# Common — Verifier/Common.hs
# ---------------------------------------------------------------------------

def _verify_eqs(eqs: list[int], what: str) -> int | None:
    """``verifyDNEq``: distinct count 0 → None, 1 → value, ≥2 → unsat."""
    distinct = sorted(set(eqs))
    if not distinct:
        return None
    if len(distinct) == 1:
        return distinct[0]
    raise UnsatisfiableSchema(
        f"{what}: contradictory equality constraints {distinct}"
    )


def _verify_equations(
    gt: int | None, eq: int | None, lt: int | None, what: str
) -> None:
    """``verifyEquations``: require gt < eq < lt where present."""
    def bad(a, b):
        return a is not None and b is not None and not a < b

    if bad(gt, eq) or bad(eq, lt) or bad(gt, lt):
        raise UnsatisfiableSchema(
            f"{what}: contradictory bounds gt={gt} eq={eq} lt={lt}"
        )


@dataclass(frozen=True)
class VerifiedBounds:
    """``VNEq n | VNBounds gt lt`` with *strict* bounds (value must satisfy
    ``gt < v < lt``); eq wins when present."""

    eq: int | None = None
    gt: int | None = None  # strict lower
    lt: int | None = None  # strict upper


def _verify_numberish(
    eqs: list[int], gts: list[int], lts: list[int], what: str
) -> VerifiedBounds:
    gt = max(gts) if gts else None
    lt = min(lts) if lts else None
    eq = _verify_eqs(eqs, what)
    _verify_equations(gt, eq, lt, what)
    if eq is not None:
        return VerifiedBounds(eq=eq)
    return VerifiedBounds(gt=gt, lt=lt)


# ---------------------------------------------------------------------------
# Number — Verifier/Number.hs
# ---------------------------------------------------------------------------

def verify_number_constraints(constraints) -> VerifiedBounds:
    eqs, gts, lts = [], [], []
    for c in constraints:
        if isinstance(c, NEq):
            eqs.append(c.n)
        elif isinstance(c, NGt):
            gts.append(c.n)
        elif isinstance(c, NGe):  # Ge x → Gt x-1
            gts.append(c.n - 1)
        elif isinstance(c, NLt):
            lts.append(c.n)
        elif isinstance(c, NLe):  # Le x → Lt x+1
            lts.append(c.n + 1)
    return _verify_numberish(eqs, gts, lts, "number")


# ---------------------------------------------------------------------------
# Text — Verifier/Text.hs
# ---------------------------------------------------------------------------

_UNBOUNDED = object()


def regex_length_bounds(pattern: str) -> tuple[int, int | None] | None:
    """Static (min, max) match length of an *unanchored search* — i.e. the
    shortest/longest substring the pattern can match. ``None`` max means
    unbounded; ``None`` result means the pattern didn't parse.

    Port of ``regexLength``/``minRegexLength``/``maxRegexLength``
    (Verifier/Text.hs:44-86) over Python's ``sre_parse`` tree.
    """
    try:
        tree = sre_parse.parse(translate_posix_classes(pattern))
    except (re.error, ValueError):
        return None
    lo, hi = _seq_bounds(tree)
    return lo, (None if hi is _UNBOUNDED else hi)


def _seq_bounds(seq) -> tuple[int, object]:
    lo = 0
    hi: object = 0
    for op, arg in seq:
        l, h = _node_bounds(op, arg)
        lo += l
        hi = _UNBOUNDED if (hi is _UNBOUNDED or h is _UNBOUNDED) else hi + h
    return lo, hi


def _node_bounds(op, arg) -> tuple[int, object]:
    name = str(op)
    if name in ("LITERAL", "NOT_LITERAL", "ANY", "IN", "CATEGORY"):
        return 1, 1
    if name in ("AT",):  # anchors ^ $ \b
        return 0, 0
    if name in ("MAX_REPEAT", "MIN_REPEAT", "POSSESSIVE_REPEAT"):
        mn, mx, sub = arg
        slo, shi = _seq_bounds(sub)
        if mx == sre_parse.MAXREPEAT or shi is _UNBOUNDED:
            hi: object = _UNBOUNDED if (mx != 0 and shi != 0) else 0
        else:
            hi = mx * shi
        return mn * slo, hi
    if name == "SUBPATTERN":
        sub = arg[-1]
        return _seq_bounds(sub)
    if name in ("ATOMIC_GROUP",):
        return _seq_bounds(arg)
    if name == "BRANCH":
        _, branches = arg
        bounds = [_seq_bounds(b) for b in branches]
        lo = min(b[0] for b in bounds)
        if any(b[1] is _UNBOUNDED for b in bounds):
            return lo, _UNBOUNDED
        return lo, max(b[1] for b in bounds)
    if name in ("ASSERT", "ASSERT_NOT"):  # lookaround consumes nothing
        return 0, 0
    if name == "GROUPREF":
        return 0, _UNBOUNDED  # conservative
    # unknown → conservative
    return 0, _UNBOUNDED


@dataclass(frozen=True)
class VerifiedText:
    """Combined verified view of a text constraint set."""

    length: VerifiedBounds | None
    enum: tuple[str, ...] | None
    regexes: tuple[str, ...]


def verify_text_constraints(constraints) -> VerifiedText:
    eqs, gts, lts, enums, regexes = [], [], [], [], []
    for c in constraints:
        if isinstance(c, TEq):
            eqs.append(c.n)
        elif isinstance(c, TGt):
            gts.append(c.n)
        elif isinstance(c, TGe):
            gts.append(c.n - 1)
        elif isinstance(c, TLt):
            lts.append(c.n)
        elif isinstance(c, TLe):
            lts.append(c.n + 1)
        elif isinstance(c, TEnum):
            enums.extend(c.values)
        elif isinstance(c, TRegex):
            regexes.append(c.pattern)
    # cross-check each regex's static length bounds against the explicit
    # length constraints (Verifier/Text.hs:100-121): a regex that can only
    # match strings of length in [l, h] combined with incompatible explicit
    # bounds is unsatisfiable.
    for pattern in regexes:
        bounds = regex_length_bounds(pattern)
        if bounds is None:
            continue
        l, h = bounds
        xgts = gts + [l - 1]
        xlts = lts + ([h + 1] if h is not None else [])
        _verify_numberish(eqs, xgts, xlts, f"text (regex {pattern!r})")
    length = (
        _verify_numberish(eqs, gts, lts, "text length")
        if (eqs or gts or lts)
        else None
    )
    enum = tuple(enums) if enums else None
    return VerifiedText(length=length, enum=enum, regexes=tuple(regexes))


# ---------------------------------------------------------------------------
# Array — Verifier/Array.hs (only AEq folds in the reference; we also
# contradiction-check the bounds, a strict superset)
# ---------------------------------------------------------------------------

def verify_array_constraints(constraints) -> VerifiedBounds:
    eqs, gts, lts = [], [], []
    for c in constraints:
        if isinstance(c, AEq):
            eqs.append(c.n)
        elif isinstance(c, AGt):
            gts.append(c.n)
        elif isinstance(c, AGe):
            gts.append(c.n - 1)
        elif isinstance(c, ALt):
            lts.append(c.n)
        elif isinstance(c, ALe):
            lts.append(c.n + 1)
    return _verify_numberish(eqs, gts, lts, "array length")


# ---------------------------------------------------------------------------
# Whole-schema verification
# ---------------------------------------------------------------------------

def verify_schema(schema: Schema, path: str = "$") -> None:
    """Reject unsatisfiable specs at compile time (driver-side pre-flight).
    Raises :class:`UnsatisfiableSchema` with the offending path."""
    try:
        if isinstance(schema, SText):
            verify_text_constraints(schema.constraints)
        elif isinstance(schema, SNumber):
            verify_number_constraints(schema.constraints)
        elif isinstance(schema, SArray):
            verify_array_constraints(schema.constraints)
    except UnsatisfiableSchema as e:
        raise UnsatisfiableSchema(f"{path}: {e}") from None
    if isinstance(schema, SArray):
        verify_schema(schema.item, path + "[]")
    elif isinstance(schema, SObject):
        for name, fschema in schema.fields:
            verify_schema(fschema, f"{path}.{name}")
    elif isinstance(schema, SOptional):
        verify_schema(schema.inner, path + "?")
    elif isinstance(schema, SUnion):
        for i, alt in enumerate(schema.alternatives):
            verify_schema(alt, f"{path}|{i}")
