"""Schema AST — the runtime mirror of schematic's type-level ``Schema``.

The reference keeps two isomorphic representations (a promoted type-level
AST and a demoted runtime value, ``/root/reference/src/Data/Schematic/Schema.hs:241-261``).
A Spark engine only needs the runtime one: plain frozen dataclasses that the
driver compiles once into Catalyst expressions.

Node kinds (1:1 with ``Schema.hs:241-250``)::

    SchemaText [TextConstraint]    -> SText
    SchemaBoolean                  -> SBoolean
    SchemaNumber [NumberConstraint]-> SNumber
    SchemaObject [(Symbol,Schema)] -> SObject
    SchemaArray [ArrayConstraint] Schema -> SArray
    SchemaNull                     -> SNull
    SchemaOptional Schema          -> SOptional
    SchemaUnion [Schema]           -> SUnion

Constraint kinds mirror ``Schema.hs:41-48`` (text), ``:121-127`` (number),
``:178-183`` (array).  Error-message formats are byte-identical to
``Validation.hs:58-191`` so golden fixtures line up.
"""

from __future__ import annotations

import re
from dataclasses import dataclass, field
from functools import lru_cache


# ---------------------------------------------------------------------------
# Constraints
# ---------------------------------------------------------------------------

class Constraint:
    """Base for all constraints."""

    __slots__ = ()


class TextConstraint(Constraint):
    __slots__ = ()


class NumberConstraint(Constraint):
    __slots__ = ()


class ArrayConstraint(Constraint):
    __slots__ = ()


@dataclass(frozen=True)
class TEq(TextConstraint):
    """codepoint length == n — Validation.hs:58-64"""

    n: int

    def message(self) -> str:
        return f"length should be == {self.n}"


@dataclass(frozen=True)
class TLt(TextConstraint):
    """length < n — Validation.hs:65-71"""

    n: int

    def message(self) -> str:
        return f"length should be < {self.n}"


@dataclass(frozen=True)
class TLe(TextConstraint):
    """length <= n — Validation.hs:72-78"""

    n: int

    def message(self) -> str:
        return f"length should be <= {self.n}"


@dataclass(frozen=True)
class TGt(TextConstraint):
    """length > n — Validation.hs:79-85"""

    n: int

    def message(self) -> str:
        return f"length should be > {self.n}"


@dataclass(frozen=True)
class TGe(TextConstraint):
    """length >= n — Validation.hs:86-92"""

    n: int

    def message(self) -> str:
        return f"length should be >= {self.n}"


@dataclass(frozen=True)
class TRegex(TextConstraint):
    """POSIX-ERE unanchored *search* (regex-tdfa matchTest) — Validation.hs:93-99.

    Both engines run the same string, :func:`translate_posix_classes`
    of ``pattern``: Spark ``rlike`` (Java regex) in the compiler and
    Python ``re.search`` in the interpreter. ``message()`` keeps the
    pattern as written.
    """

    pattern: str

    def message(self) -> str:
        return f"must match {self.pattern}"


# C-locale ASCII members of each POSIX bracket class (plus ``word``), as
# ``\xHH`` ranges that Java and Python regex read identically. regex-tdfa
# expands a class to a fixed ASCII character list in
# ``Text.Regex.TDFA.TNFA.decodeCharacterClass`` rather than consulting
# ``Data.Char`` predicates (recalled from that function; the reference
# source was not available to re-read when this table was written).
_POSIX_CLASS_RANGES = {
    "alnum": r"\x30-\x39\x41-\x5a\x61-\x7a",
    "alpha": r"\x41-\x5a\x61-\x7a",
    "blank": r"\x09\x20",
    "cntrl": r"\x00-\x1f\x7f",
    "digit": r"\x30-\x39",
    "graph": r"\x21-\x7e",
    "lower": r"\x61-\x7a",
    "print": r"\x20-\x7e",
    "punct": r"\x21-\x2f\x3a-\x40\x5b-\x60\x7b-\x7e",
    "space": r"\x09-\x0d\x20",
    "upper": r"\x41-\x5a",
    "xdigit": r"\x30-\x39\x41-\x46\x61-\x66",
    "word": r"\x30-\x39\x41-\x5a\x5f\x61-\x7a",
}

# a bracket expression (an optional ^ and a leading literal ], then
# classes, escapes or plain members up to the closing ]), or an escape
_BRACKET = re.compile(r"\\.|\[\^?\]?(?:\[:[^:\]]*:\]|\\.|[^\]])*\]", re.S)
_MEMBER = re.compile(r"\[:([^:\]]*):\]|\\.", re.S)


def _member_ranges(m: re.Match) -> str:
    name = m.group(1)
    if name is None:
        return m.group()  # an escaped member stays as written
    if name not in _POSIX_CLASS_RANGES:
        raise ValueError(f"unknown POSIX class [:{name}:]")
    return _POSIX_CLASS_RANGES[name]


@lru_cache(maxsize=256)
def translate_posix_classes(pattern: str) -> str:
    """The pattern both regex engines run: every ``[:name:]`` inside a
    bracket expression replaced by its ``\\xHH`` ranges, so
    ``[[:alpha:]_-]`` and ``[^[:digit:]]`` keep their other members and
    their negation. A pattern without a class comes back unchanged.
    Raises ``ValueError`` on an unknown class name (the non-POSIX
    ``[:^alpha:]`` included)."""
    return _BRACKET.sub(
        lambda m: m.group()[0] + _MEMBER.sub(_member_ranges, m.group()[1:]),
        pattern,
    )


@dataclass(frozen=True)
class TEnum(TextConstraint):
    """membership in a string list — Validation.hs:100-107.

    Message mirrors Haskell ``show [Text]``: ``must be one of ["foo","bar"]``.
    """

    values: tuple[str, ...]

    def __post_init__(self) -> None:
        object.__setattr__(self, "values", tuple(self.values))

    def message(self) -> str:
        rendered = ",".join(_haskell_show_text(v) for v in self.values)
        return f"must be one of [{rendered}]"


def _haskell_show_text(s: str) -> str:
    """Render a string the way Haskell ``show`` renders ``Text``."""
    out = ['"']
    for ch in s:
        if ch == '"':
            out.append('\\"')
        elif ch == "\\":
            out.append("\\\\")
        elif ch == "\n":
            out.append("\\n")
        elif ch == "\t":
            out.append("\\t")
        else:
            out.append(ch)
    out.append('"')
    return "".join(out)


def _num_cmp(op: str, n: int) -> str:
    return f"should be {op} {n}"


@dataclass(frozen=True)
class NEq(NumberConstraint):
    """Validation.hs:115-121"""

    n: int

    def message(self) -> str:
        return _num_cmp("==", self.n)


@dataclass(frozen=True)
class NGt(NumberConstraint):
    """Validation.hs:122-128"""

    n: int

    def message(self) -> str:
        return _num_cmp(">", self.n)


@dataclass(frozen=True)
class NGe(NumberConstraint):
    """Validation.hs:129-135"""

    n: int

    def message(self) -> str:
        return _num_cmp(">=", self.n)


@dataclass(frozen=True)
class NLt(NumberConstraint):
    """Validation.hs:136-142"""

    n: int

    def message(self) -> str:
        return _num_cmp("<", self.n)


@dataclass(frozen=True)
class NLe(NumberConstraint):
    """Validation.hs:143-149"""

    n: int

    def message(self) -> str:
        return _num_cmp("<=", self.n)


@dataclass(frozen=True)
class AEq(ArrayConstraint):
    """array length == n — Validation.hs:157-163"""

    n: int

    def message(self) -> str:
        return f"length should be == {self.n}"


@dataclass(frozen=True)
class AGt(ArrayConstraint):
    """Validation.hs:164-170"""

    n: int

    def message(self) -> str:
        return f"length should be > {self.n}"


@dataclass(frozen=True)
class AGe(ArrayConstraint):
    """Validation.hs:171-177"""

    n: int

    def message(self) -> str:
        return f"length should be >= {self.n}"


@dataclass(frozen=True)
class ALt(ArrayConstraint):
    """Validation.hs:178-184"""

    n: int

    def message(self) -> str:
        return f"length should be < {self.n}"


@dataclass(frozen=True)
class ALe(ArrayConstraint):
    """Validation.hs:185-191"""

    n: int

    def message(self) -> str:
        return f"length should be <= {self.n}"


# ---------------------------------------------------------------------------
# Schema nodes
# ---------------------------------------------------------------------------

class Schema:
    """Base schema node."""

    __slots__ = ()

    @property
    def kind(self) -> str:
        return _KIND_BY_TYPE[type(self)]


@dataclass(frozen=True)
class SText(Schema):
    constraints: tuple[TextConstraint, ...] = ()

    def __post_init__(self) -> None:
        object.__setattr__(self, "constraints", tuple(self.constraints))


@dataclass(frozen=True)
class SNumber(Schema):
    constraints: tuple[NumberConstraint, ...] = ()

    def __post_init__(self) -> None:
        object.__setattr__(self, "constraints", tuple(self.constraints))


@dataclass(frozen=True)
class SBoolean(Schema):
    pass


@dataclass(frozen=True)
class SNull(Schema):
    pass


@dataclass(frozen=True)
class SArray(Schema):
    item: Schema
    constraints: tuple[ArrayConstraint, ...] = ()

    def __post_init__(self) -> None:
        object.__setattr__(self, "constraints", tuple(self.constraints))


@dataclass(frozen=True)
class SObject(Schema):
    """Ordered, fixed field list — mirrors the Vinyl Rec carrier
    (Schema.hs:372); field order is significant for parse order and
    struct assembly."""

    fields: tuple[tuple[str, Schema], ...] = ()

    def __post_init__(self) -> None:
        object.__setattr__(
            self, "fields", tuple((str(n), s) for n, s in self.fields)
        )

    def field_schema(self, name: str) -> Schema:
        for n, s in self.fields:
            if n == name:
                return s
        raise KeyError(name)

    def field_names(self) -> list[str]:
        return [n for n, _ in self.fields]


@dataclass(frozen=True)
class SOptional(Schema):
    """Missing key OR null both parse to None (Schema.hs:561-563,
    fromOptional Schema.hs:500-505); never an error by itself."""

    inner: Schema


@dataclass(frozen=True)
class SUnion(Schema):
    """Left-biased structural first-match (Schema.hs:514-519). A value
    matching NO alternative fails the parse — in the engine that is a
    structural error ``"empty union"`` (the message aeson surfaces when
    the alternative chain bottoms out, Schema.hs:515). In the
    struct-of-nullable-branches column encoding, "no branch matched" =
    every ``alt_i`` is null (and the union has no SNull alternative).

    Constraint validation inside a union is a NO-OP for reference parity
    (Validation.hs:244 — FIXME in the reference); ``validate_branches=
    True`` opts into really validating the first-matched branch's
    constraints (engine extension, mirrored by the interpreter's
    ``validate_unions`` flag).

    Deviation noted for parity-hunters: the reference parses a union
    *field* against the WHOLE enclosing object value (Schema.hs:564 —
    it never looks the field name up); we parse the field's own value,
    like the interpreter (interpret.py) does.

    Column encodings (north-rule span shape, SURVEY §1.2):

    * default: ``struct<alt_0:…, alt_N:…>`` — branch = first non-null;
    * ``branch_fields=("text","media_ref")`` names the branch columns
      instead of ``alt_i`` (branch = first non-null named field);
    * ``tag_field="kind"`` additionally discriminates by an explicit
      string tag column inside the struct: branch *i* is matched iff
      ``value[tag_field] == tags[i]`` (``tags`` defaults to
      ``branch_fields``); an unknown/null tag is the no-match
      DecodingError, and a matched branch whose payload field is null
      is a structural error."""

    alternatives: tuple[Schema, ...]
    validate_branches: bool = False
    branch_fields: tuple[str, ...] | None = None
    tag_field: str | None = None
    tags: tuple[str, ...] | None = None

    def __post_init__(self) -> None:
        object.__setattr__(self, "alternatives", tuple(self.alternatives))
        if self.branch_fields is not None:
            object.__setattr__(
                self, "branch_fields", tuple(self.branch_fields)
            )
            if len(self.branch_fields) != len(self.alternatives):
                raise ValueError(
                    "branch_fields must name one field per alternative"
                )
        if self.tags is not None:
            object.__setattr__(self, "tags", tuple(self.tags))
            if self.tag_field is None:
                raise ValueError("tags requires tag_field")
            if len(self.tags) != len(self.alternatives):
                raise ValueError("tags must list one tag per alternative")
        if self.tag_field is not None and self.tags is None:
            if self.branch_fields is None:
                raise ValueError(
                    "tag_field requires tags or branch_fields to name "
                    "the branches"
                )
            object.__setattr__(self, "tags", self.branch_fields)

    def branch_field(self, i: int) -> str:
        """Struct field carrying alternative ``i``'s payload."""
        if self.branch_fields is not None:
            return self.branch_fields[i]
        return f"alt_{i}"

    def tag_value(self, i: int) -> str:
        assert self.tags is not None
        return self.tags[i]


_KIND_BY_TYPE: dict[type, str] = {
    SText: "text",
    SNumber: "number",
    SBoolean: "boolean",
    SNull: "null",
    SArray: "array",
    SObject: "object",
    SOptional: "optional",
    SUnion: "union",
}


def missing_field_message(name: str, schema: Schema) -> str:
    """Structural (DecodingError) message for a missing required field.

    Byte-format parity with Schema.hs:536-566 (``"No text field: " ++ show
    fieldName`` etc.). The reference's object case omits the ": "
    (``"No object field" ++ show fieldName``, Schema.hs:557) — we keep that
    quirk for fixture parity.
    """
    inner = schema.inner if isinstance(schema, SOptional) else schema
    shown = _haskell_show_text(name)
    kind = inner.kind
    if kind == "object":
        return f"No object field{shown}"
    return f"No {kind} field: {shown}"


# ---------------------------------------------------------------------------
# JSON path rendering — Path.hs:29-33
# ---------------------------------------------------------------------------

def render_path(segments) -> str:
    """``[Key k, Index i] -> ".k[i]"`` — keys prefixed with '.', indices
    bracketed. Matches ``demotedPathToText`` (Path.hs:29-33)."""
    out = []
    for seg in segments:
        if isinstance(seg, int):
            out.append(f"[{seg}]")
        else:
            out.append(f".{seg}")
    return "".join(out)
