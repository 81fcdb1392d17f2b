"""Schema-directed conforming-value generator — behavior port of the
reference's SmallCheck series (``Generator.hs:18-91``,
``Generator/Regex.hs:21-76``): given a spec, produce values that
*satisfy* its verified constraints. Deterministic (explicit seed), no
wall-clock.

Used for property tests (generated rows must validate with zero
violations — SchemaSpec.hs:113-118's property re-expressed) and for
synthesizing fixture tables.

Regex sampling walks Python's ``sre_parse`` tree with bounded repeats
(unbounded ``*``/``+`` sampled in 1..10 — the reference bounds repeats
2..10, Generator/Regex.hs:15-19).
"""

from __future__ import annotations

import random
import re
import string
import warnings

with warnings.catch_warnings():
    warnings.simplefilter("ignore", DeprecationWarning)
    import sre_parse

from .ast import (
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
    TRegex,
    translate_posix_classes,
)
from .verifier import (
    verify_array_constraints,
    verify_number_constraints,
    verify_text_constraints,
)

_PRINTABLE = string.ascii_lowercase + string.digits


# ---------------------------------------------------------------------------
# Regex sampling (Generator/Regex.hs analog over sre_parse)
# ---------------------------------------------------------------------------

_MAX_REPEAT_SAMPLE = 10


def sample_regex(pattern: str, rng: random.Random) -> str:
    """A string matching ``pattern`` (full-match, which also satisfies
    the engine's unanchored search)."""
    tree = sre_parse.parse(translate_posix_classes(pattern))
    return "".join(_sample_seq(tree, rng))


def _sample_seq(seq, rng: random.Random) -> list[str]:
    out: list[str] = []
    for op, arg in seq:
        out.extend(_sample_node(op, arg, rng))
    return out


def _sample_node(op, arg, rng: random.Random) -> list[str]:
    name = str(op)
    if name == "LITERAL":
        return [chr(arg)]
    if name == "NOT_LITERAL":
        ch = rng.choice(_PRINTABLE)
        while ord(ch) == arg:
            ch = rng.choice(_PRINTABLE)
        return [ch]
    if name == "ANY":
        return [rng.choice(_PRINTABLE)]
    if name == "IN":
        choices = _expand_in(arg, rng)
        return [rng.choice(choices)] if choices else ["x"]
    if name in ("MAX_REPEAT", "MIN_REPEAT", "POSSESSIVE_REPEAT"):
        mn, mx, sub = arg
        hi = mx if mx != sre_parse.MAXREPEAT else max(mn, 1) + _MAX_REPEAT_SAMPLE
        n = rng.randint(mn, max(mn, min(hi, mn + _MAX_REPEAT_SAMPLE)))
        out: list[str] = []
        for _ in range(n):
            out.extend(_sample_seq(sub, rng))
        return out
    if name == "SUBPATTERN":
        return _sample_seq(arg[-1], rng)
    if name == "ATOMIC_GROUP":
        return _sample_seq(arg, rng)
    if name == "BRANCH":
        _, branches = arg
        return _sample_seq(rng.choice(branches), rng)
    if name in ("AT", "ASSERT", "ASSERT_NOT"):
        return []
    if name == "CATEGORY":  # standalone \d etc. (normally inside IN)
        return [_sample_category(arg, rng)]
    raise ValueError(f"cannot sample regex node {name}")


def _expand_in(items, rng: random.Random) -> list[str]:
    choices: list[str] = []
    negated = False
    for op, arg in items:
        name = str(op)
        if name == "NEGATE":
            negated = True
        elif name == "LITERAL":
            choices.append(chr(arg))
        elif name == "RANGE":
            lo, hi = arg
            choices.extend(chr(c) for c in range(lo, min(hi, lo + 64) + 1))
        elif name == "CATEGORY":
            choices.append(_sample_category(arg, rng))
    if negated:
        excl = set(choices)
        return [c for c in _PRINTABLE if c not in excl] or ["x"]
    return choices


def _sample_category(cat, rng: random.Random) -> str:
    name = str(cat)
    if "DIGIT" in name and "NOT" not in name:
        return rng.choice(string.digits)
    if "WORD" in name and "NOT" not in name:
        return rng.choice(string.ascii_lowercase + string.digits + "_")
    if "SPACE" in name and "NOT" not in name:
        return " "
    return rng.choice(string.ascii_lowercase)


# ---------------------------------------------------------------------------
# Value series per schema node
# ---------------------------------------------------------------------------

_SAMPLE_WORD = "sample"  # the reference cycles "sample" (Generator.hs:24)


def conforming_value(schema: Schema, rng: random.Random):
    """One value satisfying the schema's constraints."""
    if isinstance(schema, SText):
        v = verify_text_constraints(schema.constraints)
        if v.enum:
            return rng.choice(v.enum)
        if v.regexes:
            return sample_regex(v.regexes[0], rng)
        if v.length is not None:
            if v.length.eq is not None:
                n = v.length.eq
            else:
                lo = (v.length.gt + 1) if v.length.gt is not None else 0
                hi = (v.length.lt - 1) if v.length.lt is not None else lo + 12
                n = rng.randint(lo, max(lo, hi))
            return "".join(
                _SAMPLE_WORD[i % len(_SAMPLE_WORD)] for i in range(n)
            )
        return _SAMPLE_WORD
    if isinstance(schema, SNumber):
        v = verify_number_constraints(schema.constraints)
        if v.eq is not None:
            return float(v.eq)
        lo = (v.gt + 1) if v.gt is not None else -100
        hi = (v.lt - 1) if v.lt is not None else lo + 200
        return float(rng.randint(lo, max(lo, hi)))
    if isinstance(schema, SBoolean):
        return rng.choice([True, False])
    if isinstance(schema, SNull):
        return None
    if isinstance(schema, SArray):
        v = verify_array_constraints(schema.constraints)
        if v.eq is not None:
            n = v.eq
        else:
            lo = (v.gt + 1) if v.gt is not None else 0
            hi = (v.lt - 1) if v.lt is not None else lo + 4
            n = rng.randint(lo, max(lo, hi))
        return [conforming_value(schema.item, rng) for _ in range(n)]
    if isinstance(schema, SObject):
        return {
            name: conforming_value(s, rng) for name, s in schema.fields
        }
    if isinstance(schema, SOptional):
        if rng.random() < 0.3:
            return None
        return conforming_value(schema.inner, rng)
    if isinstance(schema, SUnion):
        return conforming_value(rng.choice(schema.alternatives), rng)
    raise TypeError(f"unknown schema node {schema!r}")


def conforming_rows(schema: SObject, n: int, seed: int = 42) -> list[dict]:
    """n conforming row dicts (deterministic for a seed)."""
    rng = random.Random(seed)
    return [conforming_value(schema, rng) for _ in range(n)]


def conforming_dataframe(spark, schema: SObject, n: int, seed: int = 42):
    """Spark DataFrame of n conforming rows, typed via spark_type_for."""
    from ..compiler import spark_type_for

    rows = conforming_rows(schema, n, seed)
    st = spark_type_for(schema)
    data = [
        tuple(_to_row(r[name], s) for name, s in schema.fields)
        for r in rows
    ]
    return spark.createDataFrame(data, st)


def _to_row(v, schema: Schema):
    if v is None:
        return None
    if isinstance(schema, SOptional):
        return _to_row(v, schema.inner)
    if isinstance(schema, SObject):
        return tuple(_to_row(v[name], s) for name, s in schema.fields)
    if isinstance(schema, SArray):
        return [_to_row(x, schema.item) for x in v]
    return v
