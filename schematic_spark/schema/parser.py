"""JSON spec ⇄ AST.

The reference pins schemas at compile time in the type system
(``Schema.hs:241-250``) and demotes them to runtime values. Our specs are
data: a JSON/YAML-able dict parsed into the AST once on the driver.

Spec grammar (dict form)::

    {"type": "text",    "constraints": [{"op": "TGt", "n": 10},
                                        {"op": "TRegex", "pattern": "[0-9]+"},
                                        {"op": "TEnum", "values": ["a","b"]}]}
    {"type": "number",  "constraints": [{"op": "NGe", "n": 0}]}
    {"type": "boolean"} | {"type": "null"}
    {"type": "array",   "items": <spec>, "constraints": [{"op":"AEq","n":1}]}
    {"type": "object",  "fields": [["name", <spec>], ...]}
    {"type": "optional","inner": <spec>}
    {"type": "union",   "alternatives": [<spec>, ...]}
"""

from __future__ import annotations

import json
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
)

_N_OPS = {"TEq": TEq, "TLt": TLt, "TLe": TLe, "TGt": TGt, "TGe": TGe,
          "NEq": NEq, "NGt": NGt, "NGe": NGe, "NLt": NLt, "NLe": NLe,
          "AEq": AEq, "AGt": AGt, "AGe": AGe, "ALt": ALt, "ALe": ALe}


def _parse_constraint(d: dict) -> Any:
    op = d["op"]
    if op in _N_OPS:
        return _N_OPS[op](int(d["n"]))
    if op == "TRegex":
        return TRegex(d["pattern"])
    if op == "TEnum":
        return TEnum(tuple(d["values"]))
    raise ValueError(f"unknown constraint op: {op!r}")


def parse_spec(spec: dict | str) -> Schema:
    """Parse a spec dict (or JSON string) into the schema AST."""
    if isinstance(spec, str):
        spec = json.loads(spec)
    t = spec["type"]
    cs = tuple(_parse_constraint(c) for c in spec.get("constraints", []))
    if t == "text":
        return SText(cs)
    if t == "number":
        return SNumber(cs)
    if t == "boolean":
        return SBoolean()
    if t == "null":
        return SNull()
    if t == "array":
        return SArray(parse_spec(spec["items"]), cs)
    if t == "object":
        return SObject(
            tuple((name, parse_spec(f)) for name, f in spec["fields"])
        )
    if t == "optional":
        return SOptional(parse_spec(spec["inner"]))
    if t == "union":
        bf = spec.get("branch_fields")
        tags = spec.get("tags")
        return SUnion(
            tuple(parse_spec(a) for a in spec["alternatives"]),
            validate_branches=bool(spec.get("validate_branches", False)),
            branch_fields=tuple(bf) if bf is not None else None,
            tag_field=spec.get("tag_field"),
            tags=tuple(tags) if tags is not None else None,
        )
    raise ValueError(f"unknown schema type: {t!r}")


def _dump_constraint(c: Any) -> dict:
    name = type(c).__name__
    if isinstance(c, TRegex):
        return {"op": "TRegex", "pattern": c.pattern}
    if isinstance(c, TEnum):
        return {"op": "TEnum", "values": list(c.values)}
    return {"op": name, "n": c.n}


def dump_spec(schema: Schema) -> dict:
    """AST → spec dict (inverse of :func:`parse_spec`)."""
    if isinstance(schema, SText):
        out: dict = {"type": "text"}
        if schema.constraints:
            out["constraints"] = [_dump_constraint(c) for c in schema.constraints]
        return out
    if isinstance(schema, SNumber):
        out = {"type": "number"}
        if schema.constraints:
            out["constraints"] = [_dump_constraint(c) for c in schema.constraints]
        return out
    if isinstance(schema, SBoolean):
        return {"type": "boolean"}
    if isinstance(schema, SNull):
        return {"type": "null"}
    if isinstance(schema, SArray):
        out = {"type": "array", "items": dump_spec(schema.item)}
        if schema.constraints:
            out["constraints"] = [_dump_constraint(c) for c in schema.constraints]
        return out
    if isinstance(schema, SObject):
        return {
            "type": "object",
            "fields": [[n, dump_spec(s)] for n, s in schema.fields],
        }
    if isinstance(schema, SOptional):
        return {"type": "optional", "inner": dump_spec(schema.inner)}
    if isinstance(schema, SUnion):
        out = {
            "type": "union",
            "alternatives": [dump_spec(a) for a in schema.alternatives],
        }
        if schema.validate_branches:
            out["validate_branches"] = True
        if schema.branch_fields is not None:
            out["branch_fields"] = list(schema.branch_fields)
        if schema.tag_field is not None:
            out["tag_field"] = schema.tag_field
            out["tags"] = list(schema.tags)
        return out
    raise TypeError(f"unknown schema node {schema!r}")
