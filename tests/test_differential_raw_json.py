"""Differential property test for the RAW-JSON entry points: for random
schemas and randomly corrupted JSON documents, ``validate_json_strings``
must agree with the pure interpreter fed the json-parsed value —

  * the 3-way verdict,
  * the exact violation set for ValidationError rows,
  * for DecodingError rows: the interpreter's fail-fast first message
    must appear in the engine's (superset) structural list,
  * syntactically malformed strings → exactly ``"malformed json"``.

``validate_versioned_json_strings`` with a one-revision spec runs over
the same documents and must give every row the interpreter's verdict
too (upgraded = Valid, rejected = its ``_verdict``), which pins the two
raw-JSON entry points to each other.

Corruption modes fuzzed: missing required keys (any depth), explicit
nulls under SOptional, constraint-violating values of the CORRECT kind,
null array elements, SNull three-way (missing / explicit null / wrong
value), truncated (malformed) JSON. Wrong-KIND scalars for non-SNull
fields are not generated: the engine's Jackson-side number→text
coercion is a documented leniency (json_ingest.py module docstring)
the row-at-a-time interpreter doesn't share.
"""

from __future__ import annotations

import json
import random

import pytest

from schematic_spark.migrations import (
    VersionedSpec,
    validate_versioned_json_strings,
)
from schematic_spark.schema.ast import Schema, SNull, SObject, SOptional
from schematic_spark.schema.interpret import parse_and_validate
from schematic_spark.sources.json_ingest import validate_json_strings
from test_differential_property import _rand_schema, _rand_value

MISSING = object()


def _rand_doc(rng: random.Random, schema: SObject, *, corrupt: float):
    """Dict for the schema: absent keys (never explicit null) model the
    missing-field corruption for non-SNull fields; SNull fields get the
    three-way treatment; values are kind-correct (constraint violations
    come from _rand_value's value pool)."""
    doc = {}
    for name, fs in schema.fields:
        if isinstance(fs, SNull):
            r = rng.random()
            if r < corrupt:
                continue  # missing
            if r < corrupt * 1.5:
                doc[name] = 5  # wrong value → expected Null
            else:
                doc[name] = None
            continue
        if rng.random() < corrupt and not isinstance(fs, SOptional):
            continue  # missing required key
        v = _rand_value(rng, fs, corrupt=corrupt * 0.6)
        v = _absent_instead_of_null(v, fs)
        if v is MISSING:
            continue
        doc[name] = v
    return doc


def _absent_instead_of_null(value, schema: Schema):
    """Nested cleanup: the generator emits None for 'corrupt' nodes; in
    raw JSON an explicit null on a required non-SNull field has its own
    divergent message, so map nested object-field Nones to ABSENT keys
    (missing-field semantics both sides share). Optional Nones and null
    array elements stay — semantics agree there."""
    if value is None:
        if isinstance(schema, (SOptional, SNull)):
            return None
        return MISSING
    if isinstance(schema, SOptional):
        return _absent_instead_of_null(value, schema.inner)
    if isinstance(value, dict) and isinstance(schema, SObject):
        out = {}
        for n, s in schema.fields:
            if n not in value:
                continue
            v = _absent_instead_of_null(value[n], s)
            if v is not MISSING:
                out[n] = v
        return out
    if isinstance(value, list):
        item = schema.item  # SArray
        return [
            None if v is None else _absent_instead_of_null(v, item)
            for v in value
        ]
    return value


def _versioned_verdicts(df, schema) -> dict:
    """row_id → verdict from ``validate_versioned_json_strings`` with a
    one-revision spec: an upgraded row is Valid, a rejected row carries
    its ``_verdict``."""
    upgraded, rejected = validate_versioned_json_strings(
        df, "raw", VersionedSpec(base=schema)
    )
    got = [(r["row_id"], "Valid") for r in upgraded.collect()] + [
        (r["row_id"], r["_verdict"]) for r in rejected.collect()
    ]
    assert len(got) == df.count()
    return dict(got)


@pytest.mark.parametrize("seed", [5, 17, 41])
def test_raw_json_matches_interpreter(spark, seed):
    from schematic_spark.schema.verifier import (
        UnsatisfiableSchema, verify_schema,
    )

    rng = random.Random(seed)
    while True:
        fields = [(f"c{i}", _rand_schema(rng, 2)) for i in range(3)]
        fields.append(("nul", SNull()))
        schema = SObject(tuple(fields))
        try:
            verify_schema(schema)
            break
        except UnsatisfiableSchema:
            continue

    rows = []
    expects = {}
    for i in range(50):
        corrupt = 0.0 if i < 10 else 0.22
        doc = _rand_doc(rng, schema, corrupt=corrupt)
        raw = json.dumps(doc)
        if i % 13 == 12:
            raw = raw[: max(len(raw) - 3, 1)]  # truncate → malformed
            expects[i] = None  # sentinel: expect "malformed json"
        else:
            expects[i] = parse_and_validate(schema, doc)
        rows.append((i, raw))

    df = spark.createDataFrame(rows, "row_id int, raw string")
    res = validate_json_strings(df, "raw", schema)
    got = {
        r["row_id"]: r
        for r in res.annotated.select(
            "row_id", "_verdict", "_violations", "_structural",
            "_decoding_error",
        ).collect()
    }
    for i, raw in rows:
        g = got[i]
        expect = expects[i]
        if expect is None:
            assert g["_verdict"] == "DecodingError", (i, raw, dict(g.asDict()))
            assert g["_decoding_error"] == "malformed json", (i, raw)
            continue
        assert g["_verdict"] == expect.verdict, (
            i, raw, g["_verdict"], expect.verdict,
            [(x["path"], x["error"]) for x in g["_structural"]],
            expect.decoding_error, expect.violations,
        )
        if expect.verdict == "ValidationError":
            spark_viols = sorted(
                (x["path"], x["error"]) for x in g["_violations"]
            )
            assert spark_viols == sorted(expect.violations), (i, raw)
        if expect.verdict == "DecodingError":
            msgs = {x["error"] for x in g["_structural"]}
            assert expect.decoding_error in msgs, (
                i, raw, expect.decoding_error, msgs,
            )

    versioned = _versioned_verdicts(df, schema)
    for i, raw in rows:
        expect = "DecodingError" if expects[i] is None else expects[i].verdict
        assert versioned[i] == expect, (i, raw, versioned[i], expect)


@pytest.mark.parametrize("seed", [3, 29])
def test_raw_json_union_encodings_match_interpreter(spark, seed):
    """Named-field and kind-tagged unions over raw JSON (the encodings
    where round-3's false-Valid bug lived): fuzz the full semantics
    matrix — committed branches with constraint-violating payloads,
    unknown tags, missing payloads, wrong-kind union values, explicit
    null / absent / empty-object against an SNull alternative — and
    require verdict + violation-set + first-structural-message parity
    with the pure interpreter. Branch payloads are always
    kind-correct (the documented number→text coercion leniency)."""
    from schematic_spark.schema.ast import (
        NGt, SNumber, SText, SUnion, TGe, TGt,
    )

    rng = random.Random(seed)
    named = SUnion(
        (SText((TGe(2),)), SNumber((NGt(0),)), SNull()),
        branch_fields=("s", "n", "z"),
        validate_branches=True,
    )
    tagged = SUnion(
        # two same-kind branches: only the committed tag's constraints
        # may fire (kind re-dispatch would mis-commit)
        (SText((TGt(3),)), SText((TGe(1),))),
        branch_fields=("long", "short"),
        tag_field="kind",
        tags=("L", "S"),
        validate_branches=True,
    )
    # optional-wrapped named union (no SNull alt): the round-3
    # false-Valid class — from_json nulls a wrong-kind slot and the
    # optional must NOT absorb it as absent
    opt_union = SOptional(SUnion(
        (SText((TGe(2),)), SNumber((NGt(0),))),
        branch_fields=("s", "n"),
        validate_branches=True,
    ))
    schema = SObject((
        ("rid", SText()),
        ("nu", named),
        ("tu", tagged),
        ("ou", opt_union),
    ))

    def _named_value():
        r = rng.randrange(8)
        if r == 0:
            return {"s": rng.choice(["", "a", "bb", "hello"])}
        if r == 1:
            return {"n": float(rng.randint(-3, 5))}
        if r == 2:
            return None                       # SNull match
        if r == 3:
            return MISSING                    # absent — SNull match
        if r == 4:
            return {}                         # all-null — SNull match
        if r == 5:
            return rng.choice([5, True, [1], "zz"])  # wrong kind
        if r == 6:
            return {"s": None, "n": float(rng.randint(-3, 5))}
        return {"s": rng.choice(["a", "xyzzy"]),
                "n": float(rng.randint(-3, 5))}  # both: leftmost wins

    def _tagged_value():
        r = rng.randrange(8)
        if r == 0:
            return {"kind": "L", "long": rng.choice(["ab", "abcd", "x"])}
        if r == 1:
            return {"kind": "S", "short": rng.choice(["", "q", "qqqq"])}
        if r == 2:
            return {"kind": "wat"}            # unknown tag
        if r == 3:
            return {"kind": "L"}              # committed, no payload
        if r == 4:
            return MISSING                    # absent → no-match
        if r == 5:
            return None                       # null → no-match
        if r == 6:
            return rng.choice([7, "x", [2]])  # wrong kind
        return {"kind": "S", "short": "ok", "long": "ignored"}

    def _opt_value():
        r = rng.randrange(6)
        if r == 0:
            return MISSING                    # absent → Valid
        if r == 1:
            return None                       # null → Valid
        if r == 2:
            return {"s": rng.choice(["a", "abc"])}
        if r == 3:
            return {"n": float(rng.randint(-2, 4))}
        if r == 4:
            return rng.choice([9, "zz", [3], True])  # wrong kind
        return {}                             # all-null → no-match

    rows, expects = [], {}
    for i in range(60):
        doc = {"rid": f"r{i}"}
        nv, tv, ov = _named_value(), _tagged_value(), _opt_value()
        if nv is not MISSING:
            doc["nu"] = nv
        if tv is not MISSING:
            doc["tu"] = tv
        if ov is not MISSING:
            doc["ou"] = ov
        expects[i] = parse_and_validate(schema, doc)
        rows.append((i, json.dumps(doc)))

    df = spark.createDataFrame(rows, "row_id int, raw string")
    res = validate_json_strings(df, "raw", schema)
    got = {
        r["row_id"]: r
        for r in res.annotated.select(
            "row_id", "_verdict", "_violations", "_structural",
            "_decoding_error",
        ).collect()
    }
    for i, raw in rows:
        g, expect = got[i], expects[i]
        assert g["_verdict"] == expect.verdict, (
            i, raw, g["_verdict"], expect.verdict,
            [(x["path"], x["error"]) for x in g["_structural"]],
            expect.decoding_error, expect.violations,
        )
        if expect.verdict == "ValidationError":
            spark_viols = sorted(
                (x["path"], x["error"]) for x in g["_violations"]
            )
            assert spark_viols == sorted(expect.violations), (
                i, raw, spark_viols, expect.violations,
            )
        if expect.verdict == "DecodingError":
            msgs = {x["error"] for x in g["_structural"]}
            assert expect.decoding_error in msgs, (
                i, raw, expect.decoding_error, msgs,
            )

    versioned = _versioned_verdicts(df, schema)
    for i, raw in rows:
        assert versioned[i] == expects[i].verdict, (
            i, raw, versioned[i], expects[i].verdict,
        )
