"""Pure-Python core tests — no Spark. Fixtures re-express the reference
suite (/root/reference/test/SchemaSpec.hs, HelpersSpec.hs, JsonSchemaSpec.hs)
per FIXTURES.md."""

from __future__ import annotations

import pytest

from schematic_spark.schema import (
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
    UnsatisfiableSchema,
    dump_spec,
    parse_and_validate,
    parse_spec,
    regex_length_bounds,
    to_json_schema,
    to_json_schema_inner,
    verify_number_constraints,
    verify_schema,
    verify_text_constraints,
)
from schematic_spark.schema.helpers import (
    IS_DATE,
    IS_DATETIME,
    IS_TIME,
    IS_UUID,
    UUID_REGEX,
)

# F1 — schema_example: test/SchemaSpec.hs:32-34
SCHEMA_EXAMPLE = SObject((
    ("foo", SArray(SNumber((NGt(10),)), (AEq(1),))),
    ("bar", SOptional(SText((TEnum(("foo", "bar")),)))),
))

# F2 — schema_example2: test/SchemaSpec.hs:36-38
SCHEMA_EXAMPLE2 = SObject((
    ("foo", SArray(SText((TGt(10),)), (AEq(2),))),
    ("bar", SOptional(SText((TRegex("[0-9]+"),)))),
))


class TestF1AcceptReject:
    def test_valid_row(self):
        # SchemaSpec.hs:95-97 — {"foo":[13],"bar":null} Valid
        r = parse_and_validate(SCHEMA_EXAMPLE, {"foo": [13], "bar": None})
        assert r.verdict == "Valid"

    def test_validation_error(self):
        # SchemaSpec.hs:101-103 — {"foo":[3],"bar":null}
        r = parse_and_validate(SCHEMA_EXAMPLE, {"foo": [3], "bar": None})
        assert r.verdict == "ValidationError"
        assert r.violations == [(".foo[0]", "should be > 10")]

    def test_decoding_error_empty_object(self):
        # SchemaSpec.hs:98-100 — {} missing required field
        r = parse_and_validate(SCHEMA_EXAMPLE, {})
        assert r.verdict == "DecodingError"
        assert r.decoding_error == 'No array field: "foo"'

    def test_valid_with_enum(self):
        r = parse_and_validate(SCHEMA_EXAMPLE, {"foo": [13], "bar": "bar"})
        assert r.verdict == "Valid"

    def test_enum_violation(self):
        r = parse_and_validate(SCHEMA_EXAMPLE, {"foo": [13], "bar": "quux"})
        assert r.verdict == "ValidationError"
        assert r.violations == [(".bar", 'must be one of ["foo","bar"]')]

    def test_array_size_violation(self):
        r = parse_and_validate(SCHEMA_EXAMPLE, {"foo": [11, 12], "bar": None})
        assert r.verdict == "ValidationError"
        assert r.violations == [(".foo", "length should be == 1")]

    def test_missing_optional_is_valid(self):
        r = parse_and_validate(SCHEMA_EXAMPLE, {"foo": [13]})
        assert r.verdict == "Valid"

    def test_all_violations_accumulate(self):
        # monoidal accumulation, never fail-fast (Validation.hs:26-28)
        r = parse_and_validate(
            SCHEMA_EXAMPLE, {"foo": [3, 4], "bar": "quux"}
        )
        assert r.verdict == "ValidationError"
        assert set(r.violations) == {
            (".foo", "length should be == 1"),
            (".foo[0]", "should be > 10"),
            (".foo[1]", "should be > 10"),
            (".bar", 'must be one of ["foo","bar"]'),
        }


class TestF2TextConstraints:
    def test_valid(self):
        r = parse_and_validate(
            SCHEMA_EXAMPLE2, {"foo": ["hello world!", "second string"], "bar": "123"}
        )
        assert r.verdict == "Valid"

    def test_short_element(self):
        r = parse_and_validate(
            SCHEMA_EXAMPLE2, {"foo": ["short", "long enough here"], "bar": None}
        )
        assert r.violations == [(".foo[0]", "length should be > 10")]

    def test_regex_violation(self):
        r = parse_and_validate(
            SCHEMA_EXAMPLE2, {"foo": ["hello world!", "second string"], "bar": "abc"}
        )
        assert r.violations == [(".bar", "must match [0-9]+")]

    def test_regex_unanchored_search(self):
        # matchTest = search, not full match: "a1b" contains a digit
        r = parse_and_validate(
            SCHEMA_EXAMPLE2, {"foo": ["hello world!", "second string"], "bar": "a1b"}
        )
        assert r.verdict == "Valid"


class TestF3BoundMatrix:
    SCHEMA = SObject((
        ("a1", SArray(SNumber(), (AGt(1),))),
        ("a2", SArray(SNumber(), (AGe(1),))),
        ("a3", SArray(SNumber(), (ALt(1),))),
        ("a4", SArray(SNumber(), (ALe(1),))),
        ("n1", SNumber((NGt(1),))),
        ("n4", SNumber((NLe(1),))),
        ("t1", SText((TGt(1),))),
        ("t3", SText((TLt(1),))),
    ))

    PASSING = {
        "a1": [13, 13], "a2": [13], "a3": [], "a4": [13],
        "n1": 1.1, "n4": 1.0, "t1": "11", "t3": "",
    }

    def test_passing_row(self):
        assert parse_and_validate(self.SCHEMA, self.PASSING).verdict == "Valid"

    @pytest.mark.parametrize("field,value,msg", [
        ("a1", [13], "length should be > 1"),
        ("a2", [], "length should be >= 1"),
        ("a3", [13], "length should be < 1"),
        ("a4", [13, 13], "length should be <= 1"),
        ("n1", 1, "should be > 1"),
        ("n4", 1.5, "should be <= 1"),
        ("t1", "1", "length should be > 1"),
        ("t3", "x", "length should be < 1"),
    ])
    def test_boundary_mutants(self, field, value, msg):
        row = dict(self.PASSING)
        row[field] = value
        r = parse_and_validate(self.SCHEMA, row)
        assert r.violations == [(f".{field}", msg)]


class TestF4RegexVectors:
    """HelpersSpec.hs:21-67 golden vectors."""

    UUID_OK = ["f81d4fae-7dec-11d0-a765-00a0c91e6bf6"]
    UUID_BAD = ["incorrect"]
    DATE_OK = ["1985-04-12"]
    DATE_BAD = ["1999-13-12"]
    TIME_OK = ["19:23:00", "00:00:00", "23:47:12"]
    TIME_BAD = ["00:60:00", "24:01:02"]
    DT_OK = [
        "1985-04-12T23:20:50.52Z",
        "1996-12-19T16:39:57-08:00",
        "1990-12-31T23:59:60Z",
        "1990-12-31T15:59:60-08:00",
        "1937-01-01T12:00:27.87+00:20",
    ]
    DT_BAD = [
        "1996-13-129T16:39:57-08:00",
        "1990-2-31T23:59:60Z",
        "1990-12-32T15:59:70",
        "1937-01-1T12::27.87+24:20",
    ]

    @staticmethod
    def _check(constraints, value):
        schema = SObject((("v", SText(constraints)),))
        return parse_and_validate(schema, {"v": value}).is_valid

    @pytest.mark.parametrize("v", UUID_OK)
    def test_uuid_accept(self, v):
        assert self._check(IS_UUID, v)

    @pytest.mark.parametrize("v", UUID_BAD)
    def test_uuid_reject(self, v):
        assert not self._check(IS_UUID, v)

    def test_uuid_reject_message(self):
        schema = SObject((("v", SText(IS_UUID)),))
        r = parse_and_validate(schema, {"v": "incorrect"})
        assert r.violations == [(".v", f"must match {UUID_REGEX}")]

    @pytest.mark.parametrize("v", DATE_OK)
    def test_date_accept(self, v):
        assert self._check(IS_DATE, v)

    @pytest.mark.parametrize("v", DATE_BAD)
    def test_date_reject(self, v):
        assert not self._check(IS_DATE, v)

    @pytest.mark.parametrize("v", TIME_OK)
    def test_time_accept(self, v):
        assert self._check(IS_TIME, v)

    @pytest.mark.parametrize("v", TIME_BAD)
    def test_time_reject(self, v):
        assert not self._check(IS_TIME, v)

    @pytest.mark.parametrize("v", DT_OK)
    def test_datetime_accept(self, v):
        assert self._check(IS_DATETIME, v)

    @pytest.mark.parametrize("v", DT_BAD)
    def test_datetime_reject(self, v):
        assert not self._check(IS_DATETIME, v)


class TestStructural:
    def test_union_left_biased(self):
        schema = SObject((
            ("u", SUnion((SText((TEq(100),)), SNumber()))),
        ))
        # text branch matches structurally; constraint validation inside
        # union is a NO-OP for parity (Validation.hs:244)
        r = parse_and_validate(schema, {"u": "short"})
        assert r.verdict == "Valid"
        r2 = parse_and_validate(
            schema, {"u": "short"}, validate_unions=True
        )
        assert r2.violations == [(".u", "length should be == 100")]

    def test_nested_missing_field_message(self):
        schema = SObject((
            ("o", SObject((("t", SText()),))),
        ))
        r = parse_and_validate(schema, {"o": {}})
        assert r.verdict == "DecodingError"
        assert r.decoding_error == 'No text field: "t"'

    def test_missing_object_field_quirk(self):
        # reference quirk: "No object field" ++ show name (no ": ")
        schema = SObject((("o", SObject((("t", SText()),))),))
        r = parse_and_validate(schema, {})
        assert r.decoding_error == 'No object field"o"'

    def test_null_schema(self):
        schema = SObject((("z", SNull()), ("b", SBoolean())))
        assert parse_and_validate(schema, {"z": None, "b": True}).is_valid
        r = parse_and_validate(schema, {"z": 1, "b": True})
        assert r.verdict == "DecodingError"


class TestVerifier:
    def test_fold_bounds(self):
        v = verify_number_constraints((NLt(5), NLt(9), NGt(1), NLe(4)))
        assert v.lt == 5 and v.gt == 1 and v.eq is None

    def test_contradictory_eqs(self):
        with pytest.raises(UnsatisfiableSchema):
            verify_number_constraints((NEq(1), NEq(2)))

    def test_contradictory_bounds(self):
        with pytest.raises(UnsatisfiableSchema):
            verify_number_constraints((NGt(5), NLt(3)))

    def test_eq_outside_bounds(self):
        with pytest.raises(UnsatisfiableSchema):
            verify_number_constraints((NEq(10), NLt(5)))

    def test_le_normalization(self):
        # Le 5 → Lt 6; Eq 5 within
        v = verify_number_constraints((NEq(5), NLe(5)))
        assert v.eq == 5

    def test_regex_length_bounds(self):
        assert regex_length_bounds("[0-9]{3}") == (3, 3)
        assert regex_length_bounds("a+") == (1, None)
        assert regex_length_bounds("(ab|abc)x?") == (2, 4)
        assert regex_length_bounds(UUID_REGEX) == (36, 36)
        # a POSIX class is one character, not a set plus a literal ]
        assert regex_length_bounds("^[[:alpha:]]$") == (1, 1)

    def test_regex_vs_length_contradiction(self):
        # regex forces exactly 36 chars; TLt 10 is unsatisfiable
        with pytest.raises(UnsatisfiableSchema):
            verify_text_constraints((TRegex(UUID_REGEX), TLt(10)))

    def test_schema_walk_flags_path(self):
        schema = SObject((
            ("ok", SText()),
            ("bad", SArray(SNumber((NEq(1), NEq(2))))),
        ))
        with pytest.raises(UnsatisfiableSchema) as e:
            verify_schema(schema)
        assert "$.bad[]" in str(e.value)


class TestSpecParser:
    def test_roundtrip(self):
        for schema in (SCHEMA_EXAMPLE, SCHEMA_EXAMPLE2):
            assert parse_spec(dump_spec(schema)) == schema

    def test_parse_dict(self):
        spec = {
            "type": "object",
            "fields": [
                ["foo", {"type": "array", "items": {
                    "type": "number",
                    "constraints": [{"op": "NGt", "n": 10}],
                }, "constraints": [{"op": "AEq", "n": 1}]}],
                ["bar", {"type": "optional", "inner": {
                    "type": "text",
                    "constraints": [{"op": "TEnum", "values": ["foo", "bar"]}],
                }}],
            ],
        }
        assert parse_spec(spec) == SCHEMA_EXAMPLE


class TestJsonSchemaExport:
    def test_f1_export(self):
        js = to_json_schema(SCHEMA_EXAMPLE)
        assert js["$schema"] == "http://json-schema.org/draft-04/schema#"
        assert js["type"] == "object"
        assert js["required"] == ["foo"]
        foo = js["properties"]["foo"]
        assert foo == {
            "type": "array",
            "items": {"type": "number", "minimum": 10,
                      "exclusiveMinimum": True},
            "minItems": 1, "maxItems": 1,
        }
        bar = js["properties"]["bar"]
        assert bar == {"oneOf": [
            {"type": "null"},
            {"type": "string", "enum": ["foo", "bar"]},
        ]}

    def test_clamp_arithmetic(self):
        js = to_json_schema_inner(SText((TLt(0),)))
        assert js["maxLength"] == 0
        js = to_json_schema_inner(SArray(SNumber(), (ALt(0),)))
        assert js["maxItems"] == 0


class TestJsonSchemaImport:
    """Draft-4 import (the reverse of export) — round-trip property:
    export(parse(export(s))) == export(s) for every generated schema."""

    def test_roundtrip_wire_idempotent(self):
        import itertools

        from schematic_spark.schema.jsonschema import (
            from_json_schema,
            to_json_schema,
            to_json_schema_inner,
        )

        leaves = [
            SText(),
            SText((TEq(5),)),
            SText((TGt(2), TLe(9))),
            SText((TRegex("[a-z]+"), TEnum(("a", "b")))),
            SNumber((NEq(7),)),
            SNumber((NGt(0), NLe(100))),
            SNumber((NGe(1), NLt(10))),
            SBoolean(),
            SNull(),
        ]
        composites = [
            SArray(leaf, cs)
            for leaf, cs in itertools.product(
                leaves[:4], [(), (AEq(3),), (AGe(1), ALe(8)), (AGt(0),)]
            )
        ] + [
            SObject((("a", leaves[1]), ("b", SOptional(leaves[4])))),
            SUnion((leaves[0], leaves[4])),
            SOptional(SArray(SObject((("x", SText()),)))),
            SObject((("deep", SArray(SObject((
                ("kind", SText((TEnum(("text", "media")),))),
                ("offset", SNumber((NGe(0),))),
            )))),)),
        ]
        for s in leaves + composites:
            wire = to_json_schema_inner(s)
            back = from_json_schema(wire)
            assert to_json_schema_inner(back) == wire, s
        # with the $schema marker too
        full = to_json_schema(composites[-1])
        parsed = from_json_schema(
            {k: v for k, v in full.items() if k != "$schema"}
        )
        assert to_json_schema(parsed) == full

    def test_exact_inverse_on_canonical_forms(self):
        from schematic_spark.schema.jsonschema import (
            from_json_schema,
            to_json_schema_inner,
        )

        s = SObject((
            ("name", SText((TEq(4),))),
            ("n", SNumber((NEq(3),))),
            ("tags", SArray(SText(), (AEq(2),))),
            ("opt", SOptional(SBoolean())),
        ))
        assert from_json_schema(to_json_schema_inner(s)) == s


class TestDraft4IndependentValidator:
    """The reference validates its draft-4 export with an INDEPENDENT
    validator (hjsonschema) against conforming instances —
    test/JsonSchemaSpec.hs:20-98. Mirror with jsonschema's
    Draft4Validator: same four fixture schemas, the same instances the
    reference feeds, plus generator-produced conforming rows and
    non-conforming mutants (which hjsonschema's suite implies but never
    spells out)."""

    @staticmethod
    def _validator(schema):
        jsonschema = pytest.importorskip("jsonschema")
        doc = to_json_schema(schema)
        jsonschema.Draft4Validator.check_schema(doc)
        return jsonschema.Draft4Validator(doc)

    def test_validates_simple_schema(self):
        # JsonSchemaSpec.hs:57-62 — exampleData {"foo":[13],"bar":"foo"}
        v = self._validator(SCHEMA_EXAMPLE)
        assert v.is_valid({"foo": [13], "bar": "foo"})
        assert v.is_valid({"foo": [13]})          # bar optional
        assert v.is_valid({"foo": [13], "bar": None})  # oneOf null arm
        # mutants — each flips exactly one constraint
        assert not v.is_valid({"foo": [9], "bar": "foo"})        # NGt 10
        assert not v.is_valid({"foo": [13, 13], "bar": "foo"})   # AEq 1
        assert not v.is_valid({"foo": [], "bar": "foo"})         # AEq 1
        assert not v.is_valid({"foo": [13], "bar": "baz"})       # TEnum
        assert not v.is_valid({"bar": "foo"})                    # required

    def test_validates_schema_with_arrays(self):
        # JsonSchemaSpec.hs:35-40,63-74
        schema = SObject((
            ("a1", SArray(SNumber(), (AGt(1),))),
            ("a2", SArray(SNumber(), (AGe(1),))),
            ("a3", SArray(SNumber(), (ALt(1),))),
            ("a4", SArray(SNumber(), (ALe(1),))),
        ))
        v = self._validator(schema)
        good = {"a1": [13, 13], "a2": [13], "a3": [], "a4": [13]}
        assert v.is_valid(good)
        assert not v.is_valid({**good, "a1": [13]})      # AGt 1
        assert not v.is_valid({**good, "a2": []})        # AGe 1
        assert not v.is_valid({**good, "a3": [13]})      # ALt 1
        assert not v.is_valid({**good, "a4": [13, 13]})  # ALe 1

    def test_validates_schema_with_numbers(self):
        # JsonSchemaSpec.hs:42-47,75-86
        schema = SObject((
            ("n1", SNumber((NGt(1),))),
            ("n2", SNumber((NGe(1),))),
            ("n3", SNumber((NLt(1),))),
            ("n4", SNumber((NLe(1),))),
        ))
        v = self._validator(schema)
        good = {"n1": 1.1, "n2": 1, "n3": 0.9, "n4": 1.0}
        assert v.is_valid(good)
        assert not v.is_valid({**good, "n1": 1})    # NGt strict
        assert not v.is_valid({**good, "n2": 0.9})  # NGe
        assert not v.is_valid({**good, "n3": 1})    # NLt strict
        assert not v.is_valid({**good, "n4": 1.1})  # NLe

    def test_validates_schema_with_strings(self):
        # JsonSchemaSpec.hs:49-54,87-98 — length constraints
        schema = SObject((
            ("t1", SText((TGt(1),))),
            ("t2", SText((TGe(1),))),
            ("t3", SText((TLt(1),))),
            ("t4", SText((TLe(1),))),
        ))
        v = self._validator(schema)
        good = {"t1": "11", "t2": "1", "t3": "", "t4": "1"}
        assert v.is_valid(good)
        assert not v.is_valid({**good, "t1": "1"})   # TGt 1
        assert not v.is_valid({**good, "t2": ""})    # TGe 1
        assert not v.is_valid({**good, "t3": "x"})   # TLt 1
        assert not v.is_valid({**good, "t4": "22"})  # TLe 1

    def test_generated_conforming_rows_pass_independent_validator(self):
        """Close the loop generator → export → independent validator:
        every series-generated row must satisfy the exported draft-4
        document, and the engine's own verdict must agree."""
        from schematic_spark.schema.series import conforming_rows

        schema = SObject((
            ("foo", SArray(SNumber((NGt(10), NLe(1000))), (AEq(1),))),
            ("bar", SOptional(SText((TEnum(("foo", "bar")),)))),
            ("name", SText((TGe(1), TLt(12)))),
            ("flags", SArray(SBoolean(), (ALe(3),))),
        ))
        v = self._validator(schema)
        for row in conforming_rows(schema, 40, seed=7):
            errs = list(v.iter_errors(row))
            assert errs == [], f"draft-4 rejects generated row {row}: {errs}"
            assert parse_and_validate(schema, row).violations == []
