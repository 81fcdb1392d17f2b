"""Spark compiler golden tests — FIXTURES.md F1-F4 + nested spans +
Spark-vs-interpreter property agreement."""

from __future__ import annotations

import random
import string

import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    DoubleType,
    StringType,
    StructField,
    StructType,
)

from schematic_spark.compiler import SchemaMismatchError
from schematic_spark.schema import (
    AEq,
    AGe,
    AGt,
    ALe,
    ALt,
    NGe,
    NGt,
    NLe,
    SArray,
    SNumber,
    SObject,
    SOptional,
    SText,
    TEnum,
    TEq,
    TGt,
    TLt,
    TRegex,
    parse_and_validate,
)
from schematic_spark.schema.helpers import (
    IS_DATETIME,
    IS_TIME,
    IS_UUID,
)
from schematic_spark.validation import validate

SCHEMA_EXAMPLE = SObject((
    ("foo", SArray(SNumber((NGt(10),)), (AEq(1),))),
    ("bar", SOptional(SText((TEnum(("foo", "bar")),)))),
))

F1_TYPE = StructType([
    StructField("row_id", StringType(), False),
    StructField("foo", ArrayType(DoubleType()), True),
    StructField("bar", StringType(), True),
])


@pytest.fixture(scope="module")
def f1_result(spark):
    rows = [
        ("r1", [13.0], None),
        ("r2", [3.0], None),
        ("r3", None, None),
        ("r4", [13.0], "bar"),
        ("r5", [13.0], "quux"),
        ("r6", [11.0, 12.0], None),
    ]
    df = spark.createDataFrame(rows, F1_TYPE)
    return validate(df, SCHEMA_EXAMPLE)


class TestF1Golden:
    def test_verdicts(self, f1_result):
        got = {
            r["row_id"]: r["_verdict"]
            for r in f1_result.annotated.collect()
        }
        assert got == {
            "r1": "Valid",
            "r2": "ValidationError",
            "r3": "DecodingError",
            "r4": "Valid",
            "r5": "ValidationError",
            "r6": "ValidationError",
        }

    def test_violation_rows(self, f1_result):
        got = {
            (r["row_id"], r["json_path"], r["error"])
            for r in f1_result.violations("row_id").collect()
        }
        assert got == {
            ("r2", ".foo[0]", "should be > 10"),
            ("r5", ".bar", 'must be one of ["foo","bar"]'),
            ("r6", ".foo", "length should be == 1"),
        }

    def test_decoding_error_message(self, f1_result):
        r3 = f1_result.annotated.where(F.col("row_id") == "r3").first()
        assert r3["_decoding_error"] == 'No array field: "foo"'

    def test_valid_rows_projection(self, f1_result):
        ids = {r["row_id"] for r in f1_result.valid_rows().collect()}
        assert ids == {"r1", "r4"}
        assert f1_result.valid_rows().columns == ["row_id", "foo", "bar"]

    def test_summary(self, f1_result):
        got = {
            r["verdict"]: (r["n_rows"], r["n_violations"])
            for r in f1_result.summary().collect()
        }
        assert got == {
            "Valid": (2, 0),
            "ValidationError": (3, 3),
            "DecodingError": (1, 0),
        }

    def test_partition_verdicts(self, f1_result):
        parts = f1_result.partition_verdicts().collect()
        assert sum(p["n_rows"] for p in parts) == 6
        assert sum(p["n_bad_rows"] for p in parts) == 4
        assert any(not p["passed"] for p in parts)


class TestF2:
    SCHEMA = SObject((
        ("foo", SArray(SText((TGt(10),)), (AEq(2),))),
        ("bar", SOptional(SText((TRegex("[0-9]+"),)))),
    ))

    def _validate(self, spark, rows):
        t = StructType([
            StructField("foo", ArrayType(StringType()), True),
            StructField("bar", StringType(), True),
        ])
        return validate(spark.createDataFrame(rows, t), self.SCHEMA)

    def test_mutants(self, spark):
        res = self._validate(spark, [
            (["hello world!", "second string"], "123"),   # valid
            (["short", "long enough here"], None),        # len violation
            (["hello world!", "second string"], "abc"),   # regex violation
            (["hello world!", "second string"], "a1b"),   # unanchored → ok
        ])
        rows = res.annotated.collect()
        assert [r["_verdict"] for r in rows] == [
            "Valid", "ValidationError", "ValidationError", "Valid",
        ]
        viols = {
            (r["json_path"], r["error"])
            for r in res.violations().collect()
        }
        assert viols == {
            (".foo[0]", "length should be > 10"),
            (".bar", "must match [0-9]+"),
        }


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

    def test_passing_and_mutants(self, spark):
        t = StructType([
            StructField("a1", ArrayType(DoubleType())),
            StructField("a2", ArrayType(DoubleType())),
            StructField("a3", ArrayType(DoubleType())),
            StructField("a4", ArrayType(DoubleType())),
            StructField("n1", DoubleType()),
            StructField("n4", DoubleType()),
            StructField("t1", StringType()),
            StructField("t3", StringType()),
        ])
        passing = ([13.0, 13.0], [13.0], [], [13.0], 1.1, 1.0, "11", "")
        mutant = ([13.0], [], [13.0], [13.0, 13.0], 1.0, 1.5, "1", "x")
        res = validate(spark.createDataFrame([passing, mutant], t), self.SCHEMA)
        rows = res.annotated.collect()
        assert rows[0]["_verdict"] == "Valid"
        got = {(v["path"], v["error"]) for v in rows[1]["_violations"]}
        assert got == {
            (".a1", "length should be > 1"),
            (".a2", "length should be >= 1"),
            (".a3", "length should be < 1"),
            (".a4", "length should be <= 1"),
            (".n1", "should be > 1"),
            (".n4", "should be <= 1"),
            (".t1", "length should be > 1"),
            (".t3", "length should be < 1"),
        }


class TestF4RegexVectors:
    @pytest.mark.parametrize("constraints,accepts,rejects", [
        (IS_UUID, ["f81d4fae-7dec-11d0-a765-00a0c91e6bf6"], ["incorrect"]),
        (IS_TIME, ["19:23:00", "00:00:00", "23:47:12"],
         ["00:60:00", "24:01:02"]),
        (IS_DATETIME,
         ["1985-04-12T23:20:50.52Z", "1996-12-19T16:39:57-08:00",
          "1990-12-31T23:59:60Z", "1990-12-31T15:59:60-08:00",
          "1937-01-01T12:00:27.87+00:20"],
         ["1996-13-129T16:39:57-08:00", "1990-2-31T23:59:60Z",
          "1990-12-32T15:59:70", "1937-01-1T12::27.87+24:20"]),
    ])
    def test_vectors_jvm_path(self, spark, constraints, accepts, rejects):
        schema = SObject((("v", SText(constraints)),))
        df = spark.createDataFrame(
            [(v,) for v in accepts + rejects], "v string"
        )
        res = validate(df, schema)
        verdicts = [r["_verdict"] for r in res.annotated.collect()]
        assert verdicts == (
            ["Valid"] * len(accepts) + ["ValidationError"] * len(rejects)
        )

    def test_python_dialect_path(self, spark):
        # an inline flag group, read the same way by Java and Python
        schema = SObject((("v", SText((TRegex("(?i)hello"),)),),))
        df = spark.createDataFrame([("HELLO",), ("nope",)], "v string")
        res = validate(df, schema)
        verdicts = [r["_verdict"] for r in res.annotated.collect()]
        assert verdicts == ["Valid", "ValidationError"]
        viols = res.violations().collect()
        assert (viols[0]["json_path"], viols[0]["error"]) == (
            ".v", "must match (?i)hello",
        )


class TestNestedSpans:
    """F6-shaped nested validation: array<struct<...>> via higher-order
    functions, paths like .spans[i].text."""

    SCHEMA = SObject((
        ("doc_id", SText((TGt(0),))),
        ("spans", SArray(
            SObject((
                ("kind", SText((TEnum(("text", "media")),))),
                ("text", SOptional(SText((TGt(0),)))),
                ("media_ref", SOptional(SText(IS_UUID))),
                ("offset", SNumber((NGe(0),))),
            )),
            (AGe(1),),
        )),
    ))

    TYPE = StructType([
        StructField("doc_id", StringType()),
        StructField("spans", ArrayType(StructType([
            StructField("kind", StringType()),
            StructField("text", StringType()),
            StructField("media_ref", StringType()),
            StructField("offset", DoubleType()),
        ]))),
    ])

    def test_nested_paths(self, spark):
        rows = [
            ("d1", [("text", "hello", None, 0.0),
                    ("media", None, "f81d4fae-7dec-11d0-a765-00a0c91e6bf6",
                     5.0)]),
            ("d2", [("smell", "x", None, -1.0)]),
            ("d3", []),
            ("d4", [("text", None, None, 0.0)]),  # null required? no - text optional
        ]
        res = validate(spark.createDataFrame(rows, self.TYPE), self.SCHEMA)
        by_id = {r["doc_id"]: r for r in res.annotated.collect()}
        assert by_id["d1"]["_verdict"] == "Valid"
        assert by_id["d4"]["_verdict"] == "Valid"  # optional nulls ok
        d2 = {(v["path"], v["error"]) for v in by_id["d2"]["_violations"]}
        assert d2 == {
            (".spans[0].kind", 'must be one of ["text","media"]'),
            (".spans[0].offset", "should be >= 0"),
        }
        d3 = {(v["path"], v["error"]) for v in by_id["d3"]["_violations"]}
        assert d3 == {(".spans", "length should be >= 1")}

    def test_structural_null_in_required_nested(self, spark):
        rows = [("d1", [(None, "x", None, 0.0)])]  # kind null → structural
        res = validate(spark.createDataFrame(rows, self.TYPE), self.SCHEMA)
        row = res.annotated.first()
        assert row["_verdict"] == "DecodingError"
        errs = {(e["path"], e["error"]) for e in row["_structural"]}
        assert errs == {(".spans[0]", 'No text field: "kind"')}


class TestUnicodeLength:
    def test_codepoint_semantics_match_reference(self, spark):
        # Data.Text length = codepoint count (SURVEY §1.2); astral chars
        # (surrogate pairs in UTF-16) must count as 1, combining marks as
        # their own codepoint
        schema = SObject((("v", SText((TEq(1),))),))
        df = spark.createDataFrame(
            [("\U0001D11E",),   # musical symbol: 1 codepoint
             ("é",),      # e + combining acute: 2 codepoints
             ("a",)],
            "v string",
        )
        verdicts = [
            r["_verdict"] for r in validate(df, schema).annotated.collect()
        ]
        assert verdicts == ["Valid", "ValidationError", "Valid"]


# The C-locale ASCII set of each POSIX bracket class, written from the
# ``string`` module rather than from the translator's own table.
_PUNCT = set(string.punctuation)
POSIX_CLASS_SETS = {
    "alnum": set(string.ascii_letters + string.digits),
    "alpha": set(string.ascii_letters),
    "blank": set(" \t"),
    "cntrl": {chr(c) for c in range(32)} | {"\x7f"},
    "digit": set(string.digits),
    "graph": set(string.ascii_letters + string.digits) | _PUNCT,
    "lower": set(string.ascii_lowercase),
    "print": set(string.ascii_letters + string.digits + " ") | _PUNCT,
    "punct": _PUNCT,
    "space": set(string.whitespace),
    "upper": set(string.ascii_uppercase),
    "xdigit": set(string.hexdigits),
    "word": set(string.ascii_letters + string.digits + "_"),
}
# every code point of 0x00-0x2FF, then Greek, Cyrillic, an Arabic-Indic
# digit, LINE SEPARATOR, IDEOGRAPHIC SPACE and two astral characters
SWEEP_CHARS = [chr(c) for c in range(0x300)] + [
    "\u03b1", "\u0416", "\u0661", "\u2028", "\u3000",
    "\U0001f600", "\U00010400",
]


class TestPosixClassSweep:
    """Each POSIX bracket class, alone and composed, means the same
    character set in Spark and in the interpreter, and that set is the
    C-locale ASCII one (regex-tdfa expands classes to fixed ASCII lists)."""

    COLUMNS = {
        **{name: (f"^[[:{name}:]]$", members)
           for name, members in POSIX_CLASS_SETS.items()},
        "alpha_us_dash": ("^[[:alpha:]_-]$",
                          POSIX_CLASS_SETS["alpha"] | set("_-")),
        "not_digit": ("^[^[:digit:]]$",
                      set(SWEEP_CHARS) - POSIX_CLASS_SETS["digit"]),
    }

    def test_code_point_sweep(self, spark):
        schema = SObject(tuple(
            (col, SText((TRegex(pattern),)))
            for col, (pattern, _) in self.COLUMNS.items()
        ))
        cols = list(self.COLUMNS)
        df = spark.createDataFrame(
            [(i, *[ch] * len(cols)) for i, ch in enumerate(SWEEP_CHARS)],
            ["i"] + cols,
        )
        rows = validate(df, schema).annotated.orderBy("i").collect()
        assert len(rows) == len(SWEEP_CHARS)
        for row, ch in zip(rows, SWEEP_CHARS):
            spark_bad = {v["path"] for v in row["_violations"]}
            interp = parse_and_validate(schema, {c: ch for c in cols})
            interp_bad = {path for path, _ in interp.violations}
            expected_bad = {
                "." + col for col, (_, members) in self.COLUMNS.items()
                if ch not in members
            }
            assert spark_bad == interp_bad == expected_bad, (
                f"U+{ord(ch):04X}", spark_bad ^ expected_bad,
                interp_bad ^ expected_bad,
            )
        # é (U+00E9) is a letter to Data.Char, not to the C-locale class
        e_acute = rows[0xE9]
        assert ".alpha" in {v["path"] for v in e_acute["_violations"]}
        assert {v["error"] for v in e_acute["_violations"]
                if v["path"] == ".alpha"} == {"must match ^[[:alpha:]]$"}


class TestPreflight:
    def test_missing_required_column(self, spark):
        df = spark.createDataFrame([("x",)], "bar string")
        with pytest.raises(SchemaMismatchError, match="foo"):
            validate(df, SCHEMA_EXAMPLE)

    def test_wrong_type(self, spark):
        df = spark.createDataFrame([(1.0, "x")], "foo double, bar string")
        with pytest.raises(SchemaMismatchError, match="expected array"):
            validate(df, SCHEMA_EXAMPLE)

    def test_missing_optional_column_added(self, spark):
        df = spark.createDataFrame([([13.0],)], "foo array<double>")
        res = validate(df, SCHEMA_EXAMPLE)
        assert res.annotated.first()["_verdict"] == "Valid"

    def test_invalid_regex_rejected_at_compile(self, spark):
        schema = SObject((("v", SText((TRegex("["),))),))
        df = spark.createDataFrame([("x",)], "v string")
        with pytest.raises(ValueError, match="invalid regex"):
            validate(df, schema)


class TestPropertySparkMatchesInterpreter:
    """Seeded random rows: the compiled Catalyst plan must produce the
    same verdicts and violation sets as the pure interpreter (which is
    itself pinned to the reference fixtures)."""

    def test_agreement(self, spark):
        rng = random.Random(42)
        schema = TestNestedSpans.SCHEMA
        uuids = [
            "f81d4fae-7dec-11d0-a765-00a0c91e6bf6",
            "not-a-uuid", None,
        ]
        rows = []
        for i in range(200):
            n_spans = rng.randint(0, 4)
            spans = []
            for _ in range(n_spans):
                spans.append((
                    rng.choice(["text", "media", "bogus", None]),
                    rng.choice(["hello", "", None]),
                    rng.choice(uuids),
                    rng.choice([0.0, 5.0, -2.0]),
                ))
            rows.append((rng.choice([f"d{i}", ""]), spans))
        df = spark.createDataFrame(rows, TestNestedSpans.TYPE)
        got = validate(df, schema).annotated.collect()
        for (doc_id, spans), row in zip(rows, got):
            pyval = {
                "doc_id": doc_id,
                "spans": [
                    {"kind": k, "text": t, "media_ref": m, "offset": o}
                    for k, t, m, o in spans
                ],
            }
            expected = parse_and_validate(schema, _strip_missing(pyval))
            assert row["_verdict"] == expected.verdict, (pyval, row)
            if expected.verdict == "ValidationError":
                got_v = {(v["path"], v["error"]) for v in row["_violations"]}
                assert got_v == set(expected.violations), pyval


def _strip_missing(v):
    """Typed tables can't distinguish missing key from null; the
    interpreter treats required-null as missing — align by dropping
    None dict entries only where the interpreter would error anyway."""
    return v
