"""Migrations + versioned dispatch (F5) and checkpoint/resume tests."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from schematic_spark.migrations import (
    AddKey,
    DeleteKey,
    Diff,
    Migration,
    TRAVERSE,
    Update,
    VersionedSpec,
    add_column_upgrade,
    all_versions,
    apply_action_at,
    drop_column_upgrade,
    validate_versioned,
)
from schematic_spark.schema import (
    AEq,
    NGt,
    SArray,
    SNumber,
    SObject,
    SOptional,
    SText,
    TEnum,
    TGe,
    TLe,
    TRegex,
    UnsatisfiableSchema,
)
from schematic_spark.sources import (
    ParquetDirFormat,
    partition_passfail,
    run_validation_checkpointed,
)

# F1 base schema (test/SchemaSpec.hs:32-34)
BASE = SObject((
    ("foo", SArray(SNumber((NGt(10),)), (AEq(1),))),
    ("bar", SOptional(SText((TEnum(("foo", "bar")),)))),
))

# F5: add quuz then delete it — net top == BASE (SchemaSpec.hs:46-75)
MIGS = [
    Migration("add_field_quuz", (Diff((), AddKey("quuz", SNumber())),)),
    Migration("remove_field_quuz", (Diff((), DeleteKey("quuz")),)),
]


class TestSchemaDiffs:
    def test_add_delete_roundtrip(self):
        versions = all_versions(BASE, MIGS)
        assert [rev for rev, _ in versions] == [
            "remove_field_quuz", "add_field_quuz", "initial",
        ]
        assert versions[0][1] == BASE            # net effect: none
        assert versions[1][1].field_names() == ["quuz", "foo", "bar"]

    def test_addkey_prepends(self):
        s = apply_action_at(BASE, (), AddKey("z", SText()))
        assert s.field_names()[0] == "z"

    def test_nested_path_update(self):
        s = apply_action_at(
            BASE, ("foo", TRAVERSE), Update(SNumber((NGt(99),)))
        )
        assert s.field_schema("foo").item == SNumber((NGt(99),))

    def test_missing_path_key_raises(self):
        with pytest.raises(KeyError):
            apply_action_at(BASE, ("nope",), DeleteKey("x"))


class TestVersionedDispatch:
    """parseAndValidateWithMList semantics (Data/Schematic.hs:60-76):
    try newest; on failure fall back older and migrate up."""

    def test_fallback_and_upgrade(self, spark):
        # v1 = base(foo,bar); v2 adds required quux number > 10
        migs = [Migration(
            "add_quux", (Diff((), AddKey("quux", SNumber((NGt(10),))),),)
        )]
        spec = VersionedSpec(
            base=BASE,
            migrations=migs,
            upgrades={"add_quux": add_column_upgrade("quux", 42.0)},
        )
        df = spark.createDataFrame(
            [
                ([13.0], "foo", 20.0),   # valid at top
                ([13.0], "bar", None),   # quux null → DecodingError at top,
                                         # valid at initial → upgraded
                ([3.0], "foo", 20.0),    # invalid everywhere (foo[0] <= 10)
            ],
            "foo array<double>, bar string, quux double",
        )
        upgraded, rejected = validate_versioned(df, spec)
        up = upgraded.orderBy("bar").collect()
        assert len(up) == 2
        by_bar = {r["bar"]: r for r in up}
        assert by_bar["foo"]["quux"] == 20.0       # untouched
        assert by_bar["bar"]["quux"] == 42.0       # migrated default
        rej = rejected.collect()
        assert len(rej) == 1 and rej[0]["foo"] == [3.0]

    def test_f5_net_noop_chain(self, spark):
        spec = VersionedSpec(
            base=BASE,
            migrations=MIGS,
            upgrades={
                "add_field_quuz": add_column_upgrade("quuz", 42.0),
                "remove_field_quuz": drop_column_upgrade("quuz"),
            },
        )
        df = spark.createDataFrame(
            [([13.0], None)], "foo array<double>, bar string"
        )
        upgraded, rejected = validate_versioned(df, spec)
        assert upgraded.count() == 1 and rejected.count() == 0
        # top version == F1 → columns unchanged
        assert set(upgraded.columns) >= {"foo", "bar"}


class TestCheckpointResume:
    def test_resume_skips_completed(self, spark, tmp_path):
        fmt = ParquetDirFormat(root=str(tmp_path))
        df = spark.createDataFrame(
            [(f"d{i}", [13.0] if i % 10 else [3.0]) for i in range(100)],
            "doc_id string, foo array<double>",
        )
        schema = SObject((
            ("doc_id", SText()),
            ("foo", SArray(SNumber((NGt(10),)), (AEq(1),))),
        ))
        r1 = run_validation_checkpointed(
            spark, df, schema, fmt, n_buckets=4, run_id="r1",
            input_snapshot="snapA",
        )
        assert sorted(r1["processed_buckets"]) == [0, 1, 2, 3]
        assert r1["totals"]["ValidationError"] == 10
        assert r1["totals"]["Valid"] == 90

        # resume: same snapshot+spec → everything skipped
        r2 = run_validation_checkpointed(
            spark, df, schema, fmt, n_buckets=4, run_id="r2",
            input_snapshot="snapA",
        )
        assert r2["processed_buckets"] == []
        assert sorted(r2["skipped_buckets"]) == [0, 1, 2, 3]

        # new snapshot → reprocessed
        r3 = run_validation_checkpointed(
            spark, df, schema, fmt, n_buckets=4, run_id="r3",
            input_snapshot="snapB",
        )
        assert sorted(r3["processed_buckets"]) == [0, 1, 2, 3]

        # per-partition pass/fail from metrics only
        pf = partition_passfail(spark, fmt)
        rows = pf.where(F.col("input_snapshot") == "snapA").collect()
        assert len(rows) == 4
        assert sum(r["n_rows"] for r in rows) == 100
        assert all(not r["passed"] for r in rows)  # every bucket has bad rows

    def test_fused_metrics_equal_grouped_fallback(
        self, spark, tmp_path, monkeypatch
    ):
        """r6 optimization: the per-(bucket, verdict) metrics ride the
        violations write via observe (one scan per wave). The committed
        metrics, lineage and pass/fail report must be IDENTICAL to the
        wide-wave grouped fallback (forced by shrinking
        _FUSE_MAX_BUCKETS to 0)."""
        from schematic_spark.sources import checkpoint as ckpt

        df = spark.createDataFrame(
            [(f"d{i}", [13.0] if i % 7 else [3.0]) for i in range(60)],
            "doc_id string, foo array<double>",
        )
        schema = SObject((
            ("doc_id", SText()),
            ("foo", SArray(SNumber((NGt(10),)), (AEq(1),))),
        ))

        def run(root, fuse: bool):
            if not fuse:
                monkeypatch.setattr(ckpt, "_FUSE_MAX_BUCKETS", 0)
            else:
                monkeypatch.setattr(ckpt, "_FUSE_MAX_BUCKETS", 64)
            fmt = ParquetDirFormat(root=str(root))
            res = run_validation_checkpointed(
                spark, df, schema, fmt, n_buckets=4, run_id="r",
                input_snapshot="snap", commit_every=2,
            )
            pf = sorted(
                (r["bucket"], r["n_rows"], r["n_bad_rows"],
                 r["n_violations"], r["passed"])
                for r in partition_passfail(spark, fmt).collect()
            )
            met = sorted(
                (r["bucket"], r["verdict"], r["n_rows"], r["n_violations"])
                for r in fmt.read(spark, ckpt.METRICS_TABLE).collect()
            )
            nv = fmt.read(spark, ckpt.VIOLATIONS_TABLE).count()
            return res["totals"], pf, met, nv

        fused = run(tmp_path / "fused", fuse=True)
        grouped = run(tmp_path / "grouped", fuse=False)
        assert fused == grouped

    def test_snapshot_manifest(self, spark, tmp_path):
        fmt = ParquetDirFormat(root=str(tmp_path))
        df1 = spark.range(5).select(F.col("id"))
        df2 = spark.range(5, 8).select(F.col("id"))
        s1 = fmt.write(df1, "t", mode="overwrite")
        s2 = fmt.write(df2, "t", mode="append")
        assert fmt.read(spark, "t").count() == 8
        assert fmt.read(spark, "t", snapshot_id=s1).count() == 5
        snaps = fmt.snapshots(spark, "t")
        assert [s["snapshot_id"] for s in snaps] == [s1, s2]
        assert snaps[1]["parent_id"] == s1


class TestVersionedJsonStrings:
    """decodeAndValidateVersionedWithMList over raw JSON strings
    (Data/Schematic.hs:87-103) — the reference's entry point #2."""

    def test_dispatch_and_upgrade(self, spark):
        migs = [Migration(
            "add_quux", (Diff((), AddKey("quux", SNumber((NGt(10),)))),)
        )]
        spec = VersionedSpec(
            base=BASE,
            migrations=migs,
            upgrades={"add_quux": add_column_upgrade("quux", 42.0)},
        )
        from schematic_spark.migrations import validate_versioned_json_strings

        rows = [
            ("top", '{"foo":[13],"bar":"foo","quux":20}'),
            ("old", '{"foo":[13],"bar":"bar"}'),           # top: no quux
            ("bad", '{"foo":[3],"bar":"foo","quux":20}'),  # invalid everywhere
            ("mal", '{"foo":'),                            # malformed json
        ]
        df = spark.createDataFrame(rows, "k string, raw string")
        upgraded, rejected = validate_versioned_json_strings(df, "raw", spec)
        up = {r["k"]: r for r in upgraded.collect()}
        assert set(up) == {"top", "old"}
        assert up["top"]["quux"] == 20.0    # untouched
        assert up["old"]["quux"] == 42.0    # migrated default
        rej = {r["k"]: r["_verdict"] for r in rejected.collect()}
        assert rej == {"bad": "ValidationError", "mal": "DecodingError"}

    def test_type_changing_update_skips_revision(self, spark):
        # v2 rewrites bar to a number; the initial revision's enum
        # constraint cannot even analyze against a double column — the
        # revision must be conformance-skipped, not crash the dispatch
        migs = [Migration(
            "bar_to_num", (Diff(("bar",), Update(SNumber((NGt(0),)))),)
        )]
        spec = VersionedSpec(
            base=BASE, migrations=migs,
            upgrades={"bar_to_num": lambda d: d.withColumn(
                "bar", F.lit(1.0))},
        )
        df = spark.createDataFrame(
            [([13.0], 5.0), ([13.0], -1.0)],
            "foo array<double>, bar double",
        )
        upgraded, rejected = validate_versioned(df, spec, persist=False)
        assert upgraded.count() == 1      # bar=5 valid at top
        assert rejected.count() == 1      # bar=-1: top invalid, initial skipped


class TestNestedUpgrades:
    def test_update_field_below_top_level(self, spark):
        from schematic_spark.migrations import (
            add_field_upgrade,
            drop_field_upgrade,
            update_field_upgrade,
        )
        from schematic_spark.schema import NGe
        from schematic_spark.validation import validate

        df = spark.createDataFrame(
            [("d1", [{"kind": "text", "offset": 1},
                     {"kind": "media", "offset": 5}])],
            "doc_id string, spans array<struct<kind string, offset int>>",
        )
        up = update_field_upgrade(
            "spans", (TRAVERSE, "offset"), lambda old: old + 10
        )
        out = up(df).collect()[0]
        assert [s["offset"] for s in out["spans"]] == [11, 15]

        added = add_field_upgrade("spans", (TRAVERSE,), "lang", "en")(df)
        assert all(
            s["lang"] == "en" for s in added.collect()[0]["spans"]
        )
        dropped = drop_field_upgrade("spans", (TRAVERSE,), "kind")(df)
        assert "kind" not in dropped.schema["spans"].dataType.elementType.names

        # migrated frame re-validates under the migrated spec
        spec = SObject((
            ("doc_id", SText()),
            ("spans", SArray(SObject((
                ("kind", SText()),
                ("offset", SNumber((NGe(10),))),
            )))),
        ))
        res = validate(up(df), spec)
        assert res.annotated.collect()[0]["_verdict"] == "Valid"


class TestCheckpointOnePass:
    def test_single_scan_and_orphan_filtering(self, spark, tmp_path):
        from schematic_spark.sources import (
            LINEAGE_TABLE,
            VIOLATIONS_TABLE,
            read_violations,
        )
        from schematic_spark.sources.checkpoint import spec_fingerprint
        from schematic_spark.validation import validate

        fmt = ParquetDirFormat(root=str(tmp_path / "tables"))
        src = str(tmp_path / "input.parquet")
        spark.createDataFrame(
            [(f"d{i}", [13.0] if i % 10 else [3.0]) for i in range(100)],
            "doc_id string, foo array<double>",
        ).write.parquet(src)
        df = spark.read.parquet(src)
        schema = SObject((
            ("doc_id", SText()),
            ("foo", SArray(SNumber((NGt(10),)), (AEq(1),))),
        ))

        # the violations frame (the big write) must scan the input ONCE —
        # the whole point of the one-pass rewrite
        part = df.withColumn(
            "_bucket",
            F.pmod(F.xxhash64(F.col("doc_id")), F.lit(4)).cast("int"),
        )
        viol = validate(part, schema).violations("doc_id", "_bucket")
        plan = viol._jdf.queryExecution().executedPlan().toString()
        assert plan.count("Scan parquet") == 1

        r1 = run_validation_checkpointed(
            spark, df, schema, fmt, n_buckets=4, run_id="r1",
            input_snapshot="snapA",
        )
        assert sorted(r1["processed_buckets"]) == [0, 1, 2, 3]
        assert r1["totals"]["ValidationError"] == 10

        # simulate a CRASHED attempt: violations appended, lineage never
        # written — readers must not see the orphan rows
        orphan = fmt.read(spark, VIOLATIONS_TABLE).limit(3) \
            .withColumn("attempt_id", F.lit("crashed-attempt"))
        fmt.write(orphan, VIOLATIONS_TABLE, mode="append")
        committed = read_violations(spark, fmt)
        assert committed.where(
            F.col("attempt_id") == "crashed-attempt"
        ).count() == 0
        assert committed.count() == 10  # exactly the r1 violations

        # resume is a no-op on the same snapshot+spec
        r2 = run_validation_checkpointed(
            spark, df, schema, fmt, n_buckets=4, run_id="r2",
            input_snapshot="snapA",
        )
        assert r2["processed_buckets"] == []
        # re-run after the "crash" didn't duplicate committed rows
        assert read_violations(spark, fmt).count() == 10


class TestVersionedJsonRound3:
    """Round-3 rework: single-parse groups, per-revision type failure,
    SNull + union fields over raw JSON (ADVICE r2 high/medium)."""

    def test_type_changing_update_dispatches_to_old_revision(self, spark):
        # ADVICE-high regression: top revision types bar as number; a doc
        # with bar as a string must NOT be globally 'malformed' — it is a
        # type failure at top only, and must dispatch to 'initial' and
        # upgrade (decodeAndValidateVersionedWithMList fallback).
        from schematic_spark.migrations import validate_versioned_json_strings
        from schematic_spark.schema import NGt

        migs = [Migration(
            "bar_to_num", (Diff(("bar",), Update(SNumber((NGt(0),)))),)
        )]
        spec = VersionedSpec(
            base=SObject((
                ("foo", SArray(SNumber((NGt(10),)), (AEq(1),))),
                ("bar", SText((TEnum(("foo", "bar")),))),
            )),
            migrations=migs,
            upgrades={"bar_to_num": lambda d: d.withColumn(
                "bar", F.lit(7.0))},
        )
        rows = [
            ("top", '{"foo":[13],"bar":5}'),
            ("old", '{"foo":[13],"bar":"foo"}'),   # string bar: top typefails
            ("bad", '{"foo":[13],"bar":true}'),    # neither revision
        ]
        df = spark.createDataFrame(rows, "k string, raw string")
        upgraded, rejected = validate_versioned_json_strings(df, "raw", spec)
        up = {r["k"]: r["bar"] for r in upgraded.collect()}
        assert up == {"top": 5.0, "old": 7.0}
        assert [r["k"] for r in rejected.collect()] == ["bad"]

    def test_snull_field_three_way_per_revision(self, spark):
        from schematic_spark.migrations import validate_versioned_json_strings
        from schematic_spark.schema import SNull

        migs = [Migration(
            "add_marker", (Diff((), AddKey("marker", SNull())),)
        )]
        spec = VersionedSpec(
            base=SObject((("foo", SText()),)),
            migrations=migs,
            upgrades={"add_marker": lambda d: d.withColumn(
                "marker", F.lit(None).cast("void"))},
        )
        rows = [
            ("top", '{"foo":"a","marker":null}'),   # explicit null: top
            ("old", '{"foo":"a"}'),                 # missing: initial, upgraded
            ("bad", '{"foo":"a","marker":5}'),      # wrong kind: extra key is
                                                    # fine at initial → initial
        ]
        df = spark.createDataFrame(rows, "k string, raw string")
        upgraded, rejected = validate_versioned_json_strings(df, "raw", spec)
        assert rejected.count() == 0
        assert upgraded.count() == 3  # all land at top shape

    def test_single_from_json_for_addkey_chain(self, spark):
        # Task: 'plan shows one JsonToStructs' — an AddKey/DeleteKey chain
        # must share ONE parse group (per-revision parses were O(N) full
        # JSON parses per row).
        from schematic_spark.migrations import validate_versioned_json_strings

        spec = VersionedSpec(
            base=BASE,
            migrations=[Migration(
                "add_quux", (Diff((), AddKey("quux", SNumber())),)
            )],
            upgrades={"add_quux": add_column_upgrade("quux", 1.0)},
        )
        df = spark.createDataFrame([("k", '{"foo":[13]}')],
                                   "k string, raw string")
        upgraded, rejected = validate_versioned_json_strings(df, "raw", spec)
        plan = rejected._jdf.queryExecution().optimizedPlan().toString()
        assert plan.count("from_json") == 1, plan

    def test_union_field_versioned_raw(self, spark):
        from schematic_spark.migrations import validate_versioned_json_strings
        from schematic_spark.schema import SUnion

        spec = VersionedSpec(
            base=SObject((
                ("foo", SText()),
                ("u", SUnion((SText(), SNumber()))),
            )),
            migrations=[],
            upgrades={},
        )
        rows = [
            ("t", '{"foo":"a","u":"hello"}'),
            ("n", '{"foo":"a","u":3}'),
            ("none", '{"foo":"a"}'),
        ]
        df = spark.createDataFrame(rows, "k string, raw string")
        upgraded, rejected = validate_versioned_json_strings(df, "raw", spec)
        assert sorted(r["k"] for r in upgraded.collect()) == ["n", "t"]
        rej = {r["k"]: r["_verdict"] for r in rejected.collect()}
        assert rej == {"none": "DecodingError"}


class TestVersionedPreflight:
    """Both versioned entry points run validate()'s preflight on every
    revision while the query is built: a bad spec raises there, before
    any Spark job, instead of rejecting every row or failing a task."""

    @pytest.mark.parametrize("bad, error", [
        (SText((TGe(5), TLe(1))), UnsatisfiableSchema),
        (SText((TRegex("([a-z"),)), ValueError),
        # compiles in Python re, not in the JVM's java.util.regex
        (SText((TRegex("(?P<x>a)"),)), ValueError),
        # no such POSIX class
        (SText((TRegex("^[[:letter:]]+$"),)), ValueError),
    ])
    def test_bad_revision_raises_when_query_is_built(self, spark, bad, error):
        from schematic_spark.migrations import validate_versioned_json_strings

        spec = VersionedSpec(
            base=SObject((("foo", SText()),)),
            migrations=[Migration(
                "add_bad", (Diff((), AddKey("bad", bad)),)
            )],
            upgrades={"add_bad": add_column_upgrade("bad", "xyz")},
        )
        typed = spark.createDataFrame([("a", "xyz")], "foo string, bad string")
        raw = spark.createDataFrame(
            [('{"foo":"a","bad":"xyz"}',)], "raw string"
        )
        sc = spark.sparkContext
        group = "versioned-preflight"
        sc.setJobGroup(group, "versioned preflight")
        try:
            with pytest.raises(error):
                validate_versioned(typed, spec)
            with pytest.raises(error):
                validate_versioned_json_strings(raw, "raw", spec)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        assert len(sc.statusTracker().getJobIdsForGroup(group)) == 0


class TestVersionedDispatchQuery:
    def test_build_runs_only_the_parquet_schema_read(self, spark):
        """The rejected count rides the returned query: building it
        starts no job beyond reading the input's parquet footer."""
        import __spark_entry__ as entry

        sc = spark.sparkContext
        tracker = sc.statusTracker()
        group = "versioned-dispatch-build"
        sc.setJobGroup(group, "versioned_dispatch_documents build")
        try:
            df = entry.queries()["versioned_dispatch_documents"](
                spark, entry.SF_SMOKE
            )
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        stage_names = [
            tracker.getStageInfo(s).name
            for j in tracker.getJobIdsForGroup(group)
            for s in tracker.getJobInfo(j).stageIds
        ]
        assert all(n.startswith("parquet at") for n in stage_names), \
            stage_names
        assert dict(df.dtypes)["n_rejected"] == "bigint"


class TestCheckpointWaves:
    """Round 3: per-wave lineage commits (commit_every) + one-attempt-
    per-bucket read dedupe (concurrent double-commit, ADVICE r2)."""

    def _fixture(self, spark, tmp_path):
        from schematic_spark.sources import ParquetDirFormat

        fmt = ParquetDirFormat(root=str(tmp_path))
        df = spark.createDataFrame(
            [(f"d{i}", [13.0] if i % 10 else [3.0]) for i in range(100)],
            "doc_id string, foo array<double>",
        )
        schema = SObject((
            ("doc_id", SText()),
            ("foo", SArray(SNumber((NGt(10),)), (AEq(1),))),
        ))
        return fmt, df, schema

    def test_kill_mid_run_resumes_from_partial_waves(self, spark, tmp_path):
        from schematic_spark.sources import read_violations
        from schematic_spark.sources.checkpoint import LINEAGE_TABLE

        fmt, df, schema = self._fixture(spark, tmp_path)

        # fail the 5th write: wave 1 (buckets 0-1) fully commits (writes
        # 1-3: violations, metrics, lineage), wave 2 dies after its
        # violations append (write 4 ok, write 5 = metrics raises) —
        # wave-2 rows exist in storage but are never committed
        class KillingFormat(type(fmt)):
            def __init__(self, inner):
                super().__init__(root=inner.root)
                self._writes = 0

            def write(self, dfx, table, mode="overwrite",
                      partition_by=None):
                self._writes += 1
                if self._writes == 5:
                    raise RuntimeError("simulated crash mid-wave")
                return super().write(dfx, table, mode=mode,
                                     partition_by=partition_by)

        killer = KillingFormat(fmt)
        with pytest.raises(RuntimeError, match="simulated crash"):
            run_validation_checkpointed(
                spark, df, schema, killer, n_buckets=4, run_id="w1",
                input_snapshot="snapW", commit_every=2,
            )
        lineage = fmt.read(spark, LINEAGE_TABLE)
        committed = sorted(
            r["bucket"] for r in lineage.where(
                F.col("status") == "complete").collect()
        )
        assert committed == [0, 1]  # only wave 1 landed

        # orphan wave-2 violation rows are invisible to readers
        v_before = read_violations(spark, fmt)
        assert set(
            r["bucket"] for r in v_before.select("bucket").collect()
        ) <= {0, 1}

        # resume processes ONLY the unfinished buckets
        r2 = run_validation_checkpointed(
            spark, df, schema, fmt, n_buckets=4, run_id="w2",
            input_snapshot="snapW", commit_every=2,
        )
        assert sorted(r2["processed_buckets"]) == [2, 3]
        assert sorted(r2["skipped_buckets"]) == [0, 1]

        # no duplicate visible rows: every invalid doc appears exactly once
        v = read_violations(spark, fmt).where(
            F.col("input_snapshot") == "snapW")
        ids = [r["doc_id"] for r in v.select("doc_id").collect()]
        assert len(ids) == len(set(ids)) == 10

    def test_concurrent_double_commit_not_double_counted(
        self, spark, tmp_path
    ):
        from schematic_spark.sources import read_violations

        fmt, df, schema = self._fixture(spark, tmp_path)
        # two runs race on the same pending buckets; both commit
        run_validation_checkpointed(
            spark, df, schema, fmt, n_buckets=2, run_id="a",
            input_snapshot="snapC",
        )
        # second run: wipe the lineage view the run sees by pointing it
        # at a fresh root? simpler: force reprocessing by calling the
        # wave body again via a run that believes nothing is done — we
        # simulate the race by running against a clone fmt whose lineage
        # read happened before run 'a' committed
        import shutil
        clone_root = str(tmp_path / "clone")
        shutil.copytree(str(tmp_path), clone_root, dirs_exist_ok=True)
        # 'b' starts from the pre-'a' state (no lineage) → processes all
        fmt_b = type(fmt)(root=clone_root)
        import os
        lineage_dir = os.path.join(clone_root, "_schematic_lineage")
        if os.path.exists(lineage_dir):
            shutil.rmtree(lineage_dir)
        run_validation_checkpointed(
            spark, df, schema, fmt_b, n_buckets=2, run_id="b",
            input_snapshot="snapC",
        )
        # merge b's outputs back into the main store (the shared-storage
        # outcome of the race: both attempts' rows + both lineage commits)
        from schematic_spark.sources.checkpoint import (
            LINEAGE_TABLE, METRICS_TABLE, VIOLATIONS_TABLE,
        )
        for t in (LINEAGE_TABLE, METRICS_TABLE, VIOLATIONS_TABLE):
            fmt.write(
                fmt_b.read(spark, t).where(F.col("run_id") == "b"),
                t, mode="append",
            )
        # readers must see each violation exactly once
        v = read_violations(spark, fmt).where(
            F.col("input_snapshot") == "snapC")
        ids = [r["doc_id"] for r in v.select("doc_id").collect()]
        assert len(ids) == len(set(ids)) == 10
        pf = partition_passfail(spark, fmt).where(
            F.col("input_snapshot") == "snapC")
        assert sum(r["n_rows"] for r in pf.collect()) == 100


    def test_four_wave_run_compiles_the_spec_once(
        self, spark, tmp_path, monkeypatch
    ):
        """Every wave filters one compiled frame: a 4-wave run calls
        ``validate`` exactly once and still commits every bucket."""
        from schematic_spark.sources import checkpoint as ckpt

        fmt, df, schema = self._fixture(spark, tmp_path)
        calls, validate = [], ckpt.validate

        def spy(*args, **kwargs):
            calls.append(args)
            return validate(*args, **kwargs)

        monkeypatch.setattr(ckpt, "validate", spy)
        res = run_validation_checkpointed(
            spark, df, schema, fmt, n_buckets=8, run_id="w",
            input_snapshot="snapS", commit_every=2,
        )
        assert len(calls) == 1
        assert res["processed_buckets"] == list(range(8))
        assert res["totals"] == {"Valid": 90, "ValidationError": 10}
        pf = partition_passfail(spark, fmt).collect()
        assert sorted(r["bucket"] for r in pf) == list(range(8))

    def test_bookkeeping_tables_keep_their_schema(self, spark, tmp_path):
        """The metrics and lineage appends keep the schema the
        ``createDataFrame`` form wrote: columns sorted by name, ints as
        bigint, strings as string."""
        from schematic_spark.sources.checkpoint import (
            LINEAGE_TABLE, METRICS_TABLE,
        )

        fmt, df, schema = self._fixture(spark, tmp_path)
        run_validation_checkpointed(
            spark, df, schema, fmt, n_buckets=2, run_id="o'k\"",
            input_snapshot="snap é", commit_every=1,
        )
        metrics = fmt.read(spark, METRICS_TABLE)
        lineage = fmt.read(spark, LINEAGE_TABLE)
        assert metrics.schema.simpleString() == (
            "struct<attempt_id:string,bucket:bigint,input_snapshot:string,"
            "n_buckets:bigint,n_rows:bigint,n_violations:bigint,"
            "run_id:string,spec_fp:string,verdict:string>"
        )
        assert lineage.schema.simpleString() == (
            "struct<attempt_id:string,bucket:bigint,input_snapshot:string,"
            "n_buckets:bigint,n_rows:bigint,run_id:string,spec_fp:string,"
            "status:string>"
        )
        # caller strings arrive as values, quotes and all
        assert {(r["run_id"], r["input_snapshot"])
                for r in lineage.collect()} == {("o'k\"", "snap é")}
        assert sum(r["n_rows"] for r in lineage.collect()) == 100

class TestCheckpointEdgeCases:
    """Round-3 review regressions: all-valid waves, empty buckets,
    unknown snapshots, corrupt manifests."""

    def _spec(self):
        from schematic_spark.schema import NGe, SNumber, SObject

        return SObject((("v", SNumber((NGe(0),))),))

    def test_all_valid_wave_keeps_violations_table_readable(
        self, spark, tmp_path
    ):
        from schematic_spark.sources import (
            ParquetDirFormat, read_violations, run_validation_checkpointed,
        )

        fmt = ParquetDirFormat(root=str(tmp_path))
        docs = spark.range(50).select(
            F.col("id").alias("doc_id"),
            (F.col("id") % 7).cast("double").alias("v"),  # all valid
        )
        run_validation_checkpointed(
            spark, docs, self._spec(), fmt, n_buckets=2,
            run_id="rv", input_snapshot="s1",
        )
        # zero violation rows were written — the read must still work
        # (empty partitioned snap dirs used to poison the table)
        assert read_violations(spark, fmt).count() == 0
        # and a later REAL violation batch still lands and reads
        bad = spark.range(50, 60).select(
            F.col("id").alias("doc_id"), F.lit(-1.0).alias("v")
        )
        run_validation_checkpointed(
            spark, bad, self._spec(), fmt, n_buckets=2,
            run_id="rv2", input_snapshot="s2",
        )
        assert read_violations(spark, fmt).count() == 10

    def test_empty_buckets_get_metrics_rows(self, spark, tmp_path):
        from schematic_spark.sources import (
            ParquetDirFormat, partition_passfail,
            run_validation_checkpointed,
        )

        fmt = ParquetDirFormat(root=str(tmp_path))
        # one single doc: most of the 8 buckets are empty
        docs = spark.createDataFrame([(1, 2.0)], "doc_id long, v double")
        run_validation_checkpointed(
            spark, docs, self._spec(), fmt, n_buckets=8,
            run_id="re", input_snapshot="s1",
        )
        pf = partition_passfail(spark, fmt).collect()
        assert len(pf) == 8  # every committed bucket visible
        assert sum(r["n_rows"] for r in pf) == 1
        assert all(r["passed"] for r in pf)

    def test_unknown_snapshot_id_clear_error(self, spark, tmp_path):
        import pytest

        from schematic_spark.sources import ParquetDirFormat

        fmt = ParquetDirFormat(root=str(tmp_path))
        fmt.write(spark.range(3), "t", mode="overwrite")
        with pytest.raises(FileNotFoundError, match="nope"):
            fmt.read(spark, "t", snapshot_id="nope")

    def test_corrupt_lineage_manifest_propagates(self, spark, tmp_path):
        import os

        import pytest

        from schematic_spark.sources import ParquetDirFormat
        from schematic_spark.sources.checkpoint import (
            LINEAGE_TABLE, CheckpointedRun,
        )

        fmt = ParquetDirFormat(root=str(tmp_path))
        os.makedirs(str(tmp_path / LINEAGE_TABLE), exist_ok=True)
        with open(str(tmp_path / LINEAGE_TABLE / "_snapshots.json"),
                  "w") as f:
            f.write("{corrupt json")
        run = CheckpointedRun(fmt, "r", "s", "fp", 4)
        # a corrupt manifest must NOT be silently treated as "nothing
        # committed" (that restarts the whole run) — it must surface
        with pytest.raises(Exception, match="(?i)json|expect"):
            run.completed(spark)

    def test_concurrent_appends_keep_both_datasets(self, spark, tmp_path):
        """uuid4 snap dirs: two interleaved appenders can no longer
        overwrite each other's data directory."""
        from schematic_spark.sources import ParquetDirFormat

        fmt_a = ParquetDirFormat(root=str(tmp_path))
        fmt_b = ParquetDirFormat(root=str(tmp_path))
        fmt_a.write(spark.range(0, 5), "t", mode="append")
        fmt_b.write(spark.range(5, 9), "t", mode="append")
        assert fmt_a.read(spark, "t").count() == 9


class TestTableFormatContract:
    def test_parquet_write_is_one_action_that_fills_observation(
        self, spark, tmp_path
    ):
        """TableFormat.write runs exactly one Spark action over its
        frame: the checkpoint layer's fused metrics read an Observation
        that only the write's own action fills."""
        from pyspark.sql import Observation

        fmt = ParquetDirFormat(root=str(tmp_path))
        obs = Observation("write_contract")
        df = spark.range(100).select(
            F.col("id"), (F.col("id") % 3).alias("bucket")
        ).observe(obs, F.count(F.lit(1)).alias("n"))
        sc = spark.sparkContext
        group = "table-format-write-contract"
        sc.setJobGroup(group, "TableFormat.write")
        try:
            fmt.write(df, "t", mode="append", partition_by=["bucket"])
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        assert len(sc.statusTracker().getJobIdsForGroup(group)) == 1
        # checked before .get, which blocks until the observation fills
        assert obs._jo.future().isCompleted()
        assert obs.get == {"n": 100}
        assert fmt.read(spark, "t").count() == 100
