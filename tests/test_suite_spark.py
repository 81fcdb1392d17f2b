"""Table-level constraint suite + generator tests."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from schematic_spark.generator import (
    GeneratorConfig,
    INTERLEAVED_SPEC,
    expected_doc,
    exploded_spans,
    interleaved_documents,
    media_dim,
    non_monotonic_docs,
    span_sequence_mismatches,
)
from schematic_spark.suite import (
    chi2_drift,
    chi2_sf,
    chi_square_from_counts,
    column_stats,
    dangling_rows,
    duplicate_keys,
    duplicate_keys_salted,
    ks_drift,
    ks_from_histograms,
    length_histogram,
    referential_report,
    uniqueness_report,
)
from schematic_spark.validation import validate

CFG = GeneratorConfig(n_docs=400, seed=42, n_media=200)


@pytest.fixture(scope="module")
def docs(spark):
    return interleaved_documents(spark, CFG).cache()


@pytest.fixture(scope="module")
def media(spark):
    return media_dim(spark, CFG.n_media).cache()


class TestGenerator:
    def test_deterministic(self, spark):
        a = interleaved_documents(spark, CFG).collect()
        b = interleaved_documents(spark, CFG).collect()
        assert a == b

    def test_python_twin_matches(self, spark, docs):
        """Span-sequence equality (kind, text, media_ref, order) between
        the Spark generator and its Python twin — BASELINE.json:15."""
        expected_rows = [expected_doc(i, CFG) for i in range(CFG.n_docs)]
        exp_df = spark.createDataFrame(
            [
                (
                    d["doc_id"],
                    [
                        (s["kind"], s["text"], s["media_ref"], s["offset"])
                        for s in d["spans"]
                    ],
                )
                for d in expected_rows
            ],
            docs.schema,
        )
        # doc_ids can be duplicated by design → compare sequences per
        # (doc_id, occurrence); simplest exact check: both exploded sets
        # (doc_id may repeat; mismatch finder joins on doc_id+pos which
        # is ambiguous for dup docs — dups copy content, so identical)
        mism = span_sequence_mismatches(docs, exp_df)
        assert mism.count() == 0

    def test_violation_classes_present(self, docs, media):
        res = validate(docs, INTERLEAVED_SPEC)
        errors = {r["error"] for r in res.violations().collect()}
        assert 'must be one of ["text","media"]' in errors  # bad kind
        assert "length should be >= 1" in errors            # empty spans/text
        # oversized spans
        assert any("length should be <=" in e for e in errors)

    def test_natural_interleaving(self, docs):
        # even positions text, odd media (except injected bad kinds)
        ex = exploded_spans(docs)
        bad = ex.where(
            (F.col("kind") == "text") & (F.col("pos") % 2 == 1)
            | (F.col("kind") == "media") & (F.col("pos") % 2 == 0)
        )
        assert bad.count() == 0  # 'bogus' kind is neither


class TestUniqueness:
    def test_duplicates_found(self, docs):
        dups = duplicate_keys(docs, "doc_id").collect()
        assert len(dups) > 0
        assert all(r["n_dup"] == 2 for r in dups)  # dup copies prev doc

    def test_salted_agrees_with_plain(self, docs):
        plain = {
            (r["doc_id"], r["n_dup"])
            for r in duplicate_keys(docs, "doc_id").collect()
        }
        salted = {
            (r["doc_id"], r["n_dup"])
            for r in duplicate_keys_salted(docs, "doc_id", salt_buckets=8)
            .collect()
        }
        assert plain == salted

    def test_report(self, docs):
        r = uniqueness_report(docs, "doc_id").first()
        assert r["n_rows"] == CFG.n_docs
        assert r["n_dup_rows"] == 2 * r["n_dup_keys"]
        assert r["n_distinct"] == CFG.n_docs - r["n_dup_keys"]
        assert not r["unique_ok"]


class TestReferential:
    def test_dangling_media_refs(self, spark, docs, media):
        spans = exploded_spans(docs).where(F.col("media_ref").isNotNull())
        dang = dangling_rows(spans, media, "media_ref", broadcast=True)
        got = dang.count()
        # ground truth from the python twin
        truth = 0
        seen = set()
        for i in range(CFG.n_docs):
            d = expected_doc(i, CFG)
            for s in d["spans"]:
                if s["media_ref"] is not None and not _ref_in_dim(s["media_ref"]):
                    truth += 1
        assert got == truth > 0

    def test_report_ok_case(self, spark, media):
        fact = media.select(F.col("media_ref"))
        r = referential_report(fact, media, "media_ref").first()
        assert r["ref_ok"] and r["n_dangling"] == 0

    def test_null_fk_not_dangling(self, spark, media):
        fact = spark.createDataFrame(
            [(None,), (media.first()["media_ref"],)], "media_ref string"
        )
        r = referential_report(fact, media, "media_ref").first()
        assert r["n_null_fk"] == 1 and r["n_dangling"] == 0


class TestBloomReferential:
    """dangling_rows_bloom must return the EXACT dangling set (Bloom
    has no false negatives; the anti-join removes false positives) with
    a plan that never shuffles the fact during prefiltering."""

    def test_matches_exact_path(self, spark, docs, media):
        from schematic_spark.suite import dangling_rows_bloom

        spans = exploded_spans(docs).where(F.col("media_ref").isNotNull())
        exact = {
            r["media_ref"]
            for r in dangling_rows(
                spans, media, "media_ref", broadcast=True
            ).collect()
        }
        got = dangling_rows_bloom(
            spans, media, "media_ref", n_keys=CFG.n_media
        ).collect()
        assert {r["media_ref"] for r in got} == exact
        # row multiplicity preserved too
        assert len(got) == dangling_rows(
            spans, media, "media_ref", broadcast=True
        ).count()

    def test_tiny_filter_forces_false_positives_still_exact(
        self, spark, docs, media
    ):
        from schematic_spark.suite import dangling_rows_bloom

        spans = exploded_spans(docs).where(F.col("media_ref").isNotNull())
        n_exact = dangling_rows(
            spans, media, "media_ref", broadcast=True
        ).count()
        # 1 bit/key, 1 hash: filter saturates, nearly everything becomes
        # a candidate — the exact join must still clean it up
        got = dangling_rows_bloom(
            spans, media, "media_ref",
            n_keys=CFG.n_media, bits_per_key=1, n_hashes=1,
        ).count()
        assert got == n_exact

    def test_empty_dim_everything_dangles(self, spark, media):
        from schematic_spark.suite import dangling_rows_bloom

        empty = media.where(F.lit(False))
        fact = media.select("media_ref").limit(7)
        assert dangling_rows_bloom(
            fact, empty, "media_ref", n_keys=0
        ).count() == 7

    def test_prefilter_is_broadcast_only(self, spark, docs, media):
        from schematic_spark.suite import dangling_rows_bloom

        spans = exploded_spans(docs).where(F.col("media_ref").isNotNull())
        df = dangling_rows_bloom(
            spans, media, "media_ref", n_keys=CFG.n_media, n_hashes=3
        )
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert plan.count("BroadcastHashJoin") >= 3, plan
        # the only exchanges allowed: bitmap build (dim-sized) + the
        # final exact anti-join over suspects — never a fact-side
        # repartition in the prefilter chain
        assert "CartesianProduct" not in plan, plan

    def test_composite_key_rejected(self, spark, media):
        from schematic_spark.suite import dangling_rows_bloom

        with pytest.raises(ValueError, match="exactly one key"):
            dangling_rows_bloom(
                media, media, {"media_ref": "media_ref", "kind": "kind"},
                n_keys=1,
            )

    def test_key_type_mismatch_rejected(self, spark):
        # xxhash64 is type-sensitive: INT 7 and BIGINT 7 hash apart, so
        # a silent mismatch would fabricate proven-dangling rows
        from schematic_spark.suite import dangling_rows_bloom

        fact = spark.createDataFrame([(7,)], "k int")
        dim = spark.createDataFrame([(7,)], "k bigint")
        with pytest.raises(ValueError, match="hashes these differently"):
            dangling_rows_bloom(fact, dim, "k", n_keys=1)

    def test_probe_scratch_column_clash_rejected(self, spark):
        # the probe joins materialize _w{i}/_b{i}/_word{i} scratch
        # columns; withColumns would silently REPLACE a same-named fact
        # column and the final select would return probe values as user
        # data — must refuse instead
        from schematic_spark.suite import dangling_rows_bloom

        fact = spark.createDataFrame([(7, 1)], "k bigint, _word0 bigint")
        dim = spark.createDataFrame([(7,)], "k bigint")
        with pytest.raises(ValueError, match="scratch columns"):
            dangling_rows_bloom(fact, dim, "k", n_keys=1)


def _ref_in_dim(ref: str) -> bool:
    from schematic_spark.generator import media_uuid_py

    return any(media_uuid_py(m) == ref for m in range(CFG.n_media))


class TestStats:
    def test_column_stats(self, spark):
        df = spark.createDataFrame(
            [(1.0, "ab", [1, 2]), (None, "abcd", []), (3.0, None, None)],
            "x double, s string, a array<int>",
        )
        rows = {r["column"]: r for r in column_stats(df).collect()}
        assert rows["x"]["n_null"] == 1
        assert rows["x"]["min"] == "1.0" and rows["x"]["max"] == "3.0"
        assert rows["s"]["avg_length"] == 3.0
        assert rows["a"]["n_null"] == 1
        assert math.isclose(rows["x"]["null_rate"], 1 / 3)

    def test_length_histogram(self, spark):
        df = spark.createDataFrame(
            [("",), ("a",), ("ab",), ("abc",), (None,)], "s string"
        )
        got = {r["bucket"]: r["n"] for r in length_histogram(df, "s").collect()}
        # len: 0→bucket0, 1→bucket1, 2→bucket2, 3→bucket2, null→-1
        assert got == {-1: 1, 0: 1, 1: 1, 2: 2}


class TestDrift:
    def test_ks_identical(self):
        h = {0: 100, 1: 200, 2: 50}
        d, p = ks_from_histograms(h, h)
        assert d == 0.0 and p > 0.99

    def test_ks_shifted(self):
        h1 = {i: 100 for i in range(10)}
        h2 = {i + 5: 100 for i in range(10)}
        d, p = ks_from_histograms(h1, h2)
        assert d == 0.5 and p < 1e-6

    def test_chi2_sf_known_values(self):
        # chi2 sf(3.84, 1) ≈ 0.05; sf(0, k) = 1
        assert abs(chi2_sf(3.841, 1) - 0.05) < 1e-3
        assert chi2_sf(0.0, 5) == 1.0
        # sf at the mean is around 0.4-0.6
        assert 0.3 < chi2_sf(5.0, 5) < 0.6

    def test_chi_square_counts(self):
        obs = {"a": 100, "b": 200}
        stat, dof, p = chi_square_from_counts(obs, obs)
        assert stat == 0.0 and p == 1.0 and dof == 1
        stat2, _, p2 = chi_square_from_counts(
            {"a": 300, "b": 0}, {"a": 150, "b": 150}
        )
        assert stat2 > 100 and p2 < 1e-6

    def test_spark_drift_end_to_end(self, spark):
        base = spark.range(2000).select(
            (F.pmod(F.col("id"), 100)).cast("double").alias("v"),
            F.when(F.pmod(F.col("id"), 10) < 5, "a").otherwise("b")
            .alias("c"),
        )
        same = ks_drift(base, base, "v", lo=0, hi=100)
        assert not same.drifted
        shifted = base.select((F.col("v") + 50).alias("v"), "c")
        moved = ks_drift(shifted, base, "v", lo=0, hi=150)
        assert moved.drifted
        cat_same = chi2_drift(base, base, "c")
        assert not cat_same.drifted
        skewed = base.select(
            "v", F.when(F.col("c") == "a", "a").otherwise("a").alias("c")
        )
        cat_moved = chi2_drift(skewed, base, "c")
        assert cat_moved.drifted

    def test_split_variants_match_two_scan(self, spark):
        """ks_drift_split / chi2_drift_split (one groupBy(bucket, parity)
        scan) must equal the two-scan functions on the same split; rows
        with a NULL split predicate belong to neither half."""
        from schematic_spark.suite import chi2_drift_split, ks_drift_split

        df = spark.range(3000).select(
            F.col("id"),
            (F.pmod(F.col("id"), 97) * F.when(
                F.pmod(F.col("id"), 2) == 0, 1.0).otherwise(1.3)
             ).alias("v"),
            F.when(F.pmod(F.col("id"), 7) < F.pmod(F.col("id"), 3), "a")
             .otherwise("b").alias("c"),
            F.when(F.col("id") % 5 == 0, F.lit(None).cast("long"))
             .otherwise(F.col("id")).alias("split_key"),
        )
        pred = F.col("split_key") % 2 == 0
        cur = df.where(pred)
        base = df.where(~pred)
        two = ks_drift(cur, base, "v", lo=0, hi=130, n_buckets=13)
        one = ks_drift_split(df, "v", pred, lo=0, hi=130, n_buckets=13)
        assert one.statistic == two.statistic
        assert one.detail == two.detail
        ctwo = chi2_drift(cur, base, "c")
        cone = chi2_drift_split(df, "c", pred)
        assert cone.statistic == ctwo.statistic
        assert cone.detail == ctwo.detail

    def test_ks_drift_nan_rows_are_filtered(self, spark):
        """r5 ADVICE: NaN passed ``isNotNull``, landed in a NULL bucket,
        and ks_from_histograms crashed sorting None while the NaN mass
        inflated the sample size. NaN rows must now be invisible — the
        report equals the one computed on the NaN-free data."""
        from schematic_spark.suite import ks_drift_split

        clean = spark.range(500).select(
            (F.pmod(F.col("id"), 50)).cast("double").alias("v"),
            (F.col("id") % 2 == 0).alias("cur"),
        )
        dirty = clean.unionByName(
            spark.range(7).select(
                F.lit(float("nan")).alias("v"),
                (F.col("id") % 2 == 0).alias("cur"),
            )
        )
        a = ks_drift(
            dirty.where("cur"), dirty.where("not cur"), "v", lo=0, hi=50
        )
        b = ks_drift(
            clean.where("cur"), clean.where("not cur"), "v", lo=0, hi=50
        )
        assert (a.statistic, a.detail) == (b.statistic, b.detail)
        sa = ks_drift_split(dirty, "v", F.col("cur"), lo=0, hi=50)
        assert (sa.statistic, sa.detail) == (b.statistic, b.detail)


class TestSpanOrder:
    def test_non_monotonic_detection(self, spark, docs):
        got = non_monotonic_docs(docs).count()
        truth = 0
        for i in range(CFG.n_docs):
            d = expected_doc(i, CFG)
            offs = [s["offset"] for s in d["spans"]]
            if any(b <= a for a, b in zip(offs, offs[1:])):
                truth += 1
        assert got == truth > 0


class TestPsiDrift:
    def test_psi_from_counts_hand_value(self):
        import math

        from schematic_spark.suite import psi_from_counts

        cur, base = {"a": 30, "b": 70}, {"a": 50, "b": 50}
        pa_c, pa_b = 30.5 / 101, 50.5 / 101
        pb_c, pb_b = 70.5 / 101, 50.5 / 101
        want = (pa_c - pa_b) * math.log(pa_c / pa_b) \
            + (pb_c - pb_b) * math.log(pb_c / pb_b)
        assert abs(psi_from_counts(cur, base) - want) < 1e-12
        assert psi_from_counts(cur, cur) == 0.0
        # a category absent from one side stays finite via smoothing
        assert psi_from_counts({"a": 100}, {"b": 100}) > 1.0

    def test_psi_split_matches_two_frame(self, spark):
        from schematic_spark.suite import psi_drift, psi_drift_split

        df = spark.range(4000).select(
            F.col("id"),
            F.when(F.pmod(F.col("id"), 11) < F.pmod(F.col("id"), 4), "x")
             .when(F.pmod(F.col("id"), 3) == 0, "y")
             .otherwise("z").alias("c"),
        )
        split = psi_drift_split(df, "c", F.col("id") % 2 == 0)
        two = psi_drift(
            df.where(F.col("id") % 2 == 0),
            df.where(F.col("id") % 2 == 1),
            "c",
        )
        assert abs(split.statistic - two.statistic) < 1e-12
        assert split.kind == "psi"
        # same distribution on both halves except sampling noise → stable
        assert not split.drifted

    def test_psi_detects_shift(self, spark):
        from schematic_spark.suite import psi_drift

        base = spark.range(2000).select(
            F.when(F.pmod(F.col("id"), 10) < 5, "a").otherwise("b")
            .alias("c"),
        )
        skewed = spark.range(2000).select(
            F.when(F.pmod(F.col("id"), 10) < 9, "a").otherwise("b")
            .alias("c"),
        )
        assert psi_drift(skewed, base, "c").drifted
        assert not psi_drift(base, base, "c").drifted


class TestReviewRegressionsR3:
    def test_column_stats_quoted_and_weird_names(self, spark):
        from schematic_spark.suite import column_stats

        df = spark.range(3).select(
            F.col("id").alias("it's"),
            F.lit("x").alias("a.b"),
            F.lit(True).alias("flag"),
            F.current_timestamp().alias("ts"),
        )
        rows = {r["column"]: r for r in column_stats(df).collect()}
        assert set(rows) == {"it's", "a.b", "flag", "ts"}
        # atomic non-numeric/string types now report distinct estimates
        assert rows["flag"]["n_distinct_approx"] is not None
        assert rows["ts"]["n_distinct_approx"] is not None

    def test_referential_report_empty_fact_zero_null_fk(self, spark):
        from schematic_spark.suite import referential_report

        fact = spark.createDataFrame([], "fk long")
        dim = spark.createDataFrame([(1,)], "k long")
        r = referential_report(fact, dim, {"fk": "k"}).collect()[0]
        assert r["n_null_fk"] == 0 and r["n_rows"] == 0
        assert r["ref_ok"]

    def test_dangling_rows_broadcast_false_forces_merge(self, spark):
        from schematic_spark.suite import dangling_rows

        fact = spark.createDataFrame([(1,), (9,)], "fk long")
        dim = spark.createDataFrame([(1,)], "k long")
        out = dangling_rows(fact, dim, {"fk": "k"}, broadcast=False)
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert "BroadcastHashJoin" not in plan, plan
        assert [r.fk for r in out.collect()] == [9]

    def test_validate_rejects_reserved_column_collision(self, spark):
        import pytest

        from schematic_spark.schema import SNumber, SObject
        from schematic_spark.validation import validate

        df = spark.createDataFrame(
            [(1.0, "x")], "v double, _verdict string"
        )
        with pytest.raises(ValueError, match="_verdict"):
            validate(df, SObject((("v", SNumber()),)))

    def test_construct_rejects_unknown_fields(self, spark):
        import pytest

        from schematic_spark.accessors import construct
        from schematic_spark.schema import SNumber, SObject

        schema = SObject((("x", SNumber()),))
        with pytest.raises(KeyError, match="unknown"):
            construct(schema, x=F.lit(1.0), bogus=F.lit(2.0))
