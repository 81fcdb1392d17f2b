"""Physical-plan regression tests — the scale properties the engine
relies on must be visible in the plan, not just asserted in docs:

* row-local validation is ONE shuffle-free projection (no Exchange);
* column pruning reaches the parquet scan (ReadSchema only lists
  spec + selected columns);
* referential check with broadcast=True produces a BroadcastHashJoin
  (fact side never shuffles).
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from schematic_spark.schema import NGe, SNumber, SObject, SText, TEnum, TGe
from schematic_spark.suite import dangling_rows
from schematic_spark.validation import validate

SF_DIR = "/root/testdata/sf0.001"

SPEC = SObject((
    ("text", SText((TGe(1),))),
    ("lang", SText((TEnum(("en", "de", "fr", "es", "zh")),))),
    ("n_chars", SNumber((NGe(0),))),
))


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


@pytest.fixture(autouse=True)
def _fresh_plans(spark):
    # other test modules cache the same parquet relations; a cached
    # relation swaps the scan for InMemoryTableScan and hides
    # ReadSchema/PushedFilters from the plan under inspection
    spark.catalog.clearCache()
    yield


class TestPlanShape:
    def test_validation_is_shuffle_free(self, spark):
        docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
        res = validate(docs, SPEC)
        plan = _plan(res.annotated)
        assert "Exchange" not in plan, plan

    def test_column_pruning_reaches_scan(self, spark):
        docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
        res = validate(docs, SPEC)
        out = res.annotated.select("doc_id", "_verdict")
        plan = _plan(out)
        scan_lines = [
            ln for ln in plan.splitlines() if "ReadSchema" in ln
        ]
        assert scan_lines, plan
        # only doc_id + the three spec columns may be read; 'source' must
        # be pruned away
        assert "source" not in scan_lines[0], scan_lines[0]

    def test_broadcast_referential_join(self, spark):
        ev = spark.read.parquet(f"{SF_DIR}/events.parquet")
        cust = spark.read.parquet(f"{SF_DIR}/customer.parquet")
        dang = dangling_rows(ev, cust, {"user_id": "c_custkey"},
                             broadcast=True)
        plan = _plan(dang)
        assert "BroadcastHashJoin" in plan, plan
        assert "LeftAnti" in plan, plan

    def test_filter_pushdown(self, spark):
        docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
        q = docs.where(F.col("lang") == "en").select("doc_id")
        plan = _plan(q)
        assert "PushedFilters: [IsNotNull(lang), EqualTo(lang,en)]" in plan \
            or "EqualTo(lang,en)" in plan, plan


class TestPlanShapeRound2:
    def test_catalyst_simhash_signature_is_shuffle_free(self, spark):
        from schematic_spark.functions.dedup import simhash_catalyst

        docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
        sig = docs.select("doc_id", simhash_catalyst("text").alias("sig"))
        plan = _plan(sig)
        assert "Exchange" not in plan, plan
        # no python UDF anywhere — the whole signature is JVM-side
        assert "Python" not in plan, plan

    def test_simhash_near_duplicates_plan_has_no_python(self, spark):
        from schematic_spark.functions import simhash_near_duplicates

        docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
        pairs = simhash_near_duplicates(docs, "text", "doc_id")
        pairs.collect()  # the FINAL adaptive plan, not the initial one
        plan = _plan(pairs)
        assert "ArrowEvalPython" not in plan, plan
        assert "BatchEvalPython" not in plan, plan

    def test_posix_class_validation_plans_no_python(self, spark):
        """POSIX bracket classes run in ``rlike`` like every other
        pattern: neither the batch validation nor the streaming running
        totals over it plan a Python node."""
        from schematic_spark.schema import TRegex
        from schematic_spark.streaming import running_verdict_totals

        spec = SObject((
            ("text", SText((TRegex("^[[:print:][:space:]]*$"),))),
            ("lang", SText((TRegex("^[[:lower:]]+$"),))),
        ))
        docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
        plan = _plan(validate(docs, spec).annotated)
        assert "ArrowEvalPython" not in plan, plan
        assert "Python" not in plan, plan
        stream = spark.readStream.format("rate").load().select(
            F.col("value").cast("string").alias("text"),
            F.lit("en").alias("lang"),
        )
        totals = running_verdict_totals(validate(stream, spec).annotated,
                                        "lang")
        analyzed = totals._jdf.queryExecution().analyzed().toString()
        assert "FlatMapGroupsInPandasWithState" not in analyzed, analyzed
        assert "Python" not in analyzed, analyzed

    def test_union_validation_is_shuffle_free(self, spark):
        from pyspark.sql.types import (
            DoubleType, StringType, StructField, StructType,
        )

        from schematic_spark.schema import SNumber, SObject, SText, SUnion

        st = StructType([
            StructField("doc_id", StringType()),
            StructField("u", StructType([
                StructField("alt_0", StringType()),
                StructField("alt_1", DoubleType()),
            ])),
        ])
        df = spark.createDataFrame(
            [("a", {"alt_0": "x", "alt_1": None})], st
        )
        spec = SObject((
            ("doc_id", SText()),
            ("u", SUnion((SText(), SNumber()), validate_branches=True)),
        ))
        res = validate(df, spec)
        plan = _plan(res.annotated)
        assert "Exchange" not in plan, plan

    def test_embedding_pair_join_hoists_norms(self, spark):
        """The per-row norm must be computed below the join (once per
        vector), not inside the join condition/projection (once per
        pair)."""
        import __spark_entry__ as entry

        df = entry.queries()["embedding_near_pairs_by_label"](
            spark, SF_DIR
        )
        plan = df._jdf.queryExecution().optimizedPlan().toString()
        join_pos = plan.find("Join")
        assert join_pos != -1, plan
        # 'nrm' is projected in the subtrees BELOW the join node (plan
        # strings print parents first, children after)
        below = plan[join_pos:]
        assert "nrm" in below, plan


class TestPlanShapeRound3:
    def test_drop_near_duplicates_no_forced_broadcast(self, spark):
        """The loser set scales with the corpus — the anti-join must not
        carry a broadcast HINT (AQE may still pick broadcast when the set
        happens to fit; what is banned is forcing it)."""
        from schematic_spark.functions import drop_near_duplicates

        docs = spark.createDataFrame(
            [("a", "t"), ("b", "t"), ("c", "u")], "doc_id string, text string"
        )
        pairs = spark.createDataFrame(
            [("a", "b")], "id_a string, id_b string"
        )
        out = drop_near_duplicates(docs, pairs, id_col="doc_id")
        analyzed = out._jdf.queryExecution().analyzed().toString()
        assert "UnresolvedHint" not in analyzed
        assert "ResolvedHint" not in analyzed, analyzed
        assert sorted(r["doc_id"] for r in out.collect()) == ["a", "c"]

    def test_winnow_fingerprints_jvm_only_no_shuffle(self, spark):
        """Winnowing is per-row Catalyst: no Exchange, no Python."""
        from schematic_spark.functions import winnow_fingerprints

        docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
        out = winnow_fingerprints(docs, "text")
        plan = _plan(out)
        assert "Exchange" not in plan, plan
        assert "Python" not in plan, plan

    def test_tagged_union_validation_is_shuffle_free(self, spark):
        """Kind-tagged union validation (the north-rule span shape) is a
        row-local projection: no Exchange, no Python UDF."""
        from pyspark.sql.types import (
            DoubleType, StringType, StructField, StructType,
        )
        from schematic_spark.schema import SNumber, SObject, SText, SUnion

        st = StructType([
            StructField("doc_id", StringType()),
            StructField("u", StructType([
                StructField("kind", StringType()),
                StructField("text", StringType()),
                StructField("score", DoubleType()),
            ])),
        ])
        df = spark.createDataFrame(
            [("a", {"kind": "text", "text": "x", "score": None})], st
        )
        spec = SObject((
            ("doc_id", SText()),
            ("u", SUnion(
                (SText(), SNumber()),
                branch_fields=("text", "score"),
                tag_field="kind",
                tags=("text", "score"),
                validate_branches=True,
            )),
        ))
        res = validate(df, spec)
        plan = _plan(res.annotated)
        assert "Exchange" not in plan, plan
        assert "Python" not in plan, plan

    def test_rollup_expands_before_single_exchange(self, spark):
        """ROLLUP must expand grouping sets BELOW the partial aggregate,
        so the one shuffle carries only (expanded key, partial-agg) rows
        — never raw input rows per grouping set."""
        import __spark_entry__ as entry

        df = entry.queries()["orders_rollup"](spark, SF_DIR)
        # pre-AQE physical plan: the partial (map-side) HashAggregate
        # sits DIRECTLY above Expand, so any exchange the planner adds
        # (none at this 1-partition toy input, one at scale) carries
        # only (expanded key, partial-agg) rows — never one raw input
        # row per grouping set
        plan = df._jdf.queryExecution().sparkPlan().toString()
        assert "Expand" in plan, plan
        assert plan.count("Exchange") <= 1, plan
        partial = plan.find("partial_count")
        expand = plan.find("Expand")
        assert -1 < partial < expand, plan
        # nothing between the partial agg and Expand (parents print
        # before children) except the agg's own output list
        assert "Exchange" not in plan[partial:expand], plan

    def test_media_udfs_are_arrow_vectorized(self, spark):
        """Every Python touchpoint in the media path must be an Arrow
        pandas UDF (ArrowEvalPython) — a row-at-a-time BatchEvalPython
        in the plan means someone regressed the codec call."""
        from schematic_spark.functions import (
            extract_features, media_from_documents, resize_media,
            sample_frames,
        )

        docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
        media = media_from_documents(docs)
        for out in (
            extract_features(media),
            resize_media(media, 64, 32),
            sample_frames(media, 4),
        ):
            plan = _plan(out)
            assert "BatchEvalPython" not in plan, plan
            # exactly ONE Arrow crossing — a second node means a
            # filter-split re-inlined the UDF and every payload
            # decodes more than once
            assert plan.count("ArrowEvalPython") == 1, plan

    def test_violations_accessor_single_tree_evaluation(self, spark):
        """The violations explode must not let the optimizer infer a
        size(...)>0 filter and push it below the projections — that
        re-inlines the entire compiled violations tree into the Filter
        and evaluates the validation twice per row (or worse for HOF
        chains)."""
        docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
        res = validate(docs, SPEC)
        out = res.violations("doc_id")
        plan = out._jdf.queryExecution().optimizedPlan().toString()
        filters_with_tree = [
            ln for ln in plan.splitlines()
            if "Filter" in ln and ("rlike" in ln or "length(" in ln)
        ]
        assert not filters_with_tree, plan

    def test_shared_passage_pairs_single_fingerprint_pass(self, spark):
        """The md5 HOF chains — the winnowing fingerprints of
        ``shared_passage_pairs`` and the signature of
        ``simhash_near_duplicates`` — must appear below the Generate
        exactly once: neither an inferred size()>0 / isnotnull Filter
        nor a hot-group cap may re-expand them (the
        O(len^2)-per-document pushdown trap)."""
        from schematic_spark.functions import (
            shared_passage_pairs, simhash_near_duplicates,
        )

        docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
        for out in (shared_passage_pairs(docs),
                    simhash_near_duplicates(docs)):
            plan = out._jdf.queryExecution().optimizedPlan().toString()
            assert not any(
                "Filter" in ln and "md5" in ln for ln in plan.splitlines()
            ), plan
            # one md5 projection per join side at most — the lambda must
            # not be duplicated beyond the self-join's two identical
            # subtrees
            assert plan.count("md5") <= 2, plan

    def test_simhash_self_join_evaluates_md5_once(self, spark):
        """Both sides of SimHash's block self-join read one exchange of
        the block rows, whichever join AQE picks: the final executed
        plan has the md5 signature in one subtree only."""
        from schematic_spark.functions import simhash_near_duplicates

        docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
        out = simhash_near_duplicates(docs)
        out.collect()
        final = _plan(out).split("== Initial Plan ==")[0]
        assert final.count("md5(") == 1, final


class TestCheckpointPlan:
    def test_wave_filter_sits_below_validation(self, spark, tmp_path):
        """A checkpointed run compiles the spec once and each wave
        filters the compiled frame on its buckets; the optimizer must
        still push that filter under every validation projection, onto
        the scan, so a wave validates only its own rows."""
        from schematic_spark.sources import (
            ParquetDirFormat, run_validation_checkpointed,
        )
        from schematic_spark.sources.checkpoint import VIOLATIONS_TABLE

        written = []

        class Spy(ParquetDirFormat):
            def write(self, df, table, mode="overwrite", partition_by=None):
                if table == VIOLATIONS_TABLE:
                    written.append(df)
                return super().write(df, table, mode, partition_by)

        docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
        run_validation_checkpointed(
            spark, docs, SPEC, Spy(root=str(tmp_path)), n_buckets=4,
            commit_every=2,
        )
        assert len(written) == 2
        for df, wave in zip(written, ("(0,1)", "(2,3)")):
            lines = df._jdf.queryExecution().optimizedPlan().toString() \
                .splitlines()
            (at,) = [i for i, ln in enumerate(lines)
                     if "Filter" in ln and "xxhash64" in ln]
            assert lines[at].endswith(f"IN {wave}"), lines[at]
            assert "Relation" in lines[at + 1], lines
            assert not any("_row_ok" in ln for ln in lines[at:]), lines

class TestPartitionPruning:
    def test_partitioned_sink_prunes_at_scan(self, spark, tmp_path):
        """A violations-style sink written partitionBy(lang) must let a
        lang filter prune directories at the scan (PartitionFilters),
        not read-then-filter — at 100 TB this is the difference between
        touching one partition and touching all of them."""
        docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
        out = str(tmp_path / "by_lang")
        docs.write.partitionBy("lang").parquet(out)

        rd = spark.read.parquet(out).where(F.col("lang") == "en")
        plan = rd._jdf.queryExecution().executedPlan().toString()
        assert "PartitionFilters" in plan, plan
        pf = [ln for ln in plan.splitlines() if "PartitionFilters" in ln]
        assert any("lang" in ln for ln in pf), plan
        # the residual data filter must NOT re-check lang row-by-row
        assert rd.count() == docs.where(F.col("lang") == "en").count()


class TestClusteredLayout:
    def test_clustered_write_yields_disjoint_file_ranges(self, spark, tmp_path):
        """Range-clustered files must carry tight, near-disjoint
        min/max footer stats on the cluster key — that's what lets
        readers skip files/row-groups at 100 TB. Unclustered round-robin
        writes, by contrast, give every file the full key range."""
        from schematic_spark.sources.layout import (
            clustered_write, file_key_ranges,
        )

        ev = spark.read.parquet(f"{SF_DIR}/events.parquet")
        clustered = str(tmp_path / "clustered")
        clustered_write(
            ev, clustered, cluster_cols=("user_id",), n_files=4
        )
        ranges = file_key_ranges(clustered, "user_id")
        assert len(ranges) >= 2
        # ranges may share a single boundary value, never overlap beyond it
        for (lo1, hi1), (lo2, hi2) in zip(ranges, ranges[1:]):
            assert hi1 <= lo2, ranges

        # control: plain write -> every file spans ~the whole key range
        plain = str(tmp_path / "plain")
        ev.repartition(4).write.parquet(plain)
        pranges = file_key_ranges(plain, "user_id")
        overlapping = sum(
            1 for (l1, h1), (l2, h2) in zip(pranges, pranges[1:])
            if h1 > l2
        )
        assert overlapping >= 1, pranges


class TestTpchPlans:
    def test_q3_no_forced_broadcast_hint(self, spark):
        """The filtered customer dim scales with the corpus: the join
        must not carry a broadcast HINT (AQE still picks broadcast at
        toy scale, which is exactly the point — runtime choice, not a
        hardcoded one)."""
        import __spark_entry__ as entry

        df = entry.queries()["tpch_q3_revenue"](spark, SF_DIR)
        analyzed = df._jdf.queryExecution().analyzed().toString()
        assert "ResolvedHint" not in analyzed, analyzed
        assert "UnresolvedHint" not in analyzed

    def test_deciles_no_per_type_total_sort(self, spark):
        """value_deciles_by_type must NOT ntile over the raw corpus —
        that funnels every row through one reducer per event type. The
        scalable form compacts to DISTINCT (type, value) counts first
        (hash-agg, map-side combined), ranks only the distinct values,
        and assigns buckets via a broadcast of the 9 cut-points."""
        import __spark_entry__ as entry

        df = entry.queries()["value_deciles_by_type"](spark, SF_DIR)
        plan = _plan(df)
        assert "ntile(10)" not in plan, plan
        # distinct-value compaction feeds the rank window: a
        # HashAggregate keyed on (event_type, value) appears below it
        assert "Window" in plan, plan
        agg_keys = [
            ln for ln in plan.splitlines()
            if "HashAggregate" in ln and "event_type" in ln
            and "value" in ln and "keys=[" in ln
        ]
        assert agg_keys, plan
        # cut-points come back via broadcast, not a shuffled join
        assert "BroadcastHashJoin" in plan, plan

    def test_funnel_single_user_exchange_no_window(self, spark):
        """conversion_funnel_events: one hash exchange on user_id (plus
        the canonical-output range sort); fold is row-local — no Window
        operator, no python eval."""
        import __spark_entry__ as entry

        df = entry.queries()["conversion_funnel_events"](spark, SF_DIR)
        plan = _plan(df)
        assert "Window" not in plan, plan
        assert "BatchEvalPython" not in plan, plan
        hash_ex = [
            ln for ln in plan.splitlines()
            if "Exchange hashpartitioning" in ln
        ]
        assert len(hash_ex) == 1, plan

    def test_pack_two_phase_offsets_broadcast(self, spark):
        """Two-phase packing: the per-shard offset table joins back via
        broadcast (bounded by parameters, not data) and the big side
        windows over (shard, block) — never a per-shard-only sort."""
        from schematic_spark.functions import pack_documents

        docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
        df = pack_documents(
            docs, token_col="n_chars", budget=1024, shards=8,
            two_phase=True,
        )
        plan = _plan(df)
        assert "BroadcastHashJoin" in plan, plan
        assert "_blk" in plan  # the block column partitions the window

    def test_q6_filters_push_to_scan(self, spark):
        """Q6's whole point: date range, discount band, and quantity
        cap all reach the parquet scan as PushedFilters; the scan reads
        only the four referenced columns."""
        import __spark_entry__ as entry

        df = entry.queries()["tpch_q6_forecast"](spark, SF_DIR)
        plan = _plan(df)
        scan = [ln for ln in plan.splitlines() if "PushedFilters" in ln]
        assert scan, plan
        pushed = scan[0]
        for col in ("l_shipdate", "l_discount", "l_quantity"):
            assert col in pushed, pushed
        read = [ln for ln in plan.splitlines() if "ReadSchema" in ln][0]
        assert "l_extendedprice" in read
        assert "l_returnflag" not in read  # column pruning held

    def test_q1_decimal_sums_no_double_aggregation(self, spark):
        """Money aggregates must run in DECIMAL (exact, partition-order
        independent) — a sum(double) in the agg would reintroduce
        order-dependent results."""
        import __spark_entry__ as entry

        df = entry.queries()["tpch_q1_pricing"](spark, SF_DIR)
        plan = df._jdf.queryExecution().optimizedPlan().toString()
        agg_lines = [ln for ln in plan.splitlines() if "sum(" in ln]
        assert agg_lines, plan
        for ln in agg_lines:
            assert "decimal" in ln, ln


class TestValidRowsPlan:
    def test_valid_rows_single_pass_short_circuit(self, spark):
        """Spark 4 inlines the verdict tree into valid_rows' Filter
        (alias inlining ignores predicate determinism; barrier columns
        are pruned first — audited round 3). The inlined plan is still
        single-pass: exactly one Filter directly over the scan, no
        residual Projects re-computing the trees, and the verdict CASE
        short-circuits valid rows after the flat mask."""
        docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
        res = validate(docs, SPEC)
        plan = res.valid_rows()._jdf.queryExecution() \
            .optimizedPlan().toString()
        # one Filter, directly over the relation: the validation
        # evaluates once per row, not once in a Project AND once here
        lines = [ln for ln in plan.splitlines() if ln.strip()]
        assert lines[0].lstrip().startswith("Filter"), plan
        assert sum("Filter" in ln for ln in lines) == 1, plan
        assert not any("Project" in ln and "rlike" in ln
                       for ln in lines), plan

    def test_valid_rows_values_match_verdict(self, spark):
        docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
        res = validate(docs, SPEC)
        n_valid = res.annotated.where(
            F.col("_verdict") == "Valid").count()
        vr = res.valid_rows()
        assert vr.count() == n_valid
        assert "_verdict" not in vr.columns


class TestBucketedJoin:
    """sources/bucketed.py plan contract: co-bucketed tables join with
    zero Exchange and zero Sort (the write-time layout IS the shuffle);
    the identical join over plain parquet needs two Exchanges."""

    @pytest.fixture()
    def bucketed_tables(self, spark, tmp_path):
        from schematic_spark.sources.bucketed import write_bucketed

        li = spark.read.parquet(f"{SF_DIR}/lineitem.parquet")
        orders = spark.read.parquet(f"{SF_DIR}/orders.parquet")
        write_bucketed(
            li.withColumnRenamed("l_orderkey", "okey"), "b_lineitem",
            "okey", 8, path=str(tmp_path / "b_lineitem"),
        )
        write_bucketed(
            orders.withColumnRenamed("o_orderkey", "okey"), "b_orders",
            "okey", 8, path=str(tmp_path / "b_orders"),
        )
        yield "b_lineitem", "b_orders"
        spark.sql("DROP TABLE IF EXISTS b_lineitem")
        spark.sql("DROP TABLE IF EXISTS b_orders")

    def test_cobucketed_join_is_exchange_and_sort_free(
        self, spark, bucketed_tables
    ):
        from schematic_spark.sources.bucketed import bucketed_join

        left, right = bucketed_tables
        # disable broadcast so the plan proves CO-LOCATION, not size
        with _no_broadcast(spark):
            plan = _plan(bucketed_join(spark, left, right, "okey"))
        assert "SortMergeJoin" in plan, plan
        assert "Exchange" not in plan, plan
        join_and_above = plan.split("SortMergeJoin")[0]
        assert "Sort" not in join_and_above, plan

    def test_plain_parquet_join_shuffles_both_sides(self, spark):
        li = spark.read.parquet(f"{SF_DIR}/lineitem.parquet")
        orders = spark.read.parquet(f"{SF_DIR}/orders.parquet")
        with _no_broadcast(spark):
            plan = _plan(
                li.join(
                    orders,
                    li["l_orderkey"] == orders["o_orderkey"],
                )
            )
        assert plan.count("Exchange") >= 2, plan

    def test_cobucketed_join_values_match_plain(
        self, spark, bucketed_tables
    ):
        from schematic_spark.sources.bucketed import bucketed_join

        left, right = bucketed_tables
        got = (
            bucketed_join(spark, left, right, "okey")
            .groupBy()
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.sum(F.col("l_quantity")
                      * F.col("o_totalprice")).alias("s"),
            )
            .collect()[0]
        )
        li = spark.read.parquet(f"{SF_DIR}/lineitem.parquet")
        orders = spark.read.parquet(f"{SF_DIR}/orders.parquet")
        exp = (
            li.join(orders, li["l_orderkey"] == orders["o_orderkey"])
            .groupBy()
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.sum(F.col("l_quantity")
                      * F.col("o_totalprice")).alias("s"),
            )
            .collect()[0]
        )
        assert got["n"] == exp["n"]
        assert got["s"] == pytest.approx(exp["s"], rel=1e-9)


from contextlib import contextmanager  # noqa: E402


@contextmanager
def _no_broadcast(spark):
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        yield
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)


class TestTpchPlansRound5:
    """Plan contracts for the Q13/Q15/Q17/Q22-style queries: each one
    exists to exercise a specific Catalyst shape, so the shape itself
    is pinned here — a rewrite that keeps values but loses the shape
    (e.g. decorrelating Q17 into a second fact scan) is a regression
    at 100 TB even though every oracle stays green."""

    def _df(self, spark, key):
        import __spark_entry__ as entry

        return entry.queries()[key](spark, SF_DIR)

    def test_q13_outer_join_survives_join_side_filter(self, spark):
        """The non-urgent filter sits on the orders side of the LEFT
        OUTER join; if it ever migrates above the join (or the join
        degrades to inner), customers with zero qualifying orders drop
        out of the c_count=0 bucket."""
        plan = _plan(self._df(spark, "tpch_q13_order_counts"))
        assert "LeftOuter" in plan, plan

    def test_q15_single_fact_scan(self, spark):
        """The global max must ride a window over the aggregated
        per-supplier table — a separate per.agg(max) branch re-executes
        the whole lineitem scan+agg lineage (2 fact scans)."""
        plan = _plan(self._df(spark, "tpch_q15_top_supplier"))
        assert plan.count("lineitem.parquet") == 1, plan

    def test_q17_decorrelates_to_window_not_self_join(self, spark):
        """Q17's correlated avg-per-part subquery must become a window
        over the l_partkey key the rows already carry: one fact scan,
        one Window — never a groupBy branch self-joined back (a second
        scan) nor a row-at-a-time Python predicate."""
        plan = _plan(self._df(spark, "tpch_q17_small_qty_orders"))
        assert plan.count("lineitem.parquet") == 1, plan
        assert "Window" in plan, plan
        assert "BatchEvalPython" not in plan, plan

    def test_q22_anti_join_with_pushed_date_filter(self, spark):
        """The dormancy check is a LEFT ANTI join against RECENT orders
        only; the o_orderdate cutoff must reach the orders scan as a
        pushed filter (scanning all orders to anti-join is the 100 TB
        mistake). The only nested-loop join allowed is the 1-row
        scalar-threshold attachment."""
        plan = _plan(self._df(spark, "tpch_q22_dormant_customers"))
        assert "LeftAnti" in plan, plan
        assert plan.count("BroadcastNestedLoopJoin") <= 1, plan
        pushed = [
            ln for ln in plan.splitlines()
            if "PushedFilters" in ln and "orders.parquet" in ln
        ]
        assert pushed and "o_orderdate" in pushed[0], plan


class TestComputeFanOut:
    """``spread_for_compute`` adds exactly one round-robin exchange over
    a scan with fewer splits than the session's parallelism and is a
    no-op otherwise; ``ngram_contamination`` does not call it."""

    def test_contamination_plan_has_no_round_robin(self, spark):
        from schematic_spark.functions import ngram_contamination

        docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
        assert docs.rdd.getNumPartitions() == 1  # the one-file shape
        pairs = ngram_contamination(
            docs.where(F.col("source") != "src0"),
            docs.where(F.col("source") == "src0"),
            n=8,
            max_gram_group=100,
        )
        pairs.collect()  # the FINAL adaptive plan, not the initial one
        assert "RoundRobinPartitioning" not in _plan(pairs), _plan(pairs)

    def test_spread_adds_one_round_robin_on_one_file(self, spark):
        from collections import Counter

        from schematic_spark.sources import spread_for_compute

        docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
        assert docs.rdd.getNumPartitions() == 1
        spread = spread_for_compute(docs)
        # planned, not run: an adaptive plan that has run prints its
        # initial plan beside the final one
        assert "RoundRobinPartitioning" not in _plan(docs)
        assert _plan(spread).count("RoundRobinPartitioning") == 1, \
            _plan(spread)
        assert Counter(spread.collect()) == Counter(docs.collect())

    def test_spread_is_identity_with_enough_files(self, spark, tmp_path):
        from schematic_spark.sources import spread_for_compute

        n = spark.sparkContext.defaultParallelism
        path = str(tmp_path / "many")
        spark.range(1000).repartition(n).write.parquet(path)
        df = spark.read.parquet(path)
        assert len(list((tmp_path / "many").glob("*.parquet"))) >= n
        assert df.rdd.getNumPartitions() >= n
        assert spread_for_compute(df) is df
