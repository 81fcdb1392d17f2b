"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` — flagship: full validation of the documents table at
sf0.001 returning the per-verdict summary.

``queries()`` / ``oracle_sql()`` — one entry per implemented operator
(SURVEY.md §2 + the training-pipeline operators); DuckDB oracles run on
the same parquet views at sf0.01 — EVERY query has an oracle (generated
tables are parquet-dumped so the oracle SQL reads the same bytes; LSH
pipelines are checked against exact all-pairs recomputation, which also
certifies recall). Column names/aliases match between both sides;
floats are rounded identically.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

SF_SMOKE = "/root/testdata/sf0.001"

# ---------------------------------------------------------------------------
# shared spec fragments
# ---------------------------------------------------------------------------

_DOC_LANGS = ("en", "de", "fr", "es")  # 'zh' excluded → real violations
_EVENT_TYPES = ("click", "view", "purchase", "signup")  # 'error' excluded

_LANG_ENUM_MSG = 'must be one of ["en","de","fr","es"]'
_EVENT_ENUM_MSG = 'must be one of ["click","view","purchase","signup"]'


def _documents_spec():
    from schematic_spark.schema import (
        NGe, NLe, SNumber, SObject, SText, TEnum, TGe,
    )

    return SObject((
        ("text", SText((TGe(1),))),
        ("lang", SText((TEnum(_DOC_LANGS),))),
        ("n_chars", SNumber((NGe(0), NLe(500)))),
    ))


def _read(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


# ---------------------------------------------------------------------------
# entry
# ---------------------------------------------------------------------------

def entry(spark: SparkSession) -> DataFrame:
    """Flagship: validate sf0.001 documents against the spec; return the
    per-verdict summary (verdict, n_rows, n_violations)."""
    from schematic_spark.validation import validate

    docs = _read(spark, SF_SMOKE, "documents")
    return validate(docs, _documents_spec()).summary()


# ---------------------------------------------------------------------------
# queries
# ---------------------------------------------------------------------------

def _q_validate_documents(spark, sf_dir):
    from schematic_spark.validation import validate

    docs = _read(spark, sf_dir, "documents")
    return validate(docs, _documents_spec()).violations("doc_id")


def _q_verdict_summary_documents(spark, sf_dir):
    from schematic_spark.validation import validate

    docs = _read(spark, sf_dir, "documents")
    return validate(docs, _documents_spec()).summary()


def _q_validate_events(spark, sf_dir):
    from schematic_spark.schema import NGe, SNumber, SObject, SText, TEnum
    from schematic_spark.validation import validate

    spec = SObject((
        ("event_type", SText((TEnum(_EVENT_TYPES),))),
        ("value", SNumber((NGe(0),))),
    ))
    ev = _read(spark, sf_dir, "events")
    return validate(ev, spec).violations("event_id")


def _q_column_stats_documents(spark, sf_dir):
    docs = _read(spark, sf_dir, "documents")
    cols = ["doc_id", "text", "lang", "source", "n_chars"]
    aggs = [F.count(F.lit(1)).alias("n_rows")]
    for c in cols:
        aggs += [
            F.sum(F.col(c).isNull().cast("long")).alias(f"{c}__nnull"),
            F.count_distinct(F.col(c)).alias(f"{c}__ndist"),
            F.min(F.col(c)).cast("string").alias(f"{c}__min"),
            F.max(F.col(c)).cast("string").alias(f"{c}__max"),
        ]
    wide = docs.agg(*aggs)
    stack = ", ".join(
        f"'{c}', `{c}__nnull`, `{c}__ndist`, `{c}__min`, `{c}__max`"
        for c in cols
    )
    return wide.selectExpr(
        "n_rows",
        f"stack({len(cols)}, {stack}) as "
        "(column, n_null, n_distinct, min_str, max_str)",
    ).select("column", "n_rows", "n_null", "n_distinct", "min_str", "max_str")


def _q_duplicate_user_ids(spark, sf_dir):
    from schematic_spark.suite import duplicate_keys

    ev = _read(spark, sf_dir, "events")
    return duplicate_keys(ev, "user_id")


def _q_duplicate_user_ids_salted(spark, sf_dir):
    from schematic_spark.suite import duplicate_keys_salted

    ev = _read(spark, sf_dir, "events")
    return duplicate_keys_salted(ev, "user_id", salt_buckets=16)


def _q_referential_events_customer(spark, sf_dir):
    from schematic_spark.suite import referential_report

    ev = _read(spark, sf_dir, "events")
    cust = _read(spark, sf_dir, "customer")
    return referential_report(
        ev, cust, {"user_id": "c_custkey"}, broadcast=True
    )


def _q_dangling_lineitem_orders(spark, sf_dir):
    from schematic_spark.suite import dangling_rows

    li = _read(spark, sf_dir, "lineitem")
    orders = _read(spark, sf_dir, "orders")
    # restrict the dim to force real dangling rows: keep even order keys
    dim = orders.where(F.col("o_orderkey") % 2 == 0)
    return (
        dangling_rows(li, dim, {"l_orderkey": "o_orderkey"}, broadcast=True)
        .groupBy("l_orderkey")
        .agg(F.count(F.lit(1)).alias("n_rows"))
    )


def _q_dangling_lineitem_bloom(spark, sf_dir):
    """The sort-merge referential check end-to-end: the dangling set of
    dangling_lineitem_orders through ``dangling_rows(broadcast=False)``,
    the path for dims too big to broadcast. The key keeps the name of
    the Bloom-prefiltered anti-join it used to run (deleted: slower
    than this sort-merge anti-join on every measured input) so the
    recorded benchmark files stay comparable and the query count is
    unchanged."""
    from schematic_spark.suite import dangling_rows

    li = _read(spark, sf_dir, "lineitem")
    orders = _read(spark, sf_dir, "orders")
    dim = orders.where(F.col("o_orderkey") % 2 == 0)
    return (
        dangling_rows(li, dim, {"l_orderkey": "o_orderkey"}, broadcast=False)
        .groupBy("l_orderkey")
        .agg(F.count(F.lit(1)).alias("n_rows"))
    )


def _q_orders_priority_stats(spark, sf_dir):
    orders = _read(spark, sf_dir, "orders")
    return orders.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n"),
        F.min("o_totalprice").alias("min_price"),
        F.max("o_totalprice").alias("max_price"),
        F.round(
            F.sum(F.col("o_totalprice").cast("decimal(18,2)")), 2
        ).cast("string").alias("sum_price"),
    )


def _q_length_histogram_documents(spark, sf_dir):
    from schematic_spark.suite import length_histogram

    docs = _read(spark, sf_dir, "documents")
    return length_histogram(docs, "text").select("bucket", "lo", "hi", "n")


def _q_embedding_dims(spark, sf_dir):
    emb = _read(spark, sf_dir, "embeddings")
    return emb.groupBy(F.size("embedding").alias("dim")).agg(
        F.count(F.lit(1)).alias("n")
    )


def _q_embedding_size_violations(spark, sf_dir):
    from schematic_spark.schema import AEq, SArray, SNumber, SObject
    from schematic_spark.validation import validate

    spec = SObject((("embedding", SArray(SNumber(), (AEq(64),))),))
    emb = _read(spark, sf_dir, "embeddings")
    return validate(emb, spec).violations("vec_id")


def _q_token_counts_documents(spark, sf_dir):
    from schematic_spark.functions import (
        bpe_ish_token_count, whitespace_token_count,
    )

    docs = _read(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        whitespace_token_count("text").alias("n_ws_tokens"),
        bpe_ish_token_count("text").alias("n_bpe_tokens"),
    )


def _q_quality_documents(spark, sf_dir):
    from schematic_spark.functions import quality_features

    docs = _read(spark, sf_dir, "documents")
    f = quality_features("text")
    return docs.select(
        "doc_id",
        F.round(f["alpha_ratio"], 6).alias("alpha_ratio"),
        F.round(f["punct_ratio"], 6).alias("punct_ratio"),
        F.round(f["digit_ratio"], 6).alias("digit_ratio"),
        f["n_tokens"].alias("n_tokens"),
    )


def _q_lang_pred_documents(spark, sf_dir):
    from schematic_spark.functions import lang_id

    docs = _read(spark, sf_dir, "documents")
    return (
        docs.select("lang", lang_id("text").alias("lang_pred"))
        .groupBy("lang", "lang_pred")
        .agg(F.count(F.lit(1)).alias("n"))
    )


def _q_cosine_topk_embeddings(spark, sf_dir):
    from schematic_spark.functions import cosine_topk

    emb = _read(spark, sf_dir, "embeddings")
    qrow = emb.orderBy("vec_id").first()
    query = [float(x) for x in qrow["embedding"]]
    top = cosine_topk(emb, query, k=10)
    return top.select("vec_id", F.round(F.col("cosine"), 5).alias("cosine"))


def _q_events_value_histogram(spark, sf_dir):
    from schematic_spark.suite import numeric_histogram

    ev = _read(spark, sf_dir, "events")
    return (
        numeric_histogram(ev, "value", lo=0.0, hi=500.0, n_buckets=20)
        .select("bucket", "n")
    )


def _q_exact_dup_groups_documents(spark, sf_dir):
    from schematic_spark.functions.text import normalized_text

    docs = _read(spark, sf_dir, "documents")
    return (
        docs.select(normalized_text("text").alias("norm"))
        .groupBy("norm")
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .where(F.col("n_docs") > 1)
        .select("n_docs", F.substring("norm", 1, 40).alias("norm_prefix"))
    )


# --- round-2 additions: drift stats, scoring, versioned dispatch,
# --- embedding pair search — all oracle-backed ------------------------------

def _q_ks_drift_events(spark, sf_dir):
    """Two-sample KS drift between even/odd event_id halves of the same
    table (deterministic split): ONE scan, one groupBy(bucket, parity)
    hash-agg (round-2 verdict: the two-scan wrapper was the bench's
    slowest entry); the statistic is driver-side; the oracle recomputes
    D = max|ECDF1-ECDF2| with SQL window functions."""
    from schematic_spark.suite import ks_drift_split

    ev = _read(spark, sf_dir, "events")
    rep = ks_drift_split(
        ev, "value", F.col("event_id") % 2 == 0,
        lo=0.0, hi=500.0, n_buckets=20,
    )
    return spark.createDataFrame(
        [(round(rep.statistic, 9),
          rep.detail["n_current"], rep.detail["n_baseline"])],
        "ks_stat double, n_current long, n_baseline long",
    )


def _q_psi_drift_event_types(spark, sf_dir):
    """Population Stability Index drift (event_type, even vs odd
    halves) — the third drift statistic next to KS (numeric shape) and
    chi-square (significance); one groupBy(category, parity) scan,
    Laplace 0.5 smoothing over the category union, mirrored exactly in
    SQL."""
    from schematic_spark.suite import psi_drift_split

    ev = _read(spark, sf_dir, "events")
    rep = psi_drift_split(
        ev, "event_type", F.col("event_id") % 2 == 0,
    )
    return spark.createDataFrame(
        [(round(rep.statistic, 6), rep.detail["n_categories"])],
        "psi_stat double, n_categories int",
    )


def _q_chi2_drift_event_types(spark, sf_dir):
    """Categorical chi-square drift (event_type, even vs odd halves) —
    one groupBy(category, parity) scan; Haldane 0.5 pseudo-count for
    unseen categories, mirrored in SQL."""
    from schematic_spark.suite import chi2_drift_split

    ev = _read(spark, sf_dir, "events")
    rep = chi2_drift_split(
        ev, "event_type", F.col("event_id") % 2 == 0,
    )
    return spark.createDataFrame(
        [(round(rep.statistic, 6), rep.detail["dof"],
          rep.detail["n_categories"])],
        "chi2_stat double, dof int, n_categories int",
    )


def _q_quality_score_documents(spark, sf_dir):
    from schematic_spark.functions import quality_score

    docs = _read(spark, sf_dir, "documents")
    return docs.select("doc_id", quality_score("text").alias("q_score"))


def _q_versioned_dispatch_documents(spark, sf_dir):
    """Newest-first versioned dispatch (parseAndValidateWithMList) over
    documents: base spec has text only; the top revision adds a lang
    enum; rows failing at top but valid at base are upgraded with
    lang='en'. Output: upgraded lang histogram + rejected count."""
    from schematic_spark.migrations import (
        AddKey, Diff, Migration, VersionedSpec, add_column_upgrade,
        validate_versioned,
    )
    from schematic_spark.schema import SObject, SText, TEnum, TGe

    base = SObject((("text", SText((TGe(1),))),))
    migs = [Migration(
        "add_lang", (Diff((), AddKey("lang", SText((TEnum(_DOC_LANGS),)))),)
    )]
    spec = VersionedSpec(
        base=base, migrations=migs,
        upgrades={"add_lang": add_column_upgrade("lang", "en")},
    )
    docs = _read(spark, sf_dir, "documents")
    upgraded, rejected = validate_versioned(docs, spec, persist=False)
    return (
        upgraded.groupBy("lang").agg(F.count(F.lit(1)).alias("n"))
        .crossJoin(rejected.agg(F.count(F.lit(1)).alias("n_rejected")))
    )


def _q_events_value_percentiles(spark, sf_dir):
    """Per-type exact percentiles (sort-based ``percentile``, linear
    interpolation — same definition as DuckDB quantile_cont, so it
    oracles exactly). At 100 TB use ``percentile_approx`` (GK sketch,
    one pass, mergeable) — approximate by construction, so the exact
    form is what the correctness gate pins."""
    ev = _read(spark, sf_dir, "events")
    return ev.where(F.col("value").isNotNull()).groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.percentile("value", F.lit(0.25)), 6).alias("p25"),
        F.round(F.percentile("value", F.lit(0.5)), 6).alias("p50"),
        F.round(F.percentile("value", F.lit(0.75)), 6).alias("p75"),
        F.round(F.percentile("value", F.lit(0.99)), 6).alias("p99"),
    )


def _q_heavy_clickers_not_viewers(spark, sf_dir):
    """Set-op coverage (EXCEPT DISTINCT via subtract): users with >=15
    click events but NOT >=15 view events — two hash-aggs + one
    distinct-subtract on the key."""
    ev = _read(spark, sf_dir, "events")

    def heavy(kind):
        return (
            ev.where(F.col("event_type") == kind)
            .groupBy("user_id").agg(F.count(F.lit(1)).alias("n"))
            .where(F.col("n") >= 15).select("user_id")
        )

    return heavy("click").subtract(heavy("view"))


def _q_span_offset_totals(spark, sf_dir):
    """Accessor-layer coverage: nested-path projection
    (get_at_path over spans[].offset) + array aggregate — per doc_id
    the offset sum and span count, over the generated table."""
    from schematic_spark.accessors import TRAVERSE, get_at_path

    docs = spark.read.parquet(_interleaved_parquet(spark))
    offs = get_at_path(F.col("spans"), (TRAVERSE, "offset"))
    return (
        docs.select(
            "doc_id",
            F.aggregate(
                offs, F.lit(0).cast("long"),
                lambda acc, x: acc + x.cast("long"),
            ).alias("offset_sum"),
            F.size("spans").alias("n_spans"),
        )
        .groupBy("doc_id")
        .agg(
            F.sum("offset_sum").alias("offset_sum"),
            F.sum("n_spans").alias("n_spans"),
        )
    )


def _q_top_docs_per_lang(spark, sf_dir):
    """Window-function coverage: top-2 documents by n_chars per lang
    (row_number over a partition, deterministic tie-break)."""
    from pyspark.sql import Window

    docs = _read(spark, sf_dir, "documents")
    w = Window.partitionBy("lang").orderBy(
        F.col("n_chars").desc(), F.col("doc_id")
    )
    return (
        docs.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= 2)
        .select("lang", "doc_id", "n_chars", "rn")
    )


def _q_embedding_near_pairs_by_label(spark, sf_dir):
    """Exact cosine pair search blocked on the label column (the
    blocking key bounds the join to within-class pairs — the
    brute-force baseline of the near-dup family; LSH/IVF variants are
    the probabilistic scale path, unit-tested separately)."""
    from schematic_spark.functions import dot, l2_norm

    emb = _read(spark, sf_dir, "embeddings").select(
        "vec_id", "label",
        F.col("embedding").cast("array<double>").alias("v"),
    )
    # norms are per-ROW, so compute them once before the pair join
    # (inside the join each would be re-evaluated per PAIR — 100× the
    # work at 100-vector blocks, worse at scale)
    emb = emb.withColumn("nrm", l2_norm(F.col("v")))
    # the label self-join broadcasts the build side, so the stream side's
    # scan partitioning is the whole stage's parallelism — a single-file
    # embeddings table would run every per-pair cosine HOF on ONE task.
    # Spread the stream side (data-adaptive: no-op when the scan already
    # has enough splits); pair membership and per-pair values unchanged.
    from schematic_spark.sources import spread_for_compute

    a, b = spread_for_compute(emb).alias("a"), emb.alias("b")
    cos = dot(F.col("a.v"), F.col("b.v")) / F.greatest(
        F.col("a.nrm") * F.col("b.nrm"), F.lit(1e-12)
    )
    return (
        a.join(b, (F.col("a.label") == F.col("b.label"))
               & (F.col("a.vec_id") < F.col("b.vec_id")))
        .select(
            F.col("a.vec_id").alias("id_a"),
            F.col("b.vec_id").alias("id_b"),
            cos.alias("_c"),
        )
        .where(F.col("_c") >= 0.4)
        .select("id_a", "id_b", F.round(F.col("_c"), 5).alias("cosine"))
    )


def _q_near_dup_components_embeddings(spark, sf_dir):
    """Connected components over the (deterministic) embedding near-dup
    pair graph via iterative min-label propagation — the clustering
    step between pair discovery and dedup policy. The oracle recomputes
    components with a recursive CTE over the identical pair set."""
    from schematic_spark.functions import near_duplicate_components

    pairs = _q_embedding_near_pairs_by_label(spark, sf_dir) \
        .select("id_a", "id_b")
    comp = near_duplicate_components(pairs)
    return comp.groupBy("component").agg(
        F.count(F.lit(1)).alias("n_members")
    )


def _q_dedup_survivors_embeddings(spark, sf_dir):
    """The dedup POLICY end-to-end: pair discovery → connected
    components → keep-one-per-cluster (min id; plain left_anti, no
    forced broadcast — AQE decides). Returns the surviving rows; the
    oracle recomputes survivors from the recursive-CTE components."""
    from schematic_spark.functions import drop_near_duplicates

    pairs = _q_embedding_near_pairs_by_label(spark, sf_dir) \
        .select("id_a", "id_b")
    emb = _read(spark, sf_dir, "embeddings").select("vec_id", "label")
    return drop_near_duplicates(emb, pairs, id_col="vec_id")


# --- formerly rows-only; all five now carry DuckDB oracles -----------------

#: parquet dump of the deterministic generated table, shared with the
#: DuckDB oracle (the oracle SQL read_parquet's the same files; the
#: query function writes them first, and the driver/check harness runs
#: the Spark side before the oracle side)
_ORACLE_TMP = "/tmp/schematic_spark_oracle"
_INTERLEAVED_N = 5000
_INTERLEAVED_MEDIA = 500


def _interleaved_parquet(spark) -> str:
    path = f"{_ORACLE_TMP}/interleaved_{_INTERLEAVED_N}"
    if not getattr(_interleaved_parquet, "_done", False):
        from schematic_spark.generator import (
            GeneratorConfig, interleaved_documents,
        )

        docs = interleaved_documents(spark, GeneratorConfig(
            n_docs=_INTERLEAVED_N, seed=42, n_media=_INTERLEAVED_MEDIA,
        ))
        docs.write.mode("overwrite").parquet(path)
        _interleaved_parquet._done = True
    return path


def _q_minhash_near_dups_documents(spark, sf_dir):
    """MinHash-LSH candidate discovery + exact n-gram-Jaccard verify;
    the oracle computes exact ALL-PAIRS Jaccard in DuckDB, so a match
    also certifies 100% LSH recall at this threshold on this corpus
    (bands=16, r=2 ⇒ knee ~0.25, miss probability at s=0.6 is
    (1-0.36)^16 ≈ 0.08%)."""
    from schematic_spark.functions import minhash_near_duplicates

    docs = _read(spark, sf_dir, "documents")
    pairs = minhash_near_duplicates(
        docs, "text", "doc_id", threshold=0.6, num_hashes=32, bands=16
    )
    return pairs.groupBy(
        F.round(F.col("jaccard"), 1).alias("jaccard_bucket")
    ).agg(F.count(F.lit(1)).alias("n_pairs"))


def _q_validate_interleaved(spark, sf_dir):
    """Generated interleaved-docs table (north-rule input) through the
    full validation; per-verdict summary, oracled in SQL over the same
    parquet dump."""
    from schematic_spark.generator import INTERLEAVED_SPEC
    from schematic_spark.validation import validate

    docs = spark.read.parquet(_interleaved_parquet(spark))
    return validate(docs, INTERLEAVED_SPEC).summary().orderBy("verdict")


def _q_interleaved_suite(spark, sf_dir):
    """Uniqueness + referential + span-order over the interleaved table —
    one row of suite verdict counts. The oracle recomputes the media
    dimension from the generator's LCG arithmetic in pure SQL."""
    from schematic_spark.generator import (
        exploded_spans, media_dim, non_monotonic_docs,
    )
    from schematic_spark.suite import dangling_rows, duplicate_keys_salted

    docs = spark.read.parquet(_interleaved_parquet(spark))
    media = media_dim(spark, _INTERLEAVED_MEDIA)
    # three independent counts — submit concurrently (guide §2.6) so
    # each job's tail/planning back-fills the others; results identical
    from concurrent.futures import ThreadPoolExecutor

    spans = exploded_spans(docs).where(F.col("media_ref").isNotNull())
    with ThreadPoolExecutor(max_workers=3) as pool:
        f_dup = pool.submit(
            lambda: duplicate_keys_salted(
                docs, "doc_id", salt_buckets=16).count()
        )
        f_dang = pool.submit(
            lambda: dangling_rows(
                spans, media, "media_ref", broadcast=True).count()
        )
        f_dis = pool.submit(lambda: non_monotonic_docs(docs).count())
        n_dup, n_dangling, n_disorder = (
            f_dup.result(), f_dang.result(), f_dis.result()
        )
    return spark.createDataFrame(
        [(n_dup, n_dangling, n_disorder)],
        "n_dup_doc_ids long, n_dangling_media long, n_out_of_order long",
    )


def _q_media_features(spark, sf_dir):
    """Media decode plumbing (mapInPandas, quarantine semantics) over a
    media table DERIVED from documents, so n_bytes/decode_ok/kind are
    all SQL-derivable from the same source for the oracle."""
    from schematic_spark.functions import (
        extract_features, media_from_documents,
    )

    # NO spread here (r6, measured): fanning the Arrow decode stage to
    # 32 tasks makes a COLD run spawn 32 Python workers at once
    # (pandas import × 32 under contention) — cold one-shot regressed
    # 2.6 s → 3.4-5.4 s while only warm re-runs improved (0.63 s), and
    # the bench protocol is cold one-shot per JVM. At scale the scan
    # has real splits and long-lived workers amortize startup.
    docs = _read(spark, sf_dir, "documents")
    feats = extract_features(media_from_documents(docs))
    return feats.groupBy("kind").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("decode_ok").cast("long")).alias("n_ok"),
        F.round(F.avg("n_bytes"), 4).alias("avg_bytes"),
    )


def _q_simhash_documents(spark, sf_dir):
    """UDF-free Catalyst SimHash (md5 60-bit token hashes) + Charikar
    block-join discovery (exact, 100% recall); the oracle recomputes the
    identical signatures and all-pairs Hamming in DuckDB."""
    from schematic_spark.functions import simhash_near_duplicates

    docs = _read(spark, sf_dir, "documents")
    pairs = simhash_near_duplicates(docs, "text", "doc_id", max_hamming=1)
    return pairs.groupBy("hamming").agg(
        F.count(F.lit(1)).alias("n_pairs")
    )


def _q_tagged_union_spans(spark, sf_dir):
    """North-rule span shape (struct<kind,text,media_ref,offset>)
    validated through the kind-TAGGED union encoding (round-3 SUnion
    tag_field/branch_fields): the tag commits the branch, an unknown
    tag is the no-match DecodingError ("empty union", Schema.hs:514-519),
    a committed branch with a null payload is a missing-field
    DecodingError, and branch constraints (TGe(1) text / UUID regex
    media_ref) validate only on the committed branch. The oracle
    re-derives every span's verdict in SQL over the same parquet."""
    from schematic_spark.schema import (
        AGe, SArray, SObject, SText, SUnion, TGe, TGt, TRegex,
    )
    from schematic_spark.schema.helpers import UUID_REGEX
    from schematic_spark.validation import validate

    span_union = SUnion(
        (SText((TGe(1),)), SText((TRegex(UUID_REGEX),))),
        branch_fields=("text", "media_ref"),
        tag_field="kind",
        tags=("text", "media"),
        validate_branches=True,
    )
    spec = SObject((
        ("doc_id", SText((TGt(0),))),
        ("spans", SArray(span_union, (AGe(1),))),
    ))
    docs = spark.read.parquet(_interleaved_parquet(spark))
    res = validate(docs, spec)
    return (
        res.annotated
        .groupBy(F.col("_verdict").alias("verdict"))
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum(F.size("_violations")).alias("n_violations"),
            F.sum(F.size("_structural")).alias("n_structural"),
        )
        .orderBy("verdict")
    )


def _q_orders_rollup(spark, sf_dir):
    """ROLLUP(o_orderpriority, o_orderstatus) — the grouping-sets
    engine category (SURVEY §2.9 row intentionally skipped in rounds
    1-2, now closed): subtotal rows + grand total in one pass; Spark
    expands the grouping sets BEFORE the exchange so the shuffle still
    carries only (key, partial-agg) rows."""
    orders = _read(spark, sf_dir, "orders")
    return (
        orders.rollup("o_orderpriority", "o_orderstatus")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(
                F.sum(F.col("o_totalprice").cast("decimal(18,2)")), 2
            ).cast("string").alias("sum_price"),
        )
        .select(
            F.coalesce("o_orderpriority", F.lit("ALL")).alias("priority"),
            F.coalesce("o_orderstatus", F.lit("ALL")).alias("status"),
            "n", "sum_price",
        )
    )


def _q_media_resize_frames(spark, sf_dir):
    """Resize + frame-sample plumbing over the documents-derived media
    table: per-kind resized payload byte totals (images land at exactly
    width*height/64 bytes; other kinds pass through) and the video
    frame fan-out (4 uniform slices per video; slice-length arithmetic
    mirrored in SQL)."""
    from schematic_spark.functions import (
        media_from_documents, resize_media, sample_frames,
    )

    # no spread — same cold Python-worker-fan-out reasoning as
    # _q_media_features
    docs = _read(spark, sf_dir, "documents")
    media = media_from_documents(docs)
    resized = resize_media(media, 64, 32)
    per_kind = resized.groupBy("kind").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.octet_length("payload")).alias("payload_bytes"),
    )
    frames = sample_frames(media, 4).where(F.col("frame_idx") >= 0)
    f = frames.agg(
        F.count(F.lit(1)).alias("n_frames"),
        F.sum(F.octet_length("frame")).alias("frame_bytes"),
    )
    return per_kind.crossJoin(f)


def _q_winnow_fingerprints_documents(spark, sf_dir):
    """Winnowing (rolling-hash) document fingerprints — MOSS scheme
    (Schleimer/Wilkerson/Aiken SIGMOD'03): min-hash of each sliding
    window over the k-gram hash sequence, deduped. Emitted per doc as
    (count, xor-as-15-hex-chars) so the oracle can recompute the exact
    fingerprint SET in SQL (same md5-15-hex-char hash as the SimHash
    oracle; xor is order-independent and cannot overflow int64; the hex
    encoding + canonical ORDER BY keep the driver's hash protocol away
    from raw 60-bit integers and nondeterministic row order)."""
    from schematic_spark.functions import winnow_fingerprints

    # canonical order comes from sorting the INPUT by its unique key:
    # the fingerprint projection is narrow (preserves sort), so the
    # output is doc_id-ordered without a post-compute sort — ordering
    # the computed output instead makes the range-partitioner's
    # sampling pass execute the whole md5-gram pipeline twice (a
    # measured 30% regression on this query)
    # parallelism shape (r6): the old input-orderBy form computed the
    # md5 k-gram chain AFTER the range exchange, which AQE coalesces to
    # ~1 partition for a KB-scale table — the whole hash chain ran on
    # one core. Now: spread the scan (no-op at 100 TB file counts),
    # fingerprint in parallel, materialize the tiny per-doc rows
    # (localCheckpoint) so the final orderBy's range-sampling pass
    # samples 3-column rows instead of re-executing the md5 chain, and
    # sort LAST. Output rows and doc_id ordering are identical.
    from schematic_spark.sources import spread_for_compute

    docs = spread_for_compute(_read(spark, sf_dir, "documents"))
    fp = winnow_fingerprints(docs, "text", k=8, window=4)
    out = fp.select(
        "doc_id",
        F.size("fingerprints").alias("n_fp"),
        F.format_string(
            "%015x",
            F.aggregate(
                "fingerprints", F.lit(0).cast("long"),
                lambda a, x: a.bitwiseXOR(x),
            ),
        ).alias("fp_xor_hex"),
    ).localCheckpoint()
    return out.orderBy("doc_id")


def _q_shared_passages_documents(spark, sf_dir):
    """Copied-passage discovery over winnowing fingerprints: documents
    sharing ≥3 of the k=16/window=8 MOSS fingerprints, with the
    degenerate-fingerprint cap at 100 docs (template noise dropped
    before the self-join — the same blowup mitigation as the MinHash
    bucket cap). The oracle recomputes the exact fingerprint sets in
    SQL (same md5-15-hex arithmetic as the winnow oracle), applies the
    identical cap via a window count, and re-derives every pair."""
    from schematic_spark.functions import shared_passage_pairs

    docs = _read(spark, sf_dir, "documents")
    return shared_passage_pairs(
        docs, "text", "doc_id",
        k=16, window=8, min_shared=3, max_fp_group=100,
    )


def _q_validate_json_documents(spark, sf_dir):
    """Raw-JSON entry point #1 — decodeAndValidateJson
    (/root/reference/src/Data/Schematic.hs:78-85). A JSON string column
    is constructed deterministically from documents (doc_id mod 6 picks
    the variant) so the oracle can rebuild the identical bytes and
    re-derive every verdict with DuckDB's JSON functions:

      0 well-formed (Valid unless n_chars < 0)   3 SNull wrong value
      1 missing required text field              4 malformed JSON
      2 missing required-SNull key               5 constraint violation
    """
    from schematic_spark.schema import NGe, SNull, SNumber, SObject, SText
    from schematic_spark.sources import validate_json_strings

    docs = _read(spark, sf_dir, "documents").select("doc_id", "n_chars")
    b = F.pmod(F.col("doc_id"), F.lit(6))
    did = F.col("doc_id").cast("string")
    nch = F.col("n_chars").cast("string")
    neg = (-F.col("n_chars") - F.lit(1)).cast("string")
    raw = (
        F.when(b == 0, F.concat(
            F.lit('{"id":"'), did, F.lit('","score":'), nch,
            F.lit(',"marker":null}')))
        .when(b == 1, F.concat(
            F.lit('{"score":'), nch, F.lit(',"marker":null}')))
        .when(b == 2, F.concat(
            F.lit('{"id":"'), did, F.lit('","score":'), nch, F.lit('}')))
        .when(b == 3, F.concat(
            F.lit('{"id":"'), did, F.lit('","score":'), nch,
            F.lit(',"marker":5}')))
        .when(b == 4, F.lit('{"id":'))
        .otherwise(F.concat(
            F.lit('{"id":"'), did, F.lit('","score":'), neg,
            F.lit(',"marker":null}')))
    )
    spec = SObject((
        ("id", SText()),
        ("score", SNumber((NGe(0),))),
        ("marker", SNull()),
    ))
    res = validate_json_strings(
        docs.select("doc_id", raw.alias("raw")), "raw", spec
    )
    return res.annotated.select(
        "doc_id",
        F.col("_verdict").alias("verdict"),
        F.coalesce(F.col("_decoding_error"), F.lit(""))
         .alias("decoding_error"),
    )


def _q_versioned_json_documents(spark, sf_dir):
    """Raw-JSON entry point #2 — decodeAndValidateVersionedWithMList
    (/root/reference/src/Data/Schematic.hs:87-103) with a type-changing
    Update: base types val as text, the top revision retypes it number
    (NGe 0). Raw variants (doc_id mod 4): a number val (top unless
    negative), a string val (top TYPE-fails, dispatches to initial and
    upgrades via length), a missing val (rejected everywhere), and
    malformed JSON. Exercises the per-revision type-failure semantics
    (a doc failing the newest revision's types must still dispatch to
    an older revision — round-2 ADVICE high) and the two-parse-group
    plan (val: double at top, string at initial)."""
    from schematic_spark.migrations import (
        Diff, Migration, Update, VersionedSpec,
        validate_versioned_json_strings,
    )
    from schematic_spark.schema import NGe, SNumber, SObject, SText

    base = SObject((("id", SText()), ("val", SText())))
    spec = VersionedSpec(
        base=base,
        migrations=[Migration(
            "val_to_num", (Diff(("val",), Update(SNumber((NGe(0),)))),)
        )],
        upgrades={"val_to_num": lambda d: d.withColumn(
            "val", F.length("val").cast("double"))},
    )
    docs = _read(spark, sf_dir, "documents").select(
        "doc_id", "n_chars", "lang")
    b = F.pmod(F.col("doc_id"), F.lit(4))
    nch = F.col("n_chars").cast("string")
    raw = (
        F.when(b == 0, F.concat(
            F.lit('{"id":"a","val":'), nch, F.lit('}')))
        .when(b == 1, F.concat(
            F.lit('{"id":"a","val":"'), F.col("lang"), F.lit('"}')))
        .when(b == 2, F.lit('{"id":"a"}'))
        .otherwise(F.lit('{"id":'))
    )
    upgraded, rejected = validate_versioned_json_strings(
        docs.select("doc_id", raw.alias("raw")), "raw", spec
    )
    u = upgraded.agg(
        F.count(F.lit(1)).alias("n_upgraded"),
        F.round(F.sum("val"), 6).alias("sum_val"),
    )
    r = rejected.agg(F.count(F.lit(1)).alias("n_rejected"))
    return u.crossJoin(r)


def _q_sessionized_events(spark, sf_dir):
    """Gap-based sessionization (suite/sessions.py): 24 h inactivity gap
    per user, exact value sums in integer cents, timestamps as
    unix-micros. ONE shuffle (window + groupBy share the user_id
    exchange)."""
    from schematic_spark.suite import session_stats

    ev = _read(spark, sf_dir, "events").withColumn(
        "value_c", F.round(F.col("value") * 100).cast("long")
    )
    sess = session_stats(
        ev, gap_seconds=86400, tiebreak_col="event_id", value_col="value_c"
    )
    from schematic_spark.functions.timeops import epoch_micros

    return sess.select(
        "user_id",
        "session_idx",
        "n_events",
        epoch_micros(
            F.col("ts_start"), sess.schema["ts_start"].dataType
        ).alias("start_us"),
        "duration_us",
        F.col("total_value").alias("total_value_c"),
    ).orderBy("user_id", "session_idx")


def _q_purchase_asof_prior_view(spark, sf_dir):
    """As-of join (functions/asof.py): each purchase annotated with the
    user's most recent strictly-prior view. Union-interleave plan — one
    shuffle, no range-join pair blowup (plan-asserted in tests)."""
    from schematic_spark.functions import asof_join

    ev = _read(spark, sf_dir, "events")
    purchases = ev.where(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts"
    )
    views = ev.where(F.col("event_type") == "view").select(
        "event_id", "user_id", "ts"
    )
    out = asof_join(
        purchases, views, on="user_id",
        right_cols=("event_id", "ts"), strict=True, tiebreak_col="event_id",
    )
    from schematic_spark.functions.timeops import epoch_micros

    ts_type = out.schema["ts"].dataType
    return out.select(
        "event_id",
        "user_id",
        F.col("event_id_asof").alias("view_event_id"),
        (
            epoch_micros(F.col("ts"), ts_type)
            - epoch_micros(F.col("ts_asof"), ts_type)
        ).alias("gap_us"),
    )


def _q_train_split_documents(spark, sf_dir):
    """Deterministic md5 train/val/test split (functions/split.py),
    stratification report per (split, lang). Pure projection + one
    hash-agg — no shuffle before the aggregation's own exchange."""
    from schematic_spark.functions import assign_split

    docs = _read(spark, sf_dir, "documents")
    return (
        assign_split(docs, salt="r3")
        .groupBy("split", "lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").cast("long").alias("total_chars"),
        )
    )


def _q_lsh_topk_embeddings(spark, sf_dir):
    """Hyperplane-LSH approximate top-k (functions/similarity.py):
    scan only buckets within Hamming radius 1 of the query's bucket.
    The oracle recomputes the same seeded planes as DOUBLE[] literals
    and filters by bit_count(xor(sig, qsig)) <= 1 — certifying both the
    signature arithmetic and the candidate pruning."""
    from schematic_spark.functions import lsh_topk

    emb = _read(spark, sf_dir, "embeddings")
    row = emb.orderBy("vec_id").select("embedding").first()
    if row is None:
        raise ValueError("embeddings table is empty — no query vector")
    q = [float(x) for x in row[0]]
    out = lsh_topk(
        emb, q, k=10, n_planes=12, seed=42, probe_radius=1
    )
    return out.select("vec_id", F.round("cosine", 5).alias("cosine"))


def _q_ivf_topk_embeddings(spark, sf_dir):
    """IVF-style top-k (functions/similarity.py): assign every vector to
    its nearest centroid (seeded literals shared with the oracle), probe
    the 3 lists closest to the query, brute-force cosine within."""
    import numpy as np

    from schematic_spark.functions import ivf_topk

    emb = _read(spark, sf_dir, "embeddings")
    row = emb.orderBy("vec_id").select("embedding").first()
    if row is None:
        raise ValueError("embeddings table is empty — no query vector")
    q = [float(x) for x in row[0]]
    cent = np.random.RandomState(7).randn(8, 64)
    out = ivf_topk(emb, q, cent, k=10, n_probe=3)
    return out.select("vec_id", F.round("cosine", 5).alias("cosine"))


def _q_tfidf_top_terms(spark, sf_dir):
    """Corpus vocabulary characterization (functions/text.py): top-5
    terms per language by TF-IDF; ranking uses the rounded statistic so
    cross-engine float noise cannot reorder near-ties."""
    from schematic_spark.functions import tfidf_top_terms

    docs = _read(spark, sf_dir, "documents")
    return tfidf_top_terms(docs, k=5, min_term_len=3)


def _q_repetition_documents(spark, sf_dir):
    """Within-document repetition signals (functions/text.py):
    distinct-word ratio, top-word share (longest sorted run fold),
    duplicate-bigram ratio — all row-local Catalyst; the struct fields
    share only O(n) split/array subtrees (constant-factor inline,
    no shuffle)."""
    from schematic_spark.functions import repetition_features

    docs = _read(spark, sf_dir, "documents")
    f = repetition_features("text")
    return docs.select(
        "doc_id",
        f["n_words"].alias("n_words"),
        F.round(f["distinct_ratio"], 5).alias("distinct_ratio"),
        F.round(f["top_word_share"], 5).alias("top_word_share"),
        F.round(f["dup_bigram_ratio"], 5).alias("dup_bigram_ratio"),
    )


def _q_weighted_mix_documents(spark, sf_dir):
    """Deterministic source-mix sampling (functions/sampling.py):
    per-lang keep fractions (en 100%, de 50%, fr 25%, others 10%);
    report surviving counts per lang. Zero shuffles before the
    report agg."""
    from schematic_spark.functions import weighted_sample

    docs = _read(spark, sf_dir, "documents")
    kept = weighted_sample(
        docs,
        group_col="lang",
        fractions={"en": 1.0, "de": 0.5, "fr": 0.25},
        default_fraction=0.1,
        salt="mixr3",
    )
    return kept.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_kept"),
        F.sum("n_chars").cast("long").alias("total_chars"),
    )


def _q_contamination_src0(spark, sf_dir):
    """Benchmark decontamination (functions/dedup.py): treat source
    'src0' as the eval set; corpus docs sharing any exact word 8-gram
    with it are contamination hits. One gram equi-join; per corpus doc:
    how many benchmark docs it leaks and total shared grams.

    The hot-gram cap (max_gram_group=100) is wired here on purpose: one
    boilerplate 8-gram shared by millions of docs makes the equi-join
    quadratic in that group at 100× scale, so grams occurring >100
    times across both sides are dropped explicitly — in-plan via a
    window count riding the single gram exchange (the shared_passages
    pattern; r4 VERDICT #5 one-exchange shape). The oracle applies the
    identical cap over the identical universe (non-NULL sources).
    The cap is a filter inside the plan, so building the query runs no
    Spark job."""
    from schematic_spark.functions import ngram_contamination

    docs = _read(spark, sf_dir, "documents")
    pairs = ngram_contamination(
        docs.where(F.col("source") != "src0"),
        docs.where(F.col("source") == "src0"),
        n=8,
        max_gram_group=100,
    )
    return pairs.groupBy("corpus_id").agg(
        F.count(F.lit(1)).alias("n_bench_docs"),
        F.sum("n_shared").cast("long").alias("n_shared_grams"),
    )


def _q_packed_batches_documents(spark, sf_dir):
    """Cross-document batch packing (functions/sampling.py): md5-shard
    then budget-bin by n_chars within each shard; per-(shard, batch)
    report. Deterministic across engines/layouts. Runs the TWO-PHASE
    form (per-block local cumsums + broadcast per-shard offsets) so the
    oracle certifies it bit-identical to the straight cumulative sum —
    the per-shard single-reducer scan is the piece that wouldn't hold
    at 100 TB (r3 VERDICT #8)."""
    from schematic_spark.functions import pack_documents

    docs = _read(spark, sf_dir, "documents")
    packed = pack_documents(
        docs, token_col="n_chars", budget=2048, shards=8,
        two_phase=True,
    )
    return packed.groupBy("shard", "batch_idx").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").cast("long").alias("total_chars"),
    )


def _q_rolling_7d_events(spark, sf_dir):
    """RANGE-frame window coverage: per event, how many events the same
    user produced in the preceding 7 days (inclusive) — the rolling
    feature a frequency-capping pipeline computes. Range frames bound
    by event-time micros are tie-safe (equal timestamps always share a
    frame, no ordering ambiguity). One shuffle on user_id."""
    from pyspark.sql import Window

    from schematic_spark.functions.timeops import epoch_micros

    ev = _read(spark, sf_dir, "events")
    us = epoch_micros(F.col("ts"), ev.schema["ts"].dataType)
    w = (
        Window.partitionBy("user_id")
        .orderBy(us.alias("us"))
        .rangeBetween(-7 * 86400 * 1_000_000, 0)
    )
    return ev.select(
        "event_id", "user_id",
        F.count(F.lit(1)).over(w).alias("n_7d"),
    )


def _q_value_deciles_by_type(spark, sf_dir):
    """Equi-depth decile binning of event values per type (feature
    bucketing) — the SCALABLE form. `ntile(10) OVER (PARTITION BY
    event_type ...)` funnels the whole corpus through one reducer per
    event type (a per-type TOTAL sort with no partial form — unlike
    row_number top-k, which WindowGroupLimit prunes map-side), so at
    100× scale it is a straggler by construction. Instead: exact
    interpolated percentile cut-points per type (Spark's `percentile`
    aggregates a value→count frequency map with map-side combine —
    shuffle volume is DISTINCT values per type, not rows; for unbounded
    continuous cardinality swap in approx_percentile), joined back
    (5-row side → broadcast by AQE), bucket assigned by comparison.
    Ties at a cut-point land in the LOWER bucket on both engines; the
    cut-point doubles are bit-identical cross-engine because both use
    rank = q*(n-1) linear interpolation on the sorted values."""
    from pyspark.sql import Window

    ev = _read(spark, sf_dir, "events").where(F.col("value").isNotNull())
    # DISCRETE cut-points (type-1 quantile): the smallest data value v
    # with cumulative count >= ceil(q*n/10), selected with pure integer
    # rank arithmetic — interpolated percentiles (Spark `percentile` vs
    # DuckDB quantile_cont) agree only to ~1 ulp because the two
    # engines use different FP forms of the same formula, and 2-decimal
    # data sits exactly on those boundaries (bit us at sf0.1). A
    # selected data value read from the same parquet is bit-identical
    # by construction. The rank window runs over DISTINCT (type, value)
    # rows — cent-resolution data keeps that tiny; for unbounded
    # continuous cardinality swap in approx_percentile.
    vc = ev.groupBy("event_type", "value").agg(
        F.count(F.lit(1)).alias("_cnt")
    )
    w_cum = (
        Window.partitionBy("event_type").orderBy("value")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    t = vc.select(
        "event_type", "value",
        F.sum("_cnt").over(w_cum).alias("_cum"),
        F.sum("_cnt").over(
            Window.partitionBy("event_type")
        ).alias("_n"),
    )
    # cum >= ceil(q*n/10) expressed divisionless as 10*cum >= q*n —
    # pure int64 comparison, exact on both engines (float q/10
    # multiplication misrounds exact multiples: 0.7*20000 ->
    # 14000.000000000002 -> ceil 14001)
    cuts = t.groupBy("event_type").agg(*[
        F.min(
            F.when(
                F.col("_cum") * 10 >= F.lit(q) * F.col("_n"),
                F.col("value"),
            )
        ).alias(f"_c{q}")
        for q in range(1, 10)
    ])
    d = ev.join(cuts, "event_type").select(
        "event_type",
        "value",
        F.aggregate(
            F.array(*[F.col(f"_c{q}") for q in range(1, 10)]),
            F.lit(1),
            lambda acc, c: acc
            + F.when(F.col("value") > c, F.lit(1)).otherwise(F.lit(0)),
        ).alias("decile"),
    )
    return d.groupBy("event_type", "decile").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.min("value"), 2).alias("lo"),
        F.round(F.max("value"), 2).alias("hi"),
    )


def _q_user_event_type_pivot(spark, sf_dir):
    """Pivot coverage: per-user event-type count matrix (wide feature
    row per user) — groupBy().pivot() with an explicit value list so
    the schema is static (no extra distinct scan)."""
    ev = _read(spark, sf_dir, "events")
    types = ["click", "view", "purchase", "signup", "error"]
    p = ev.groupBy("user_id").pivot("event_type", types).count()
    return p.select(
        "user_id",
        *[F.coalesce(F.col(t), F.lit(0)).alias(f"n_{t}") for t in types],
    )


def _q_tpch_q1_pricing(spark, sf_dir):
    """TPC-H Q1-style pricing summary — the canonical OLAP hash-agg.
    All money math in DECIMAL so sums are exact (bit-identical across
    engines and partition orders; double sums are order-dependent);
    averages derived as exact-sum / count at the end. One scan, one
    partial+final hash-agg."""
    li = _read(spark, sf_dir, "lineitem").where(
        F.col("l_shipdate") <= F.lit("1998-09-02")
    )
    qty = F.col("l_quantity").cast("decimal(18,4)")
    price = F.col("l_extendedprice").cast("decimal(18,4)")
    disc = F.col("l_discount").cast("decimal(8,4)")
    tax = F.col("l_tax").cast("decimal(8,4)")
    one = F.lit(1).cast("decimal(8,4)")
    disc_price = price * (one - disc)
    charge = disc_price * (one + tax)
    g = li.groupBy("l_returnflag", "l_linestatus").agg(
        F.sum(qty).alias("_sq"),
        F.sum(price).alias("_sp"),
        F.sum(disc_price).alias("_sd"),
        F.sum(charge).alias("_sc"),
        F.sum(disc).alias("_sdisc"),
        F.count(F.lit(1)).alias("count_order"),
    )
    # billions-magnitude money sums leave exact DECIMAL only as
    # fixed-scale strings: round(double, 6) at 1e9 magnitude is below
    # the double's ulp, so the last rounded digit is engine-dependent
    # (bit us at sf0.1). Same pattern as orders_rollup.
    n = F.col("count_order").cast("double")
    return g.select(
        "l_returnflag", "l_linestatus",
        F.round(F.col("_sq").cast("double"), 2).alias("sum_qty"),
        F.col("_sp").cast("decimal(38,2)").cast("string")
        .alias("sum_base_price"),
        F.col("_sd").cast("decimal(38,4)").cast("string")
        .alias("sum_disc_price"),
        F.col("_sc").cast("decimal(38,6)").cast("string")
        .alias("sum_charge"),
        F.round(F.col("_sq").cast("double") / n, 6).alias("avg_qty"),
        F.round(F.col("_sp").cast("double") / n, 6).alias("avg_price"),
        F.round(F.col("_sdisc").cast("double") / n, 6).alias("avg_disc"),
        "count_order",
    )


def _q_tpch_q3_revenue(spark, sf_dir):
    """TPC-H Q3-style shipping-priority: 3-way join (broadcast the
    filtered customer dim), exact-decimal revenue, deterministic top-10."""
    cust = _read(spark, sf_dir, "customer").where(
        F.col("c_mktsegment") == "BUILDING"
    ).select("c_custkey")
    orders = _read(spark, sf_dir, "orders").where(
        F.col("o_orderdate") < F.lit("1998-01-01")
    ).select("o_orderkey", "o_custkey", "o_orderdate")
    li = _read(spark, sf_dir, "lineitem").where(
        F.col("l_shipdate") > F.lit("1998-01-01")
    )
    rev = (
        F.col("l_extendedprice").cast("decimal(18,4)")
        * (F.lit(1).cast("decimal(8,4)")
           - F.col("l_discount").cast("decimal(8,4)"))
    )
    # no broadcast hint: the filtered customer dim scales with the
    # corpus — AQE broadcasts only when it actually fits (and does so
    # at test scale; see the no-forced-broadcast rule in CLAUDE.md)
    j = li.join(
        orders, li["l_orderkey"] == orders["o_orderkey"]
    ).join(cust, orders["o_custkey"] == cust["c_custkey"])
    g = j.groupBy("l_orderkey", "o_orderdate").agg(
        F.sum(rev).alias("_rev")
    )
    return (
        g.orderBy(F.col("_rev").desc(), F.col("l_orderkey"))
        .limit(10)
        .select(
            "l_orderkey",
            F.round(F.col("_rev").cast("double"), 4).alias("revenue"),
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("o_orderdate"),
        )
    )


def _q_tpch_q18_large_orders(spark, sf_dir):
    """TPC-H Q18-style large-volume customers: semi-join against a
    HAVING-filtered aggregate (orders whose total quantity tops 250),
    then a 3-way join up to the customer, deterministic top-100.
    Scale shape: the big-order key set is the output of a partial+final
    hash-agg (tiny vs lineitem) — AQE broadcasts it into the lineitem
    re-join; money stays DECIMAL-exact until the final projection."""
    li = _read(spark, sf_dir, "lineitem")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum(F.col("l_quantity").cast("decimal(18,4)")).alias("_sq"))
        .where(F.col("_sq") > 250)
    )
    orders = _read(spark, sf_dir, "orders")
    cust = _read(spark, sf_dir, "customer").select("c_custkey", "c_name")
    j = (
        big.join(orders, big["l_orderkey"] == orders["o_orderkey"])
        .join(cust, orders["o_custkey"] == cust["c_custkey"])
    )
    return (
        j.orderBy(
            F.col("o_totalprice").desc(), F.col("o_orderdate"),
            F.col("o_orderkey"),
        )
        .limit(100)
        .select(
            "c_name", "o_orderkey",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("o_orderdate"),
            F.round(F.col("o_totalprice"), 2).alias("o_totalprice"),
            F.round(F.col("_sq").cast("double"), 2).alias("total_qty"),
        )
    )


def _q_tpch_q6_forecast(spark, sf_dir):
    """TPC-H Q6-style revenue forecast — the canonical predicate-
    pushdown showcase: every filter (date range, discount band,
    quantity cap) reaches the parquet scan as a PushedFilter, the agg
    is one partial+final sum over DECIMAL-exact money, output is one
    row. At 100 TB this is the query shape that lives or dies on scan
    pruning, which is why the plan is regression-tested."""
    li = _read(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= F.lit("1997-01-01"))
        & (F.col("l_shipdate") < F.lit("1998-01-01"))
        & (F.col("l_discount") >= 0.05)
        & (F.col("l_discount") <= 0.07)
        & (F.col("l_quantity") < 24)
    )
    rev = (
        F.col("l_extendedprice").cast("decimal(18,4)")
        * F.col("l_discount").cast("decimal(8,4)")
    )
    return li.agg(
        F.count(F.lit(1)).alias("n_lines"),
        F.sum(rev).cast("decimal(38,4)").cast("string").alias("revenue"),
    )


def _q_tpch_q4_late_orders(spark, sf_dir):
    """TPC-H Q4-style order-priority check, adapted to this schema
    (no l_commitdate/l_receiptdate): orders placed in 1997-Q1 counted
    per priority when ANY lineitem shipped >30 days after the order
    date. The EXISTS becomes a LEFT SEMI join whose residual inequality
    (l_shipdate > o_orderdate + 30d) rides the l_orderkey equi-key —
    one keyed shuffle, no row explosion, the semi short-circuits per
    matching order. All timestamps are naive (TIMESTAMP_NTZ) on both
    engines, so the +30d arithmetic is calendar-exact."""
    orders = _read(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= F.lit("1997-01-01"))
        & (F.col("o_orderdate") < F.lit("1997-04-01"))
    )
    li = _read(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    late = orders.join(
        li,
        (orders["o_orderkey"] == li["l_orderkey"])
        & (li["l_shipdate"]
           > orders["o_orderdate"] + F.expr("INTERVAL '30' DAY")),
        "left_semi",
    )
    return (
        late.groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("order_count"))
        .orderBy("o_orderpriority")
    )


def _q_tpch_q5_local_volume(spark, sf_dir):
    """TPC-H Q5-style local-supplier volume: the 6-way join shape
    (lineitem ⋈ orders ⋈ customer ⋈ supplier ⋈ nation ⋈ region) with
    the same-nation residual c_nationkey = s_nationkey. Scale shape:
    the one big-big join (lineitem ⋈ orders) shuffles on the order key;
    every dim after it is AQE-broadcastable (region/nation are tiny by
    schema, filtered supplier/customer by statistics — no forced
    broadcast per the repo rule since they scale with SF). Money stays
    DECIMAL-exact through the agg; the final sort key is the exact
    decimal, not the rounded double."""
    region = _read(spark, sf_dir, "region").where(
        F.col("r_name") == "ASIA"
    ).select("r_regionkey")
    nation = _read(spark, sf_dir, "nation").join(
        region, F.col("n_regionkey") == region["r_regionkey"]
    ).select("n_nationkey", "n_name")
    supplier = _read(spark, sf_dir, "supplier").select(
        "s_suppkey", "s_nationkey"
    )
    customer = _read(spark, sf_dir, "customer").select(
        "c_custkey", "c_nationkey"
    )
    orders = _read(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= F.lit("1997-01-01"))
        & (F.col("o_orderdate") < F.lit("1998-01-01"))
    ).select("o_orderkey", "o_custkey")
    li = _read(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_extendedprice", "l_discount"
    )
    rev = (
        F.col("l_extendedprice").cast("decimal(18,4)")
        * (F.lit(1).cast("decimal(8,4)")
           - F.col("l_discount").cast("decimal(8,4)"))
    )
    j = (
        li.join(orders, li["l_orderkey"] == orders["o_orderkey"])
        .join(customer, orders["o_custkey"] == customer["c_custkey"])
        .join(
            supplier,
            (li["l_suppkey"] == supplier["s_suppkey"])
            & (customer["c_nationkey"] == supplier["s_nationkey"]),
        )
        .join(nation, supplier["s_nationkey"] == nation["n_nationkey"])
    )
    g = j.groupBy("n_name").agg(F.sum(rev).alias("_rev"))
    return g.orderBy(F.col("_rev").desc(), F.col("n_name")).select(
        "n_name",
        F.round(F.col("_rev"), 2).cast("double").alias("revenue"),
    )


def _q_tpch_q12_priority_class(spark, sf_dir):
    """TPC-H Q12-style shipping-priority breakdown, adapted (no
    l_shipmode column): lineitems shipped in 1997 grouped by
    l_linestatus, counting critical (1-URGENT/2-HIGH) vs other order
    priorities. The canonical conditional-aggregate join: one keyed
    shuffle for the join, CASE sums fold map-side."""
    li = _read(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= F.lit("1997-01-01"))
        & (F.col("l_shipdate") < F.lit("1998-01-01"))
    ).select("l_orderkey", "l_linestatus")
    orders = _read(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderpriority"
    )
    # coalesce: a NULL priority must count as LOW (the oracle's CASE
    # ELSE branch) — bare ~crit is NULL there and sum() would skip it
    crit = F.coalesce(
        F.col("o_orderpriority").isin("1-URGENT", "2-HIGH"), F.lit(False)
    )
    j = li.join(orders, li["l_orderkey"] == orders["o_orderkey"])
    return (
        j.groupBy("l_linestatus")
        .agg(
            F.sum(crit.cast("long")).alias("high_line_count"),
            F.sum((~crit).cast("long")).alias("low_line_count"),
        )
        .orderBy("l_linestatus")
    )


def _q_tpch_q14_promo_share(spark, sf_dir):
    """TPC-H Q14-style promotion-revenue share: lineitem ⋈ part over
    one ship-month, 100 * promo revenue / total revenue. Both sums are
    exact DECIMAL over the same pass (single agg, no second scan); the
    ratio alone drops to double at the end. The part dim scales with SF
    so no forced broadcast — AQE decides."""
    li = _read(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= F.lit("1997-09-01"))
        & (F.col("l_shipdate") < F.lit("1997-10-01"))
    ).select("l_partkey", "l_extendedprice", "l_discount")
    part = _read(spark, sf_dir, "part").select("p_partkey", "p_type")
    rev = (
        F.col("l_extendedprice").cast("decimal(18,4)")
        * (F.lit(1).cast("decimal(8,4)")
           - F.col("l_discount").cast("decimal(8,4)"))
    )
    j = li.join(part, li["l_partkey"] == part["p_partkey"])
    g = j.agg(
        F.sum(
            F.when(F.col("p_type") == "PROMO", rev)
            .otherwise(F.lit(0).cast("decimal(18,4)"))
        ).alias("_promo"),
        F.sum(rev).alias("_total"),
        F.count(F.lit(1)).alias("n_lines"),
    )
    return g.select(
        F.round(
            F.lit(100.0) * F.col("_promo").cast("double")
            / F.col("_total").cast("double"),
            6,
        ).alias("promo_revenue_pct"),
        F.col("_total").cast("decimal(38,4)").cast("string")
        .alias("total_revenue"),
        "n_lines",
    )


def _q_tpch_q13_order_counts(spark, sf_dir):
    """TPC-H Q13-style customer order-count distribution: the
    LEFT OUTER join with a join-side filter (non-urgent orders only)
    that must NOT drop order-less customers, then a double aggregation
    (count per customer → distribution of counts). Scale shape: one
    custkey shuffle for the join+first agg; the second agg's domain is
    tiny (distinct order counts) so it collapses map-side. The filter
    sits INSIDE the join (on the orders side) — pushing it below the
    outer join is the Catalyst behavior the query exercises."""
    cust = _read(spark, sf_dir, "customer").select("c_custkey")
    orders = _read(spark, sf_dir, "orders").where(
        F.col("o_orderpriority") != "1-URGENT"
    ).select("o_custkey", "o_orderkey")
    j = cust.join(
        orders, cust["c_custkey"] == orders["o_custkey"], "left_outer"
    )
    per = j.groupBy("c_custkey").agg(
        F.count("o_orderkey").alias("c_count")
    )
    return (
        per.groupBy("c_count")
        .agg(F.count(F.lit(1)).alias("custdist"))
        .orderBy(
            F.col("custdist").desc_nulls_last(),
            F.col("c_count").desc_nulls_last(),
        )
    )


def _q_tpch_q15_top_supplier(spark, sf_dir):
    """TPC-H Q15-style top supplier: revenue per supplier over one
    quarter, keep the supplier(s) whose revenue EQUALS the global max —
    the having-equals-scalar-aggregate shape (Q15's revenue view +
    max() subquery). The max is a global window over the ALREADY
    AGGREGATED per-supplier table, not a separate ``per.agg(max)``
    branch — a second branch re-executes the whole lineitem scan + agg
    lineage (2 fact scans in the physical plan; plan-asserted against
    regression). The window's move-to-one-partition step sees only
    |suppliers| (key, decimal) rows — bounded by the dim, never the
    fact. Revenue stays DECIMAL-exact so cross-engine max/equality
    cannot drift (ties included); rounds to double only in the final
    projection."""
    from pyspark.sql import Window

    li = _read(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= F.lit("1997-01-01"))
        & (F.col("l_shipdate") < F.lit("1997-04-01"))
    ).select("l_suppkey", "l_extendedprice", "l_discount")
    rev = (
        F.col("l_extendedprice").cast("decimal(18,4)")
        * (F.lit(1).cast("decimal(8,4)")
           - F.col("l_discount").cast("decimal(8,4)"))
    )
    per = li.groupBy("l_suppkey").agg(F.sum(rev).alias("_rev"))
    per = per.withColumn(
        "_mx", F.max("_rev").over(Window.partitionBy())
    )
    sup = _read(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    top = per.where(F.col("_rev") == F.col("_mx")).join(
        sup, per["l_suppkey"] == sup["s_suppkey"]
    )
    return top.select(
        "s_suppkey",
        "s_name",
        F.round(F.col("_rev"), 2).cast("double").alias("total_revenue"),
    ).orderBy("s_suppkey")


def _q_tpch_q17_small_qty_orders(spark, sf_dir):
    """TPC-H Q17-style small-quantity revenue: lineitems of one brand
    whose quantity is below 20% of that part's average quantity.
    Q17's correlated scalar subquery (avg per part) decorrelates to a
    per-part aggregate; here it is a window over the SAME l_partkey
    key the rows already carry — one exchange, no self-join, no second
    scan of lineitem. The threshold uses divisionless integer math
    (5·qty·cnt < Σqty, quantities are integral by domain) so the
    cut-point is bit-exact on both engines — the repo's
    no-float-rank-products rule (CLAUDE.md, value_deciles)."""
    from pyspark.sql import Window

    part_b = _read(spark, sf_dir, "part").where(
        F.col("p_brand") == "Brand#4"
    ).select("p_partkey")
    li = _read(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_quantity", "l_extendedprice"
    )
    lib = li.join(part_b, li["l_partkey"] == part_b["p_partkey"]).select(
        "l_partkey",
        F.col("l_quantity").cast("long").alias("_qty"),
        "l_extendedprice",
    )
    w = Window.partitionBy("l_partkey")
    lib = lib.withColumn("_sq", F.sum("_qty").over(w)).withColumn(
        "_cnt", F.count(F.lit(1)).over(w)
    )
    small = lib.where(
        F.lit(5) * F.col("_qty") * F.col("_cnt") < F.col("_sq")
    )
    g = small.agg(
        F.count(F.lit(1)).alias("n_small_lines"),
        F.sum(
            F.col("l_extendedprice").cast("decimal(18,4)")
        ).alias("_s"),
    )
    return g.select(
        "n_small_lines",
        F.round(F.col("_s").cast("double") / F.lit(7.0), 2)
        .alias("avg_yearly"),
    )


def _q_tpch_q22_dormant_customers(spark, sf_dir):
    """TPC-H Q22-style dormant rich customers: customers in a nation
    subset with above-average positive balance and no orders placed
    since 2000-01-01 (every generated customer has SOME order, so the
    literal no-orders-ever predicate would select zero rows at every
    SF — the recency cutoff keeps the NOT EXISTS anti-join shape with
    a non-degenerate answer). Scalar-aggregate threshold + NOT EXISTS
    anti-join: the positive-balance average is a 1-row broadcast; the
    comparison multiplies through by the count (bal·n > Σbal in
    DECIMAL) so no division ever happens — exact on both engines even
    at the boundary. The anti-join shuffles (custkey, nationkey, bal)
    only; AQE may flip it to broadcast when the rich side is small, and
    the date filter on orders is pushed to the scan."""
    keys = [1, 3, 5, 7, 9, 11, 13]
    bal = F.col("c_acctbal").cast("decimal(18,2)")
    cust = _read(spark, sf_dir, "customer").where(
        F.col("c_nationkey").isin(keys)
    ).select("c_custkey", "c_nationkey", "c_acctbal")
    pos = cust.where(F.col("c_acctbal") > 0.0).agg(
        F.sum(bal).alias("_s"), F.count(F.lit(1)).alias("_n")
    )
    orders = _read(spark, sf_dir, "orders").where(
        F.col("o_orderdate") >= F.lit("2000-01-01")
    ).select("o_custkey")
    rich = cust.crossJoin(F.broadcast(pos)).where(
        bal * F.col("_n") > F.col("_s")
    )
    dormant = rich.join(
        orders, rich["c_custkey"] == orders["o_custkey"], "left_anti"
    )
    return (
        dormant.groupBy("c_nationkey")
        .agg(
            F.count(F.lit(1)).alias("numcust"),
            F.round(F.sum(bal).cast("double"), 2).alias("totacctbal"),
        )
        .orderBy("c_nationkey")
    )


def _q_conversion_funnel_events(spark, sf_dir):
    """Ordered-sequence conversion funnel (suite/sessions.funnel_stages):
    per user, how far through view → click → purchase the user got,
    each step strictly later than the one before. One shuffle, fold is
    row-local Catalyst — no window, no python. Canonically ordered
    output (driver-hash-proof from day one)."""
    from schematic_spark.suite import funnel_stages

    ev = _read(spark, sf_dir, "events")
    return funnel_stages(
        ev, ["view", "click", "purchase"]
    ).orderBy("user_id")


def _q_props_key_stats_events(spark, sf_dir):
    """JSON-scalar extraction over the REAL raw-JSON column
    (events.props = '{"k": <int>}'): per event type, count / distinct /
    min / max / exact-integer mean of k. get_json_object stays in one
    Catalyst projection (single parse per row); mean is derived from
    the exact integer sum so no float-sum order dependence."""
    ev = _read(spark, sf_dir, "events")
    # try_cast mirrors the oracle's TRY_CAST: a non-integer k becomes
    # NULL instead of an ANSI CAST_INVALID_INPUT crash
    k = F.get_json_object("props", "$.k").try_cast("long")
    g = ev.select(F.col("event_type"), k.alias("k")).groupBy("event_type")
    return g.agg(
        F.count("k").alias("n"),
        F.countDistinct("k").alias("n_distinct"),
        F.min("k").alias("k_min"),
        F.max("k").alias("k_max"),
        F.round(
            F.sum("k").cast("double") / F.count("k"), 6
        ).alias("k_mean"),
    ).orderBy("event_type")


def _q_checkpointed_validation_documents(spark, sf_dir):
    """The north rule's resumability component end-to-end, as an
    oracle-checked query: a checkpointed validation run (8 key-range
    buckets, lineage + metrics tables, per-wave commits) followed by a
    RESUMED run that must skip every committed bucket. The output
    re-aggregates the committed per-bucket metrics; the oracle
    recomputes the totals INDEPENDENTLY by direct validation SQL over
    documents — so lost/duplicated rows across buckets, waves, crashes
    or resumes would show as a totals mismatch (the bucket hash itself
    is xxhash64, engine-local by design; the invariant checked is that
    bucketing + resume is lossless and exactly-once)."""
    import tempfile

    from schematic_spark.sources import ParquetDirFormat
    from schematic_spark.sources.checkpoint import (
        partition_passfail, run_validation_checkpointed,
    )

    import shutil

    docs = _read(spark, sf_dir, "documents")
    fmt = ParquetDirFormat(tempfile.mkdtemp(prefix="ck_oracle_"))
    spec = _documents_spec()
    try:
        first = run_validation_checkpointed(
            spark, docs, spec, fmt,
            key_col="doc_id", n_buckets=8, run_id="oracle-run",
            input_snapshot="sf-docs", commit_every=4,
        )
        second = run_validation_checkpointed(
            spark, docs, spec, fmt,
            key_col="doc_id", n_buckets=8, run_id="oracle-run",
            input_snapshot="sf-docs", commit_every=4,
        )
        pf = partition_passfail(spark, fmt)
        summary = pf.agg(
            F.count(F.lit(1)).alias("n_buckets_complete"),
            F.sum("n_rows").cast("long").alias("n_rows"),
            F.sum("n_bad_rows").cast("long").alias("n_bad_rows"),
            F.sum("n_violations").cast("long").alias("n_violations"),
        ).select(
            "*",
            F.lit(len(first["processed_buckets"])).cast("int")
            .alias("n_processed_first"),
            F.lit(len(second["skipped_buckets"])).cast("int")
            .alias("n_skipped_on_resume"),
        )
        # materialize the 1-row summary so the checkpoint tree can be
        # deleted now — returning a lazy plan over the temp files would
        # leak one violations dump per invocation
        rows = summary.collect()
    finally:
        # always reap the temp tree — a failed run/collect must not
        # accumulate violations dumps across repeated invocations
        shutil.rmtree(fmt.root, ignore_errors=True)
    return spark.createDataFrame(rows, summary.schema)


def _q_curation_funnel_documents(spark, sf_dir):
    """The data-curation story end-to-end: every document is dropped by
    the FIRST failing filter (lang allowlist → quality score →
    repetition → entropy) or kept; per-lang funnel counts. One
    projection evaluates each signal once, one hash-agg. Comparisons
    use the same roundings the individual oracles pin, so the funnel
    is bit-deterministic across engines."""
    from schematic_spark.functions import (
        char_entropy, quality_score, repetition_features,
    )

    from schematic_spark.sources import spread_for_compute

    # four per-row text signals in one projection — compute-dense map
    # work; spread the single-file scan (no-op at scale)
    docs = spread_for_compute(_read(spark, sf_dir, "documents"))
    rep = repetition_features("text")
    reason = (
        F.when(~F.col("lang").isin(*_DOC_LANGS), F.lit("lang"))
        .when(F.round(quality_score("text"), 6) < 0.81, F.lit("quality"))
        .when(F.round(rep["top_word_share"], 5) > 0.13,
              F.lit("repetition"))
        .when(F.round(char_entropy("text"), 5) < 2.75, F.lit("entropy"))
        .otherwise(F.lit("kept"))
    )
    j = docs.select("lang", reason.alias("reason"))
    flag = lambda v: F.sum(  # noqa: E731
        (F.col("reason") == v).cast("long")
    ).alias(f"n_drop_{v}" if v != "kept" else "n_kept")
    return j.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_total"),
        flag("lang"), flag("quality"), flag("repetition"),
        flag("entropy"), flag("kept"),
    )


def _q_value_outliers_by_type(spark, sf_dir):
    """IQR outlier report per event type: exact quartiles → Tukey
    fences (q1 - 1.5·IQR, q3 + 1.5·IQR) → broadcast the tiny bounds
    frame back over the events for counts and extremes. Two scans, one
    broadcast — the bounds never shuffle the fact table."""
    ev = _read(spark, sf_dir, "events").where(F.col("value").isNotNull())
    # fences rounded to 6 BEFORE comparing: cross-engine percentile
    # interpolation can differ in the last ulp, and the driver contract
    # is round-identically-then-compare
    bounds = ev.groupBy("event_type").agg(
        F.percentile("value", F.lit(0.25)).alias("q1"),
        F.percentile("value", F.lit(0.75)).alias("q3"),
    ).select(
        "event_type",
        F.round(
            F.col("q1") - 1.5 * (F.col("q3") - F.col("q1")), 6
        ).alias("lo"),
        F.round(
            F.col("q3") + 1.5 * (F.col("q3") - F.col("q1")), 6
        ).alias("hi"),
    )
    flagged = ev.join(F.broadcast(bounds), "event_type").where(
        (F.col("value") < F.col("lo")) | (F.col("value") > F.col("hi"))
    )
    return flagged.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_outliers"),
        F.round(F.min("value"), 6).alias("min_outlier"),
        F.round(F.max("value"), 6).alias("max_outlier"),
    )


def _q_error_events_in_sessions(spark, sf_dir):
    """Bucketized interval join (functions/interval.py): assign each
    'error' event to the session interval (built from the NON-error
    events) containing it — equi-join on (user, time-bucket) + residual
    BETWEEN, never a nested-loop range join. Uncontained errors keep a
    null session."""
    from schematic_spark.functions import bucketed_interval_join
    from schematic_spark.suite import session_stats

    ev = _read(spark, sf_dir, "events")
    sess = session_stats(
        ev.where(F.col("event_type") != "error"),
        gap_seconds=86400, tiebreak_col="event_id",
    )
    errors = ev.where(F.col("event_type") == "error").select(
        "event_id", "user_id", "ts"
    )
    out = bucketed_interval_join(
        errors, sess, on="user_id", bucket_seconds=86400,
        payload_cols=("session_idx",),
    )
    return out.select("event_id", "user_id", "session_idx")


def _q_entropy_documents(spark, sf_dir):
    """Character-distribution Shannon entropy (functions/text.py):
    exact per-row fold over the sorted char array — pure Catalyst,
    no shuffle; the oracle recomputes it from per-char group counts."""
    from schematic_spark.functions import char_entropy

    from schematic_spark.sources import spread_for_compute

    # per-row char-sort fold — compute-dense, shuffle-free: spread the
    # single-file scan so it doesn't run on one task (no-op at scale)
    docs = spread_for_compute(_read(spark, sf_dir, "documents"))
    return docs.select(
        "doc_id",
        F.length("text").alias("n_chars_text"),
        F.round(char_entropy("text"), 5).alias("entropy"),
    )


def _q_chunked_interleaved_docs(spark, sf_dir):
    """Greedy span-preserving context packing over the generated
    interleaved table (functions/chunking.py): exact sequential fold
    per document as a row-local Catalyst aggregate — zero shuffle
    before the per-chunk stats agg. The oracle replays the identical
    greedy walk with a recursive CTE."""
    from schematic_spark.functions import chunk_stats

    docs = spark.read.parquet(_interleaved_parquet(spark))
    return chunk_stats(docs, max_chars=48, media_cost=16)


def _q_capped_docs_per_source(spark, sf_dir):
    """Deterministic per-source cap (functions/sampling.py): keep 10
    docs per source by stable md5 order; report the surviving mix."""
    from schematic_spark.functions import cap_per_group

    docs = _read(spark, sf_dir, "documents")
    kept = cap_per_group(
        docs, group_col="source", id_col="doc_id", n=10, salt="mix"
    )
    return kept.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_kept"),
        F.sum("n_chars").cast("long").alias("total_chars"),
    )


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {
        "tpch_q1_pricing": _q_tpch_q1_pricing,
        "tpch_q3_revenue": _q_tpch_q3_revenue,
        "tpch_q18_large_orders": _q_tpch_q18_large_orders,
        "tpch_q6_forecast": _q_tpch_q6_forecast,
        "conversion_funnel_events": _q_conversion_funnel_events,
        "checkpointed_validation_documents":
            _q_checkpointed_validation_documents,
        "sessionized_events": _q_sessionized_events,
        "entropy_documents": _q_entropy_documents,
        "error_events_in_sessions": _q_error_events_in_sessions,
        "value_outliers_by_type": _q_value_outliers_by_type,
        "curation_funnel_documents": _q_curation_funnel_documents,
        "dedup_survivors_embeddings": _q_dedup_survivors_embeddings,
        "props_key_stats_events": _q_props_key_stats_events,
        "rolling_7d_events": _q_rolling_7d_events,
        "packed_batches_documents": _q_packed_batches_documents,
        "contamination_src0": _q_contamination_src0,
        "value_deciles_by_type": _q_value_deciles_by_type,
        "user_event_type_pivot": _q_user_event_type_pivot,
        "weighted_mix_documents": _q_weighted_mix_documents,
        "tpch_q4_late_orders": _q_tpch_q4_late_orders,
        "tpch_q5_local_volume": _q_tpch_q5_local_volume,
        "tpch_q12_priority_class": _q_tpch_q12_priority_class,
        "tpch_q14_promo_share": _q_tpch_q14_promo_share,
        "dangling_lineitem_bloom": _q_dangling_lineitem_bloom,
        "tpch_q13_order_counts": _q_tpch_q13_order_counts,
        "tpch_q15_top_supplier": _q_tpch_q15_top_supplier,
        "tpch_q17_small_qty_orders": _q_tpch_q17_small_qty_orders,
        "tpch_q22_dormant_customers": _q_tpch_q22_dormant_customers,
        "winnow_fingerprints_documents": _q_winnow_fingerprints_documents,
        "shared_passages_documents": _q_shared_passages_documents,
        "minhash_near_dups_documents": _q_minhash_near_dups_documents,
        "near_dup_components_embeddings": _q_near_dup_components_embeddings,
        "simhash_documents": _q_simhash_documents,
        "embedding_near_pairs_by_label": _q_embedding_near_pairs_by_label,
        "exact_dup_groups_documents": _q_exact_dup_groups_documents,
        "media_features": _q_media_features,
        "media_resize_frames": _q_media_resize_frames,
        "tagged_union_spans": _q_tagged_union_spans,
        "versioned_json_documents": _q_versioned_json_documents,
        "validate_json_documents": _q_validate_json_documents,
        "versioned_dispatch_documents": _q_versioned_dispatch_documents,
        "validate_interleaved": _q_validate_interleaved,
        "interleaved_suite": _q_interleaved_suite,
        "span_offset_totals": _q_span_offset_totals,
        "purchase_asof_prior_view": _q_purchase_asof_prior_view,
        "orders_rollup": _q_orders_rollup,
        "cosine_topk_embeddings": _q_cosine_topk_embeddings,
        "lsh_topk_embeddings": _q_lsh_topk_embeddings,
        "ivf_topk_embeddings": _q_ivf_topk_embeddings,
        "tfidf_top_terms_lang": _q_tfidf_top_terms,
        "chunked_interleaved_docs": _q_chunked_interleaved_docs,
        "capped_docs_per_source": _q_capped_docs_per_source,
        "repetition_documents": _q_repetition_documents,
        "train_split_documents": _q_train_split_documents,
        "top_docs_per_lang": _q_top_docs_per_lang,
        "heavy_clickers_not_viewers": _q_heavy_clickers_not_viewers,
        "events_value_percentiles": _q_events_value_percentiles,
        "chi2_drift_event_types": _q_chi2_drift_event_types,
        "psi_drift_event_types": _q_psi_drift_event_types,
        "validate_documents": _q_validate_documents,
        "verdict_summary_documents": _q_verdict_summary_documents,
        "validate_events": _q_validate_events,
        "column_stats_documents": _q_column_stats_documents,
        "duplicate_user_ids": _q_duplicate_user_ids,
        "duplicate_user_ids_salted": _q_duplicate_user_ids_salted,
        "referential_events_customer": _q_referential_events_customer,
        "dangling_lineitem_orders": _q_dangling_lineitem_orders,
        "orders_priority_stats": _q_orders_priority_stats,
        "length_histogram_documents": _q_length_histogram_documents,
        "embedding_dims": _q_embedding_dims,
        "embedding_size_violations": _q_embedding_size_violations,
        "token_counts_documents": _q_token_counts_documents,
        "quality_documents": _q_quality_documents,
        "lang_pred_documents": _q_lang_pred_documents,
        "events_value_histogram": _q_events_value_histogram,
        "ks_drift_events": _q_ks_drift_events,
        "quality_score_documents": _q_quality_score_documents,
    }


# ---------------------------------------------------------------------------
# oracles
# ---------------------------------------------------------------------------

_TOKEN_PATTERN = r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"

_LANG_MARKERS = {
    "en": ("the", "and", "of", "is", "that", "with", "this", "have"),
    "de": ("der", "die", "das", "und", "ist", "nicht", "ein", "mit"),
    "fr": ("le", "la", "les", "des", "est", "une", "dans", "pour"),
    "es": ("el", "los", "las", "una", "por", "con", "para", "este"),
    "it": ("il", "che", "di", "della", "per", "con", "sono", "una"),
}


def _lang_score_sql(lang: str) -> str:
    pat = r"(?i)\b(" + "|".join(_LANG_MARKERS[lang]) + r")\b"
    return (
        f"len(regexp_extract_all(text, '{pat}')) / "
        "greatest(len(regexp_split_to_array(trim(text), '\\s+')), 1)"
    )


def _dlist(vals) -> str:
    """DOUBLE[] literal with round-trip precision."""
    return "[" + ",".join(repr(float(x)) for x in vals) + "]"


def _lsh_oracle_sql() -> str:
    """Recompute the seed-42 hyperplane signatures as SQL literals and
    prune candidates via bit_count(xor(sig, qsig)) <= 1 — the exact
    arithmetic of functions/similarity.py::hyperplane_signature."""
    import numpy as np

    planes = np.random.RandomState(42).randn(12, 64)
    sig = " + ".join(
        f"(CASE WHEN list_dot_product(v, {_dlist(planes[b])}) >= 0 "
        f"THEN {1 << b} ELSE 0 END)"
        for b in range(12)
    )
    cos = (
        "list_dot_product(s.v, q.qv)"
        "/greatest(sqrt(list_dot_product(s.v, s.v))"
        "*sqrt(list_dot_product(q.qv, q.qv)), 1e-12)"
    )
    return f"""
        WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
                   FROM embeddings),
        q AS (SELECT v AS qv, ({sig}) AS qsig
              FROM e ORDER BY vec_id LIMIT 1),
        s AS (SELECT vec_id, v, ({sig}) AS sig FROM e)
        SELECT vec_id, round({cos}, 5) AS cosine
        FROM s, q
        WHERE bit_count(xor(CAST(s.sig AS BIGINT), CAST(q.qsig AS BIGINT))) <= 1
        ORDER BY {cos} DESC, vec_id
        LIMIT 10
    """


def _ivf_oracle_sql() -> str:
    """Seed-7 centroid literals; nearest-centroid assignment + 3-probe
    shortlist + brute-force cosine — functions/similarity.py::ivf_topk."""
    import numpy as np

    cent = np.random.RandomState(7).randn(8, 64)
    values = ", ".join(
        f"({i}, {_dlist(cent[i])}::DOUBLE[])" for i in range(8)
    )
    cos = (
        "list_dot_product(a.v, q.qv)"
        "/greatest(sqrt(list_dot_product(a.v, a.v))"
        "*sqrt(list_dot_product(q.qv, q.qv)), 1e-12)"
    )
    return f"""
        WITH cent AS (SELECT * FROM (VALUES {values}) t(cid, cv)),
        e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
              FROM embeddings),
        q AS (SELECT v AS qv FROM e ORDER BY vec_id LIMIT 1),
        probe AS (SELECT cid FROM cent, q
                  ORDER BY list_distance(cv, qv), cid LIMIT 3),
        assign AS (
          SELECT e.vec_id, e.v,
                 (SELECT cid FROM cent
                  ORDER BY list_distance(cent.cv, e.v), cid LIMIT 1) AS cid
          FROM e)
        SELECT vec_id, round({cos}, 5) AS cosine
        FROM assign a, q
        WHERE a.cid IN (SELECT cid FROM probe)
        ORDER BY {cos} DESC, vec_id
        LIMIT 10
    """


def oracle_sql() -> dict[str, str]:
    lang_scores = ",\n        ".join(
        f"{_lang_score_sql(l)} AS s_{l}" for l in _LANG_MARKERS
    )
    lang_pred_cases = "\n            ".join(
        f"WHEN s_{l} >= 0.01 AND s_{l} = best THEN '{l}'"
        for l in _LANG_MARKERS
    )
    out = {
        "validate_documents": f"""
            SELECT doc_id, '.text' AS json_path,
                   'length should be >= 1' AS error
            FROM documents WHERE NOT (length(text) >= 1)
            UNION ALL
            SELECT doc_id, '.lang', '{_LANG_ENUM_MSG}'
            FROM documents WHERE lang NOT IN ('en','de','fr','es')
            UNION ALL
            SELECT doc_id, '.n_chars', 'should be >= 0'
            FROM documents WHERE NOT (n_chars >= 0)
            UNION ALL
            SELECT doc_id, '.n_chars', 'should be <= 500'
            FROM documents WHERE NOT (n_chars <= 500)
        """,
        "verdict_summary_documents": f"""
            WITH v AS (
              SELECT
                (CASE WHEN text IS NULL OR lang IS NULL
                      OR n_chars IS NULL THEN 1 ELSE 0 END) AS ns,
                (CASE WHEN text IS NOT NULL
                      AND NOT (length(text) >= 1) THEN 1 ELSE 0 END)
              + (CASE WHEN lang IS NOT NULL AND lang NOT IN
                      ('en','de','fr','es') THEN 1 ELSE 0 END)
              + (CASE WHEN n_chars IS NOT NULL
                      AND NOT (n_chars >= 0) THEN 1 ELSE 0 END)
              + (CASE WHEN n_chars IS NOT NULL
                      AND NOT (n_chars <= 500) THEN 1 ELSE 0 END) AS nv
              FROM documents)
            SELECT CASE WHEN ns > 0 THEN 'DecodingError'
                        WHEN nv > 0 THEN 'ValidationError'
                        ELSE 'Valid' END AS verdict,
                   CAST(count(*) AS BIGINT) AS n_rows,
                   CAST(sum(nv) AS BIGINT) AS n_violations
            FROM v GROUP BY 1
        """,
        "validate_events": f"""
            SELECT event_id, '.event_type' AS json_path,
                   '{_EVENT_ENUM_MSG}' AS error
            FROM events
            WHERE event_type NOT IN ('click','view','purchase','signup')
            UNION ALL
            SELECT event_id, '.value', 'should be >= 0'
            FROM events WHERE NOT (value >= 0)
        """,
        "column_stats_documents": """
            WITH cols(c) AS (VALUES ('doc_id'), ('text'), ('lang'),
                                    ('source'), ('n_chars'))
            SELECT c AS column,
                   (SELECT CAST(count(*) AS BIGINT) FROM documents) AS n_rows,
                   CASE c
                     WHEN 'doc_id' THEN (SELECT CAST(count(*) FILTER (WHERE doc_id IS NULL) AS BIGINT) FROM documents)
                     WHEN 'text' THEN (SELECT CAST(count(*) FILTER (WHERE text IS NULL) AS BIGINT) FROM documents)
                     WHEN 'lang' THEN (SELECT CAST(count(*) FILTER (WHERE lang IS NULL) AS BIGINT) FROM documents)
                     WHEN 'source' THEN (SELECT CAST(count(*) FILTER (WHERE source IS NULL) AS BIGINT) FROM documents)
                     WHEN 'n_chars' THEN (SELECT CAST(count(*) FILTER (WHERE n_chars IS NULL) AS BIGINT) FROM documents)
                   END AS n_null,
                   CASE c
                     WHEN 'doc_id' THEN (SELECT CAST(count(DISTINCT doc_id) AS BIGINT) FROM documents)
                     WHEN 'text' THEN (SELECT CAST(count(DISTINCT text) AS BIGINT) FROM documents)
                     WHEN 'lang' THEN (SELECT CAST(count(DISTINCT lang) AS BIGINT) FROM documents)
                     WHEN 'source' THEN (SELECT CAST(count(DISTINCT source) AS BIGINT) FROM documents)
                     WHEN 'n_chars' THEN (SELECT CAST(count(DISTINCT n_chars) AS BIGINT) FROM documents)
                   END AS n_distinct,
                   CASE c
                     WHEN 'doc_id' THEN (SELECT CAST(min(doc_id) AS VARCHAR) FROM documents)
                     WHEN 'text' THEN (SELECT min(text) FROM documents)
                     WHEN 'lang' THEN (SELECT min(lang) FROM documents)
                     WHEN 'source' THEN (SELECT min(source) FROM documents)
                     WHEN 'n_chars' THEN (SELECT CAST(min(n_chars) AS VARCHAR) FROM documents)
                   END AS min_str,
                   CASE c
                     WHEN 'doc_id' THEN (SELECT CAST(max(doc_id) AS VARCHAR) FROM documents)
                     WHEN 'text' THEN (SELECT max(text) FROM documents)
                     WHEN 'lang' THEN (SELECT max(lang) FROM documents)
                     WHEN 'source' THEN (SELECT max(source) FROM documents)
                     WHEN 'n_chars' THEN (SELECT CAST(max(n_chars) AS VARCHAR) FROM documents)
                   END AS max_str
            FROM cols
        """,
        "duplicate_user_ids": """
            SELECT user_id, CAST(count(*) AS BIGINT) AS n_dup
            FROM events GROUP BY user_id HAVING count(*) > 1
        """,
        "duplicate_user_ids_salted": """
            SELECT user_id, CAST(count(*) AS BIGINT) AS n_dup
            FROM events GROUP BY user_id HAVING count(*) > 1
        """,
        "referential_events_customer": """
            SELECT
              (SELECT CAST(count(*) AS BIGINT) FROM events) AS n_rows,
              (SELECT CAST(count(*) FILTER (WHERE user_id IS NULL) AS BIGINT)
               FROM events) AS n_null_fk,
              (SELECT CAST(count(*) AS BIGINT) FROM events e
               LEFT JOIN (SELECT DISTINCT c_custkey FROM customer) c
               ON e.user_id = c.c_custkey
               WHERE e.user_id IS NOT NULL AND c.c_custkey IS NULL)
               AS n_dangling,
              ((SELECT count(*) FROM events e
                LEFT JOIN (SELECT DISTINCT c_custkey FROM customer) c
                ON e.user_id = c.c_custkey
                WHERE e.user_id IS NOT NULL AND c.c_custkey IS NULL) = 0)
               AS ref_ok
        """,
        "dangling_lineitem_orders": """
            SELECT l_orderkey, CAST(count(*) AS BIGINT) AS n_rows
            FROM lineitem l
            LEFT JOIN (SELECT DISTINCT o_orderkey FROM orders
                       WHERE o_orderkey % 2 = 0) o
            ON l.l_orderkey = o.o_orderkey
            WHERE l.l_orderkey IS NOT NULL AND o.o_orderkey IS NULL
            GROUP BY l_orderkey
        """,
        # identical SQL to dangling_lineitem_orders ON PURPOSE: the
        # sort-merge anti-join must return the broadcast path's rows
        # bit-for-bit; only the join strategy differs
        "dangling_lineitem_bloom": """
            SELECT l_orderkey, CAST(count(*) AS BIGINT) AS n_rows
            FROM lineitem l
            LEFT JOIN (SELECT DISTINCT o_orderkey FROM orders
                       WHERE o_orderkey % 2 = 0) o
            ON l.l_orderkey = o.o_orderkey
            WHERE l.l_orderkey IS NOT NULL AND o.o_orderkey IS NULL
            GROUP BY l_orderkey
        """,
        "orders_priority_stats": """
            SELECT o_orderpriority,
                   CAST(count(*) AS BIGINT) AS n,
                   min(o_totalprice) AS min_price,
                   max(o_totalprice) AS max_price,
                   CAST(round(sum(CAST(o_totalprice AS DECIMAL(18,2))), 2)
                        AS VARCHAR) AS sum_price
            FROM orders GROUP BY o_orderpriority
        """,
        "length_histogram_documents": """
            WITH b AS (
              SELECT CASE WHEN text IS NULL THEN -1
                          WHEN length(text) <= 0 THEN 0
                          ELSE CAST(floor(log2(length(text))) AS INT) + 1
                     END AS bucket
              FROM documents)
            SELECT bucket,
                   CASE WHEN bucket <= 0 THEN NULL
                        ELSE CAST(pow(2, bucket - 1) AS BIGINT) END AS lo,
                   CASE WHEN bucket <= 0 THEN NULL
                        ELSE CAST(pow(2, bucket) - 1 AS BIGINT) END AS hi,
                   CAST(count(*) AS BIGINT) AS n
            FROM b GROUP BY bucket ORDER BY bucket
        """,
        "embedding_dims": """
            SELECT CAST(len(embedding) AS INT) AS dim,
                   CAST(count(*) AS BIGINT) AS n
            FROM embeddings GROUP BY 1
        """,
        "embedding_size_violations": """
            SELECT vec_id, '.embedding' AS json_path,
                   'length should be == 64' AS error
            FROM embeddings WHERE len(embedding) <> 64
        """,
        "token_counts_documents": f"""
            SELECT doc_id,
                   CASE WHEN length(trim(text)) = 0 THEN 0
                        ELSE CAST(len(regexp_split_to_array(trim(text),
                                  '\\s+')) AS INT) END AS n_ws_tokens,
                   CAST(len(regexp_extract_all(text,
                        '{_TOKEN_PATTERN}')) AS INT) AS n_bpe_tokens
            FROM documents
        """,
        "quality_documents": r"""
            WITH q AS (
              SELECT doc_id,
                     greatest(CAST(length(text) AS DOUBLE), 1.0) AS safe,
                     len(regexp_extract_all(text, '[A-Za-z]')) AS n_alpha,
                     len(regexp_extract_all(text, '[^\w\s]')) AS n_punct,
                     len(regexp_extract_all(text, '[0-9]')) AS n_digit,
                     CASE WHEN length(trim(text)) = 0 THEN 0
                          ELSE len(regexp_split_to_array(trim(text), '\s+'))
                     END AS n_tokens
              FROM documents)
            SELECT doc_id,
                   round(n_alpha / safe, 6) AS alpha_ratio,
                   round(n_punct / safe, 6) AS punct_ratio,
                   round(n_digit / safe, 6) AS digit_ratio,
                   CAST(n_tokens AS BIGINT) AS n_tokens
            FROM q
        """,
        "lang_pred_documents": f"""
            WITH s AS (
              SELECT lang, {lang_scores}
              FROM documents),
            p AS (
              SELECT lang,
                     greatest(s_en, s_de, s_fr, s_es, s_it) AS best,
                     s_en, s_de, s_fr, s_es, s_it
              FROM s)
            SELECT lang,
                   CASE {lang_pred_cases}
                        ELSE 'und' END AS lang_pred,
                   CAST(count(*) AS BIGINT) AS n
            FROM p GROUP BY 1, 2
        """,
        "cosine_topk_embeddings": """
            WITH q AS (SELECT CAST(embedding AS DOUBLE[]) AS qv
                       FROM embeddings ORDER BY vec_id LIMIT 1)
            SELECT vec_id,
                   round(list_cosine_similarity(
                         CAST(embedding AS DOUBLE[]),
                         (SELECT qv FROM q)), 5) AS cosine
            FROM embeddings
            ORDER BY list_cosine_similarity(CAST(embedding AS DOUBLE[]),
                     (SELECT qv FROM q)) DESC, vec_id
            LIMIT 10
        """,
        "events_value_histogram": """
            SELECT least(greatest(CAST(floor(value / 25.0) AS INT), 0), 19)
                   AS bucket,
                   CAST(count(*) AS BIGINT) AS n
            FROM events WHERE value IS NOT NULL
            GROUP BY 1
        """,
        "exact_dup_groups_documents": r"""
            WITH n AS (
              SELECT trim(regexp_replace(regexp_replace(lower(text),
                     '[^\w\s]', '', 'g'), '\s+', ' ', 'g')) AS norm
              FROM documents)
            SELECT CAST(count(*) AS BIGINT) AS n_docs,
                   substring(norm, 1, 40) AS norm_prefix
            FROM n GROUP BY norm HAVING count(*) > 1
        """,
        # KS: same bucketing (floor(value/25) clamped to [0,19]), ECDFs
        # via window cumsums, D = max abs difference
        "ks_drift_events": """
            WITH b AS (
              SELECT least(greatest(CAST(floor(value / 25.0) AS INT), 0),
                           19) AS bucket,
                     sum(CASE WHEN event_id % 2 = 0 THEN 1 ELSE 0 END)
                       AS n1,
                     sum(CASE WHEN event_id % 2 = 1 THEN 1 ELSE 0 END)
                       AS n2
              FROM events WHERE value IS NOT NULL GROUP BY 1),
            c AS (
              SELECT sum(n1) OVER (ORDER BY bucket) AS c1,
                     sum(n2) OVER (ORDER BY bucket) AS c2
              FROM b),
            t AS (SELECT CAST(sum(n1) AS DOUBLE) AS t1,
                         CAST(sum(n2) AS DOUBLE) AS t2,
                         CAST(sum(n1) AS BIGINT) AS n_current,
                         CAST(sum(n2) AS BIGINT) AS n_baseline
                  FROM b)
            SELECT round(max(abs(c1 / t1 - c2 / t2)), 9) AS ks_stat,
                   any_value(n_current) AS n_current,
                   any_value(n_baseline) AS n_baseline
            FROM c, t
        """,
        # chi2 with Haldane 0.5 pseudo-count for categories absent from
        # the baseline half (chi_square_from_counts, suite/drift.py)
        "psi_drift_event_types": """
            WITH t AS (
              SELECT coalesce(event_type, '__null__') AS cat,
                     sum(CASE WHEN event_id % 2 = 0 THEN 1 ELSE 0 END)
                       AS c,
                     sum(CASE WHEN event_id % 2 = 1 THEN 1 ELSE 0 END)
                       AS b
              FROM events GROUP BY 1),
            tot AS (SELECT CAST(sum(c) AS DOUBLE) AS n1,
                           CAST(sum(b) AS DOUBLE) AS n2,
                           CAST(count(*) AS DOUBLE) AS k FROM t)
            SELECT round(sum(
                     ((c + 0.5) / (n1 + 0.5 * k)
                      - (b + 0.5) / (n2 + 0.5 * k))
                     * ln(((c + 0.5) / (n1 + 0.5 * k))
                          / ((b + 0.5) / (n2 + 0.5 * k)))), 6)
                     AS psi_stat,
                   CAST(count(*) AS INT) AS n_categories
            FROM t, tot
        """,
        "chi2_drift_event_types": """
            WITH t AS (
              SELECT coalesce(event_type, '__null__') AS cat,
                     sum(CASE WHEN event_id % 2 = 0 THEN 1 ELSE 0 END)
                       AS o,
                     sum(CASE WHEN event_id % 2 = 1 THEN 1 ELSE 0 END)
                       AS b
              FROM events GROUP BY 1),
            tot AS (SELECT CAST(sum(o) AS DOUBLE) AS no,
                           CAST(sum(b) AS DOUBLE) AS nb FROM t)
            SELECT round(sum(pow(o - greatest(b, 0.5) / nb * no, 2)
                             / (greatest(b, 0.5) / nb * no)), 6)
                     AS chi2_stat,
                   CAST(greatest(count(*) - 1, 1) AS INT) AS dof,
                   CAST(count(*) AS INT) AS n_categories
            FROM t, tot
        """,
        "quality_score_documents": r"""
            WITH q AS (
              SELECT doc_id,
                     greatest(CAST(length(text) AS DOUBLE), 1.0) AS safe,
                     len(regexp_extract_all(text, '[A-Za-z]')) AS n_alpha,
                     len(regexp_extract_all(text, '[^\w\s]')) AS n_punct,
                     len(regexp_extract_all(text, '[0-9]')) AS n_digit,
                     len(regexp_extract_all(text,
                       '(?i)\b(the|of|and|to|in|a|is|that|it|for|was|on|are|with|as|be|this|at|by)\b'))
                       AS n_stop,
                     CASE WHEN length(trim(text)) = 0 THEN 0
                          ELSE len(regexp_split_to_array(trim(text),
                                   '\s+')) END AS n_tokens
              FROM documents)
            SELECT doc_id, round(
                least(n_tokens / 20.0, 1.0) * 0.2
              + (n_alpha / safe) * 0.3
              + (1.0 - least(n_punct / safe * 4, 1.0)) * 0.2
              + (1.0 - least(n_digit / safe * 4, 1.0)) * 0.15
              + least(n_stop / greatest(CAST(n_tokens AS DOUBLE), 1.0)
                      * 3, 1.0) * 0.15, 6) AS q_score
            FROM q
        """,
        "versioned_dispatch_documents": """
            WITH c AS (
              SELECT text, lang,
                     (text IS NOT NULL AND length(text) >= 1) AS ok_text,
                     (lang IS NOT NULL AND lang IN
                      ('en','de','fr','es')) AS ok_lang
              FROM documents),
            u AS (
              SELECT CASE WHEN ok_lang THEN lang ELSE 'en' END AS lang
              FROM c WHERE ok_text),
            r AS (SELECT CAST(count(*) AS BIGINT) AS n_rejected
                  FROM c WHERE NOT ok_text)
            SELECT lang, CAST(count(*) AS BIGINT) AS n,
                   (SELECT n_rejected FROM r) AS n_rejected
            FROM u GROUP BY lang
        """,
        "events_value_percentiles": """
            SELECT event_type,
                   CAST(count(*) AS BIGINT) AS n,
                   round(quantile_cont(value, 0.25), 6) AS p25,
                   round(quantile_cont(value, 0.5), 6) AS p50,
                   round(quantile_cont(value, 0.75), 6) AS p75,
                   round(quantile_cont(value, 0.99), 6) AS p99
            FROM events WHERE value IS NOT NULL
            GROUP BY event_type
        """,
        "heavy_clickers_not_viewers": """
            SELECT user_id FROM events WHERE event_type = 'click'
            GROUP BY user_id HAVING count(*) >= 15
            EXCEPT
            SELECT user_id FROM events WHERE event_type = 'view'
            GROUP BY user_id HAVING count(*) >= 15
        """,
        "span_offset_totals": f"""
            SELECT doc_id,
                   CAST(sum(coalesce(list_sum(
                     list_transform(spans, s -> CAST(s.offset AS BIGINT))
                   ), 0)) AS BIGINT) AS offset_sum,
                   CAST(sum(len(spans)) AS BIGINT) AS n_spans
            FROM read_parquet(
              '{_ORACLE_TMP}/interleaved_{_INTERLEAVED_N}/*.parquet')
            GROUP BY doc_id
        """,
        "top_docs_per_lang": """
            SELECT lang, doc_id, n_chars, CAST(rn AS INT) AS rn FROM (
              SELECT lang, doc_id, n_chars,
                     row_number() OVER (PARTITION BY lang
                       ORDER BY n_chars DESC, doc_id) AS rn
              FROM documents)
            WHERE rn <= 2
        """,
        # same formula op-for-op (list_dot_product + greatest-guard), not
        # list_cosine_similarity, to avoid last-ulp threshold flips
        "embedding_near_pairs_by_label": """
            WITH e AS (
              SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v
              FROM embeddings)
            SELECT a.vec_id AS id_a, b.vec_id AS id_b,
                   round(list_dot_product(a.v, b.v)
                         / greatest(sqrt(list_dot_product(a.v, a.v))
                                    * sqrt(list_dot_product(b.v, b.v)),
                                    1e-12), 5) AS cosine
            FROM e a JOIN e b
              ON a.label = b.label AND a.vec_id < b.vec_id
            WHERE list_dot_product(a.v, b.v)
                  / greatest(sqrt(list_dot_product(a.v, a.v))
                             * sqrt(list_dot_product(b.v, b.v)),
                             1e-12) >= 0.4
        """,
        # recursive-CTE connected components over the same deterministic
        # pair set the embedding_near_pairs oracle pins
        "near_dup_components_embeddings": """
            WITH RECURSIVE e AS (
              SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v
              FROM embeddings),
            pairs AS (
              SELECT a.vec_id AS id_a, b.vec_id AS id_b
              FROM e a JOIN e b
                ON a.label = b.label AND a.vec_id < b.vec_id
              WHERE list_dot_product(a.v, b.v)
                    / greatest(sqrt(list_dot_product(a.v, a.v))
                               * sqrt(list_dot_product(b.v, b.v)),
                               1e-12) >= 0.4),
            und AS (
              SELECT id_a AS src, id_b AS dst FROM pairs
              UNION SELECT id_b, id_a FROM pairs),
            reach AS (
              SELECT src AS node, src AS lbl
              FROM (SELECT DISTINCT src FROM und)
              UNION
              SELECT r.node, u.dst FROM reach r
              JOIN und u ON u.src = r.lbl)
            SELECT min_lbl AS component,
                   CAST(count(*) AS BIGINT) AS n_members
            FROM (SELECT node, min(lbl) AS min_lbl
                  FROM reach GROUP BY node)
            GROUP BY min_lbl
        """,
        # exact all-pairs n-gram Jaccard — certifies the LSH pipeline's
        # recall as well as the verify stage's arithmetic
        "minhash_near_dups_documents": r"""
            WITH n AS (
              SELECT doc_id, trim(regexp_replace(regexp_replace(
                     lower(text), '[^\w\s]', '', 'g'),
                     '\s+', ' ', 'g')) AS norm
              FROM documents),
            tk AS (SELECT doc_id, regexp_split_to_array(norm, ' ') AS toks
                   FROM n),
            sh AS (SELECT doc_id, list_distinct(
                     CASE WHEN len(toks) < 3
                          THEN [array_to_string(toks, ' ')]
                          ELSE [array_to_string(toks[i:i+2], ' ')
                                for i in generate_series(1, len(toks)-2)]
                     END) AS sh
                   FROM tk),
            p AS (
              SELECT CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
                     / greatest(len(list_distinct(
                         list_concat(a.sh, b.sh))), 1) AS jaccard
              FROM sh a JOIN sh b ON a.doc_id < b.doc_id)
            SELECT round(jaccard, 1) AS jaccard_bucket,
                   CAST(count(*) AS BIGINT) AS n_pairs
            FROM p WHERE jaccard >= 0.6 GROUP BY 1
        """,
        "validate_interleaved": f"""
            WITH d AS (SELECT * FROM read_parquet(
              '{_ORACLE_TMP}/interleaved_{_INTERLEAVED_N}/*.parquet')),
            v AS (
              SELECT (CASE WHEN NOT (length(doc_id) > 0)
                      THEN 1 ELSE 0 END)
                   + (CASE WHEN NOT (len(spans) >= 1) THEN 1 ELSE 0 END)
                   + (CASE WHEN NOT (len(spans) <= 10) THEN 1 ELSE 0 END)
                   + len(list_filter(spans,
                         s -> s.kind NOT IN ('text', 'media')))
                   + len(list_filter(spans, s -> s.text IS NOT NULL
                         AND NOT (length(s.text) >= 1)))
                   + len(list_filter(spans, s -> s.media_ref IS NOT NULL
                         AND NOT regexp_matches(s.media_ref,
                         '[0-9a-f]{{8}}-[0-9a-f]{{4}}-[0-9a-f]{{4}}-[0-9a-f]{{4}}-[0-9a-f]{{12}}')))
                   + len(list_filter(spans, s -> NOT (s.offset >= 0)))
                   AS nv
              FROM d)
            SELECT CASE WHEN nv > 0 THEN 'ValidationError'
                        ELSE 'Valid' END AS verdict,
                   CAST(count(*) AS BIGINT) AS n_rows,
                   CAST(sum(nv) AS BIGINT) AS n_violations
            FROM v GROUP BY 1 ORDER BY 1
        """,
        # the media dimension is re-derived from the generator's Lehmer
        # LCG (media_uuid, generator.py) in pure SQL arithmetic
        "interleaved_suite": f"""
            WITH d AS (SELECT * FROM read_parquet(
              '{_ORACLE_TMP}/interleaved_{_INTERLEAVED_N}/*.parquet')),
            media AS (
              SELECT printf('%08x-%04x-%04x-%04x-%012x',
                (i*48271 + 11*16807) % 2147483647,
                ((i*48271 + 12*16807) % 2147483647) % 65536,
                ((i*48271 + 13*16807) % 2147483647) % 65536,
                ((i*48271 + 14*16807) % 2147483647) % 65536,
                (((i*48271 + 15*16807) % 2147483647) % 65536)
                  * 2147483648 + ((i*48271 + 16*16807) % 2147483647)
              ) AS media_ref
              FROM (SELECT unnest(generate_series(0,
                    {_INTERLEAVED_MEDIA - 1})) AS i))
            SELECT
              (SELECT CAST(count(*) AS BIGINT) FROM (
                 SELECT doc_id FROM d GROUP BY doc_id
                 HAVING count(*) > 1)) AS n_dup_doc_ids,
              (SELECT CAST(count(*) AS BIGINT) FROM (
                 SELECT unnest(spans) AS s FROM d)
               WHERE s.media_ref IS NOT NULL
                 AND s.media_ref NOT IN (SELECT media_ref FROM media))
               AS n_dangling_media,
              (SELECT CAST(count(*) AS BIGINT) FROM d
               WHERE len(spans) >= 2 AND len(list_filter(
                     generate_series(1, len(spans) - 1),
                     i -> spans[i+1].offset <= spans[i].offset)) > 0)
               AS n_out_of_order
        """,
        "media_features": """
            WITH m AS (
              SELECT CASE WHEN text IS NULL THEN NULL
                          ELSE ['image','audio','video']
                               [(length(text) % 3) + 1] END AS kind,
                     CASE WHEN text IS NULL THEN 0
                          ELSE octet_length(encode(text)) END AS n_bytes,
                     CASE WHEN text IS NOT NULL AND length(text) > 0
                          THEN 1 ELSE 0 END AS ok
              FROM documents)
            SELECT kind, CAST(count(*) AS BIGINT) AS n,
                   CAST(sum(ok) AS BIGINT) AS n_ok,
                   round(avg(n_bytes), 4) AS avg_bytes
            FROM m GROUP BY kind
        """,
        # identical md5-prefix signatures recomputed in SQL, then exact
        # all-pairs Hamming — certifies the Charikar block join end-to-end
        "simhash_documents": r"""
            WITH toks AS (
              SELECT doc_id, unnest(list_filter(
                regexp_split_to_array(lower(trim(text)), '\s+'),
                x -> x <> '')) AS tok
              FROM documents WHERE text IS NOT NULL),
            th AS (
              SELECT doc_id, list_sum([
                  (CAST(strpos('0123456789abcdef',
                               substring(md5(tok), i, 1)) - 1 AS BIGINT)
                   << ((15 - i) * 4))
                  for i in generate_series(1, 15)]) AS h
              FROM toks),
            bits AS (
              SELECT doc_id, b,
                     sum(CASE WHEN (h & (CAST(1 AS BIGINT) << b)) <> 0
                         THEN 1 ELSE 0 END) AS ones,
                     count(*) AS n
              FROM th, (SELECT unnest(generate_series(0, 59)) AS b)
              GROUP BY doc_id, b),
            sig AS (
              SELECT doc_id,
                     CAST(sum(CASE WHEN 2 * ones > n
                              THEN (CAST(1 AS BIGINT) << b)
                              ELSE 0 END) AS BIGINT) AS sig
              FROM bits GROUP BY doc_id)
            SELECT CAST(bit_count(xor(a.sig, b.sig)) AS INT) AS hamming,
                   CAST(count(*) AS BIGINT) AS n_pairs
            FROM sig a JOIN sig b ON a.doc_id < b.doc_id
            WHERE bit_count(xor(a.sig, b.sig)) <= 1
            GROUP BY 1
        """,
        # the oracle rebuilds the identical JSON bytes and re-derives
        # every verdict with DuckDB's own JSON functions (json_valid /
        # json_type) — a genuinely independent re-validation
        "validate_json_documents": """
            WITH r AS (
              SELECT doc_id,
                CASE doc_id % 6
                  WHEN 0 THEN '{"id":"' || doc_id || '","score":'
                              || n_chars || ',"marker":null}'
                  WHEN 1 THEN '{"score":' || n_chars || ',"marker":null}'
                  WHEN 2 THEN '{"id":"' || doc_id || '","score":'
                              || n_chars || '}'
                  WHEN 3 THEN '{"id":"' || doc_id || '","score":'
                              || n_chars || ',"marker":5}'
                  WHEN 4 THEN '{"id":'
                  ELSE '{"id":"' || doc_id || '","score":'
                       || (-n_chars - 1) || ',"marker":null}'
                END AS raw
              FROM documents),
            p AS (
              SELECT doc_id, raw,
                (raw IS NULL OR NOT json_valid(raw)
                 OR CASE WHEN json_valid(raw) THEN json_type(raw)
                    END <> 'OBJECT') AS malformed,
                CASE WHEN json_valid(raw)
                     THEN json_type(raw, '$.id') END AS t_id,
                CASE WHEN json_valid(raw)
                     THEN json_type(raw, '$.score') END AS t_score,
                CASE WHEN json_valid(raw)
                     THEN json_type(raw, '$.marker') END AS t_marker,
                CASE WHEN json_valid(raw) THEN TRY_CAST(
                     json_extract_string(raw, '$.score') AS DOUBLE)
                END AS score
              FROM r)
            SELECT doc_id,
              CASE WHEN malformed THEN 'DecodingError'
                   WHEN t_marker IS NULL OR t_marker <> 'NULL'
                        OR t_id IS NULL OR t_id = 'NULL'
                        OR t_score IS NULL OR t_score = 'NULL'
                     THEN 'DecodingError'
                   WHEN score < 0 THEN 'ValidationError'
                   ELSE 'Valid' END AS verdict,
              CASE WHEN malformed THEN 'malformed json'
                   WHEN t_marker IS NULL THEN 'No null field: "marker"'
                   WHEN t_marker <> 'NULL' THEN 'expected Null'
                   WHEN t_id IS NULL OR t_id = 'NULL'
                     THEN 'No text field: "id"'
                   WHEN t_score IS NULL OR t_score = 'NULL'
                     THEN 'No number field: "score"'
                   ELSE '' END AS decoding_error
            FROM p
        """,
        "versioned_json_documents": """
            WITH r AS (
              SELECT doc_id, n_chars, lang, doc_id % 4 AS b,
                CASE doc_id % 4
                  WHEN 0 THEN '{"id":"a","val":' || n_chars || '}'
                  WHEN 1 THEN '{"id":"a","val":"' || lang || '"}'
                  WHEN 2 THEN '{"id":"a"}'
                  ELSE '{"id":' END AS raw
              FROM documents),
            c AS (
              SELECT *,
                (raw IS NULL OR NOT json_valid(raw)
                 OR CASE WHEN json_valid(raw) THEN json_type(raw)
                    END <> 'OBJECT') AS malformed,
                CASE WHEN json_valid(raw)
                     THEN json_type(raw, '$.val') END AS t_val
              FROM r),
            d AS (
              SELECT *,
                CASE
                  WHEN malformed THEN NULL
                  -- newest first: top revision needs a number >= 0
                  WHEN t_val IN ('UBIGINT', 'BIGINT', 'DOUBLE')
                       AND TRY_CAST(json_extract_string(raw, '$.val')
                                    AS DOUBLE) >= 0
                    THEN 'val_to_num'
                  -- initial coerces any present non-null scalar to text
                  WHEN t_val IS NOT NULL AND t_val <> 'NULL'
                    THEN 'initial'
                  ELSE NULL END AS win
              FROM c),
            u AS (
              SELECT CASE
                WHEN win = 'val_to_num'
                  THEN TRY_CAST(json_extract_string(raw, '$.val')
                                AS DOUBLE)
                -- the upgrade: length of the text form
                WHEN b = 0 THEN CAST(length(CAST(n_chars AS VARCHAR))
                                     AS DOUBLE)
                ELSE CAST(length(lang) AS DOUBLE) END AS val
              FROM d WHERE win IS NOT NULL)
            SELECT (SELECT CAST(count(*) AS BIGINT) FROM u) AS n_upgraded,
                   (SELECT round(sum(val), 6) FROM u) AS sum_val,
                   (SELECT CAST(count(*) AS BIGINT) FROM d
                    WHERE win IS NULL) AS n_rejected
        """,
        # per-span verdicts re-derived from the kind tag: unknown tag =
        # no-match, committed-branch null payload = structural, branch
        # constraints only on the committed branch
        "tagged_union_spans": f"""
            WITH d AS (SELECT * FROM read_parquet(
              '{_ORACLE_TMP}/interleaved_{_INTERLEAVED_N}/*.parquet')),
            per AS (
              SELECT
                (CASE WHEN NOT (length(doc_id) > 0) THEN 1 ELSE 0 END)
                + (CASE WHEN NOT (len(spans) >= 1) THEN 1 ELSE 0 END)
                + len(list_filter(spans, s -> s.kind = 'text'
                      AND s.text IS NOT NULL
                      AND NOT (length(s.text) >= 1)))
                + len(list_filter(spans, s -> s.kind = 'media'
                      AND s.media_ref IS NOT NULL
                      AND NOT regexp_matches(s.media_ref,
                      '[0-9a-f]{{8}}-[0-9a-f]{{4}}-[0-9a-f]{{4}}-[0-9a-f]{{4}}-[0-9a-f]{{12}}')))
                AS nv,
                len(list_filter(spans, s -> s.kind IS NULL
                      OR s.kind NOT IN ('text', 'media')))
                + len(list_filter(spans, s -> s.kind = 'text'
                      AND s.text IS NULL))
                + len(list_filter(spans, s -> s.kind = 'media'
                      AND s.media_ref IS NULL))
                AS ns
              FROM d)
            SELECT CASE WHEN ns > 0 THEN 'DecodingError'
                        WHEN nv > 0 THEN 'ValidationError'
                        ELSE 'Valid' END AS verdict,
                   CAST(count(*) AS BIGINT) AS n_rows,
                   CAST(sum(nv) AS BIGINT) AS n_violations,
                   CAST(sum(ns) AS BIGINT) AS n_structural
            FROM per GROUP BY 1 ORDER BY 1
        """,
        # identical md5-15-hex k-gram hashes, windows via list slicing;
        # count+xor are set-equality checks on the fingerprint sets
        "winnow_fingerprints_documents": r"""
            WITH n AS (
              SELECT doc_id,
                     coalesce(trim(regexp_replace(regexp_replace(
                       lower(text), '[^\w\s]', '', 'g'),
                       '\s+', ' ', 'g')), '') AS norm
              FROM documents),
            kh AS (
              SELECT doc_id, [
                  list_sum([
                    (CAST(strpos('0123456789abcdef', substring(
                       md5(substring(norm, i, 8)), p, 1)) - 1 AS BIGINT)
                     << ((15 - p) * 4))
                    for p in generate_series(1, 15)])
                  for i in generate_series(1,
                    greatest(length(norm) - 7, 0))] AS kh
              FROM n),
            fp AS (
              SELECT doc_id,
                CASE
                  WHEN len(kh) >= 4 THEN list_distinct([
                    list_min(kh[j:j+3])
                    for j in generate_series(1, len(kh) - 3)])
                  WHEN len(kh) > 0 THEN [list_min(kh)]
                  ELSE [] END AS fps
              FROM kh)
            SELECT doc_id,
                   CAST(len(fps) AS INT) AS n_fp,
                   printf('%015x',
                          CAST(coalesce(list_aggregate(fps, 'bit_xor'),
                                        0) AS BIGINT)) AS fp_xor_hex
            FROM fp
            -- canonical key = doc_id alone, matching the Spark side's
            -- input sort (doc_id is unique + non-null in every
            -- documents table; verified at all three SFs)
            ORDER BY doc_id NULLS FIRST
        """,
        # copied-passage pairs: identical winnow arithmetic at
        # k=16/window=8, hot-fingerprint cap as a window count over the
        # exploded (doc, fp) rows, then the self-join pair counts
        "shared_passages_documents": r"""
            WITH n AS (
              SELECT doc_id,
                     coalesce(trim(regexp_replace(regexp_replace(
                       lower(text), '[^\w\s]', '', 'g'),
                       '\s+', ' ', 'g')), '') AS norm
              FROM documents),
            kh AS (
              SELECT doc_id, [
                  list_sum([
                    (CAST(strpos('0123456789abcdef', substring(
                       md5(substring(norm, i, 16)), p, 1)) - 1 AS BIGINT)
                     << ((15 - p) * 4))
                    for p in generate_series(1, 15)])
                  for i in generate_series(1,
                    greatest(length(norm) - 15, 0))] AS kh
              FROM n),
            fp AS (
              SELECT doc_id,
                CASE
                  WHEN len(kh) >= 8 THEN list_distinct([
                    list_min(kh[j:j+7])
                    for j in generate_series(1, len(kh) - 7)])
                  WHEN len(kh) > 0 THEN [list_min(kh)]
                  ELSE [] END AS fps
              FROM kh),
            ex AS (
              SELECT doc_id, unnest(fps) AS fpv FROM fp),
            kept AS (
              SELECT doc_id, fpv FROM ex
              QUALIFY count(*) OVER (PARTITION BY fpv) <= 100)
            SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                   CAST(count(*) AS BIGINT) AS n_shared
            FROM kept a JOIN kept b
              ON a.fpv = b.fpv AND a.doc_id < b.doc_id
            GROUP BY 1, 2
            HAVING count(*) >= 3
        """,
        # resize: images with a non-empty payload land at exactly
        # 64*32/64=32 bytes; an EMPTY image payload fails the resize and
        # the quarantine row keeps its original (0-byte) payload; others
        # keep their utf-8 byte length; frames: 4 uniform slices per
        # video, total slice bytes = payload bytes when >=4 else 4
        # (each slice is forced to at least one byte)
        "media_resize_frames": """
            WITH m AS (
              SELECT CASE WHEN text IS NULL THEN NULL
                          ELSE ['image','audio','video']
                               [(length(text) % 3) + 1] END AS kind,
                     CASE WHEN text IS NULL THEN NULL
                          ELSE octet_length(encode(text)) END AS blen
              FROM documents),
            r AS (
              SELECT kind, CAST(count(*) AS BIGINT) AS n,
                     CAST(sum(CASE WHEN kind = 'image' AND blen >= 1
                              THEN 32 ELSE blen END) AS BIGINT)
                         AS payload_bytes
              FROM m GROUP BY kind),
            f AS (
              SELECT CAST(4 * count(*) AS BIGINT) AS n_frames,
                     CAST(sum(CASE WHEN blen >= 4 THEN blen
                              ELSE 4 END) AS BIGINT) AS frame_bytes
              FROM m WHERE kind = 'video' AND blen >= 1)
            SELECT r.kind, r.n, r.payload_bytes, f.n_frames, f.frame_bytes
            FROM r CROSS JOIN f
        """,
        "orders_rollup": """
            SELECT coalesce(o_orderpriority, 'ALL') AS priority,
                   coalesce(o_orderstatus, 'ALL') AS status,
                   CAST(count(*) AS BIGINT) AS n,
                   CAST(round(sum(CAST(o_totalprice AS DECIMAL(18,2))), 2)
                        AS VARCHAR) AS sum_price
            FROM orders
            GROUP BY ROLLUP (o_orderpriority, o_orderstatus)
        """,
        "sessionized_events": """
            WITH s AS (
              SELECT user_id, event_id, ts,
                     CAST(round(value * 100, 0) AS BIGINT) AS vc,
                     lag(ts) OVER (PARTITION BY user_id
                                   ORDER BY ts NULLS FIRST,
                                            event_id NULLS FIRST) AS pts
              FROM events),
            m AS (
              SELECT user_id, event_id, ts, vc,
                     sum(CASE WHEN pts IS NULL
                              OR date_diff('microsecond', pts, ts)
                                 > 86400000000
                              THEN 1 ELSE 0 END)
                       OVER (PARTITION BY user_id
                             ORDER BY ts NULLS FIRST,
                                      event_id NULLS FIRST
                             ROWS BETWEEN UNBOUNDED PRECEDING
                             AND CURRENT ROW) AS session_idx
              FROM s)
            SELECT user_id,
                   CAST(session_idx AS BIGINT) AS session_idx,
                   CAST(count(*) AS BIGINT) AS n_events,
                   epoch_us(min(ts)) AS start_us,
                   epoch_us(max(ts)) - epoch_us(min(ts)) AS duration_us,
                   CAST(sum(vc) AS BIGINT) AS total_value_c
            FROM m GROUP BY user_id, session_idx
            ORDER BY user_id NULLS FIRST, session_idx NULLS FIRST
        """,
        "purchase_asof_prior_view": """
            WITH p AS (SELECT event_id, user_id, ts FROM events
                       WHERE event_type = 'purchase'),
            v AS (SELECT event_id, user_id, ts FROM events
                  WHERE event_type = 'view'),
            u AS (
              SELECT user_id, ts, 0 AS side, NULL::BIGINT AS rid,
                     NULL::TIMESTAMP AS rts, event_id FROM p
              UNION ALL
              SELECT user_id, ts, 1, event_id, ts, NULL FROM v),
            c AS (
              SELECT *,
                     last_value(rid IGNORE NULLS) OVER w AS rid_c,
                     last_value(rts IGNORE NULLS) OVER w AS rts_c
              FROM u
              WINDOW w AS (PARTITION BY user_id
                           ORDER BY ts, side, rid NULLS FIRST
                           ROWS BETWEEN UNBOUNDED PRECEDING
                           AND CURRENT ROW))
            SELECT event_id, user_id, rid_c AS view_event_id,
                   epoch_us(ts) - epoch_us(rts_c) AS gap_us
            FROM c WHERE side = 0
        """,
        "train_split_documents": """
            -- '||' (not concat): DuckDB concat SKIPS null args while
            -- Spark concat is null-propagating; a NULL doc_id must
            -- yield a NULL split on both sides
            WITH s AS (
              SELECT lang, n_chars,
                     CAST('0x' ||
                          substr(md5('r3' || doc_id), 1, 15)
                          AS BIGINT) % 1000 AS b
              FROM documents)
            SELECT CASE WHEN b IS NULL THEN NULL
                        WHEN b < 900 THEN 'train'
                        WHEN b < 950 THEN 'val'
                        ELSE 'test' END AS split,
                   lang,
                   CAST(count(*) AS BIGINT) AS n_docs,
                   CAST(sum(n_chars) AS BIGINT) AS total_chars
            FROM s GROUP BY 1, 2
        """,
        "lsh_topk_embeddings": _lsh_oracle_sql(),
        "ivf_topk_embeddings": _ivf_oracle_sql(),
        "tfidf_top_terms_lang": """
            WITH toks AS (
              SELECT lang, doc_id,
                     unnest(regexp_extract_all(lower(text), '[a-z]+'))
                       AS term
              FROM documents),
            f AS (SELECT lang, term,
                         CAST(count(*) AS BIGINT) AS tf,
                         CAST(count(DISTINCT doc_id) AS BIGINT) AS df_docs
                  FROM toks WHERE length(term) >= 3 GROUP BY 1, 2),
            n AS (SELECT count(*) AS nd FROM documents),
            s AS (SELECT lang, term, tf, df_docs,
                         round(tf * ln((nd + 1.0) / (df_docs + 1.0)), 5)
                           AS tfidf,
                         row_number() OVER (
                           PARTITION BY lang
                           ORDER BY round(tf * ln((nd + 1.0)
                                          / (df_docs + 1.0)), 5) DESC,
                                    term) AS rn
                  FROM f, n)
            SELECT lang, term, tf, df_docs, tfidf FROM s WHERE rn <= 5
        """,
        "chunked_interleaved_docs": f"""
            -- doc_id is NOT unique (generator plants hot keys); the
            -- greedy walk is per physical ROW, so give each row an
            -- arbitrary-but-unique rid — the final (doc_id, chunk)
            -- aggregation over per-row results is pairing-independent.
            WITH RECURSIVE base AS (
              SELECT row_number() OVER () AS rid, doc_id, spans
              FROM read_parquet(
                '{_ORACLE_TMP}/interleaved_{_INTERLEAVED_N}/*.parquet')),
            sp AS (
              SELECT rid, doc_id, i,
                     coalesce(length(spans[i].text), 16) AS cost,
                     (spans[i].media_ref IS NOT NULL) AS is_media
              FROM base, unnest(generate_series(1, len(spans))) t(i)),
            walk AS (
              SELECT rid, doc_id, i, 0 AS chunk, cost AS used, cost,
                     is_media
              FROM sp WHERE i = 1
              UNION ALL
              SELECT sp.rid, sp.doc_id, sp.i,
                     CASE WHEN w.used > 0 AND w.used + sp.cost > 48
                          THEN w.chunk + 1 ELSE w.chunk END,
                     CASE WHEN w.used > 0 AND w.used + sp.cost > 48
                          THEN sp.cost ELSE w.used + sp.cost END,
                     sp.cost, sp.is_media
              FROM walk w JOIN sp
                ON sp.rid = w.rid AND sp.i = w.i + 1)
            SELECT doc_id, CAST(chunk AS INT) AS chunk_idx,
                   CAST(count(*) AS BIGINT) AS n_spans,
                   CAST(sum(cost) AS BIGINT) AS n_chars,
                   CAST(sum(CASE WHEN is_media THEN 1 ELSE 0 END)
                        AS BIGINT) AS n_media
            FROM walk GROUP BY doc_id, chunk
        """,
        "capped_docs_per_source": """
            WITH r AS (
              SELECT source, n_chars,
                     row_number() OVER (
                       PARTITION BY source
                       ORDER BY md5('mix' || doc_id) NULLS FIRST,
                                doc_id NULLS FIRST) AS rn
              FROM documents)
            SELECT source,
                   CAST(count(*) AS BIGINT) AS n_kept,
                   CAST(sum(n_chars) AS BIGINT) AS total_chars
            FROM r WHERE rn <= 10 GROUP BY source
        """,
        "repetition_documents": """
            -- empty/whitespace-only text: str_split_regex gives ['']
            -- (one bogus word) — mirror the engine's n_words=0 guard
            WITH w AS (
              SELECT doc_id,
                     str_split_regex(trim(text), '\\s+') AS words,
                     (length(trim(text)) = 0) AS is_empty
              FROM documents),
            base AS (
              SELECT doc_id, is_empty, words,
                     CASE WHEN is_empty THEN 0
                          ELSE len(words) END AS n_words,
                     len(list_distinct(words)) AS nd,
                     CASE WHEN len(words) > 1 THEN
                       list_transform(
                         generate_series(1, len(words) - 1),
                         i -> words[i] || ' ' || words[i + 1])
                     ELSE []::VARCHAR[] END AS bigrams
              FROM w),
            -- topc row-locally (no per-doc join: doc_id may be NULL,
            -- and NULL join keys never match)
            withtop AS (
              SELECT *, CASE WHEN is_empty THEN 0 ELSE
                     list_max(list_transform(list_distinct(words),
                       w -> len(list_filter(words, x -> x = w))))
                     END AS topc
              FROM base)
            SELECT b.doc_id,
                   CAST(b.n_words AS INT) AS n_words,
                   CASE WHEN b.n_words = 0 THEN 0.0
                        ELSE round(b.nd / greatest(b.n_words, 1), 5)
                   END AS distinct_ratio,
                   CASE WHEN b.n_words = 0 THEN 0.0
                        ELSE round(coalesce(b.topc, 0)
                                   / greatest(b.n_words, 1), 5)
                   END AS top_word_share,
                   CASE WHEN b.n_words > 0 AND len(b.bigrams) > 0
                        THEN round(1.0 - len(list_distinct(b.bigrams))
                                   / len(b.bigrams), 5)
                        ELSE 0.0 END AS dup_bigram_ratio
            FROM withtop b
        """,
        "entropy_documents": """
            -- keyed by physical row (rid), not doc_id: NULL ids never
            -- match a join key and duplicate ids would merge rows
            WITH base AS (
              SELECT row_number() OVER () AS rid, doc_id, text
              FROM documents),
            ch AS (
              SELECT rid, unnest(str_split(text, '')) AS c
              FROM base),
            cnt AS (SELECT rid, c, count(*) AS k
                    FROM ch GROUP BY rid, c),
            agg AS (SELECT rid, sum(k * ln(k)) AS s,
                           sum(k) AS n
                    FROM cnt GROUP BY rid)
            SELECT b.doc_id,
                   CAST(length(b.text) AS INT) AS n_chars_text,
                   round(CASE WHEN a.n > 0
                              THEN ln(a.n) - a.s / a.n
                              ELSE 0 END, 5) AS entropy
            FROM base b LEFT JOIN agg a USING (rid)
        """,
        "error_events_in_sessions": """
            WITH ne AS (
              SELECT user_id, event_id, ts FROM events
              WHERE event_type <> 'error'),
            s AS (
              SELECT user_id, event_id, ts,
                     lag(ts) OVER (PARTITION BY user_id
                                   ORDER BY ts NULLS FIRST,
                                            event_id NULLS FIRST) AS pts
              FROM ne),
            m AS (
              SELECT user_id, ts,
                     sum(CASE WHEN pts IS NULL
                              OR date_diff('microsecond', pts, ts)
                                 > 86400000000
                              THEN 1 ELSE 0 END)
                       OVER (PARTITION BY user_id
                             ORDER BY ts NULLS FIRST,
                                      event_id NULLS FIRST
                             ROWS BETWEEN UNBOUNDED PRECEDING
                             AND CURRENT ROW) AS session_idx
              FROM s),
            iv AS (SELECT user_id, session_idx,
                          min(ts) AS mn, max(ts) AS mx
                   FROM m GROUP BY user_id, session_idx)
            SELECT e.event_id, e.user_id,
                   CAST(iv.session_idx AS BIGINT) AS session_idx
            FROM events e LEFT JOIN iv
              ON e.user_id = iv.user_id AND e.ts BETWEEN iv.mn AND iv.mx
            WHERE e.event_type = 'error'
        """,
        "value_outliers_by_type": """
            WITH b AS (
              SELECT event_type,
                     quantile_cont(value, 0.25) AS q1,
                     quantile_cont(value, 0.75) AS q3
              FROM events WHERE value IS NOT NULL
              GROUP BY event_type)
            SELECT e.event_type,
                   CAST(count(*) AS BIGINT) AS n_outliers,
                   round(min(e.value), 6) AS min_outlier,
                   round(max(e.value), 6) AS max_outlier
            FROM events e JOIN b USING (event_type)
            WHERE e.value IS NOT NULL
              AND (e.value < round(b.q1 - 1.5 * (b.q3 - b.q1), 6)
                   OR e.value > round(b.q3 + 1.5 * (b.q3 - b.q1), 6))
            GROUP BY e.event_type
        """,
    }

    out["dedup_survivors_embeddings"] = """
        WITH RECURSIVE e AS (
          SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v
          FROM embeddings),
        pairs AS (
          SELECT a.vec_id AS id_a, b.vec_id AS id_b
          FROM e a JOIN e b
            ON a.label = b.label AND a.vec_id < b.vec_id
          WHERE list_dot_product(a.v, b.v)
                / greatest(sqrt(list_dot_product(a.v, a.v))
                           * sqrt(list_dot_product(b.v, b.v)),
                           1e-12) >= 0.4),
        und AS (
          SELECT id_a AS src, id_b AS dst FROM pairs
          UNION SELECT id_b, id_a FROM pairs),
        reach AS (
          SELECT src AS node, src AS lbl
          FROM (SELECT DISTINCT src FROM und)
          UNION
          SELECT r.node, u.dst FROM reach r
          JOIN und u ON u.src = r.lbl),
        comp AS (SELECT node, min(lbl) AS component
                 FROM reach GROUP BY node),
        losers AS (SELECT node FROM comp WHERE node <> component)
        SELECT vec_id, label FROM embeddings
        WHERE vec_id NOT IN (SELECT node FROM losers)
    """

    out["weighted_mix_documents"] = """
        WITH s AS (
          SELECT lang, n_chars,
                 CAST('0x' ||
                      substr(md5('mixr3' || coalesce(
                        CAST(doc_id AS VARCHAR), '__null_id__')), 1, 15)
                      AS BIGINT) % 10000 AS b
          FROM documents)
        SELECT lang,
               CAST(count(*) AS BIGINT) AS n_kept,
               CAST(sum(n_chars) AS BIGINT) AS total_chars
        FROM s
        WHERE b < (CASE lang WHEN 'en' THEN 10000
                             WHEN 'de' THEN 5000
                             WHEN 'fr' THEN 2500
                             ELSE 1000 END)
        GROUP BY lang
    """

    out["contamination_src0"] = r"""
        WITH nrm AS (
          SELECT doc_id, source,
                 str_split(coalesce(trim(regexp_replace(regexp_replace(
                   lower(text), '[^\w\s]', '', 'g'),
                   '\s+', ' ', 'g')), ''), ' ') AS t
          FROM documents),
        g AS (
          SELECT doc_id, source, unnest(list_distinct([
            array_to_string(t[i:i+7], ' ')
            for i in generate_series(1, greatest(len(t) - 7, 0))]))
            AS gram
          FROM nrm
          -- cap-universe mirror: the engine counts over corpus∪bench
          -- AS PASSED (source <> 'src0' plus source = 'src0', both
          -- excluding NULL source) — filter before the window count
          WHERE source IS NOT NULL),
        kept AS (
          -- hot-gram cap mirror: total occurrences across BOTH sides
          -- must be <= 100
          SELECT doc_id, source, gram FROM g
          QUALIFY count(*) OVER (PARTITION BY gram) <= 100),
        hits AS (
          SELECT c.doc_id AS corpus_id, b.doc_id AS bench_id,
                 count(*) AS n_shared
          FROM kept c JOIN kept b ON c.gram = b.gram
          WHERE c.source <> 'src0' AND b.source = 'src0'
          GROUP BY c.doc_id, b.doc_id)
        SELECT corpus_id,
               CAST(count(*) AS BIGINT) AS n_bench_docs,
               CAST(sum(n_shared) AS BIGINT) AS n_shared_grams
        FROM hits GROUP BY corpus_id
    """

    out["packed_batches_documents"] = """
        WITH s AS (
          SELECT n_chars,
                 CAST('0x' ||
                      substr(md5('pack' || doc_id), 1, 15)
                      AS BIGINT) % 8 AS shard,
                 md5('pack' || doc_id) AS ok, doc_id
          FROM documents),
        b AS (
          SELECT shard, n_chars,
                 CAST(floor(coalesce(sum(n_chars) OVER (
                     PARTITION BY shard
                     ORDER BY ok NULLS FIRST, doc_id NULLS FIRST
                     ROWS BETWEEN UNBOUNDED PRECEDING
                     AND 1 PRECEDING), 0) / 2048) AS INT) AS batch_idx
          FROM s)
        SELECT shard, batch_idx,
               CAST(count(*) AS BIGINT) AS n_docs,
               CAST(sum(n_chars) AS BIGINT) AS total_chars
        FROM b GROUP BY shard, batch_idx
    """

    out["rolling_7d_events"] = """
        SELECT event_id, user_id,
               CAST(count(*) OVER (
                 PARTITION BY user_id ORDER BY epoch_us(ts)
                 RANGE BETWEEN 604800000000 PRECEDING AND CURRENT ROW)
               AS BIGINT) AS n_7d
        FROM events
    """

    # discrete cut-points via divisionless integer rank selection —
    # selected DATA values are bit-identical across engines, unlike
    # interpolated quantile_cont vs Spark percentile (1-ulp apart,
    # which flips 2-decimal boundary values; bit us at sf0.1)
    out["value_deciles_by_type"] = """
        WITH vc AS (
          SELECT event_type, value, count(*) AS cnt
          FROM events WHERE value IS NOT NULL
          GROUP BY event_type, value),
        t AS (
          SELECT event_type, value,
                 sum(cnt) OVER (PARTITION BY event_type ORDER BY value
                                ROWS BETWEEN UNBOUNDED PRECEDING
                                AND CURRENT ROW) AS cum,
                 sum(cnt) OVER (PARTITION BY event_type) AS n
          FROM vc),
        cuts AS (
          SELECT event_type,
                 min(CASE WHEN cum*10 >= 1*n THEN value END) AS c1,
                 min(CASE WHEN cum*10 >= 2*n THEN value END) AS c2,
                 min(CASE WHEN cum*10 >= 3*n THEN value END) AS c3,
                 min(CASE WHEN cum*10 >= 4*n THEN value END) AS c4,
                 min(CASE WHEN cum*10 >= 5*n THEN value END) AS c5,
                 min(CASE WHEN cum*10 >= 6*n THEN value END) AS c6,
                 min(CASE WHEN cum*10 >= 7*n THEN value END) AS c7,
                 min(CASE WHEN cum*10 >= 8*n THEN value END) AS c8,
                 min(CASE WHEN cum*10 >= 9*n THEN value END) AS c9
          FROM t GROUP BY event_type),
        d AS (
          SELECT e.event_type, e.value,
                 1 + (CASE WHEN e.value > c1 THEN 1 ELSE 0 END)
                   + (CASE WHEN e.value > c2 THEN 1 ELSE 0 END)
                   + (CASE WHEN e.value > c3 THEN 1 ELSE 0 END)
                   + (CASE WHEN e.value > c4 THEN 1 ELSE 0 END)
                   + (CASE WHEN e.value > c5 THEN 1 ELSE 0 END)
                   + (CASE WHEN e.value > c6 THEN 1 ELSE 0 END)
                   + (CASE WHEN e.value > c7 THEN 1 ELSE 0 END)
                   + (CASE WHEN e.value > c8 THEN 1 ELSE 0 END)
                   + (CASE WHEN e.value > c9 THEN 1 ELSE 0 END)
                   AS decile
          FROM events e JOIN cuts USING (event_type)
          WHERE e.value IS NOT NULL)
        SELECT event_type, decile,
               CAST(count(*) AS BIGINT) AS n,
               round(min(value), 2) AS lo,
               round(max(value), 2) AS hi
        FROM d GROUP BY event_type, decile
    """

    out["user_event_type_pivot"] = """
        SELECT user_id,
               CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_click,
               CAST(sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_view,
               CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_purchase,
               CAST(sum(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_signup,
               CAST(sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_error
        FROM events GROUP BY user_id
    """

    out["tpch_q1_pricing"] = """
        WITH l AS (
          SELECT l_returnflag, l_linestatus,
                 CAST(l_quantity AS DECIMAL(18,4)) AS qty,
                 CAST(l_extendedprice AS DECIMAL(18,4)) AS price,
                 CAST(l_discount AS DECIMAL(8,4)) AS disc,
                 CAST(l_tax AS DECIMAL(8,4)) AS tax
          FROM lineitem
          WHERE l_shipdate <= TIMESTAMP '1998-09-02'),
        g AS (
          SELECT l_returnflag, l_linestatus,
                 sum(qty) AS sq, sum(price) AS sp,
                 sum(price * (CAST(1 AS DECIMAL(8,4)) - disc)) AS sd,
                 sum(price * (CAST(1 AS DECIMAL(8,4)) - disc)
                     * (CAST(1 AS DECIMAL(8,4)) + tax)) AS sc,
                 sum(disc) AS sdisc,
                 CAST(count(*) AS BIGINT) AS count_order
          FROM l GROUP BY l_returnflag, l_linestatus)
        SELECT l_returnflag, l_linestatus,
               round(CAST(sq AS DOUBLE), 2) AS sum_qty,
               CAST(CAST(sp AS DECIMAL(38,2)) AS VARCHAR)
                 AS sum_base_price,
               CAST(CAST(sd AS DECIMAL(38,4)) AS VARCHAR)
                 AS sum_disc_price,
               CAST(CAST(sc AS DECIMAL(38,6)) AS VARCHAR)
                 AS sum_charge,
               round(CAST(sq AS DOUBLE) / count_order, 6) AS avg_qty,
               round(CAST(sp AS DOUBLE) / count_order, 6) AS avg_price,
               round(CAST(sdisc AS DOUBLE) / count_order, 6) AS avg_disc,
               count_order
        FROM g
    """

    out["tpch_q3_revenue"] = """
        WITH g AS (
          SELECT l.l_orderkey, o.o_orderdate,
                 sum(CAST(l.l_extendedprice AS DECIMAL(18,4))
                     * (CAST(1 AS DECIMAL(8,4))
                        - CAST(l.l_discount AS DECIMAL(8,4)))) AS rev
          FROM lineitem l
          JOIN orders o ON l.l_orderkey = o.o_orderkey
          JOIN customer c ON o.o_custkey = c.c_custkey
          WHERE c.c_mktsegment = 'BUILDING'
            AND o.o_orderdate < TIMESTAMP '1998-01-01'
            AND l.l_shipdate > TIMESTAMP '1998-01-01'
          GROUP BY l.l_orderkey, o.o_orderdate)
        SELECT l_orderkey,
               round(CAST(rev AS DOUBLE), 4) AS revenue,
               strftime(o_orderdate, '%Y-%m-%d') AS o_orderdate
        FROM g
        ORDER BY rev DESC, l_orderkey
        LIMIT 10
    """

    out["tpch_q18_large_orders"] = """
        WITH big AS (
          SELECT l_orderkey,
                 sum(CAST(l_quantity AS DECIMAL(18,4))) AS sq
          FROM lineitem GROUP BY l_orderkey
          HAVING sum(CAST(l_quantity AS DECIMAL(18,4))) > 250)
        SELECT c.c_name, o.o_orderkey,
               strftime(o.o_orderdate, '%Y-%m-%d') AS o_orderdate,
               round(o.o_totalprice, 2) AS o_totalprice,
               round(CAST(b.sq AS DOUBLE), 2) AS total_qty
        FROM big b
        JOIN orders o ON b.l_orderkey = o.o_orderkey
        JOIN customer c ON o.o_custkey = c.c_custkey
        ORDER BY o.o_totalprice DESC NULLS LAST,
                 o.o_orderdate NULLS FIRST, o.o_orderkey NULLS FIRST
        LIMIT 100
    """

    out["tpch_q6_forecast"] = """
        SELECT CAST(count(*) AS BIGINT) AS n_lines,
               CAST(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,4))
                             * CAST(l_discount AS DECIMAL(8,4)))
                         AS DECIMAL(38,4)) AS VARCHAR) AS revenue
        FROM lineitem
        WHERE l_shipdate >= TIMESTAMP '1997-01-01'
          AND l_shipdate < TIMESTAMP '1998-01-01'
          AND l_discount >= 0.05 AND l_discount <= 0.07
          AND l_quantity < 24
    """

    out["tpch_q4_late_orders"] = """
        SELECT o_orderpriority,
               CAST(count(*) AS BIGINT) AS order_count
        FROM orders o
        WHERE o.o_orderdate >= TIMESTAMP '1997-01-01'
          AND o.o_orderdate < TIMESTAMP '1997-04-01'
          AND EXISTS (
            SELECT 1 FROM lineitem l
            WHERE l.l_orderkey = o.o_orderkey
              AND l.l_shipdate > o.o_orderdate + INTERVAL 30 DAY)
        GROUP BY o_orderpriority
        ORDER BY o_orderpriority NULLS FIRST
    """

    out["tpch_q5_local_volume"] = """
        WITH g AS (
          SELECT n.n_name,
                 sum(CAST(l.l_extendedprice AS DECIMAL(18,4))
                     * (CAST(1 AS DECIMAL(8,4))
                        - CAST(l.l_discount AS DECIMAL(8,4)))) AS rev
          FROM lineitem l
          JOIN orders o ON l.l_orderkey = o.o_orderkey
          JOIN customer c ON o.o_custkey = c.c_custkey
          JOIN supplier s ON l.l_suppkey = s.s_suppkey
                         AND c.c_nationkey = s.s_nationkey
          JOIN nation n ON s.s_nationkey = n.n_nationkey
          JOIN region r ON n.n_regionkey = r.r_regionkey
          WHERE r.r_name = 'ASIA'
            AND o.o_orderdate >= TIMESTAMP '1997-01-01'
            AND o.o_orderdate < TIMESTAMP '1998-01-01'
          GROUP BY n.n_name)
        SELECT n_name, CAST(round(rev, 2) AS DOUBLE) AS revenue
        FROM g ORDER BY rev DESC, n_name NULLS FIRST
    """

    out["tpch_q12_priority_class"] = """
        SELECT l.l_linestatus,
               CAST(sum(CASE WHEN o.o_orderpriority IN
                        ('1-URGENT', '2-HIGH') THEN 1 ELSE 0 END)
                    AS BIGINT) AS high_line_count,
               CAST(sum(CASE WHEN o.o_orderpriority IN
                        ('1-URGENT', '2-HIGH') THEN 0 ELSE 1 END)
                    AS BIGINT) AS low_line_count
        FROM lineitem l
        JOIN orders o ON l.l_orderkey = o.o_orderkey
        WHERE l.l_shipdate >= TIMESTAMP '1997-01-01'
          AND l.l_shipdate < TIMESTAMP '1998-01-01'
        GROUP BY l.l_linestatus
        ORDER BY l.l_linestatus NULLS FIRST
    """

    out["tpch_q14_promo_share"] = """
        WITH g AS (
          SELECT sum(CASE WHEN p.p_type = 'PROMO'
                     THEN CAST(l.l_extendedprice AS DECIMAL(18,4))
                          * (CAST(1 AS DECIMAL(8,4))
                             - CAST(l.l_discount AS DECIMAL(8,4)))
                     ELSE CAST(0 AS DECIMAL(18,4)) END) AS promo,
                 sum(CAST(l.l_extendedprice AS DECIMAL(18,4))
                     * (CAST(1 AS DECIMAL(8,4))
                        - CAST(l.l_discount AS DECIMAL(8,4)))) AS total,
                 CAST(count(*) AS BIGINT) AS n_lines
          FROM lineitem l
          JOIN part p ON l.l_partkey = p.p_partkey
          WHERE l.l_shipdate >= TIMESTAMP '1997-09-01'
            AND l.l_shipdate < TIMESTAMP '1997-10-01')
        SELECT round(100.0 * CAST(promo AS DOUBLE)
                     / CAST(total AS DOUBLE), 6) AS promo_revenue_pct,
               CAST(CAST(total AS DECIMAL(38,4)) AS VARCHAR)
                 AS total_revenue,
               n_lines
        FROM g
    """

    out["tpch_q13_order_counts"] = """
        WITH per AS (
          SELECT c.c_custkey,
                 CAST(count(o.o_orderkey) AS BIGINT) AS c_count
          FROM customer c
          LEFT JOIN orders o ON c.c_custkey = o.o_custkey
                            AND o.o_orderpriority <> '1-URGENT'
          GROUP BY c.c_custkey)
        SELECT c_count, CAST(count(*) AS BIGINT) AS custdist
        FROM per
        GROUP BY c_count
        ORDER BY custdist DESC NULLS LAST, c_count DESC NULLS LAST
    """

    out["tpch_q15_top_supplier"] = """
        WITH per AS (
          SELECT l_suppkey,
                 sum(CAST(l_extendedprice AS DECIMAL(18,4))
                     * (CAST(1 AS DECIMAL(8,4))
                        - CAST(l_discount AS DECIMAL(8,4)))) AS rev
          FROM lineitem
          WHERE l_shipdate >= TIMESTAMP '1997-01-01'
            AND l_shipdate < TIMESTAMP '1997-04-01'
          GROUP BY l_suppkey)
        SELECT s.s_suppkey, s.s_name,
               CAST(round(p.rev, 2) AS DOUBLE) AS total_revenue
        FROM per p
        JOIN supplier s ON p.l_suppkey = s.s_suppkey
        WHERE p.rev = (SELECT max(rev) FROM per)
        ORDER BY s.s_suppkey NULLS FIRST
    """

    # Q17 oracle is the DECORRELATED twin of the classic correlated
    # scalar subquery (avg qty per part); integer threshold math
    # (5*qty*cnt < sum) mirrors the engine exactly — no float products
    out["tpch_q17_small_qty_orders"] = """
        WITH lb AS (
          SELECT l.l_partkey,
                 CAST(trunc(l.l_quantity) AS BIGINT) AS qty,
                 l.l_extendedprice
          FROM lineitem l
          JOIN part p ON l.l_partkey = p.p_partkey
          WHERE p.p_brand = 'Brand#4'),
        g AS (
          SELECT l_partkey, CAST(sum(qty) AS BIGINT) AS sq,
                 CAST(count(*) AS BIGINT) AS cnt
          FROM lb GROUP BY l_partkey)
        SELECT CAST(count(*) AS BIGINT) AS n_small_lines,
               round(CAST(sum(CAST(lb.l_extendedprice
                                   AS DECIMAL(18,4))) AS DOUBLE)
                     / 7.0, 2) AS avg_yearly
        FROM lb JOIN g ON lb.l_partkey = g.l_partkey
        WHERE 5 * lb.qty * g.cnt < g.sq
    """

    out["tpch_q22_dormant_customers"] = """
        WITH cust AS (
          SELECT c_custkey, c_nationkey, c_acctbal,
                 CAST(c_acctbal AS DECIMAL(18,2)) AS bal
          FROM customer
          WHERE c_nationkey IN (1, 3, 5, 7, 9, 11, 13)),
        avgpos AS (
          SELECT sum(bal) AS s, CAST(count(*) AS BIGINT) AS n
          FROM cust WHERE c_acctbal > 0.0),
        rich AS (
          SELECT c.c_custkey, c.c_nationkey, c.bal
          FROM cust c, avgpos a WHERE c.bal * a.n > a.s),
        d AS (
          SELECT * FROM rich r
          WHERE NOT EXISTS (
            SELECT 1 FROM orders o
            WHERE o.o_custkey = r.c_custkey
              AND o.o_orderdate >= TIMESTAMP '2000-01-01'))
        SELECT c_nationkey, CAST(count(*) AS BIGINT) AS numcust,
               round(CAST(sum(bal) AS DOUBLE), 2) AS totacctbal
        FROM d GROUP BY c_nationkey
        ORDER BY c_nationkey NULLS FIRST
    """

    # funnel: min view ts, then min click strictly after it, then min
    # purchase strictly after that — the join form is the oracle twin
    # of the engine's sorted-array fold (both are timestamp-driven and
    # tie-safe, so the results agree independent of event order)
    out["conversion_funnel_events"] = """
        WITH base AS (
          SELECT user_id, epoch_us(ts) AS us, event_type AS t
          FROM events
          WHERE event_type IN ('view', 'click', 'purchase')),
        u AS (SELECT DISTINCT user_id FROM base),
        v AS (SELECT user_id, min(us) AS ts1
              FROM base WHERE t = 'view' GROUP BY user_id),
        c AS (SELECT b.user_id, min(b.us) AS ts2
              FROM base b JOIN v
                ON b.user_id IS NOT DISTINCT FROM v.user_id
              WHERE b.t = 'click' AND b.us > v.ts1
              GROUP BY b.user_id),
        p AS (SELECT b.user_id, min(b.us) AS ts3
              FROM base b JOIN c
                ON b.user_id IS NOT DISTINCT FROM c.user_id
              WHERE b.t = 'purchase' AND b.us > c.ts2
              GROUP BY b.user_id)
        SELECT u.user_id,
               -- probe the ts columns, not joined user_id: a matched
               -- NULL-user row still carries NULL user_id
               CAST(CASE WHEN p.ts3 IS NOT NULL THEN 3
                         WHEN c.ts2 IS NOT NULL THEN 2
                         WHEN v.ts1 IS NOT NULL THEN 1
                         ELSE 0 END AS INT) AS stage,
               coalesce(p.ts3, c.ts2, v.ts1) AS reached_us
        FROM u
        -- null-safe joins: the engine's groupBy keeps a NULL-user
        -- group; plain equality would strand it at stage 0
        LEFT JOIN v ON u.user_id IS NOT DISTINCT FROM v.user_id
        LEFT JOIN c ON u.user_id IS NOT DISTINCT FROM c.user_id
        LEFT JOIN p ON u.user_id IS NOT DISTINCT FROM p.user_id
        ORDER BY u.user_id NULLS FIRST
    """

    out["props_key_stats_events"] = """
        WITH j AS (
          -- json_valid guard: DuckDB evaluates vectorized branches
          -- eagerly and json_extract_string RAISES on malformed JSON,
          -- while Spark's get_json_object returns NULL — without the
          -- CASE a future corrupt-props row would crash the oracle
          -- instead of mismatching (CLAUDE.md eager-branch rule)
          SELECT event_type,
                 TRY_CAST(CASE WHEN json_valid(props)
                          THEN json_extract_string(props, '$.k') END
                   AS BIGINT) AS k
          FROM events)
        SELECT event_type,
               CAST(count(k) AS BIGINT) AS n,
               CAST(count(DISTINCT k) AS BIGINT) AS n_distinct,
               min(k) AS k_min,
               max(k) AS k_max,
               round(CAST(sum(k) AS DOUBLE) / count(k), 6) AS k_mean
        FROM j GROUP BY event_type
        ORDER BY event_type NULLS FIRST
    """

    # resumability invariant: committed per-bucket metrics must
    # re-aggregate to a DIRECT validation of the table (same ns/nv
    # arithmetic as verdict_summary_documents), and the resumed run
    # skips all 8 buckets — lost or double-counted rows would break
    # the totals
    out["checkpointed_validation_documents"] = """
        WITH v AS (
          SELECT
            (CASE WHEN text IS NULL OR lang IS NULL
                  OR n_chars IS NULL THEN 1 ELSE 0 END) AS ns,
            (CASE WHEN text IS NOT NULL
                  AND NOT (length(text) >= 1) THEN 1 ELSE 0 END)
          + (CASE WHEN lang IS NOT NULL AND lang NOT IN
                  ('en','de','fr','es') THEN 1 ELSE 0 END)
          + (CASE WHEN n_chars IS NOT NULL
                  AND NOT (n_chars >= 0) THEN 1 ELSE 0 END)
          + (CASE WHEN n_chars IS NOT NULL
                  AND NOT (n_chars <= 500) THEN 1 ELSE 0 END) AS nv
          FROM documents)
        SELECT CAST(8 AS BIGINT) AS n_buckets_complete,
               CAST(count(*) AS BIGINT) AS n_rows,
               CAST(sum(CASE WHEN ns > 0 OR nv > 0 THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_bad_rows,
               CAST(sum(nv) AS BIGINT) AS n_violations,
               CAST(8 AS INT) AS n_processed_first,
               CAST(8 AS INT) AS n_skipped_on_resume
        FROM v
    """

    # one shared rid base: the three signals are derived from the SAME
    # scan and re-joined on the physical row id — joining the
    # standalone per-doc_id oracles would silently drop NULL-id rows
    # and merge duplicate-id rows (parity bugs the engine, which is
    # row-local, does not have)
    out["curation_funnel_documents"] = r"""
        WITH base AS (
          SELECT row_number() OVER () AS rid, doc_id, lang, text
          FROM documents),
        q AS (
          SELECT rid,
                 greatest(CAST(length(text) AS DOUBLE), 1.0) AS safe,
                 len(regexp_extract_all(text, '[A-Za-z]')) AS n_alpha,
                 len(regexp_extract_all(text, '[^\w\s]')) AS n_punct,
                 len(regexp_extract_all(text, '[0-9]')) AS n_digit,
                 len(regexp_extract_all(text,
                   '(?i)\b(the|of|and|to|in|a|is|that|it|for|was|on|are|with|as|be|this|at|by)\b'))
                   AS n_stop,
                 CASE WHEN length(trim(text)) = 0 THEN 0
                      ELSE len(regexp_split_to_array(trim(text),
                               '\s+')) END AS n_tokens
          FROM base),
        qs AS (
          SELECT rid, round(
              least(n_tokens / 20.0, 1.0) * 0.2
            + (n_alpha / safe) * 0.3
            + (1.0 - least(n_punct / safe * 4, 1.0)) * 0.2
            + (1.0 - least(n_digit / safe * 4, 1.0)) * 0.15
            + least(n_stop / greatest(CAST(n_tokens AS DOUBLE), 1.0)
                    * 3, 1.0) * 0.15, 6) AS q_score
          FROM q),
        r AS (
          SELECT rid,
                 CASE WHEN length(trim(text)) = 0 THEN 0.0 ELSE
                   round(list_max(list_transform(
                       list_distinct(str_split_regex(trim(text), '\s+')),
                       w -> len(list_filter(
                              str_split_regex(trim(text), '\s+'),
                              x -> x = w))))
                     / greatest(len(str_split_regex(trim(text), '\s+')),
                                1), 5)
                 END AS top_word_share
          FROM base),
        ch AS (SELECT rid, unnest(str_split(text, '')) AS c FROM base),
        cnt AS (SELECT rid, c, count(*) AS k FROM ch GROUP BY rid, c),
        ent AS (SELECT rid,
                       round(ln(sum(k)) - sum(k * ln(k)) / sum(k), 5)
                         AS entropy
                FROM cnt GROUP BY rid),
        j AS (
          SELECT b.lang,
                 CASE WHEN b.lang NOT IN ('en','de','fr','es')
                        THEN 'lang'
                      WHEN qs.q_score < 0.81 THEN 'quality'
                      WHEN r.top_word_share > 0.13 THEN 'repetition'
                      WHEN coalesce(h.entropy, 0.0) < 2.75
                        THEN 'entropy'
                      ELSE 'kept' END AS reason
          FROM base b
          JOIN qs USING (rid)
          JOIN r USING (rid)
          LEFT JOIN ent h USING (rid))
        SELECT lang,
               CAST(count(*) AS BIGINT) AS n_total,
               CAST(sum(CASE WHEN reason = 'lang' THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_drop_lang,
               CAST(sum(CASE WHEN reason = 'quality' THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_drop_quality,
               CAST(sum(CASE WHEN reason = 'repetition' THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_drop_repetition,
               CAST(sum(CASE WHEN reason = 'entropy' THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_drop_entropy,
               CAST(sum(CASE WHEN reason = 'kept' THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_kept
        FROM j GROUP BY lang
    """
    return out
