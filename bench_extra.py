"""Extra benchmarks for optimization work (guide §1.4 noop-sink
isolation). NOT the driver's bench — bench.py stays the frozen
measurement; this file only produces evidence for OPTIMIZATION_r06.md.

Usage:
  python bench_extra.py suite        # decompose fused-suite job 1
  python bench_extra.py queries q1,q2[,..] [repeats]   # per-query min
Env: SPARK_GRAFT_SF_DIR, SPARK_GRAFT_CPUS, BENCH_N_DOCS as in bench.py.
"""
from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))


def _noop(df):
    df.write.format("noop").mode("overwrite").save()


def _timed(label, fn, spark, out, repeats=3):
    times = []
    for _ in range(repeats):
        spark.sparkContext.setJobDescription(label)
        t = time.time()
        fn()
        times.append(round(time.time() - t, 3))
        spark.sparkContext.setJobDescription(None)
    out[label] = {"min": min(times), "samples": times}
    print(f"{label}: min={min(times)} samples={times}", flush=True)


def suite_decomp(spark, n_docs):
    import shutil

    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    import bench
    from schematic_spark.generator import (
        INTERLEAVED_SPEC, non_monotonic_flag,
    )
    from schematic_spark.suite.fused import _VERDICTS
    from schematic_spark.suite.stats import column_stat_aggs
    from schematic_spark.suite.uniqueness import duplicate_keys_salted
    from schematic_spark.validation import (
        VERDICT_COL, VIOLATIONS_COL, validate,
    )

    docs, base_docs, media, t_gen, tmp, keep, _ = \
        bench._materialize_inputs(spark, n_docs)
    out = {}
    try:
        _timed("scan_only_noop", lambda: _noop(docs), spark, out)
        ann = validate(docs, INTERLEAVED_SPEC).annotated
        _timed("validate_noop", lambda: _noop(ann), spark, out)
        _timed(
            "dup_salted_raw",
            lambda: duplicate_keys_salted(
                docs, "doc_id", salt_buckets=64).count(),
            spark, out,
        )
        _timed(
            "dup_salted_over_validate",
            lambda: duplicate_keys_salted(
                ann, "doc_id", salt_buckets=64).count(),
            spark, out,
        )

        fields = {f.name: f.dataType for f in docs.schema.fields}
        columns = list(fields)

        def job1():
            obs1 = Observation()
            exprs = [
                F.sum((F.col(VERDICT_COL) == v).cast("long"))
                .alias(f"__verdict_{v}")
                for v in _VERDICTS
            ]
            exprs.append(
                F.sum(F.size(VIOLATIONS_COL)).alias("__n_violations"))
            exprs.append(
                F.sum(non_monotonic_flag("spans").cast("long"))
                .alias("__n_nonmono"))
            exprs.extend(column_stat_aggs(fields, columns))
            duplicate_keys_salted(
                ann.observe(obs1, *exprs), "doc_id", salt_buckets=64
            ).count()
            obs1.get

        _timed("job1_full", job1, spark, out)

        # observe WITHOUT column stats (isolate the stats-agg cost)
        def job1_nostats():
            obs1 = Observation()
            exprs = [
                F.sum((F.col(VERDICT_COL) == v).cast("long"))
                .alias(f"__verdict_{v}")
                for v in _VERDICTS
            ]
            exprs.append(
                F.sum(F.size(VIOLATIONS_COL)).alias("__n_violations"))
            exprs.append(
                F.sum(non_monotonic_flag("spans").cast("long"))
                .alias("__n_nonmono"))
            duplicate_keys_salted(
                ann.observe(obs1, *exprs), "doc_id", salt_buckets=64
            ).count()
            obs1.get

        _timed("job1_no_colstats", job1_nostats, spark, out)
    finally:
        if not keep:
            shutil.rmtree(tmp, ignore_errors=True)
    print(json.dumps(out))


def time_queries(spark, names, repeats):
    import __spark_entry__ as entry

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    qs = entry.queries()
    out = {}
    for name in names:
        fn = qs[name]
        _timed(
            name, lambda: fn(spark, sf_dir).collect(), spark, out,
            repeats=repeats,
        )
    print(json.dumps(out))


def scale_evidence(spark, factor=10):
    """Scale-holding evidence: replicate the sf0.1 documents/embeddings
    tables ``factor``× (perturbed ids; text reused — the compute cost
    per row is what scales) and run the round-6-optimized operators at
    the larger size, with the spread fan-out A/B'd and the
    embedding-LSH bucket cap's candidate-pair bound demonstrated on a
    planted degenerate cluster. Writes timings to stdout."""
    import tempfile

    from pyspark.sql import functions as F

    import schematic_spark.functions.dedup as dd
    from schematic_spark.functions.text import shared_passage_pairs
    from schematic_spark.functions.dedup import (
        embedding_near_duplicates,
        minhash_lsh_candidates,
        ngram_contamination,
        simhash_near_duplicates,
    )
    from schematic_spark.functions import winnow_fingerprints

    sf = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    tmp = tempfile.mkdtemp(prefix="scale_ev_")
    docs = spark.read.parquet(f"{sf}/documents.parquet")
    big = (
        docs.crossJoin(
            spark.range(factor).select(F.col("id").alias("_rep"))
        )
        .select(
            F.concat_ws("_", "doc_id", "_rep").alias("doc_id"),
            "text", "lang", "source",
        )
    )
    # TWO files: reproduces the low-split shape that motivated
    # spread_for_compute, at 10x the rows
    big.repartition(2).write.mode("overwrite").parquet(f"{tmp}/docs2")
    # 64 files: the at-scale shape — spread must be a no-op
    big.repartition(64).write.mode("overwrite").parquet(f"{tmp}/docs64")
    d2 = spark.read.parquet(f"{tmp}/docs2")
    d64 = spark.read.parquet(f"{tmp}/docs64")
    n = d2.count()
    print(f"scale corpus: {n} docs, factor {factor}", flush=True)
    assert d64.rdd.getNumPartitions() >= 32
    from schematic_spark.sources import spread_for_compute
    assert spread_for_compute(d64) is d64, "spread must no-op at 64 splits"
    print("spread no-op at 64 splits: OK", flush=True)

    out = {}

    def ab(label, fn):
        for tag, df in (("2files_spread", d2), ("64files", d64)):
            t = time.time()
            fn(df)
            out[f"{label}:{tag}"] = round(time.time() - t, 3)
            print(f"{label}:{tag}: {out[f'{label}:{tag}']}", flush=True)
        # patch BOTH resolution points: dedup.py binds at import time,
        # text.py resolves from the layout module at call time
        import schematic_spark.sources.layout as lay

        orig_dd, orig_lay = dd.spread_for_compute, lay.spread_for_compute
        ident = lambda df, **k: df  # noqa: E731
        dd.spread_for_compute = ident
        lay.spread_for_compute = ident
        try:
            t = time.time()
            fn(d2)
            out[f"{label}:2files_nospread"] = round(time.time() - t, 3)
            print(
                f"{label}:2files_nospread: "
                f"{out[f'{label}:2files_nospread']}", flush=True,
            )
        finally:
            dd.spread_for_compute = orig_dd
            lay.spread_for_compute = orig_lay

    ab("simhash", lambda df: _noop(
        simhash_near_duplicates(df, "text", "doc_id", max_hamming=1)))
    ab("shared_passages", lambda df: _noop(
        shared_passage_pairs(df, "text", "doc_id", k=16, window=8,
                             min_shared=3, max_fp_group=100)))
    ab("contamination", lambda df: _noop(
        ngram_contamination(
            df.where(F.col("source") != "src0"),
            df.where(F.col("source") == "src0"), n=8,
            max_gram_group=100)))

    # winnow (spread always in the entry-query path)
    for tag, df in (("2files", d2), ("64files", d64)):
        t = time.time()
        _noop(winnow_fingerprints(
            spread_for_compute(df), "text", k=8, window=4))
        print(f"winnow:{tag}: {round(time.time() - t, 3)}", flush=True)

    t = time.time()
    cands = minhash_lsh_candidates(
        d64, "text", "doc_id", num_hashes=32, bands=16)
    n_cand = cands.count()
    print(
        f"minhash_lsh:64files: {round(time.time() - t, 3)} "
        f"candidates={n_cand} per_doc={n_cand / n:.3f}", flush=True,
    )
    # sampled-recall certification (r5 VERDICT #5): replica clones are
    # KNOWN near-duplicates (identical text ⇒ Jaccard 1.0), so banded
    # LSH must surface every sampled clone pair as a candidate — an
    # exact all-pairs oracle can't run at this size, a planted-truth
    # sample can. Docs shorter than one shingle are excluded (they
    # contribute no grams by contract).
    sample = (
        docs.where(F.length("text") > 50)
        .select("doc_id").limit(200)
        .select(
            F.concat_ws("_", "doc_id", F.lit("0")).alias("id_a"),
            F.concat_ws("_", "doc_id", F.lit("1")).alias("id_b"),
        )
        .select(
            F.least("id_a", "id_b").alias("id_a"),
            F.greatest("id_a", "id_b").alias("id_b"),
        )
    )
    n_sample = sample.count()
    n_found = sample.join(cands, ["id_a", "id_b"], "left_semi").count()
    print(
        f"minhash_sampled_recall: {n_found}/{n_sample} planted clone "
        f"pairs surfaced as candidates", flush=True,
    )

    # embedding LSH: 10x vectors + a planted 3000-member degenerate
    # cluster; the cap must bound candidate work (pairs among the hot
    # cluster would be ~4.5M uncapped)
    emb = spark.read.parquet(f"{sf}/embeddings.parquet")
    bigv = (
        emb.crossJoin(spark.range(factor).select(F.col("id").alias("_r")))
        .select(
            (F.col("vec_id") + F.col("_r") * 1_000_000).alias("vec_id"),
            F.col("embedding").cast("array<double>").alias("embedding"),
        )
    )
    hot = spark.range(3000).select(
        (F.col("id") + 50_000_000).alias("vec_id"),
        F.array([F.lit(1.0)] + [F.lit(0.0)] * 63)
        .cast("array<double>").alias("embedding"),
    )
    allv = bigv.unionByName(hot)
    allv.repartition(8).write.mode("overwrite").parquet(f"{tmp}/emb")
    allv = spark.read.parquet(f"{tmp}/emb")
    t = time.time()
    n_pairs = embedding_near_duplicates(
        allv, "embedding", "vec_id", threshold=0.95, n_planes=12,
        max_bucket_size=500,
    ).count()
    dt = round(time.time() - t, 3)
    hot_alive = embedding_near_duplicates(
        allv, "embedding", "vec_id", threshold=0.95, n_planes=12,
        max_bucket_size=500,
    ).where(F.col("id_a") >= 50_000_000).count()
    print(
        f"embedding_lsh_capped: {dt} pairs={n_pairs} "
        f"hot_cluster_pairs={hot_alive} (cap dropped the planted "
        f"3000-member bucket)", flush=True,
    )
    import shutil
    shutil.rmtree(tmp, ignore_errors=True)
    print(json.dumps(out))


def main():
    import bench

    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    n_docs = int(os.environ.get("BENCH_N_DOCS", "300000"))
    spark = bench.build_spark(cpus)
    spark.sparkContext.setLogLevel("ERROR")
    mode = sys.argv[1] if len(sys.argv) > 1 else "suite"
    if mode == "suite":
        suite_decomp(spark, n_docs)
    elif mode == "queries":
        names = sys.argv[2].split(",")
        repeats = int(sys.argv[3]) if len(sys.argv) > 3 else 3
        time_queries(spark, names, repeats)
    elif mode == "scale":
        factor = int(sys.argv[2]) if len(sys.argv) > 2 else 10
        scale_evidence(spark, factor)
    else:
        raise SystemExit(f"unknown mode {mode!r}")


if __name__ == "__main__":
    main()
