"""The workloads: what one iteration calls and how each call's
output is checked.

Every call goes through the library's public functions and returns a
small Python value; its check compares that value with DuckDB's answer
over the same parquet (``oracles.py``) and runs after the iteration,
outside the timed window.
"""

from __future__ import annotations

import inspect
import os
import shutil
from dataclasses import dataclass
from typing import Any, Callable

from pyspark.sql import functions as F

import inputs
import oracles

# input sizes, fixed so every run and every commit measures the same work
INTERLEAVED_DOCS = 100_000
N_MEDIA = 10_000
CURATE_DOCS = 700
CHECKPOINT_BUCKETS = 8
CHECKPOINT_COMMIT_EVERY = 4
FUNNEL_LANGS = ("en", "de", "fr", "es")


@dataclass
class Call:
    name: str
    fn: Callable[[], Any]
    check: Callable[[Any], str | None]  # an error message, or None


def _norm(v):
    return round(v, 6) if isinstance(v, float) else v


def _same_rows(rows, expected: dict, columns=None) -> str | None:
    """Order-insensitive equality of Spark rows and an oracle result,
    over ``columns`` (default: all of the oracle's)."""
    columns = columns or expected["columns"]
    idx = [expected["columns"].index(c) for c in columns]
    want = sorted({tuple(_norm(r[i]) for i in idx)
                   for r in expected["rows"]}, key=repr)
    got = sorted({tuple(_norm(r[c]) for c in columns) for r in rows},
                 key=repr)
    if len(rows) != len(expected["rows"]) and columns == expected["columns"]:
        return f"{len(rows)} rows, expected {len(expected['rows'])}"
    if got != want:
        return f"rows differ: got {got[:4]}..., expected {want[:4]}..."
    return None


def _equal(what: str, got, want) -> str | None:
    return None if got == want else f"{what}: got {got!r}, expected {want!r}"


class Workload:
    name = ""
    n_docs = 0
    # Untimed runs of each call, the cold one included. The JIT keeps
    # speeding the calls up for 15 or more runs, which no run can afford
    # to wait out, so the warm-up stops where the steepest part of the
    # curve ends, and the rest of the time goes to the timed window.
    warmup_runs: int

    def __init__(self, cores: int):
        self.cores = cores

    def prepare(self, work: str, seed: int) -> None:
        """Make (or reuse) this seed's inputs and expected outputs."""
        raise NotImplementedError

    def open(self, spark) -> None:
        """Open the inputs in a fresh session (part of set-up)."""
        raise NotImplementedError

    def calls(self, traced: bool) -> list[Call]:
        """The calls of one iteration."""
        raise NotImplementedError

    def after_iteration(self) -> dict:
        """Facts read after an iteration, outside the timed window."""
        return {}

    def extra_counts(self, spark) -> dict:
        """Counts the traced run takes once, outside any iteration."""
        return {}


class ValidateSuite(Workload):
    """``run_fused_suite`` over the interleaved corpus. The traced run
    adds the classic one-job-per-check calls before it, and after it a
    checkpointed validation run into a fresh table root, its resume
    (which must skip every bucket) and the pass/fail read."""
    name = "validate_suite"
    n_docs = INTERLEAVED_DOCS
    # run_fused_suite then sits at 2.0-2.2 s until a second drop, which
    # came anywhere from its 9th to its 15th run; the timed window ends
    # before it
    warmup_runs = 3

    def prepare(self, work, seed):
        self.path = inputs.materialize(
            # one file per core, so the scan is never single-split
            work, "interleaved", seed, self.n_docs, self.cores,
            inputs.build_interleaved(self.n_docs, seed, N_MEDIA,
                                     self.cores))
        self.expected = oracles.cached(self.path,
                                       oracles.interleaved_expected)
        self.ckpt_dir = f"{work}/checkpoints/{os.getpid()}"
        self.iteration = 0
        self.root = None

    def open(self, spark):
        self.spark = spark
        self.docs = spark.read.parquet(f"{self.path}/docs")
        self.base = spark.read.parquet(f"{self.path}/base")
        self.media = spark.read.parquet(f"{self.path}/media")

    def _verdicts(self, got) -> str | None:
        return _equal("verdict counts", dict(got), self.expected["verdicts"])

    def _fused(self):
        from schematic_spark.generator import INTERLEAVED_SPEC
        from schematic_spark.suite import run_fused_suite

        return run_fused_suite(
            self.docs, self.base, self.media, INTERLEAVED_SPEC,
            kind_values=("text", "media", "bogus"),
            ks_lo=0, ks_hi=16, ks_buckets=16, salt_buckets=64,
        )

    def _check_fused(self, rep) -> str | None:
        e = self.expected
        return (self._verdicts(rep.verdicts)
                or _equal("violations", rep.n_violations, e["n_violations"])
                or _equal("duplicate keys", rep.n_dup_keys, e["n_dup_keys"])
                or _equal("dangling refs", rep.n_dangling, e["n_dangling"])
                or _equal("non-monotonic docs", rep.n_non_monotonic,
                          e["n_non_monotonic"]))

    def calls(self, traced):
        fused = Call("fused", self._fused, self._check_fused)
        if not traced:
            return [fused]
        return [*self._classic_calls(), fused, *self._checkpoint_calls()]

    def _classic_calls(self) -> list[Call]:
        from schematic_spark.generator import (
            INTERLEAVED_SPEC, exploded_spans, non_monotonic_docs,
        )
        from schematic_spark.suite import (
            chi2_drift, column_stats, dangling_rows, duplicate_keys_salted,
            ks_drift,
        )
        from schematic_spark.validation import validate

        docs, e = self.docs, self.expected
        state = {}

        def build():
            state["res"] = validate(docs, INTERLEAVED_SPEC)
            return state["res"]

        def summary():
            return {r["verdict"]: r["n_rows"]
                    for r in state["res"].summary().collect()}

        def stats():
            return column_stats(docs).collect()

        def check_stats(rows):
            return _equal("column stats rows",
                          sorted((r["column"], r["n_rows"]) for r in rows),
                          [("doc_id", e["n_docs"]), ("spans", e["n_docs"])])

        def referential():
            spans = exploded_spans(docs).where(F.col("media_ref").isNotNull())
            return dangling_rows(spans, self.media, "media_ref",
                                 broadcast=True).count()

        def drift():
            ks = ks_drift(docs.select(F.size("spans").alias("n")),
                          self.base.select(F.size("spans").alias("n")),
                          "n", lo=0, hi=16, n_buckets=16)
            chi = chi2_drift(exploded_spans(docs).select("kind"),
                             exploded_spans(self.base).select("kind"),
                             "kind")
            return ks.statistic, chi.statistic

        def check_drift(stats_):
            ks, chi = stats_
            ok = 0.0 <= ks <= 1.0 and chi >= 0.0
            return None if ok else f"drift statistics out of range: {stats_}"

        return [
            Call("validate", build,
                 lambda r: None if r is not None else "no result"),
            Call("summary", summary, self._verdicts),
            Call("column_stats", stats, check_stats),
            Call("uniqueness",
                 lambda: duplicate_keys_salted(docs, "doc_id",
                                               salt_buckets=64).count(),
                 lambda n: _equal("duplicate keys", n, e["n_dup_keys"])),
            Call("referential", referential,
                 lambda n: _equal("dangling refs", n, e["n_dangling"])),
            Call("drift", drift, check_drift),
            Call("span_order", lambda: non_monotonic_docs(docs).count(),
                 lambda n: _equal("non-monotonic docs", n,
                                  e["n_non_monotonic"])),
        ]

    def _checkpoint_calls(self) -> list[Call]:
        from schematic_spark.generator import INTERLEAVED_SPEC
        from schematic_spark.sources.checkpoint import (
            partition_passfail, run_validation_checkpointed,
        )
        from schematic_spark.sources.table_format import ParquetDirFormat

        self.iteration += 1
        self.root = f"{self.ckpt_dir}/{self.iteration}"
        fmt = ParquetDirFormat(self.root)
        e = self.expected
        buckets = list(range(CHECKPOINT_BUCKETS))

        def run():
            return run_validation_checkpointed(
                self.spark, self.docs, INTERLEAVED_SPEC, fmt,
                n_buckets=CHECKPOINT_BUCKETS,
                commit_every=CHECKPOINT_COMMIT_EVERY)

        def check_run(out):
            return (_equal("processed buckets", out["processed_buckets"],
                           buckets)
                    or self._verdicts(out["totals"]))

        def check_resume(out):
            return (_equal("resumed buckets", out["processed_buckets"], [])
                    or _equal("skipped buckets", out["skipped_buckets"],
                              buckets))

        def check_passfail(rows):
            bad = e["verdicts"].get("ValidationError", 0)
            return (_equal("pass/fail partitions", len(rows), len(buckets))
                    or _equal("pass/fail rows", sum(r["n_rows"] for r in rows),
                              e["n_docs"])
                    or _equal("pass/fail bad rows",
                              sum(r["n_bad_rows"] for r in rows), bad)
                    or _equal("pass/fail violations",
                              sum(r["n_violations"] for r in rows),
                              e["n_violations"]))

        return [
            Call("checkpoint_run", run, check_run),
            Call("checkpoint_resume", run, check_resume),
            Call("checkpoint_passfail",
                 lambda: partition_passfail(self.spark, fmt).collect(),
                 check_passfail),
        ]

    def after_iteration(self):
        if self.root is None:
            return {}
        files = size = 0
        for dirpath, _, names in os.walk(self.root):
            for n in names:
                files += 1
                size += os.path.getsize(os.path.join(dirpath, n))
        shutil.rmtree(self.root, ignore_errors=True)
        self.root = None
        return {"files_written": files, "bytes_per_doc": size / self.n_docs}


class CurateText(Workload):
    """Text-curation calls over a single-file documents corpus. The
    untraced iteration runs four of them, one per layer: MinHash
    (``functions.dedup``), shared passages and exact duplicates on
    ``normalized_text`` (``functions.text``) and media features
    (``functions.media``, the Python/Arrow boundary). The traced
    iteration runs all eight. All eight made a run too long for the
    time budget, and no steadier."""
    name = "curate_text"
    n_docs = CURATE_DOCS
    untraced_calls = ("minhash", "shared_passages", "exact", "features")
    # with three, most runs' iterations still stepped down from 2.9-3.5 s
    # to 2.4-3.0 s on their sixth or seventh run, inside the timed window
    warmup_runs = 7

    def prepare(self, work, seed):
        self.path = inputs.materialize(
            work, "documents", seed, self.n_docs, 1,
            inputs.build_documents(self.n_docs, seed))
        self.expected = oracles.cached(self.path, oracles.documents_expected)

    def open(self, spark):
        self.spark = spark
        self.docs = spark.read.parquet(f"{self.path}/documents")

    def _minhash_pairs(self):
        from schematic_spark.functions import minhash_near_duplicates

        return minhash_near_duplicates(
            self.docs, "text", "doc_id", threshold=0.6, num_hashes=32,
            bands=16)

    def calls(self, traced):
        from schematic_spark.functions import (
            char_entropy, extract_features, lang_id, media_from_documents,
            ngram_contamination, normalized_text, quality_score,
            repetition_features, resize_media, shared_passage_pairs,
            simhash_near_duplicates,
        )

        docs, e = self.docs, self.expected
        n = F.count(F.lit(1))

        def check(key, columns=None):
            return lambda rows: _same_rows(rows, e[key], columns)

        def minhash():
            return self._minhash_pairs().groupBy(
                F.round("jaccard", 1).alias("jaccard_bucket")
            ).agg(n.alias("n_pairs")).collect()

        def simhash():
            # the Catalyst signature is the one the oracle recomputes;
            # pass the switch only while the library still has one
            params = inspect.signature(simhash_near_duplicates).parameters
            kw = {"catalyst": True} if "catalyst" in params else {}
            return simhash_near_duplicates(
                docs, "text", "doc_id", max_hamming=1, **kw
            ).groupBy("hamming").agg(n.alias("n_pairs")).collect()

        def shared():
            return shared_passage_pairs(
                docs, "text", "doc_id", k=16, window=8, min_shared=3,
                max_fp_group=100).collect()

        def contamination():
            src0 = F.col("source") == "src0"
            return ngram_contamination(
                docs.where(~src0), docs.where(src0), n=8, max_gram_group=100,
            ).groupBy("corpus_id").agg(
                n.alias("n_bench_docs"),
                F.sum("n_shared").cast("long").alias("n_shared_grams"),
            ).collect()

        def exact():
            return (docs.select(normalized_text("text").alias("norm"))
                    .groupBy("norm").agg(n.alias("n_docs"))
                    .where(F.col("n_docs") > 1)
                    .select("n_docs",
                            F.substring("norm", 1, 40).alias("norm_prefix"))
                    .collect())

        def signals():
            rep = repetition_features("text")
            reason = (
                F.when(~F.col("lang").isin(*FUNNEL_LANGS), F.lit("lang"))
                .when(F.round(quality_score("text"), 6) < 0.81,
                      F.lit("quality"))
                .when(F.round(rep["top_word_share"], 5) > 0.13,
                      F.lit("repetition"))
                .when(F.round(char_entropy("text"), 5) < 2.75,
                      F.lit("entropy"))
                .otherwise(F.lit("kept")))

            def flag(v):
                name = "n_kept" if v == "kept" else f"n_drop_{v}"
                return F.sum((F.col("reason") == v).cast("long")).alias(name)

            funnel = docs.select("lang", reason.alias("reason")).groupBy(
                "lang").agg(n.alias("n_total"), flag("lang"),
                            flag("quality"), flag("repetition"),
                            flag("entropy"), flag("kept")).collect()
            langs = docs.select("lang", lang_id("text").alias("lang_pred")) \
                .groupBy("lang", "lang_pred").agg(n.alias("n")).collect()
            return funnel, langs

        def check_signals(out):
            return (_same_rows(out[0], e["curation_funnel_documents"])
                    or _same_rows(out[1], e["lang_pred_documents"]))

        def features():
            return extract_features(media_from_documents(docs)).groupBy(
                "kind").agg(
                n.alias("n"),
                F.sum(F.col("decode_ok").cast("long")).alias("n_ok"),
                F.round(F.avg("n_bytes"), 4).alias("avg_bytes"),
            ).collect()

        def resize():
            return resize_media(media_from_documents(docs), 64, 32).groupBy(
                "kind").agg(
                n.alias("n"),
                F.sum(F.octet_length("payload")).alias("payload_bytes"),
            ).collect()

        calls = [
            Call("minhash", minhash, check("minhash_near_dups_documents")),
            Call("simhash", simhash, check("simhash_documents")),
            Call("shared_passages", shared,
                 check("shared_passages_documents")),
            Call("contamination", contamination, check("contamination_src0")),
            Call("exact", exact, check("exact_dup_groups_documents")),
            Call("signals", signals, check_signals),
            Call("features", features, check("media_features")),
            Call("resize", resize,
                 check("media_resize_frames", ["kind", "n", "payload_bytes"])),
        ]
        return calls if traced else [c for c in calls
                                     if c.name in self.untraced_calls]

    def extra_counts(self, spark):
        from schematic_spark.functions import minhash_lsh_candidates

        spark.sparkContext.setJobDescription(
            "bench:curate_text:minhash_candidates")
        try:
            cands = minhash_lsh_candidates(
                self.docs, "text", "doc_id", num_hashes=32, bands=16).count()
        finally:
            spark.sparkContext.setJobDescription(None)
        return {"minhash_candidates": cands}


WORKLOADS = {w.name: w for w in (ValidateSuite, CurateText)}
