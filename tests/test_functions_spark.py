"""Training-pipeline operator tests: text analysis, dedup, similarity,
media plumbing. Uses real driver testdata at sf0.001 where applicable."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from schematic_spark.functions import (
    bpe_ish_token_count,
    cosine_topk,
    drop_exact_duplicates,
    embedding_near_duplicates,
    exact_duplicate_groups,
    extract_features,
    ivf_topk,
    lang_id,
    lsh_topk,
    minhash_near_duplicates,
    ngram_contamination,
    quality_features,
    quality_score,
    simhash_catalyst,
    shared_passage_pairs,
    simhash_near_duplicates,
    synthetic_media,
    train_centroids,
    whitespace_token_count,
    with_text_analysis,
)

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def documents(spark):
    return spark.read.parquet(f"{SF_DIR}/documents.parquet").cache()


@pytest.fixture(scope="module")
def embeddings(spark):
    return spark.read.parquet(f"{SF_DIR}/embeddings.parquet").cache()


class TestTextAnalysis:
    def test_token_counts(self, spark):
        df = spark.createDataFrame(
            [("hello world",), ("  a  b   c ",), ("",), (None,),
             ("don't stop-me now!",)],
            "t string",
        )
        rows = df.select(
            whitespace_token_count("t").alias("ws"),
            bpe_ish_token_count("t").alias("bpe"),
        ).collect()
        assert [r["ws"] for r in rows] == [2, 3, 0, None, 3]
        # don ' t stop - me now ! → 8 BPE-ish pieces
        assert rows[4]["bpe"] == 8
        assert rows[2]["bpe"] == 0

    def test_quality(self, spark):
        df = spark.createDataFrame(
            [("The quick brown fox jumps over the lazy dog and runs on.",),
             ("#$%1234!!!@@@ 9999 ***",)],
            "t string",
        )
        rows = df.select(
            quality_score("t").alias("q"),
            quality_features("t").alias("f"),
        ).collect()
        assert rows[0]["q"] > 0.55
        assert rows[1]["q"] < 0.35
        assert rows[0]["f"]["stopword_ratio"] > 0.2

    def test_lang_id(self, spark):
        df = spark.createDataFrame([
            ("the cat sat on the mat and it is warm",),
            ("der hund ist nicht in das haus und die katze",),
            ("le chat est dans la maison pour les amis",),
            ("xyzzy plugh 12345",),
        ], "t string")
        got = [r[0] for r in df.select(lang_id("t")).collect()]
        assert got == ["en", "de", "fr", "und"]

    def test_with_text_analysis_on_documents(self, documents):
        out = with_text_analysis(documents, "text")
        row = out.first()
        assert row["n_tokens"] > 0
        assert 0.0 <= row["quality_score"] <= 1.0
        assert out.count() == documents.count()


class TestExactDedup:
    def test_groups_and_drop(self, spark):
        df = spark.createDataFrame([
            (1, "Hello, World!"),
            (2, "hello world"),        # same normalized content
            (3, "something else"),
            (4, "HELLO   world."),     # same again
        ], "doc_id long, text string")
        groups = exact_duplicate_groups(df).collect()
        assert len(groups) == 1
        assert groups[0]["n_docs"] == 3
        kept = drop_exact_duplicates(df)
        assert kept.count() == 2
        assert {r["doc_id"] for r in kept.collect()} == {1, 3}

    def test_large_group_lists_smallest_ids(self, spark):
        """A group larger than 20 lists its 20 smallest ids, ascending,
        whatever order the rows arrive in across partitions."""
        ids = list(range(100, 125))[::-1]
        df = spark.createDataFrame(
            [(i, "same text") for i in ids] + [(1, "other")],
            "doc_id long, text string",
        ).repartition(5)
        (row,) = exact_duplicate_groups(df).collect()
        assert row["n_docs"] == 25
        assert row["doc_ids"] == list(range(100, 120))


def _unrolled_signature(hs, num_hashes, seed):
    """The reference MinHash signature: one ``array_min`` Column per
    hash function, as it was first written."""
    return F.array(*[
        F.array_min(F.transform(
            hs, lambda h: F.xxhash64(h, F.lit(seed * 1000 + i))))
        for i in range(num_hashes)
    ])


def _unrolled_band_rows(hashed, num_hashes, bands, seed):
    """The reference band rows: one struct per band, one signature
    element Column per row of the band."""
    r = num_hashes // bands
    sig = hashed.select(
        "doc_id", _unrolled_signature(F.col("hs"), num_hashes, seed)
        .alias("_sig"))
    return sig.select("doc_id", F.explode(F.array(*[
        F.struct(
            F.lit(b).alias("band"),
            F.xxhash64(F.concat_ws(",", *[
                F.col("_sig")[b * r + j].cast("string") for j in range(r)
            ])).alias("bucket"),
        )
        for b in range(bands)
    ])).alias("bb")).select("doc_id", "bb.band", "bb.bucket")


def _round_trips(spark, build) -> int:
    """py4j commands this thread sends while ``build()`` runs; the
    finalizer thread's object releases are not counted."""
    import threading

    client = spark.sparkContext._gateway._gateway_client
    send, me, n = client.send_command, threading.get_ident(), [0]

    def counted(*args, **kwargs):
        n[0] += threading.get_ident() == me
        return send(*args, **kwargs)

    client.send_command = counted
    try:
        build()
    finally:
        del client.send_command
    return n[0]


def _ref_dot_lit(vec, plane):
    """The reference dot product against a constant: one ``F.lit``
    Column per element, as it was first written."""
    arr = F.array(*[F.lit(float(w)) for w in plane])
    return F.aggregate(
        F.zip_with(vec, arr, lambda x, y: x.cast("double") * y),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def _ref_hyperplane_signature(vec, *, dim, n_planes, seed):
    """The reference bucket id: one Column per plane, ``sig + bit *
    2^b`` unrolled."""
    planes = np.random.RandomState(seed).randn(n_planes, dim)
    sig = F.lit(0)
    for b in range(n_planes):
        bit = (_ref_dot_lit(vec, planes[b]) >= 0).cast("int")
        sig = sig + bit * F.lit(1 << b)
    return sig


def _ref_cosine_to_query(vec, query):
    q = np.asarray(query, dtype=float)
    qn = float(np.linalg.norm(q)) or 1e-12
    vn = F.sqrt(F.aggregate(
        vec, F.lit(0.0),
        lambda acc, v: acc + v.cast("double") * v.cast("double"),
    ))
    return _ref_dot_lit(vec, q) / (F.greatest(vn, F.lit(1e-12)) * F.lit(qn))


def _ref_ivf_assign(vec, centroids):
    """The reference assignment: one distance fold and one struct per
    centroid, guarded on the first centroid's distance."""
    dists = [
        F.aggregate(
            F.zip_with(
                vec, F.array(*[F.lit(float(w)) for w in c]),
                lambda x, y: (x.cast("double") - y) * (x.cast("double") - y),
            ),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
        for c in centroids
    ]
    pairs = F.array(*[
        F.struct(d.alias("d"), F.lit(i).alias("i"))
        for i, d in enumerate(dists)
    ])
    return F.when(
        vec.isNotNull() & dists[0].isNotNull(), F.array_min(pairs)["i"]
    )


def _bits(row) -> tuple:
    """A row with every double as its exact bit pattern (``-0.0`` and
    ``0.0`` differ)."""
    return tuple(v.hex() if isinstance(v, float) else v for v in row)


# NULL, empty and whitespace-only text; 1, 2, 3 and more tokens;
# repeated shingles; an exact duplicate
EDGE_DOCS = [
    (1, None), (2, ""), (3, "  \t "), (4, "one"), (5, "one two"),
    (6, "one two three"), (7, "a b a b a b a b"),
    (8, "the quick brown fox jumps over the lazy dog again"),
    (9, "the quick brown fox jumps over the lazy dog again"),
    (10, "The quick, brown fox jumps over the lazy cat again!"),
]


class TestMinHash:
    @pytest.mark.parametrize("num_hashes,bands,seed", [
        (32, 16, 42), (128, 32, 42),
        (32, 8, 2_147_484),  # seeds past int32 are hashed as longs
    ])
    def test_fold_matches_unrolled_reference(
        self, spark, num_hashes, bands, seed
    ):
        """The one-fold signature and the one-transform band keys give
        the unrolled formulas' arrays, types and (band, bucket) rows."""
        from schematic_spark.functions import minhash_signature
        from schematic_spark.functions.dedup import (
            _band_rows, shingles_from_tokens, tokens_column,
        )

        docs = spark.createDataFrame(EDGE_DOCS, "doc_id long, text string")
        hashed = docs.select(
            "doc_id", tokens_column("text").alias("_tok")
        ).select("doc_id", F.transform(
            shingles_from_tokens(F.col("_tok")), lambda s: F.xxhash64(s)
        ).alias("hs")).unionByName(spark.createDataFrame(
            [(11, None), (12, [])], "doc_id long, hs array<bigint>"))
        got, ref = (
            hashed.select("doc_id", sig(F.col("hs"), num_hashes, seed)
                          .alias("sig"))
            for sig in (minhash_signature, _unrolled_signature)
        )
        assert got.schema == ref.schema
        rows = sorted(got.collect())
        assert rows == sorted(ref.collect())
        assert rows[-1]["sig"] == rows[-2]["sig"] == [None] * num_hashes

        bands_got = _band_rows(
            docs, "text", "doc_id", num_hashes, bands, 3, seed)
        bands_ref = _unrolled_band_rows(
            hashed.where("doc_id <= 10"), num_hashes, bands, seed)
        assert bands_got.schema == bands_ref.schema
        assert sorted(bands_got.collect()) == sorted(bands_ref.collect())

    def test_build_cost_does_not_grow_with_hashes(self, spark):
        """Building the query costs the same py4j round trips at 128
        hashes and 32 bands as at 32 and 16 (an unrolled signature
        costs thousands more)."""
        docs = spark.createDataFrame([(1, "a b c")], "doc_id long, text string")
        minhash_near_duplicates(docs)  # first build resolves JVM members
        small, large = (
            _round_trips(spark, lambda: minhash_near_duplicates(
                docs, num_hashes=n, bands=b))
            for n, b in ((32, 16), (128, 32))
        )
        assert abs(large - small) <= 20, (small, large)

    def test_near_duplicates(self, spark):
        base = (
            "the quick brown fox jumps over the lazy dog while the sun "
            "slowly sets behind distant purple mountains tonight"
        )
        near = base.replace("slowly", "quickly")  # 1-word edit
        far = "completely different content about databases and queries " \
              "with nothing shared at all in any way whatsoever here"
        df = spark.createDataFrame(
            [(1, base), (2, near), (3, far), (4, base)],
            "doc_id long, text string",
        )
        pairs = minhash_near_duplicates(
            df, threshold=0.5, num_hashes=32, bands=16
        ).collect()
        got = {(r["id_a"], r["id_b"]) for r in pairs}
        assert (1, 4) in got           # identical
        assert (1, 2) in got or (2, 4) in got  # near
        assert all(3 not in p for p in got)    # far never pairs

    def test_jaccard_exact_value(self, spark):
        df = spark.createDataFrame(
            [(1, "a b c d e"), (2, "a b c d e")],
            "doc_id long, text string",
        )
        pairs = minhash_near_duplicates(df, threshold=0.99).collect()
        assert len(pairs) == 1 and pairs[0]["jaccard"] == 1.0


class TestSimHash:
    def test_signature_deterministic(self, spark):
        df = spark.createDataFrame([("hello world foo bar",)], "t string")
        a = df.select(simhash_catalyst("t")).first()[0]
        b = df.select(simhash_catalyst("t")).first()[0]
        assert a == b != 0

    def test_near_duplicates(self, spark):
        words = ("alpha beta gamma delta epsilon zeta eta theta iota "
                 "kappa lambda mu nu xi omicron pi rho sigma tau upsilon")
        near = words.replace("sigma", "sigmoid")
        far = "one two three four five six seven eight nine ten " \
              "eleven twelve thirteen fourteen fifteen sixteen"
        df = spark.createDataFrame(
            [(1, words), (2, near), (3, far)], "doc_id long, text string"
        )
        pairs = simhash_near_duplicates(df, max_hamming=12).collect()
        got = {(r["id_a"], r["id_b"]): r["hamming"] for r in pairs}
        assert (1, 2) in got
        assert got[(1, 2)] <= 12


class TestSimilarity:
    def test_topk_exact(self, embeddings):
        q = [float(x) for x in embeddings.first()["embedding"]]
        exact = cosine_topk(embeddings, q, k=10).collect()
        assert exact[0]["cosine"] >= 0.999  # itself
        cos = [r["cosine"] for r in exact]
        assert cos == sorted(cos, reverse=True)

    def test_lsh_finds_planted_neighbors(self, spark):
        # random vectors are genuinely far apart (low cosine) so LSH
        # rightly skips them; recall is measured on PLANTED near-dups
        rng = np.random.RandomState(7)
        base = rng.randn(16)
        rows = [(0, [float(x) for x in base])]
        for i in range(1, 6):  # tight cluster around base
            rows.append(
                (i, [float(x) for x in base + rng.randn(16) * 0.05])
            )
        for i in range(6, 200):  # far-away noise
            rows.append((i, [float(x) for x in rng.randn(16)]))
        df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
        q = [float(x) for x in base]
        approx = lsh_topk(
            df, q, k=6, n_planes=10, probe_radius=1
        ).collect()
        got = {r["vec_id"] for r in approx}
        assert {0, 1, 2, 3, 4, 5} <= got | set(range(6))  # sanity
        assert len({0, 1, 2, 3, 4, 5} & got) >= 5  # high recall on cluster
        assert approx[0]["vec_id"] == 0

    def test_ivf(self, embeddings):
        cents = train_centroids(embeddings, n_centroids=8, sample=256)
        q = [float(x) for x in embeddings.first()["embedding"]]
        got = ivf_topk(embeddings, q, cents, k=5, n_probe=8).collect()
        # n_probe = all lists → identical to brute force
        exact = cosine_topk(embeddings, q, k=5).collect()
        assert [r["vec_id"] for r in got] == [r["vec_id"] for r in exact]

    def test_ivf_assign_null_vector_and_single_centroid(self, spark):
        """NULL embeddings must get a NULL assignment (the old
        when-chain fell through every NULL comparison to the LAST
        centroid, letting garbage rows into probed lists); a
        one-centroid quantizer must work (F.least used to need 2 args);
        and equal-distance ties go to the smallest centroid index."""
        from schematic_spark.functions.similarity import ivf_assign

        df = spark.createDataFrame(
            [(1, [0.0, 0.0]), (2, None), (3, [2.0, 0.0])],
            "vec_id long, embedding array<double>",
        )
        cents = np.array([[0.0, 0.0], [1.0, 0.0], [4.0, 0.0]])
        got = {
            r["vec_id"]: r["a"]
            for r in df.select(
                "vec_id",
                ivf_assign(F.col("embedding"), cents).alias("a"),
            ).collect()
        }
        # vec (2,0): dist² 4 to c0, 1 to c1, 4 to c2 → c1; the (c0,c2)
        # tie at the argmin level is not hit, but (0,0) ties nothing
        assert got == {1: 0, 2: None, 3: 1}
        one = df.where("embedding is not null").select(
            ivf_assign(F.col("embedding"), np.array([[9.0, 9.0]]))
            .alias("a")
        ).collect()
        assert [r["a"] for r in one] == [0, 0]

    def test_ivf_assign_mismatched_dim_and_null_element_are_null(
        self, spark
    ):
        """r5 ADVICE: a dim-mismatched (or NULL-element) vector NULLs
        every centroid distance, and a NULL `d` used to sort FIRST in
        the struct argmin — the row silently landed in centroid 0. Both
        must now assign NULL (and so be bucket-filtered out), like a
        NULL vector."""
        from schematic_spark.functions.similarity import ivf_assign

        df = spark.createDataFrame(
            [(1, [0.5]), (2, [0.5, None]), (3, [0.5, 0.5])],
            "vec_id long, embedding array<double>",
        )
        cents = np.array([[0.0, 0.0], [1.0, 1.0]])
        got = {
            r["vec_id"]: r["a"]
            for r in df.select(
                "vec_id",
                ivf_assign(F.col("embedding"), cents).alias("a"),
            ).collect()
        }
        assert got == {1: None, 2: None, 3: 0}

    @pytest.fixture(scope="class")
    def edge_vectors(self, spark):
        """Seeded dim-16 vectors plus a NULL vector, a NULL element, a
        short vector, signed zeros and an all-zero vector."""
        rng = np.random.RandomState(3)
        rows = [(i, [float(x) for x in rng.randn(16)]) for i in range(24)]
        rows += [
            (100, None),
            (101, [0.5] * 7 + [None] + [0.5] * 8),
            (102, [0.25] * 15),
            (103, [-0.0, 0.0] * 8),
            (104, [0.0] * 16),
            (105, [-0.0] + [float(x) for x in rng.randn(15)]),
        ]
        return spark.createDataFrame(
            rows, "vec_id long, embedding array<double>")

    def test_kernel_matches_unrolled_reference(self, spark, edge_vectors):
        """The one-literal signature, assignment and query cosine give
        the unrolled formulas' values and types, bit for bit."""
        from schematic_spark.functions import (
            cosine_to_query, hyperplane_signature, ivf_assign,
        )

        vec = F.col("embedding")
        rng = np.random.RandomState(11)
        query = [float(x) for x in rng.randn(16)]
        cents = {n: rng.randn(n, 16) for n in (1, 8)}
        cols = [("cos", cosine_to_query, _ref_cosine_to_query, (query,), {})]
        cols += [
            (f"sig{n}", hyperplane_signature, _ref_hyperplane_signature,
             (), {"dim": 16, "n_planes": n, "seed": 42})
            for n in (1, 12, 24, 32)
        ]
        cols += [(f"ivf{n}", ivf_assign, _ref_ivf_assign, (c,), {})
                 for n, c in cents.items()]
        got, ref = (
            edge_vectors.select("vec_id", *[
                fns[i](vec, *args, **kw).alias(name)
                for name, *fns, args, kw in cols
            ]).orderBy("vec_id")
            for i in (0, 1)
        )
        assert got.schema == ref.schema
        assert got.schema["sig32"].dataType.simpleString() == "bigint"
        assert got.schema["sig24"].dataType.simpleString() == "int"
        got_rows, ref_rows = got.collect(), ref.collect()
        assert [_bits(r) for r in got_rows] == [_bits(r) for r in ref_rows]
        edge = {r["vec_id"]: r for r in got_rows if r["vec_id"] >= 100}
        assert all(
            edge[i][c] is None
            for i in (100, 101, 102) for c, *_ in cols
        )
        assert edge[104]["sig12"] == (1 << 12) - 1  # 0 >= 0 on every plane

    @pytest.mark.parametrize("builder,small,large", [
        ("lsh", (12, 16), (24, 64)),
        ("ivf", (8, 64), (32, 64)),
    ])
    def test_build_cost_does_not_grow_with_width(
        self, spark, builder, small, large
    ):
        """Building an LSH or IVF query costs the same py4j round trips
        at 24 planes and dim 64 as at 12 planes and dim 16, and at 32
        centroids as at 8 (one literal per constant; one Column per
        element costs thousands more)."""
        df = spark.createDataFrame(
            [(1, [0.1] * 64)], "vec_id long, embedding array<double>")
        rng = np.random.RandomState(5)

        def build(width, dim):
            q = [float(x) for x in rng.randn(dim)]
            if builder == "lsh":
                return lsh_topk(df, q, n_planes=width)
            return ivf_topk(df, q, rng.randn(width, dim), n_probe=3)

        build(*small)  # first build resolves JVM members
        a, b = (_round_trips(spark, lambda: build(*w)) for w in (small, large))
        assert abs(b - a) <= 20, (a, b)

    def test_float_vectors_multiply_in_double(self, spark):
        """``dot`` and ``cosine_similarity`` on array<float> equal the
        same call on the column cast to array<double>."""
        from schematic_spark.functions import cosine_similarity, dot

        rng = np.random.RandomState(9)
        df = spark.createDataFrame(
            [(i, [float(x) for x in rng.randn(32)],
              [float(x) for x in rng.randn(32)]) for i in range(20)],
            "i long, a array<float>, b array<float>",
        )
        a, b = F.col("a"), F.col("b")
        ad, bd = a.cast("array<double>"), b.cast("array<double>")
        rows = df.select(
            dot(a, a).alias("d"), dot(ad, ad).alias("dd"),
            dot(a, b).alias("ab"), dot(ad, bd).alias("abd"),
            cosine_similarity(a, b).alias("c"),
            cosine_similarity(ad, bd).alias("cd"),
        ).collect()
        for r in rows:
            assert (r["d"], r["ab"], r["c"]) == (r["dd"], r["abd"], r["cd"])

    def test_full_probe_radius_is_brute_force(self, spark, edge_vectors):
        """A radius of ``n_planes`` keeps every bucket, so LSH returns
        the brute-force rows; a negative radius raises."""
        vecs = edge_vectors.where("vec_id < 100")
        q = [float(x) for x in np.random.RandomState(2).randn(16)]
        got = lsh_topk(vecs, q, k=8, n_planes=6, probe_radius=6).collect()
        assert got == cosine_topk(vecs, q, k=8).collect()
        with pytest.raises(ValueError, match="probe_radius"):
            lsh_topk(vecs, q, probe_radius=-1)

    def test_embedding_near_duplicates(self, spark):
        v = [float(x) for x in np.linspace(0.1, 1.0, 16)]
        v2 = [x * 1.001 for x in v]          # same direction
        v3 = [float(x) for x in np.linspace(1.0, 0.1, 16)]  # different
        df = spark.createDataFrame(
            [(1, v), (2, v2), (3, v3)],
            "vec_id long, embedding array<double>",
        )
        pairs = embedding_near_duplicates(
            df, threshold=0.999, n_planes=8
        ).collect()
        got = {(r["id_a"], r["id_b"]) for r in pairs}
        assert (1, 2) in got
        assert all(3 not in p for p in got)

    def test_embedding_near_duplicates_mega_bucket_capped(self, spark):
        """r5 VERDICT #2: a degenerate LSH bucket (here: many identical
        vectors, all hashing to one signature) must be DROPPED by
        ``max_bucket_size`` — not joined B²-style. A small clean pair
        elsewhere must still be found."""
        v = [float(x) for x in np.linspace(0.1, 1.0, 16)]
        hot = [(100 + i, [1.0] + [0.0] * 15) for i in range(8)]
        rows = [(1, v), (2, [x * 1.001 for x in v])] + hot
        df = spark.createDataFrame(
            rows, "vec_id long, embedding array<double>"
        )
        pairs = embedding_near_duplicates(
            df, threshold=0.999, n_planes=8, max_bucket_size=4,
        ).collect()
        got = {(r["id_a"], r["id_b"]) for r in pairs}
        # the planted 8-member bucket (> cap 4) contributes nothing
        assert all(a < 100 and b < 100 for a, b in got), got
        assert (1, 2) in got
        # sanity: uncapped, the hot cluster WOULD pair
        uncapped = embedding_near_duplicates(
            df, threshold=0.999, n_planes=8, max_bucket_size=500,
        ).collect()
        assert any(r["id_a"] >= 100 for r in uncapped)


class TestMedia:
    def test_plumbing(self, spark):
        media = synthetic_media(spark, 60)
        assert media.schema["payload"].dataType.simpleString() == "binary"
        feats = extract_features(media)
        rows = feats.collect()
        assert len(rows) == 60
        assert all(r["decode_ok"] for r in rows)
        assert all(len(r["feature"]) == 16 for r in rows)
        # deterministic across runs
        again = extract_features(synthetic_media(spark, 60)).collect()
        assert [r["feature"] for r in rows] == [r["feature"] for r in again]

    def test_strict_mode_raises(self, spark):
        media = synthetic_media(spark, 5)
        with pytest.raises(Exception, match="codec"):
            extract_features(media, strict=True).collect()

    def test_resize_updates_payload_and_meta(self, spark):
        from schematic_spark.functions import resize_media

        media = synthetic_media(spark, 30)
        out = resize_media(media, 64, 32)
        rows = {r["media_id"]: r for r in out.collect()}
        assert len(rows) == 30  # non-image rows pass through
        for r in rows.values():
            assert r["resize_error"] is None
            if r["kind"] == "image":
                assert len(r["payload"]) == 64 * 32 // 64
                assert r["meta"]["width"] == 64
                assert r["meta"]["height"] == 32
            else:  # untouched payload and meta
                assert r["meta"]["width"] is None

    def test_sample_frames_fan_out_and_quarantine(self, spark):
        from schematic_spark.functions import sample_frames

        media = synthetic_media(spark, 30)
        n_videos = media.where("kind = 'video'").count()
        frames = sample_frames(media, 4)
        rows = frames.collect()
        ok = [r for r in rows if r["frame_idx"] >= 0]
        assert len(ok) == n_videos * 4
        assert all(r["frame"] is not None and len(r["frame"]) >= 1
                   for r in ok)
        # deterministic
        again = sample_frames(synthetic_media(spark, 30), 4).collect()
        assert sorted((r["media_id"], r["frame_idx"], bytes(r["frame"]))
                      for r in rows if r["frame_idx"] >= 0) == \
               sorted((r["media_id"], r["frame_idx"], bytes(r["frame"]))
                      for r in again if r["frame_idx"] >= 0)

    def test_media_strict_resize_and_frames_raise(self, spark):
        from schematic_spark.functions import resize_media, sample_frames

        media = synthetic_media(spark, 6)
        with pytest.raises(Exception, match="codec"):
            resize_media(media, 8, 8, strict=True).collect()
        with pytest.raises(Exception, match="codec"):
            sample_frames(media, 2, strict=True).collect()


class TestSimhashRound2:
    def test_catalyst_simhash_matches_duckdb(self, spark):
        """The md5-based Catalyst signature is reproducible in DuckDB —
        the property the simhash oracle depends on."""
        import duckdb

        from schematic_spark.functions.dedup import simhash_catalyst

        texts = [
            ("d0", "the quick brown fox"),
            ("d1", "the quick brown fox jumps"),
            ("d2", "unrelated words entirely here"),
            ("d3", "The  Quick   Brown fox"),  # case/space-insensitive twin
        ]
        df = spark.createDataFrame(texts, "doc_id string, text string")
        got = {
            r["doc_id"]: r["sig"]
            for r in df.select(
                "doc_id", simhash_catalyst("text").alias("sig")
            ).collect()
        }
        con = duckdb.connect()
        con.execute("CREATE TABLE t AS SELECT * FROM (VALUES "
                    + ",".join(f"('{k}', '{v}')" for k, v in texts)
                    + ") AS t(doc_id, text)")
        rows = con.execute("""
            WITH toks AS (
              SELECT doc_id, unnest(list_filter(
                regexp_split_to_array(lower(trim(text)), '\\s+'),
                x -> x <> '')) AS tok
              FROM t),
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
              GROUP BY doc_id, b)
            SELECT doc_id,
                   CAST(sum(CASE WHEN 2 * ones > n
                            THEN (CAST(1 AS BIGINT) << b)
                            ELSE 0 END) AS BIGINT) AS sig
            FROM bits GROUP BY doc_id
        """).fetchall()
        want = dict(rows)
        assert got == want
        assert got["d0"] == got["d3"]  # normalization twin
        assert got["d0"] != got["d2"]

    def test_catalyst_near_dups(self, spark):
        from schematic_spark.functions.dedup import simhash_near_duplicates

        df = spark.createDataFrame(
            [("a", "alpha beta gamma delta epsilon zeta"),
             ("b", "alpha beta gamma delta epsilon zeta"),  # identical
             ("c", "totally different content over here now")],
            "doc_id string, text string",
        )
        pairs = simhash_near_duplicates(
            df, "text", "doc_id", max_hamming=1
        ).collect()
        assert [(p["id_a"], p["id_b"], p["hamming"]) for p in pairs] == [
            ("a", "b", 0)
        ]

    def test_tokenless_docs_never_pair(self, spark):
        """Empty, whitespace-only and NULL texts have no tokens; their
        degenerate all-zero signature must not pair them at Hamming 0."""
        df = spark.createDataFrame(
            [("e1", ""), ("e2", ""), ("w1", "   "), ("w2", "\t \n"),
             ("n1", None), ("n2", None),
             ("a", "alpha beta gamma"), ("b", "alpha beta gamma")],
            "doc_id string, text string",
        )
        pairs = simhash_near_duplicates(
            df, "text", "doc_id", max_hamming=3
        ).collect()
        assert [(p["id_a"], p["id_b"]) for p in pairs] == [("a", "b")]


class TestNearDupComponents:
    def test_components_and_drop(self, spark):
        from schematic_spark.functions import (
            drop_near_duplicates,
            near_duplicate_components,
        )

        # graph: {1-2, 2-3} one chain; {7-8} a pair; 5 isolated (no pair)
        pairs = spark.createDataFrame(
            [(1, 2), (2, 3), (7, 8)], "id_a long, id_b long"
        )
        comp = {
            r["id"]: r["component"]
            for r in near_duplicate_components(pairs).collect()
        }
        assert comp == {1: 1, 2: 1, 3: 1, 7: 7, 8: 7}

        docs = spark.createDataFrame(
            [(i, f"t{i}") for i in (1, 2, 3, 5, 7, 8)],
            "doc_id long, text string",
        )
        kept = sorted(
            r["doc_id"] for r in drop_near_duplicates(docs, pairs).collect()
        )
        assert kept == [1, 5, 7]  # min per component + untouched doc

    def test_long_chain_converges_via_pointer_doubling(self, spark):
        """A 41-node path (diameter 40) would need 40 rounds under pure
        min-label propagation; pointer doubling must close it within the
        default max_iter=12 (needs ~log2(40) ≈ 6 rounds)."""
        from schematic_spark.functions import near_duplicate_components

        pairs = spark.createDataFrame(
            [(i, i + 1) for i in range(40)], "id_a long, id_b long"
        )
        comp = {
            r["id"]: r["component"]
            for r in near_duplicate_components(
                pairs, driver_threshold=0  # force the distributed path
            ).collect()
        }
        assert comp == {i: 0 for i in range(41)}

    def test_distributed_path_keeps_only_the_result_checkpoint(
        self, spark, session_state
    ):
        """Each round's localCheckpoint is unpersisted once the next one
        has materialized: the one persisted RDD left behind backs the
        returned labels, and no plan is cached."""
        from schematic_spark.functions import near_duplicate_components

        pairs = spark.createDataFrame(
            [(i, i + 1) for i in range(40)], "id_a long, id_b long"
        )
        comp = near_duplicate_components(pairs, driver_threshold=0)
        rdds, cached = session_state.held()
        assert (len(rdds), cached) == (1, False), rdds
        checkpoint = comp._jdf.queryExecution().analyzed().child().rdd()
        assert rdds == [checkpoint.id()]
        assert {r["component"] for r in comp.collect()} == {0}

    def test_nonconvergence_raises_not_silent(self, spark):
        """max_iter too small must RAISE, never return split components
        (distributed path — the driver path is always exact)."""
        import pytest

        from schematic_spark.functions import near_duplicate_components

        pairs = spark.createDataFrame(
            [(i, i + 1) for i in range(30)], "id_a long, id_b long"
        )
        with pytest.raises(RuntimeError, match="did not converge"):
            near_duplicate_components(
                pairs, max_iter=2, driver_threshold=0
            ).collect()

    def test_null_ids_excluded_not_crashing(self, spark):
        """NULL ids can't join an identity-keyed cluster: both paths
        must drop the NULL endpoints instead of crashing (driver
        union-find compared None) or silently diverging."""
        from schematic_spark.functions import near_duplicate_components

        pairs = spark.createDataFrame(
            [(1, 2), (None, 5), (7, None)], "id_a long, id_b long"
        )
        for thr in (500_000, 0):
            comp = {
                r["id"]: r["component"]
                for r in near_duplicate_components(
                    pairs, driver_threshold=thr
                ).collect()
            }
            assert comp == {1: 1, 2: 1}, (thr, comp)

    def test_driver_and_distributed_paths_agree(self, spark):
        """The union-find fast path and the pointer-doubling fixpoint
        are two strategies for ONE semantics — random graphs must
        produce identical (id, component) maps."""
        import random

        from schematic_spark.functions import near_duplicate_components

        rng = random.Random(13)
        edges = list({
            tuple(sorted(rng.sample(range(120), 2))) for _ in range(150)
        })
        pairs = spark.createDataFrame(edges, "id_a long, id_b long")
        small = {
            r["id"]: r["component"]
            for r in near_duplicate_components(pairs).collect()
        }
        dist = {
            r["id"]: r["component"]
            for r in near_duplicate_components(
                pairs, driver_threshold=0
            ).collect()
        }
        assert small == dist and len(small) > 0


class TestWinnowing:
    @staticmethod
    def _py_winnow(text, k=8, w=4):
        import hashlib
        import re as _re

        norm = _re.sub(r"\s+", " ", _re.sub(
            r"[^\w\s]", "", text.lower(), flags=_re.ASCII),
            flags=_re.ASCII).strip()
        hs = [
            int(hashlib.md5(norm[i:i + k].encode()).hexdigest()[:15], 16)
            for i in range(max(len(norm) - k + 1, 0))
        ]
        if not hs:
            return set()
        if len(hs) < w:
            return {min(hs)}
        return {min(hs[j:j + w]) for j in range(len(hs) - w + 1)}

    def test_matches_python_reference(self, spark):
        from schematic_spark.functions import winnow_fingerprints

        texts = [
            "The quick brown fox jumps over the lazy dog!",
            "short",
            "",
            "    ",
            "Punct!!! only??? ...",
            "aaaaaaaaaaaaaaaaaaaaaaaa",  # degenerate: identical grams
            "The quick brown fox naps under the lazy dog!",
        ]
        df = spark.createDataFrame(
            [(str(i), t) for i, t in enumerate(texts)],
            "doc_id string, text string",
        )
        got = {
            r["doc_id"]: set(r["fingerprints"])
            for r in winnow_fingerprints(df, "text").collect()
        }
        for i, t in enumerate(texts):
            assert got[str(i)] == self._py_winnow(t), (i, t)

    def test_shared_passages_survive_edits(self, spark):
        from schematic_spark.functions import shared_passage_pairs

        base = ("large scale data pipelines need deduplication and "
                "quality filtering before training on web text")
        edited = ("COMPLETELY new intro here but then "
                  "large scale data pipelines need deduplication and "
                  "quality filtering before training, different ending")
        unrelated = "the cat sat on the mat and purred all afternoon long"
        df = spark.createDataFrame(
            [("a", base), ("b", edited), ("c", unrelated)],
            "doc_id string, text string",
        )
        pairs = {
            (r["id_a"], r["id_b"]): r["n_shared"]
            for r in shared_passage_pairs(df, min_shared=2).collect()
        }
        assert ("a", "b") in pairs  # copied passage found despite edits
        assert all(k == ("a", "b") for k in pairs)  # no false pairs


def _contamination(docs, cap):
    src0 = F.col("source") == "src0"
    return ngram_contamination(
        docs.where(~src0), docs.where(src0), max_gram_group=cap)


_PAIR_CALLS = {
    "minhash": lambda d, e: minhash_near_duplicates(
        d, threshold=0.5, bands=16),
    "simhash": lambda d, e: simhash_near_duplicates(d),
    "shared_passages": lambda d, e: shared_passage_pairs(d),
    "embedding": lambda d, e: embedding_near_duplicates(e),
    "contamination": lambda d, e: _contamination(d, None),
    "contamination_capped": lambda d, e: _contamination(d, 100),
}


@pytest.mark.parametrize("name", sorted(_PAIR_CALLS))
def test_pair_discovery_leaves_no_cache(spark, session_state, name):
    """A pair-discovery call caches nothing that outlives it: after its
    result is collected, the session holds no persistent RDD and no
    cached plan."""
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    _PAIR_CALLS[name](docs, emb).collect()
    assert session_state.held() == ([], False)


def test_resize_quarantine_keeps_original_payload(spark):
    """A failed resize (empty image payload) must set resize_error and
    KEEP the source payload — nulling it would make the quarantine row
    uninspectable/unretryable."""
    from schematic_spark.functions import resize_media

    df = spark.createDataFrame(
        [("m1", "image", b""), ("m2", "image", b"\x01\x02\x03\x04"),
         ("m3", "audio", b"\x09\x08")],
        "media_id string, kind string, payload binary",
    ).withColumn(
        "meta",
        F.struct(F.lit(None).cast("int").alias("width"),
                 F.lit(None).cast("int").alias("height")),
    )
    rows = {r["media_id"]: r for r in resize_media(df, 64, 32).collect()}
    assert rows["m1"]["resize_error"] is not None
    assert bytes(rows["m1"]["payload"]) == b""          # original kept
    assert rows["m2"]["resize_error"] is None
    assert len(rows["m2"]["payload"]) == 32
    assert rows["m3"]["resize_error"] is None
    assert bytes(rows["m3"]["payload"]) == b"\x09\x08"  # pass-through


def test_resize_registry_drives_kind_mask(spark):
    """Round-3 review regression: RESIZERS is a pluggable kind registry
    — a registered non-image kind must receive its real payload, not a
    masked NULL (which falsely quarantined every such row)."""
    from schematic_spark.functions import media, resize_media

    def audio_resizer(payload, kind, w, h):
        assert payload is not None
        return payload[: max(w, 1)]

    media.RESIZERS["audio"] = audio_resizer
    try:
        from pyspark.sql import functions as F

        df = spark.createDataFrame(
            [("m1", "audio", bytearray(b"0123456789"))],
            "media_id string, kind string, payload binary",
        ).withColumn(
            "meta",
            F.struct(F.lit(0).cast("int").alias("width"),
                     F.lit(0).cast("int").alias("height")),
        )
        out = resize_media(df, 4, 4).collect()[0]
        assert out.resize_error is None
        assert bytes(out.payload) == b"0123"
    finally:
        del media.RESIZERS["audio"]
