"""Multimodal (image/audio/video) column plumbing.

Media payloads are opaque ``binary`` columns with a typed metadata
struct; decode / feature-extract / resize / frame-sample run as
Arrow-batched pandas UDFs over ``mapInPandas``. The image/audio codec
libraries are NOT in this container, so the codec step is stubbed
behind ``DECODERS`` (deterministic fake by default,
``NotImplementedError`` in strict mode) — the Spark-side plumbing
(schema, batching, partitioning, UDF signatures) is real and tested.

Schema convention::

    media_id:  string
    kind:      string  -- 'image' | 'audio' | 'video'
    payload:   binary
    meta:      struct<mime:string, width:int, height:int,
                      duration_ms:int, sample_rate:int>
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BinaryType,
    IntegerType,
    StringType,
    StructField,
    StructType,
)

MEDIA_SCHEMA = StructType([
    StructField("media_id", StringType()),
    StructField("kind", StringType()),
    StructField("payload", BinaryType()),
    StructField("meta", StructType([
        StructField("mime", StringType()),
        StructField("width", IntegerType()),
        StructField("height", IntegerType()),
        StructField("duration_ms", IntegerType()),
        StructField("sample_rate", IntegerType()),
    ])),
])

FEATURE_DIM = 16

FEATURES_DDL = (
    "media_id string, kind string, n_bytes long, "
    "feature array<float>, decode_ok boolean, decode_error string"
)


def _fake_decode(payload: bytes, kind: str) -> np.ndarray:
    """Deterministic stand-in for a real codec: a seeded projection of
    the payload bytes to FEATURE_DIM floats. Replace via DECODERS when
    real codecs (PIL/ffmpeg/torchaudio) are on the cluster."""
    if payload is None:
        raise ValueError("null payload")
    arr = np.frombuffer(payload, dtype=np.uint8).astype(np.float64)
    if arr.size == 0:
        raise ValueError("empty payload")
    idx = np.arange(arr.size)
    feats = [
        float(np.cos((idx * (k + 1)) % 257 / 257.0 * 2 * np.pi) @ arr)
        / arr.size
        for k in range(FEATURE_DIM)
    ]
    return np.asarray(feats, dtype=np.float32)


def _fake_decode_batch(payloads: "pd.Series") -> list:
    """Whole-batch twin of :func:`_fake_decode` — same formula,
    vectorized: all payload bytes concatenate into ONE buffer, each of
    the FEATURE_DIM cosine projections is one pass over it, and
    per-item sums come from ``np.add.reduceat`` at the item offsets.
    NOT bit-identical to the per-item path: ``@`` (BLAS, blocked
    summation) and ``reduceat`` (sequential) order the float64
    accumulation differently, so a multi-KB payload can land 1 float64
    ulp apart before the float32 cast — compare the two paths with a
    1-ulp tolerance, never ==.
    Per-item Python cost drops to list assembly; items that a real
    codec would reject (null/empty) come back as None so the caller's
    per-item error path still fires for exactly those."""
    n = len(payloads)
    lens = np.fromiter(
        (len(p) if p is not None else 0 for p in payloads),
        dtype=np.int64, count=n,
    )
    good = lens > 0
    if not good.any():
        return [None] * n
    buf = b"".join(p for p, g in zip(payloads, good) if g)
    arr = np.frombuffer(buf, dtype=np.uint8).astype(np.float64)
    glens = lens[good]
    starts = np.zeros(len(glens), dtype=np.int64)
    np.cumsum(glens[:-1], out=starts[1:])
    # per-element LOCAL index within each item (idx in _fake_decode)
    idx = np.arange(arr.size) - np.repeat(starts, glens)
    sums = np.empty((FEATURE_DIM, len(glens)), dtype=np.float64)
    for k in range(FEATURE_DIM):
        w = np.cos((idx * (k + 1)) % 257 / 257.0 * 2 * np.pi) * arr
        sums[k] = np.add.reduceat(w, starts)
    feats = (sums / glens).T.astype(np.float32)
    out: list = [None] * n
    gi = 0
    for i in range(n):
        if good[i]:
            out[i] = feats[gi]
            gi += 1
    return out


def _strict_decode(payload: bytes, kind: str) -> np.ndarray:
    raise NotImplementedError(
        f"no {kind} codec in this environment — install codec libs and "
        "register a decoder in schematic_spark.functions.media.DECODERS"
    )


#: pluggable codec registry: kind -> payload→feature fn
DECODERS = {
    "image": _fake_decode,
    "audio": _fake_decode,
    "video": _fake_decode,
}

#: per-item decoder -> whole-batch twin (same math, vectorized). Keyed
#: by the FUNCTION so registering a real codec in DECODERS automatically
#: drops back to the per-item loop unless a twin is registered too.
BATCH_TWINS = {
    _fake_decode: _fake_decode_batch,
}


def extract_features(df: DataFrame, *, strict: bool = False) -> DataFrame:
    """media table → (media_id, kind, n_bytes, feature[FEATURE_DIM],
    decode_ok, decode_error). Decode failures are rows, not job
    failures (quarantine semantics, like validation).

    Only the codec call crosses into Python (an Arrow-batched scalar
    ``pandas_udf`` over (payload, kind) returning struct<feature,
    decode_error>); ``n_bytes`` and the id/kind passthrough stay in
    Catalyst, so the Python boundary ships exactly the bytes the codec
    needs and nothing else — with a real codec the per-item decode is
    intrinsic, everything around it is JVM-side."""

    decoders = dict(DECODERS) if not strict else {
        k: _strict_decode for k in DECODERS
    }

    @F.pandas_udf("struct<feature: array<float>, decode_error: string>")
    def _decode(payload: pd.Series, kind: pd.Series) -> pd.DataFrame:
        n = len(payload)
        feats: list = [None] * n
        err: list = [None] * n

        def item(i: int, k, decoder) -> None:
            try:
                if decoder is None:
                    raise ValueError(f"unknown media kind {k!r}")
                feats[i] = decoder(payload.iloc[i], k)
            except NotImplementedError:
                raise
            except Exception as e:  # decode errors become rows
                err[i] = f"{type(e).__name__}: {e}"

        karr = kind.to_numpy(dtype=object)
        for k in pd.unique(kind):
            idxs = np.nonzero(karr == k)[0]
            decoder = decoders.get(k)
            twin = BATCH_TWINS.get(decoder)
            if twin is not None:
                # whole-batch fast path (identical math); items the
                # codec would reject come back None and re-run the
                # per-item path for the exact error message
                got = twin(payload.iloc[idxs])
                for j, i in enumerate(idxs):
                    if got[j] is not None:
                        feats[i] = got[j]
                    else:
                        item(int(i), k, decoder)
            else:
                for i in idxs:
                    item(int(i), k, decoder)
        return pd.DataFrame({"feature": feats, "decode_error": err})

    staged = df.select(
        "media_id", "kind",
        F.coalesce(F.octet_length("payload"), F.lit(0))
         .cast("long").alias("n_bytes"),
        _decode(F.col("payload"), F.col("kind")).alias("_d"),
    )
    # derive from the MATERIALIZED _d column (one UDF evaluation), never
    # re-inline the call per output column
    return staged.select(
        "media_id", "kind", "n_bytes",
        F.col("_d")["feature"].alias("feature"),
        F.col("_d")["decode_error"].isNull().alias("decode_ok"),
        F.col("_d")["decode_error"].alias("decode_error"),
    )


def _fake_resize(payload: bytes, kind: str, width: int, height: int) -> bytes:
    """Deterministic stand-in for an image resize: resamples the payload
    byte stream to exactly ``width*height//64`` bytes by nearest-index
    pick (swap in PIL/ffmpeg via the RESIZERS registry on a real
    cluster)."""
    if payload is None or len(payload) == 0:
        raise ValueError("empty payload")
    n_out = max(width * height // 64, 1)
    arr = np.frombuffer(payload, dtype=np.uint8)
    idx = (np.arange(n_out) * len(arr) // n_out).clip(0, len(arr) - 1)
    return arr[idx].tobytes()


def _fake_frames(payload: bytes, kind: str, n_frames: int) -> list:
    """Deterministic stand-in for video frame sampling: n_frames evenly
    spaced byte slices (uniform temporal sampling shape)."""
    if payload is None or len(payload) == 0:
        raise ValueError("empty payload")
    if kind != "video":
        raise ValueError(f"frame sampling needs video, got {kind!r}")
    arr = np.frombuffer(payload, dtype=np.uint8)
    bounds = [len(arr) * i // n_frames for i in range(n_frames + 1)]
    return [
        arr[bounds[i]:max(bounds[i + 1], bounds[i] + 1)].tobytes()
        for i in range(n_frames)
    ]


def _strict_resize(payload, kind, width, height):
    raise NotImplementedError(
        "no image codec in this environment — register a resizer in "
        "schematic_spark.functions.media.RESIZERS"
    )


def _strict_frames(payload, kind, n_frames):
    raise NotImplementedError(
        "no video codec in this environment — register a sampler in "
        "schematic_spark.functions.media.FRAME_SAMPLERS"
    )


#: pluggable: kind -> (payload, kind, width, height) → payload
RESIZERS = {"image": _fake_resize}
#: pluggable: kind -> (payload, kind, n_frames) → list[payload]
FRAME_SAMPLERS = {"video": _fake_frames}


def resize_media(
    df: DataFrame, width: int, height: int, *, strict: bool = False
) -> DataFrame:
    """Resize every image payload to ``width×height``; non-image rows
    pass through untouched. Same decomposition as
    :func:`extract_features`: the codec call is the ONLY thing in
    Python (Arrow scalar pandas_udf over payload+kind), the metadata
    update (``meta.width/height``) is Catalyst ``withField``, failures
    are quarantine rows (``resize_error`` set, ORIGINAL payload kept so
    the row can be inspected/retried), never job failures. Non-image
    payloads never cross the Arrow boundary in either direction: the
    UDF input is masked to images JVM-side and the UDF returns NULL for
    everything it didn't resize."""
    resizers = RESIZERS if not strict else {
        k: _strict_resize for k in RESIZERS
    }

    @F.pandas_udf("struct<payload: binary, resize_error: string>")
    def _resize(payload: pd.Series, kind: pd.Series) -> pd.DataFrame:
        n = len(payload)
        out: list = [None] * n
        err: list = [None] * n
        for i in range(n):
            fn = resizers.get(kind.iloc[i])
            if fn is None:
                continue  # pass-through kinds: JVM keeps the original
            try:
                out[i] = fn(payload.iloc[i], kind.iloc[i], width, height)
            except NotImplementedError:
                raise
            except Exception as e:
                err[i] = f"{type(e).__name__}: {e}"
        return pd.DataFrame({"payload": out, "resize_error": err})

    # registry-driven mask: any kind with a registered resizer ships
    # its payload to the UDF (hardcoding "image" silently nulled the
    # payload of every other registered kind — review finding)
    handled = F.col("kind").isin(*resizers.keys())
    staged = df.withColumn(
        "_r", _resize(F.when(handled, F.col("payload")), F.col("kind"))
    )
    ok = handled & F.col("_r")["resize_error"].isNull()
    return (
        staged
        .withColumn(
            "payload",
            F.when(ok, F.col("_r")["payload"]).otherwise(F.col("payload")),
        )
        .withColumn(
            "meta",
            F.when(ok, F.col("meta")
                   .withField("width", F.lit(width).cast("int"))
                   .withField("height", F.lit(height).cast("int")))
            .otherwise(F.col("meta")),
        )
        .withColumn("resize_error", F.col("_r")["resize_error"])
        .drop("_r")
    )


def sample_frames(
    df: DataFrame, n_frames: int, *, strict: bool = False
) -> DataFrame:
    """(media_id, frame_idx, frame) — one row per sampled frame of every
    VIDEO payload (uniform temporal sampling). The sampler UDF returns
    the frame array per video; ``posexplode`` fans out JVM-side, so the
    Python boundary crosses once per video, not once per frame.
    Failures become (media_id, -1, NULL) quarantine rows."""
    samplers = FRAME_SAMPLERS if not strict else {
        k: _strict_frames for k in FRAME_SAMPLERS
    }

    @F.pandas_udf("struct<frames: array<binary>, frame_error: string>")
    def _frames(payload: pd.Series, kind: pd.Series) -> pd.DataFrame:
        n = len(payload)
        out: list = [None] * n
        err: list = [None] * n
        for i in range(n):
            k = kind.iloc[i]
            try:
                fn = samplers.get(k)
                if fn is None:
                    raise ValueError(f"no frame sampler for kind {k!r}")
                out[i] = fn(payload.iloc[i], k, n_frames)
            except NotImplementedError:
                raise
            except Exception as e:
                err[i] = f"{type(e).__name__}: {e}"
        return pd.DataFrame({"frames": out, "frame_error": err})

    # ONE pass: a good/bad filter split here would re-inline the UDF
    # into each subtree (the CLAUDE.md dispatch-by-filter trap — the
    # plan grows one ArrowEvalPython per branch and every video decodes
    # N times). Instead the error row is folded into the exploded array
    # as a single NULL element and mapped to frame_idx -1 afterwards.
    vids = df.where(F.col("kind").isin(*samplers.keys())).withColumn(
        "_f", _frames(F.col("payload"), F.col("kind"))
    )
    # the NULL-element substitution also covers a sampler that returns
    # an EMPTY list (plausible for a too-short clip): posexplode([])
    # emits zero rows and the video would silently vanish from the
    # output, breaking the every-payload-appears contract — it surfaces
    # as a frame_idx -1 row with NULL frame, same as a failure
    exploded = vids.select(
        "media_id",
        F.col("_f")["frame_error"].alias("_err"),
        F.posexplode(F.coalesce(
            F.when(
                F.col("_f")["frame_error"].isNull()
                & (F.size(F.col("_f")["frames"]) > 0),
                F.col("_f")["frames"],
            ),
            F.array(F.lit(None).cast("binary")),
        )).alias("_pos", "frame"),
    )
    return exploded.select(
        "media_id",
        F.when(F.col("_err").isNull() & F.col("frame").isNotNull(),
               F.col("_pos"))
         .otherwise(F.lit(-1)).alias("frame_idx"),
        "frame",
    )


def synthetic_media(spark, n: int, *, seed: int = 42) -> DataFrame:
    """Deterministic media table for tests/benches: payload bytes are a
    seeded function of the id (distributed generation, no driver loop)."""
    i = F.col("id")
    # try_element_at, not element_at: the index is provably 1..3 today,
    # but ANSI mode turns any future index-arithmetic edit into a
    # runtime throw (repo rule; media_from_documents already complies)
    kind = F.try_element_at(
        F.array(F.lit("image"), F.lit("audio"), F.lit("video")),
        (F.pmod(i, F.lit(3)) + 1).cast("int"),
    )
    # payload: unhex of a deterministic hex string, length varies 8..64
    reps = (F.pmod(i * F.lit(2654435761 % 65536) + F.lit(seed), F.lit(8)) + 1
            ).cast("int")
    hexstr = F.repeat(
        F.lpad(F.hex(F.pmod(i + F.lit(seed), F.lit(1 << 31))), 16, "0"),
        reps,
    )
    return spark.range(n).select(
        F.format_string("m%09d", i).alias("media_id"),
        kind.alias("kind"),
        F.to_binary(hexstr, F.lit("hex")).alias("payload"),
        F.struct(
            F.concat(F.lit("x/"), kind).alias("mime"),
            F.when(kind == "image", (F.pmod(i, F.lit(512)) + 1).cast("int"))
             .alias("width"),
            F.when(kind == "image", (F.pmod(i, F.lit(256)) + 1).cast("int"))
             .alias("height"),
            F.when(kind != "image", (F.pmod(i, F.lit(9000)) + 1000).cast("int"))
             .alias("duration_ms"),
            F.when(kind == "audio", F.lit(16000)).cast("int")
             .alias("sample_rate"),
        ).alias("meta"),
    )


def media_from_documents(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Deterministic media table DERIVED from a documents table: kind
    from the text length mod 3, payload = the UTF-8 bytes of the text.
    Unlike :func:`synthetic_media` (spark.range based), every derived
    value is expressible in plain SQL over the same source table, so
    the mapInPandas decode plumbing (n_bytes / decode_ok / quarantine
    rows) is DuckDB-oracle-checkable end to end."""
    kind = F.try_element_at(
        F.array(F.lit("image"), F.lit("audio"), F.lit("video")),
        (F.pmod(F.length(F.col(text_col)), F.lit(3)) + 1).cast("int"),
    )
    return docs.select(
        F.col(id_col).cast("string").alias("media_id"),
        kind.alias("kind"),
        F.encode(F.col(text_col), "UTF-8").alias("payload"),
        F.struct(
            F.concat(F.lit("x/"), kind).alias("mime"),
            F.lit(None).cast("int").alias("width"),
            F.lit(None).cast("int").alias("height"),
            F.lit(None).cast("int").alias("duration_ms"),
            F.lit(None).cast("int").alias("sample_rate"),
        ).alias("meta"),
    )
