"""Referential-integrity checks — north-rule operator (BASELINE.json:6:
"referential checks via broadcast/sort-merge hash joins against dimension
tables"). Absent in the reference (no joins exist there; SURVEY §2.9).

Violations are extracted with a LEFT ANTI join fact→dim: rows whose
foreign key has no match. Join strategy:

* ``broadcast='auto'`` — let AQE decide (it converts to broadcast at
  runtime if the dim is under the threshold);
* ``broadcast=True``  — force ``F.broadcast(dim)``: zero shuffle of the
  fact side, the only sane plan when the fact is 100 TB and the dim fits
  in executor memory;
* ``broadcast=False`` — sort-merge (dims too big to broadcast).

Null foreign keys are counted separately, not as dangling (SQL FK
semantics: NULL references nothing and violates nothing).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def dangling_rows(
    fact: DataFrame,
    dim: DataFrame,
    on: dict[str, str] | str,
    *,
    broadcast: bool | str = "auto",
) -> DataFrame:
    """Fact rows whose FK is non-null and matches no dim row (LEFT ANTI)."""
    if isinstance(on, str):
        on = {on: on}
    dim_keys = dim.select(
        *[F.col(d).alias(f"_dim_{d}") for d in on.values()]
    ).dropDuplicates()
    if broadcast is True:
        dim_keys = F.broadcast(dim_keys)
    elif broadcast is False:
        # honor the caller's "too big to broadcast": without the merge
        # hint AQE may still auto-broadcast a small-enough key set
        dim_keys = dim_keys.hint("merge")
    cond = None
    for fk, dk in on.items():
        c = F.col(fk) == F.col(f"_dim_{dk}")
        cond = c if cond is None else (cond & c)
    non_null = None
    for fk in on:
        c = F.col(fk).isNotNull()
        non_null = c if non_null is None else (non_null & c)
    return fact.where(non_null).join(dim_keys, cond, "left_anti")


def bloom_bitmap(
    dim: DataFrame,
    key: str,
    *,
    m_bits: int,
    n_hashes: int,
) -> DataFrame:
    """Distributed Bloom bitset over the dim's key column as a
    (word_idx BIGINT, word BIGINT) relation: each key sets ``n_hashes``
    bit positions ``pmod(xxhash64(key, i), m_bits)``; positions pack
    into 64-bit words via a ``bit_or`` hash-agg. ONE dim scan (the
    positions explode from a per-row array). Size is O(m_bits/64) rows
    regardless of dim row count — 10 bits/key packs ~80× smaller than
    broadcasting the key set itself."""
    positions = F.array(
        *[
            F.pmod(F.xxhash64(F.col(key), F.lit(i)), F.lit(m_bits))
            for i in range(n_hashes)
        ]
    )
    return (
        dim.where(F.col(key).isNotNull())
        .select(F.explode(positions).alias("_pos"))
        .select(
            (F.col("_pos") / 64).cast("long").alias("word_idx"),
            F.expr("shiftleft(1L, CAST(_pos % 64 AS INT))").alias("bit"),
        )
        .groupBy("word_idx")
        .agg(F.expr("bit_or(bit)").alias("word"))
    )


def _require_same_key_type(fact, fk, dim, dk, caller):
    """xxhash64 is TYPE-sensitive (INT 7 and BIGINT 7 hash differently)
    while equi-joins compare through implicit casts — a dtype mismatch
    would turn matched rows into false 'proven missing' verdicts, so
    refuse loudly instead."""
    ft = fact.schema[fk].dataType
    dt = dim.schema[dk].dataType
    if ft != dt:
        raise ValueError(
            f"{caller}: fact[{fk}] is {ft.simpleString()} but "
            f"dim[{dk}] is {dt.simpleString()} — xxhash64 hashes these "
            "differently even for equal values; cast both sides to one "
            "type before calling"
        )


def _bloom_maybe_flag(
    fact: DataFrame, fk: str, bitmap: DataFrame, m_bits: int, n_hashes: int
):
    """(df_with_probe_joins, flag_column): flag TRUE means every Bloom
    bit for the row's key is set (key POSSIBLY in dim), FALSE proves
    the key absent. Each probe is a map-side BroadcastHashJoin of the
    bitmap on the word index — the fact side never shuffles."""
    # withColumns REPLACES same-named fact columns, and the final
    # select(*fact.columns) would then return probe scratch values as
    # user data — refuse loudly instead of corrupting silently
    scratch = {
        c
        for i in range(n_hashes)
        for c in (f"_w{i}", f"_b{i}", f"_word{i}")
    }
    clash = sorted(scratch & set(fact.columns))
    if clash:
        raise ValueError(
            f"bloom probe scratch columns {clash} already exist on the "
            "fact DataFrame — rename them before the Bloom-filtered "
            "referential call (the probe would overwrite them)"
        )
    out = fact
    tests = []
    for i in range(n_hashes):
        p = F.pmod(F.xxhash64(F.col(fk), F.lit(i)), F.lit(m_bits))
        bm = F.broadcast(
            bitmap.select(
                F.col("word_idx").alias(f"_w{i}"),
                F.col("word").alias(f"_word{i}"),
            )
        )
        out = out.withColumns(
            {f"_w{i}": (p / 64).cast("long"), f"_b{i}": (p % 64).cast("int")}
        ).join(bm, f"_w{i}", "left")
        tests.append(
            F.expr(f"(shiftright(coalesce(_word{i}, 0L), _b{i}) & 1) = 1")
        )
    flag = tests[0]
    for t in tests[1:]:
        flag = flag & t
    return out, flag


def dangling_rows_bloom(
    fact: DataFrame,
    dim: DataFrame,
    on: dict[str, str] | str,
    *,
    n_keys: int,
    bits_per_key: int = 10,
    n_hashes: int = 5,
) -> DataFrame:
    """:func:`dangling_rows` with a Bloom prefilter, for dims too big
    to broadcast. Any clear Bloom bit PROVES a key absent from the dim,
    so proven-dangling rows are emitted map-side without touching the
    exchange; only rows whose bits are all set (possibly-present) go
    through the exact LEFT ANTI join. Results are bit-identical to
    :func:`dangling_rows` — no false negatives, and false "possibly
    present" verdicts die in the anti-join.

    ``n_keys`` is the caller's estimate of the dim's non-null key count
    (table metadata, a footer row count). It only sizes the bitmap, so
    any value gives the same rows; it is required so that building the
    query runs no Spark job.

    Honest cost model — when this wins and when it doesn't:

    * **Dirty inputs** (a meaningful dangling fraction — quarantine
      triage, backfill reconciliation): every truly-dangling row skips
      the shuffle; the exchange carries only the matched fraction.
    * **Clean inputs** (dangling ≈ 0, the steady-state validation
      case): almost every row's bits are all set, so the anti-join
      still sees ~the whole fact — Bloom cannot CONFIRM membership,
      only deny it. Use plain :func:`dangling_rows` there. For a
      selective inner/semi join, rely on Spark's built-in runtime
      filter (``spark.sql.optimizer.runtime.bloomFilter.enabled``, on
      by default), which injects this prefilter itself; it never does
      so for anti-joins, which is why this function exists.

    Plan note: the proven/candidate split evaluates the (cheap, pruned,
    map-side) probe chain once per branch — two fact scans. That is
    deliberate: a materialization barrier at 100 TB is infeasible and
    the alternative single-scan shape shuffles the entire fact, which
    is exactly what the split avoids on dirty data."""
    if isinstance(on, str):
        on = {on: on}
    if len(on) != 1:
        raise ValueError(
            "dangling_rows_bloom prefilters on exactly one key column; "
            f"got {sorted(on)} — prefilter on one and verify the rest "
            "in dangling_rows"
        )
    (fk, dk), = on.items()
    _require_same_key_type(fact, fk, dim, dk, "dangling_rows_bloom")
    # ≥64 bits so tiny/empty dims still build a valid 1-word bitmap
    m_bits = max(64, bits_per_key * n_keys)
    # cached: each probe join broadcasts the bitmap separately
    # (per-probe output aliases defeat exchange reuse) AND the
    # proven/candidate split evaluates the chain in both branches —
    # 2·n_hashes builds of the dim scan + bit-pack agg without it, one
    # with it
    bitmap = bloom_bitmap(dim, dk, m_bits=m_bits, n_hashes=n_hashes).cache()
    suspects = fact.where(F.col(fk).isNotNull())
    probed, maybe = _bloom_maybe_flag(suspects, fk, bitmap, m_bits, n_hashes)
    cols = list(fact.columns)
    proven = probed.where(~maybe).select(*cols)
    candidates = probed.where(maybe).select(*cols)
    fp_checked = dangling_rows(candidates, dim, on, broadcast=False)
    return proven.unionAll(fp_checked)


def referential_report(
    fact: DataFrame,
    dim: DataFrame,
    on: dict[str, str] | str,
    *,
    broadcast: bool | str = "auto",
) -> DataFrame:
    """(n_rows, n_null_fk, n_dangling, ref_ok) — one row."""
    if isinstance(on, str):
        on = {on: on}
    null_fk = None
    for fk in on:
        c = F.col(fk).isNull()
        null_fk = c if null_fk is None else (null_fk | c)
    totals = fact.agg(
        F.count(F.lit(1)).alias("n_rows"),
        # coalesce: sum over zero rows is NULL, not 0
        F.coalesce(F.sum(null_fk.cast("long")), F.lit(0))
        .alias("n_null_fk"),
    )
    dangling = dangling_rows(fact, dim, on, broadcast=broadcast).agg(
        F.count(F.lit(1)).alias("n_dangling")
    )
    return (
        totals.crossJoin(dangling)
        .withColumn("ref_ok", F.col("n_dangling") == 0)
    )
