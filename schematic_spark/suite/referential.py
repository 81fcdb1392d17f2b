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
