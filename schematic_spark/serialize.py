"""Row → JSON serialization — engine analog of the reference's ToJSON
instance (``Schema.hs:569-588``): ``ReprOptional Nothing`` serializes as
an explicit ``null`` key (the key is PRESENT), so ``to_json`` must keep
null fields (Spark drops them by default — ``ignoreNullFields``)."""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .schema.ast import SObject


def to_json_column(schema: SObject) -> Column:
    """JSON string of the spec fields in spec order, null fields kept."""
    row = F.struct(*[F.col(n).alias(n) for n in schema.field_names()])
    return F.to_json(row, {"ignoreNullFields": "false"})


def serialize_rows(
    df: DataFrame, schema: SObject, out_col: str = "json"
) -> DataFrame:
    return df.withColumn(out_col, to_json_column(schema))
