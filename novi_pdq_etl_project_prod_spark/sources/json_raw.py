"""JSON raw-layer codec (SURVEY.md §2.1 S4; §2.2 P1; §2.3 E10).

The reference stores raw rows as Postgres JSONB documents — pandas rows are
json.dumps'd with null-token scrubbing (reference ``dags/pdq_etl_dag.py:
143-158``) and read back with ``raw::text`` + ``from_json`` under a tolerant
all-string schema (reference ``spark_jobs/transform_operator.py:46,67-73``).

Spark-native equivalent: ``to_json(struct("*"))`` on the way in,
``from_json(raw, schema)`` + struct-star expansion on the way out — both
JVM-side codegen'd expressions, no Python in the loop.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from novi_pdq_etl_project_prod_spark.functions.casts import normalize_null_tokens


def encode_raw_json(
    df: DataFrame,
    month_col: str = "yyyymm",
    raw_col: str = "raw",
    scrub_null_tokens: bool = True,
) -> DataFrame:
    """Row → (month key, JSON document, ingest timestamp) — the raw layer
    row shape (reference ``sql/schema.sql:11-25``).

    Null-token scrubbing before encode matches ``_df_to_json_records``
    (reference ``dags/pdq_etl_dag.py:143-158``): tokens become JSON null.
    """
    payload_cols = [c for c in df.columns if c != month_col]
    if scrub_null_tokens:
        struct_col = F.struct(
            *[normalize_null_tokens(F.col(c)).alias(c) for c in payload_cols]
        )
    else:
        struct_col = F.struct(*[F.col(c) for c in payload_cols])
    return df.select(
        F.col(month_col),
        F.to_json(struct_col).alias(raw_col),
        F.current_timestamp().alias("ingested_at"),
    )


def tolerant_string_schema(field_names: list[str]) -> T.StructType:
    """All-string parse schema — the reference's declared-tolerant StructType
    idiom (reference ``spark_jobs/transform_operator.py:55-65``)."""
    return T.StructType([T.StructField(n, T.StringType(), True) for n in field_names])


def parse_raw_json(
    df: DataFrame,
    schema: T.StructType,
    raw_col: str = "raw",
    keep_cols: tuple[str, ...] = ("yyyymm",),
) -> DataFrame:
    """``from_json`` + struct-star flatten (P1).

    Faithful to reference ``spark_jobs/transform_operator.py:67-73``
    (``select("yyyymm", "j.*")``). Catalyst prunes unreferenced JSON fields
    downstream of the flatten.
    """
    parsed = df.select(
        *[F.col(c) for c in keep_cols],
        F.from_json(F.col(raw_col), schema).alias("j"),
    )
    return parsed.select(*[F.col(c) for c in keep_cols], F.col("j.*"))
