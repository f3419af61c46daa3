"""Document ingestion: JSON documents → canonical long format.

Reference: observations are JSON objects with a hard-coded ``date``
field plus arbitrarily nested numeric fields addressed by dot-path with
pydash ``get`` (app.py:110-113, 153-156; requests.py:18-24). Missing
paths yield None.

Spark-first: each observation rides as a raw JSON string row;
extraction is ``get_json_object`` (JVM, codegen) with the dot-path
translated to a JSONPath — the exact nullable semantics of pydash, no
Python per row.
"""

from __future__ import annotations

import json

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from temporal_retriever_spark.timeparse import parse_timestamp


def dot_path_expr(col: Column | str, path: str) -> Column:
    """pydash-get semantics on a raw JSON string column."""
    col = F.col(col) if isinstance(col, str) else col
    return F.get_json_object(col, "$." + path)


def documents_to_rows(documents: dict) -> list[tuple[str, str]]:
    """Flatten ``{name: {description, data: [obs, ...]}}`` to
    (series_id, obs_json) rows."""
    rows = []
    for name, doc in documents.items():
        data = doc.get("data", []) if isinstance(doc, dict) else []
        for obs in data:
            rows.append((name, json.dumps(obs)))
    return rows


def documents_df(spark: SparkSession, documents: dict) -> DataFrame:
    """Raw observation table: (series_id, obs) — one row per observation."""
    rows = documents_to_rows(documents)
    return spark.createDataFrame(rows, "series_id string, obs string")


def extract_series(
    raw: DataFrame,
    *,
    dataset: str,
    index_path: str,
    date_field: str = "date",
    series_id: str | None = None,
) -> DataFrame:
    """P1: one named series from the raw observation table.

    Output: (series_id, ds, y). Unparseable dates and missing paths are
    NULL (pydash/NaT pass-through semantics), dropped only when both are
    null — bucketing decides what to do with partial rows.
    """
    out_id = series_id or f"{dataset}.{index_path}"
    return (
        raw.filter(F.col("series_id") == dataset)
        .select(
            F.lit(out_id).alias("series_id"),
            parse_timestamp(dot_path_expr("obs", date_field)).alias("ds"),
            dot_path_expr("obs", index_path).cast("double").alias("y"),
        )
        .filter(F.col("ds").isNotNull() | F.col("y").isNotNull())
    )

