"""Document ingestion sources: load external files into the engine.

The reference's only "source" is a live MongoDB collection (documents arrive
via Mongoose models); the Spark-native analog is file ingestion — JSON lines,
CSV, or parquet — as a bulk DataFrame for analytics mode (any scale;
schema-on-read, the ``_id`` key derived deterministically when absent).

Scale notes: bulk ingestion is a pure scan — no driver materialization, and
the derived ``_id`` is a projection, so Catalyst still prunes/pushes through
it.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

_FORMATS = {"json", "csv", "parquet"}


def read_documents(
    spark: SparkSession,
    path: str,
    fmt: str = "json",
    schema: str | None = None,
    id_column: str | None = None,
    **options,
) -> DataFrame:
    """Read an external file into a bulk document DataFrame.

    Guarantees a 24-hex ``_id`` column (the cross-store join key,
    SURVEY.md §1.2): taken from ``id_column`` when given, else derived as
    ``substr(md5(to_json(struct(*))), 1, 24)`` — deterministic per row
    content, computable in any engine.
    """
    if fmt not in _FORMATS:
        raise ValueError(f"unsupported source format: {fmt!r} (use {sorted(_FORMATS)})")
    reader = spark.read
    if schema:
        reader = reader.schema(schema)
    if fmt == "csv":
        options.setdefault("header", "true")
        if not schema:
            options.setdefault("inferSchema", "true")
    df = reader.options(**options).format(fmt).load(path)
    if "_id" in df.columns:
        return df
    if id_column is not None:
        src = F.col(id_column).cast("string")
    else:
        src = F.to_json(F.struct(*[F.col(c) for c in df.columns]))
    return df.withColumn("_id", F.substring(F.md5(src), 1, 24))
