"""JSON-landed CDC source (SURVEY.md §2.1 S1).

Debezium-style CDC commonly lands as JSON lines in cloud storage before
compaction to parquet. Readers here take the explicit envelope schema
(never inference on a stream — schema-on-read comes from the catalog,
§1.3) and parse JVM-side via the native JSON datasource / ``from_json``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T


def read_cdc_json(spark: SparkSession, path: str, schema: T.StructType) -> DataFrame:
    """Batch read of a JSON-lines raw zone with a declared envelope schema."""
    return spark.read.schema(schema).json(path)


def parse_kafka_cdc(raw: DataFrame, schema: T.StructType) -> DataFrame:
    """Decode a Kafka-shaped frame (binary ``value`` column) into envelope
    rows: ``from_json(CAST(value AS STRING), schema)``.

    Works on any DataFrame with a ``value`` column, so the parser is
    testable without a broker; production wires it to
    ``spark.readStream.format("kafka")...load()``.
    """
    return raw.select(
        F.from_json(F.col("value").cast("string"), schema).alias("r")
    ).select("r.*")
