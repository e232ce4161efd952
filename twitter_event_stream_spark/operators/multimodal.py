"""K11 — multimodal column support (binary payloads + typed metadata).

Images/audio/video are carried as opaque ``BinaryType`` columns beside a
metadata struct (mime, byte length, content digest). The engine depends on
no media codec, so it stops at the column contract: ``with_payload`` builds
the binary column and its metadata, and ``q_multimodal_meta`` reads the
metadata back through the BinaryType path under its DuckDB oracle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from twitter_event_stream_spark.registry import query
from twitter_event_stream_spark.tables import table


def with_payload(docs: DataFrame) -> DataFrame:
    """Attach a binary payload column + metadata struct to the documents
    table (fixture stand-in for real media bytes)."""
    payload = F.encode(F.col("text"), "UTF-8")
    return docs.select(
        "doc_id",
        "lang",
        payload.alias("payload"),
        F.struct(
            F.lit("text/plain").alias("mime"),
            F.length(payload).alias("n_bytes"),
            F.md5(F.col("text")).alias("digest"),
        ).alias("meta"),
    )


@query(
    "q_multimodal_meta",
    oracle="""
    SELECT doc_id,
           octet_length(encode(text)) AS n_bytes,
           md5(text) AS digest,
           'text/plain' AS mime
    FROM documents
    """,
)
def q_multimodal_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K11 (HASH slice) — binary payload metadata: byte length + content
    digest through the BinaryType column path."""
    d = table(spark, sf_dir, "documents")
    m = with_payload(d)
    return m.select(
        "doc_id",
        F.col("meta.n_bytes").alias("n_bytes"),
        F.col("meta.digest").alias("digest"),
        F.col("meta.mime").alias("mime"),
    )
