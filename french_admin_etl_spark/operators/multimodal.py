"""Multimodal column plumbing: media rows as opaque binary columns with
typed metadata.

``media_metadata`` reads a media table without decoding any payload:
every output column is a JVM expression (byte length, magic-prefix hex,
content hash), so it runs at scan speed and the blob never reaches
Python. Downstream joins/dedup read those small fixed-width columns,
never the blob. The package decodes no media codec.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

MEDIA_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("kind", T.StringType(), False),  # image | audio | video
        T.StructField("mime", T.StringType(), True),
        T.StructField("payload", T.BinaryType(), True),
    ]
)


def media_metadata(media: DataFrame) -> DataFrame:
    """Blob metadata without any decode — pure JVM column ops (byte length,
    magic-prefix hex, content hash), so it runs at scan speed."""
    return media.select(
        "media_id",
        "kind",
        "mime",
        F.octet_length("payload").alias("n_bytes"),
        F.hex(F.substring("payload", 1, 4)).alias("magic_hex"),
        F.sha2("payload", 256).alias("sha256"),
    )
