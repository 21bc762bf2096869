"""Filter/projection operators (SURVEY.md §2.2, F1-F9).

All are Catalyst Column expressions — they push down to the parquet/Iceberg
scan (predicate pushdown + partition pruning), which is the Spark-native
replacement of the reference's XPath structural filter
(XmlStreamRequest.scala:25, SpectrumRequest.scala:19).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from stream_reader_mzxml_spark.datagen import PAD_TOKEN


def shard_filter(df: DataFrame, level: int) -> DataFrame:
    """F1 — msLevel equality filter → shard selection on ``source``.

    Reference: XPath predicate ``//scan[@msLevel=="n"]``
    (SpectrumRequest.scala:18-30). Graft: sources encode the shard as a
    ``ms{level}-`` prefix; the startswith predicate is pushed to the scan
    (and would prune partitions on a source-partitioned Iceberg table).
    """
    return df.filter(F.col("source").startswith(f"ms{level}-"))


def defined_filter(df: DataFrame, col: str = "tokens") -> DataFrame:
    """F2 — drop fail-soft parse failures (``.filter(_.isDefined)``).

    Reference: every pipeline, e.g. MainDistributionIntensityIons.scala:65-66.
    """
    return df.filter(F.col(col).isNotNull())


def drop_pad_tokens(tokens: Column) -> Column:
    """S8 — zero-intensity pruning analog: drop pad tokens from the array.

    Reference: ``.filter(_._2 > 0)`` at decode (MzXMLTags.scala:326). Every
    pad drop in the engine goes through here; the pad value is the one the
    generator embeds (``datagen.PAD_TOKEN``).
    """
    return F.filter(tokens, lambda x: x != F.lit(PAD_TOKEN))


def nonblank_lines(df: DataFrame, col: str) -> DataFrame:
    """F9 — drop blank rendered lines (``.filter(_.trim.nonEmpty)``,
    MainPrecursorMzMatchingGlucosinolate.scala:61).

    Parity note: Scala's ``String.trim`` strips every char ≤ U+0020 (tabs,
    newlines, AND other C0 controls like \\x01), while Java's ``\\S`` only
    excludes ``[ \\t\\n\\x0B\\f\\r]`` — so the exact-parity predicate is
    "contains any char above U+0020" (``rlike('[^\\x00-\\x20]')``), not
    ``rlike('\\S')`` which would keep a line of \\x01s the reference drops."""
    return df.filter(F.col(col).rlike(r"[^\x00-\x20]"))
