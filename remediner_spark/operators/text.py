"""Column-level Arrow UDF text operators (extraction, segmentation).

Each is a Series-to-Series pandas UDF over the pure kernels — one
Python-worker hop, vectorized inside the batch, no per-row Spark UDFs.
The parity-critical normalization (Python `re` lookarounds, SURVEY R6)
must NOT be re-expressed with JVM `regexp_replace`; everything else
relational stays Catalyst-side.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import ArrayType, StringType

from ..kernels import webtext


@pandas_udf(StringType())
def extract_text_udf(html: pd.Series) -> pd.Series:
    """html:binary -> text:string (kernels.webtext.extract_text)."""
    return webtext.extract_text(html)


@pandas_udf(ArrayType(StringType()))
def split_sentences_udf(text: pd.Series) -> pd.Series:
    return webtext.split_sentences(text)


def filter_language(pages: DataFrame, lang: str = "en") -> Column | DataFrame:
    """Language filter — plain Catalyst predicate, pushed into the scan."""
    return pages.filter(F.col("lang") == lang)


def with_extracted_text(pages: DataFrame, col: str = "extracted_text") -> DataFrame:
    return pages.withColumn(col, extract_text_udf(F.col("html")))


def extraction_mismatch_count(pages: DataFrame) -> int:
    """Byte-identity invariant (BASELINE.json:15): extraction UDF output
    vs the corpus `text` column; must be 0."""
    return (
        with_extracted_text(pages)
        .filter(F.col("extracted_text") != F.col("text"))
        .count()
    )


def segmented_sentences(pages: DataFrame, text_col: str = "text") -> DataFrame:
    """pages -> (url, warc_ts, sent_idx, sentence) via posexplode.

    Kept as a standalone relational operator for tests/oracles; the
    production path fuses segmentation into the extraction stage
    (operators.ner.extract_triples_stage) to avoid a second Python hop.
    """
    return pages.select(
        "url",
        "warc_ts",
        F.posexplode(split_sentences_udf(F.col(text_col))).alias(
            "sent_idx", "sentence"
        ),
    ).withColumn("sent_idx", F.col("sent_idx").cast("int"))
