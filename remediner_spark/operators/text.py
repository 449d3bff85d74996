"""Column-level text operators: the language filter and the html->text
extraction audit.

Extraction is a Series-to-Series pandas UDF over the pure kernel — one
Python-worker hop, vectorized inside the batch, no per-row Spark UDFs.
Segmentation has no operator of its own: it runs inside the fused
extraction stage (operators.ner.extract_triples_stage).
The parity-critical normalization (Python `re` lookarounds, SURVEY R6)
must NOT be re-expressed with JVM `regexp_replace`; everything else
relational stays Catalyst-side.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import StringType

from ..kernels import webtext


@pandas_udf(StringType())
def extract_text_udf(html: pd.Series) -> pd.Series:
    """html:binary -> text:string (kernels.webtext.extract_text)."""
    return webtext.extract_text(html)


def filter_language(pages: DataFrame) -> DataFrame:
    """English pages — plain Catalyst predicate, pushed into the scan."""
    return pages.filter(F.col("lang") == "en")


def with_extracted_text(pages: DataFrame) -> DataFrame:
    return pages.withColumn("extracted_text", extract_text_udf(F.col("html")))


def extraction_mismatch_count(pages: DataFrame) -> int:
    """Byte-identity invariant (BASELINE.json:15): extraction UDF output
    vs the corpus `text` column; must be 0."""
    return (
        with_extracted_text(pages)
        .filter(F.col("extracted_text") != F.col("text"))
        .count()
    )
