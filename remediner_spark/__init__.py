"""remediner_spark — a from-scratch PySpark-native medical KG-construction engine.

Re-creates the query/data-processing capabilities of the reference
(StefanoZanoni/REmediNER, at /root/reference) as a distributed
triple-extraction pipeline over Common-Crawl-style web-page tables:

    pages(url, warc_ts, html, text, lang)
      -> language filter -> HTML extraction (byte-identical per url)
      -> sentence segmentation -> NER tagging (pluggable: deterministic
         gazetteer / broadcast BERT weights) -> entity masking + relation
         pairing -> (drug, CAUSES, effect) triples -> entity linking
      -> canonicalization -> node/edge graph tables.

Everything is DataFrame-first: built-in pyspark.sql.functions where the
semantics allow, Arrow-batched pandas UDFs (mapInPandas) for the
byte-parity Python-regex text kernels and model inference. No RDDs.

Layout:
    kernels/    pure pandas/numpy batch kernels (no Spark import) —
                byte-parity ports of the reference text semantics
    operators/  Spark operators wrapping the kernels + relational ops
    sources/    synthetic corpus generation + table readers
    plans/      end-to-end pipeline assembly, checkpointing
"""

__version__ = "0.1.0"

from remediner_spark import zipguard  # noqa: E402,F401  installs the worker guard
