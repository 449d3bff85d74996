"""NER tagging stage + fused triple extraction.

`extract_triples_stage` is the engine's one pages -> triples Python
stage. Every model enters it through one method,
``extract_pairs(norm: pd.Series) -> DataFrame[row int64, subj, obj]``
over a batch of normalized sentences:

* `GazetteerTagger` — deterministic lexicon tagger, the test-mode model
  (SURVEY.md M1): reproduces the reference's gold span semantics
  exactly, so pipeline triples can be scored against the pandas gold.
  Its pairs come from the batch-vectorized `BatchMatcher`.
* `NumpyBertTagger` — the BERT token classifier executed in numpy
  (operators/bert_stub.py).
* `NumpyFinalModel` — the composed NER -> RE model
  (operators/final_model.py).

ONE mapInPandas stage runs segmentation -> normalization -> the model's
NER/reconstruction (M3)/RE pairing (M6) per Arrow batch — a single
JVM<->Python round-trip per partition chunk, per SURVEY.md §4.3 (UDF
pipelining). Model/lexicon state ships once per executor via
SparkContext.broadcast, with a per-process singleton cache.
"""

from __future__ import annotations

from typing import Iterable, Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..kernels import webtext
from ..kernels.normalize import normalize_series
from ..kernels.tagmatch import BatchMatcher

TRIPLE_SCHEMA = (
    "url string, warc_ts timestamp, sent_idx int, "
    "subj string, pred string, obj string"
)

class GazetteerTagger:
    """Greedy longest-match phrase tagger over broadcast lexicons.

    Matching is case-insensitive on whitespace words of the normalized
    sentence; emits word-aligned IOB (B-Drug/I-Drug/B-Effect/I-Effect/O,
    the reference's 5-label scheme,
    /root/reference/src/NER/data_utilities_ner.py:78-82).
    """

    def __init__(self, drug_terms: Iterable[str], effect_terms: Iterable[str]):
        self._index: dict[str, list[tuple[tuple[str, ...], str]]] = {}
        for etype, terms in (("Drug", drug_terms), ("Effect", effect_terms)):
            for term in terms:
                words = tuple(term.lower().split())
                if not words:
                    continue
                self._index.setdefault(words[0], []).append((words, etype))
        for first in self._index:
            self._index[first].sort(key=lambda x: -len(x[0]))

    def tag_words(self, words: list[str]) -> list[str]:
        lowered = [w.lower() for w in words]
        n = len(words)
        tags = ["O"] * n
        i = 0
        while i < n:
            matched = False
            for phrase, etype in self._index.get(lowered[i], ()):
                k = len(phrase)
                if i + k <= n and tuple(lowered[i : i + k]) == phrase:
                    tags[i] = f"B-{etype}"
                    for j in range(i + 1, i + k):
                        tags[j] = f"I-{etype}"
                    i += k
                    matched = True
                    break
            if not matched:
                i += 1
        return tags

    def batch_matcher(self) -> BatchMatcher:
        """The lexicon compiled to the batch-vectorized matcher, whose
        semantics tests/test_tagmatch_differential.py pins to the
        per-sentence tag_words -> reconstruct -> pair chain."""
        return BatchMatcher(self._index)

    def extract_pairs(self, norm: pd.Series) -> pd.DataFrame:
        return self.batch_matcher().extract_pairs(norm)


def extract_triples_stage(
    pages: DataFrame,
    tagger_bc,
    extract_html: bool = False,
) -> DataFrame:
    """Fused pages -> triples mapInPandas stage (CAUSES direction).

    `tagger_bc` is a SparkContext.broadcast of a model with an
    ``extract_pairs`` method (module docstring). Output:
    (url, warc_ts, sent_idx, subj, pred, obj), one row per extracted
    relation; subjects/objects are lowercase mention surfaces, matching
    the reference's lowercased entity convention
    (/root/reference/src/data_utilities.py:100-101).

    With ``extract_html=True`` the html->text extraction runs inside
    the same Python stage (one JVM<->Python round-trip for
    extract+segment+normalize+NER+RE, per SURVEY.md §4.3); the
    byte-identity invariant stays a separate audit action
    (operators.text.extraction_mismatch_count).
    """

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        model = tagger_bc.value
        for pdf in batches:
            if len(pdf) == 0:
                continue
            if extract_html:
                pdf = pdf.assign(text=webtext.extract_text(pdf["html"]))
            # batch-flat segmentation (one regex scan per batch) and a
            # doc-index array instead of repeating url/warc_ts object
            # arrays per sentence: the page columns are gathered only
            # for rows that produced a pair, at the end
            flat, doc_of = webtext.split_sentences_flat(pdf["text"])
            total = len(flat)
            if total == 0:
                continue
            new_run = np.r_[True, doc_of[1:] != doc_of[:-1]]
            run_start = np.flatnonzero(new_run)
            sent_idx = np.arange(total) - np.repeat(
                run_start, np.diff(np.append(run_start, total))
            )
            norm = normalize_series(pd.Series(flat, dtype=object))
            pairs = model.extract_pairs(norm)
            r = pairs["row"].to_numpy()
            d = doc_of[r]
            yield pd.DataFrame(
                {
                    "url": pdf["url"].to_numpy()[d],
                    "warc_ts": pdf["warc_ts"].to_numpy()[d],
                    "sent_idx": sent_idx[r].astype("int32"),
                    "subj": pairs["subj"].to_numpy(),
                    "pred": "CAUSES",
                    "obj": pairs["obj"].to_numpy(),
                }
            )

    # prune before the Python stage: mapInPandas ships its full input
    # schema over Arrow, so dropping unused columns (notably the html
    # binary when text is trusted) here halves the JVM->Python transfer
    cols = ["url", "warc_ts", "html" if extract_html else "text"]
    pruned = pages.select(*cols)
    return pruned.mapInPandas(fn, TRIPLE_SCHEMA)


def with_inverse_triples(triples: DataFrame) -> DataFrame:
    """CAUSES triples + (effect, TREATED_WITH, drug) inverse view —
    relational, no Python hop (BASELINE.json:6). Both rows of a triple
    come from ONE pass over ``triples`` (inline over a two-struct
    array): a union would re-execute the whole input subtree — the
    fused extraction stage included — for its second branch."""
    return triples.select(
        "url",
        "warc_ts",
        "sent_idx",
        F.inline(
            F.array(
                F.struct("subj", "pred", "obj"),
                F.struct(
                    F.col("obj").alias("subj"),
                    F.lit("TREATED_WITH").alias("pred"),
                    F.col("subj").alias("obj"),
                ),
            )
        ),
    )
