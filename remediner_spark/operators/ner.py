"""NER tagging stage + fused triple extraction.

The tagger is pluggable behind `TaggerModel.tag_words`:

* `GazetteerTagger` — deterministic lexicon tagger, the test-mode model
  (SURVEY.md M1): reproduces the reference's gold span semantics
  exactly, so pipeline triples can be scored against the pandas gold.
* `NumpyBertTagger` — the BERT token classifier executed in numpy
  (operators/bert_stub.py), broadcast once per executor.

`extract_triples_stage` is the fused hot path: ONE mapInPandas stage
runs segmentation -> normalization -> NER -> reconstruction (M3) -> RE
pairing (M6) per Arrow batch — a single JVM<->Python round-trip per
partition chunk, per SURVEY.md §4.3 (UDF pipelining). Model/lexicon
state ships once per executor via SparkContext.broadcast, with a
per-process singleton cache.
"""

from __future__ import annotations

from typing import Iterable, Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..gold import pair_mentions_positional
from ..kernels import webtext
from ..kernels.normalize import normalize_series
from ..kernels.reconstruct import mentions_from_word_iob
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
        """Capability hook for the vectorized fast path: taggers that
        can be compiled to a BatchMatcher expose this; model taggers
        (only a tag_words surface) don't, and take the generic
        per-sentence path in extract_triples_stage."""
        return BatchMatcher(self._index)


def _pairs_per_sentence(norm: pd.Series, tagger) -> pd.DataFrame:
    """Generic (model-tagger) path: tag -> mentions_from_word_iob ->
    positional pairing.

    Prefers the tagger's ``tag_words_batch`` when exposed (one batched
    forward per Arrow batch — batching is the point of mapInPandas
    model serving; NumpyBertTagger exposes it), falling
    back to per-sentence ``tag_words``. The row index column is always
    int64 so downstream fancy indexing stays valid on zero-pair batches
    (an all-object empty frame would make `sent[...][r]` raise).
    """
    word_lists = [t.split() for t in norm.to_numpy()]
    batch_fn = getattr(tagger, "tag_words_batch", None)
    if batch_fn is not None:
        nonempty = [i for i, w in enumerate(word_lists) if w]
        tagged = zip(nonempty, batch_fn([word_lists[i] for i in nonempty]))
    else:
        tagged = (
            (i, tagger.tag_words(w)) for i, w in enumerate(word_lists) if w
        )
    rows: list[int] = []
    subjs: list[str] = []
    objs: list[str] = []
    for i, tags in tagged:
        _, mentions = mentions_from_word_iob(word_lists[i], tags)
        for s, _p, o in pair_mentions_positional(mentions):
            rows.append(i)
            subjs.append(s)
            objs.append(o)
    return pd.DataFrame(
        {
            "row": pd.Series(rows, dtype="int64"),
            "subj": pd.Series(subjs, dtype=object),
            "obj": pd.Series(objs, dtype=object),
        }
    )


def extract_triples_stage(
    pages: DataFrame,
    tagger_bc,
    text_col: str = "text",
    extract_html: bool = False,
) -> DataFrame:
    """Fused pages -> triples mapInPandas stage (CAUSES direction).

    `tagger_bc` is a SparkContext.broadcast of a TaggerModel. Output:
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
        tagger = tagger_bc.value
        # batch-vectorized tagging/pairing kernel for lexicon taggers;
        # semantics pinned to the per-sentence tag_words->reconstruct->
        # pair chain by tests/test_tagmatch_differential.py. Model
        # taggers (Bert/Dummy: only a tag_words surface) take the
        # generic per-sentence path.
        bm = getattr(tagger, "batch_matcher", None)
        matcher = bm() if bm is not None else None
        import numpy as np

        for pdf in batches:
            if len(pdf) == 0:
                continue
            if extract_html:
                pdf = pdf.assign(**{text_col: webtext.extract_text(pdf["html"])})
            # batch-flat segmentation (one regex scan per batch) and a
            # doc-index array instead of repeating url/warc_ts object
            # arrays per sentence: the page columns are gathered only
            # for rows that produced a pair, at the end
            flat, doc_of = webtext.split_sentences_flat(pdf[text_col])
            total = len(flat)
            if total == 0:
                continue
            new_run = np.r_[True, doc_of[1:] != doc_of[:-1]]
            run_start = np.flatnonzero(new_run)
            sent_idx = np.arange(total) - np.repeat(
                run_start, np.diff(np.append(run_start, total))
            )
            norm = normalize_series(pd.Series(flat, dtype=object))
            if matcher is not None:
                pairs = matcher.extract_pairs(norm)
            else:
                pairs = _pairs_per_sentence(norm, tagger)
            r = pairs["row"].to_numpy()
            d = doc_of[r]
            warc = (
                pdf["warc_ts"].to_numpy()[d] if "warc_ts" in pdf else None
            )
            yield pd.DataFrame(
                {
                    "url": pdf["url"].to_numpy()[d],
                    "warc_ts": warc,
                    "sent_idx": sent_idx[r].astype("int32"),
                    "subj": pairs["subj"].to_numpy(),
                    "pred": "CAUSES",
                    "obj": pairs["obj"].to_numpy(),
                }
            )

    # prune before the Python stage: mapInPandas ships its full input
    # schema over Arrow, so dropping unused columns (notably the html
    # binary when text is trusted) here halves the JVM->Python transfer
    cols = ["url", "warc_ts", "html" if extract_html else text_col]
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
