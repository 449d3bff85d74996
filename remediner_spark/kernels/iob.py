"""IOB gold-tagging kernel — semantic port of the reference tagger.

Reference: /root/reference/src/NER/data_utilities_ner.py:10-64
(`iob_tagging`). Quirks reproduced deliberately (they define the gold
labels our triples are scored against):

* Entity spans are the **first occurrence** of each surface in the text
  (`re.search(re.escape(e))`) — repeated mentions are ignored
  (data_utilities_ner.py:16-24).
* Drug/effect span lists are consumed with ``zip`` — pairs truncate to
  the shorter list (relevant only for augmented multi-entity rows).
* Per word, candidates from every (drug, effect) pair are collected and
  the **last non-O candidate wins** (data_utilities_ner.py:56-61).
* The B/I entity-type index persists across candidates and words (the
  reference's mutable ``i``), so an I-token inherits the type of the
  most recent B-token seen anywhere earlier in the scan.

Tokenization: the reference uses nltk's TreebankWordTokenizer
``span_tokenize``. Our inputs are always post-normalization texts
(punctuation already stripped to spaces by kernels.normalize), on which
Treebank spans coincide with whitespace spans; we therefore tokenize
with a whitespace span scanner and verify that equivalence in tests.
"""

from __future__ import annotations

import re
from typing import Sequence

WORD_RE = re.compile(r"\S+")


def span_tokenize(text: str) -> list[tuple[int, int]]:
    """Whitespace word spans (Treebank-equivalent on normalized text)."""
    return [m.span() for m in WORD_RE.finditer(text)]


def _first_span(entity: str, text: str) -> tuple[int, int] | None:
    m = re.search(re.escape(entity), text)
    return m.span() if m else None


def iob_tag_text(
    text: str, drugs: Sequence[str], effects: Sequence[str]
) -> list[str]:
    """Tag one (already-normalized) text; returns one IOB tag per word."""
    drug_spans = [_first_span(d, text) for d in drugs]
    effect_spans = [_first_span(e, text) for e in effects]
    # The reference assumes every entity occurs in its text (gold data
    # guarantees it); in pipeline mode a missing surface yields a
    # never-matching span instead of crashing.
    missing = (-1, -1)
    drug_spans = [s if s else missing for s in drug_spans]
    effect_spans = [s if s else missing for s in effect_spans]

    tags: list[str] = []
    entity_names = ("Drug", "Effect")
    ent_idx = 0  # persists across words/pairs, like the reference's `i`
    for w_start, w_end in span_tokenize(text):
        candidates: list[str] = []
        for (d_start, d_end), (e_start, e_end) in zip(drug_spans, effect_spans):
            tag = "O"
            if w_start == d_start or w_start == e_start:
                tag = "B"
                ent_idx = 0 if w_start == d_start else 1
            elif (d_start < w_start and w_end <= d_end) or (
                e_start < w_start and w_end <= e_end
            ):
                tag = "I"
            if tag != "O":
                tag = f"{tag}-{entity_names[ent_idx]}"
            candidates.append(tag)
        chosen = candidates[-1] if candidates else "O"
        for cand in candidates:
            if "B" in cand or "I" in cand:
                chosen = cand  # last non-O candidate wins
        tags.append(chosen)
    return tags


def iob_tag_row(text: str, drug, effect) -> str:
    """Row adapter: drug/effect may be a single surface or a list.

    Returns the space-joined tag string, the reference's column format
    (data_utilities_ner.py:64,73-75).
    """
    drugs = [drug] if isinstance(drug, str) else list(drug)
    effects = [effect] if isinstance(effect, str) else list(effect)
    return " ".join(iob_tag_text(text, drugs, effects))
