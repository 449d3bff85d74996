"""Web-corpus front-end kernels: HTML->text and sentence segmentation.

Not present in the reference (its input is pre-sentence ADE rows); the
north rule (BASELINE.json:6,15) mandates them as vectorized Arrow UDFs
with a byte-identical per-url extraction invariant, which is checked
against the corpus's pre-extracted ``text`` column.
"""

from __future__ import annotations

import re

import pandas as pd

_TAG_RE = re.compile(rb"<[^>]+>")
_SCRIPT_RE = re.compile(rb"<(script|style)\b.*?</\1>", re.DOTALL | re.IGNORECASE)
_WS_RE = re.compile(r"\s+")

# Deterministic rule-based splitter: a sentence ends at . ! or ?
# followed by whitespace. ADE-style rows are single sentences ending in
# '.', so this reproduces the reference granularity on the evaluation
# split by construction (decimals like 2.27 never precede whitespace).
_SENT_SPLIT_RE = re.compile(r"(?<=[.!?])\s+")


def extract_text(html: pd.Series) -> pd.Series:
    """binary html -> text. Strips script/style blocks then all tags,
    decodes utf-8, collapses whitespace runs to single spaces, trims.

    Must be byte-identical to the corpus `text` column per url — the
    synthetic corpus (sources/corpus.py) wraps text with whitespace-free
    markup so this inversion is exact; real-corpus use would pin the
    same extractor at corpus-build time.
    """

    def _one(b: bytes) -> str:
        if b is None:
            return ""
        no_script = _SCRIPT_RE.sub(b" ", b)
        no_tags = _TAG_RE.sub(b" ", no_script)
        s = no_tags.decode("utf-8", errors="replace")
        return _WS_RE.sub(" ", s).strip()

    return html.map(_one)


def split_sentences(text: pd.Series) -> pd.Series:
    """text -> list[str] sentences (deterministic rule-based)."""
    return text.map(lambda t: [s for s in _SENT_SPLIT_RE.split(t) if s] if t else [])


def split_sentences_flat(text: pd.Series):
    """Batch-flat segmentation: ``(sentences, doc_of)`` where
    ``sentences`` is the concatenation of every row's non-empty
    sentences in row order and ``doc_of[i]`` the 0-based row index of
    sentence i.

    Semantics identical to ``split_sentences`` + flatten (pinned by
    tests), but the regex scans ONE joined string per batch instead of
    one sre call per row: rows join on a \\x01 sentinel, which is
    neither whitespace nor a sentence terminator, so it can never
    create or suppress a split point — each emitted part is then
    re-segmented on the sentinel to recover row boundaries. Rows
    containing the sentinel (can't survive web-text normalization, but
    guard anyway) fall back to the per-row path. Measured ~30% off the
    fused-extraction kernel wall at bench batch sizes.
    """
    import numpy as np

    vals = text.fillna("")
    if vals.str.contains("\x01", regex=False).any():
        sents = split_sentences(vals)
        lens = np.fromiter(
            (len(x) for x in sents), dtype=np.int64, count=len(sents)
        )
        flat = [s for lst in sents for s in lst]
        return flat, np.repeat(np.arange(len(vals)), lens)
    big = "\x01".join(vals.to_numpy())
    flat: list[str] = []
    doc_list: list[int] = []
    row = 0
    ap_f, ap_d = flat.append, doc_list.append
    for p in _SENT_SPLIT_RE.split(big):
        if "\x01" in p:
            segs = p.split("\x01")
            if segs[0]:
                ap_f(segs[0])
                ap_d(row)
            for seg in segs[1:]:
                row += 1
                if seg:
                    ap_f(seg)
                    ap_d(row)
        elif p:
            ap_f(p)
            ap_d(row)
    return flat, np.array(doc_list, dtype=np.int64)
