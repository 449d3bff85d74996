"""WordPiece tokenization and BERT input framing.

The reference uses HuggingFace's bert-base-cased wordpiece tokenizer
(e.g. /root/reference/src/NER/data_utilities_ner.py:87-128). The HF
library (and its downloadable vocab) is not available here, so
``WordPieceTokenizer`` runs the REAL WordPiece algorithm (greedy
longest-match-first / max-munch, as published with BERT and
implemented in HF's WordpieceTokenizer) over a frozen vocab file
shipped in the package (resources/wordpiece_vocab.txt, generated by
tools/gen_wordpiece_vocab.py from the corpus lexicons + a char-level
fallback alphabet). Subtoken ids are vocab line numbers, exactly the
HF id convention. It is the one engine tokenizer: every framing
function below takes it as a required argument.

The A5/M3/M4 pipeline must be invariant to where subtoken boundaries
fall — pinned by tests/test_wordpiece_real.py, which runs label
propagation + masked reconstruction over the corpus lexicon under this
tokenizer and a vocabulary-free fixed-chunk stand-in kept in that test.
"""

from __future__ import annotations

import os

CLS, SEP, PAD = "[CLS]", "[SEP]", "[PAD]"
UNK = "[UNK]"
_VOCAB_PATH = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "resources",
    "wordpiece_vocab.txt",
)


class WordPieceTokenizer:
    """Greedy longest-match-first WordPiece (the public BERT algorithm:
    repeatedly take the longest vocab prefix of the remaining word,
    continuations tried with a '##' prefix; any failure -> [UNK]).

    Mirrors HF WordpieceTokenizer.tokenize semantics, including the
    max_input_chars_per_word guard and whole-word [UNK] on a failed
    middle piece.

    Real-vocab ingestion (the declared parity boundary of A5): a user
    with the actual bert-base-cased vocab.txt (a trained artifact, not
    downloadable here) points ``REMEDINER_WORDPIECE_VOCAB`` at it — or
    installs it via ``tools/gen_wordpiece_vocab.py --ingest`` — and
    every default-constructed tokenizer (pipeline, gate, NumpyBertTagger)
    max-munches over THAT vocab with ids = its line numbers, exactly the
    HF id convention, closing the subtoken-boundary deviation. The env
    var is read where the tokenizer is CONSTRUCTED (driver-side; the
    built object ships to executors inside the broadcast tagger)."""

    def __init__(
        self,
        vocab_path: str | None = None,
        max_input_chars_per_word: int = 100,
    ):
        if vocab_path is None:
            vocab_path = os.environ.get(
                "REMEDINER_WORDPIECE_VOCAB"
            ) or _VOCAB_PATH
        with open(vocab_path, encoding="utf-8") as f:
            self._tok_to_id = {
                line.rstrip("\n"): i for i, line in enumerate(f)
            }
        self.max_input_chars_per_word = max_input_chars_per_word

    def tokenize(self, word: str) -> list[str]:
        if not word:
            return []
        if len(word) > self.max_input_chars_per_word:
            return [UNK]
        pieces: list[str] = []
        start = 0
        while start < len(word):
            end = len(word)
            cur = None
            while start < end:
                sub = word[start:end]
                if start > 0:
                    sub = "##" + sub
                if sub in self._tok_to_id:
                    cur = sub
                    break
                end -= 1
            if cur is None:
                return [UNK]
            pieces.append(cur)
            start = end
        return pieces

    def convert_tokens_to_ids(self, tokens: list[str]) -> list[int]:
        unk = self._tok_to_id[UNK]
        return [self._tok_to_id.get(t, unk) for t in tokens]


def tokenize_words_with_labels(
    words: list[str], labels: list, tokenizer
) -> tuple[list[str], list]:
    """A5: wordpiece each word, replicating its label per subtoken.

    Port of tokenize_text_ner / tokenize_text_re
    (/root/reference/src/NER/data_utilities_ner.py:87-128,
    /root/reference/src/RE/data_utilities_re.py:148-189), flattened.
    """
    out_tokens: list[str] = []
    out_labels: list = []
    for word, label in zip(words, labels):
        pieces = tokenizer.tokenize(word)
        out_tokens.extend(pieces)
        out_labels.extend([label] * len(pieces))
    return out_tokens, out_labels


def frame_words_for_inference(
    words: list[str], max_len: int, tokenizer
) -> tuple[list[int], list[int], list[int]]:
    """Wordpiece ``words``, frame to max_len, and return
    (ids, attention, word_ids): word_ids[pos] is the word index whose
    FIRST subtoken sits at framed position pos, -1 for CLS/SEP/PAD and
    continuation pieces — the single source of the id/word alignment
    every inference decode path shares (NumpyBertTagger, the RE stage,
    the composed final model)."""
    toks: list[str] = []
    wids: list[int] = []
    for w_idx, w in enumerate(words):
        pieces = tokenizer.tokenize(w)
        toks.extend(pieces)
        wids.extend([w_idx] + [-1] * (len(pieces) - 1))
    ids, attention, _ = frame_bert_input(
        toks, [0] * len(toks), max_len, tokenizer
    )
    word_ids = [-1] + wids + [-1]
    return ids, attention, (word_ids + [-1] * max_len)[:max_len]


def project_first_subtoken(
    preds_row, word_ids: list[int], n_words: int, default: int = 0
) -> list[int]:
    """Per-framed-position predictions -> per-word values: the first
    subtoken of each word wins (the HF convention of the reference's
    inference loop); words whose subtokens were truncated away keep
    ``default``."""
    out = [default] * n_words
    seen: set[int] = set()
    for pos, wid in enumerate(word_ids):
        w = int(wid)
        if w < 0 or w in seen or w >= n_words:
            continue
        seen.add(w)
        out[w] = int(preds_row[pos])
    return out


def frame_bert_input(
    tokens: list[str],
    labels: list[int],
    max_len: int,
    tokenizer,
) -> tuple[list[int], list[int], list[int]]:
    """A6: [CLS]+tokens+[SEP], truncate/pad to max_len, mask, -100 labels.

    Port of get_ner_inputs / get_re_inputs
    (/root/reference/src/NER/data_utilities_ner.py:132-168,
    /root/reference/src/RE/data_utilities_re.py:193-229) for one row.
    """
    framed = [CLS] + list(tokens) + [SEP]
    framed_labels = [-100] + list(labels) + [-100]
    if len(framed) > max_len:
        framed = framed[:max_len]
        framed_labels = framed_labels[:max_len]
    if len(framed) < max_len:
        pad_n = max_len - len(framed)
        framed = framed + [PAD] * pad_n
        framed_labels = framed_labels + [-100] * pad_n
    attention = [1 if t != PAD else 0 for t in framed]
    ids = tokenizer.convert_tokens_to_ids(framed)
    return ids, attention, framed_labels
