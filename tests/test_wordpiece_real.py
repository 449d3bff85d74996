"""Real-vocab WordPiece (max-munch) tests.

1. Algorithm unit cases (greedy longest-match-first, [UNK] fallback,
   HF id convention).
2. The tokenizer-invariance differential: A5 label propagation + M3
   masked reconstruction produce IDENTICAL masked text and mentions
   under the real-vocab tokenizer and a vocabulary-free fixed-chunk
   stand-in (``_ChunkTokenizer``, below), over the full corpus lexicon
   in sentence context (subtoken boundaries differ; word-level outputs
   must not).
3. Framing (A6) round trip with real vocab ids.
"""

from __future__ import annotations

import zlib

import pytest

from remediner_spark.kernels.reconstruct import reconstruct_masked_text
from remediner_spark.kernels.wordpiece import (
    CLS,
    PAD,
    SEP,
    UNK,
    WordPieceTokenizer,
    _VOCAB_PATH,
    frame_bert_input,
    tokenize_words_with_labels,
)


class _ChunkTokenizer:
    """Vocabulary-free stand-in: fixed 4-char pieces, ids by crc32. Its
    subtoken boundaries fall where the real vocab's do not."""

    _SPECIAL = {PAD: 0, CLS: 101, SEP: 102}

    def tokenize(self, word: str) -> list[str]:
        return [("##" if i else "") + word[i : i + 4]
                for i in range(0, len(word), 4)]

    def convert_tokens_to_ids(self, tokens: list[str]) -> list[int]:
        return [self._SPECIAL.get(t, 103 + zlib.crc32(t.encode()) % (1 << 20))
                for t in tokens]


@pytest.fixture(scope="module")
def tok():
    return WordPieceTokenizer()


def test_max_munch_greedy_longest_first(tok):
    # stem in vocab, suffix via continuation pieces
    assert tok.tokenize("dorvax") == ["dorv", "##ax"]
    # whole word present -> single piece even though its stem is too
    assert tok.tokenize("patient") == ["patient"]
    # unknown ASCII falls back to char pieces, never [UNK]
    pieces = tok.tokenize("zzqq")
    assert pieces[0] == "z" and all(p.startswith("##") for p in pieces[1:])
    # non-ASCII chars are outside the fallback alphabet -> whole-word UNK
    assert tok.tokenize("café") == [UNK]
    assert tok.tokenize("") == []
    assert tok.tokenize("x" * 200) == [UNK]  # max_input_chars guard


def test_hf_id_convention(tok):
    ids = tok.convert_tokens_to_ids([PAD, UNK, CLS, SEP])
    assert ids == [0, 1, 2, 3]
    # a token's id is its line number in the vocab file
    with open(_VOCAB_PATH, encoding="utf-8") as f:
        lines = f.read().splitlines()
    toks = ["dorv", "##ax", "patient"]
    assert [lines[i] for i in tok.convert_tokens_to_ids(toks)] == toks


def _masked_via(tokenizer, words, labels):
    toks, sub_labels = tokenize_words_with_labels(words, labels, tokenizer)
    return reconstruct_masked_text(toks, sub_labels)


def test_reconstruction_invariant_over_tokenizers(tok):
    """Word-coherent labelings: masked text + mentions must be
    identical whichever tokenizer splits the words (the M3 equivalence
    domain)."""
    from remediner_spark.kernels.iob import iob_tag_text
    from remediner_spark.kernels.normalize import normalize_series
    from remediner_spark.sources.corpus import (
        _TEMPLATES,
        drug_lexicon,
        effect_lexicon,
    )
    import pandas as pd

    det = _ChunkTokenizer()
    effects = effect_lexicon()
    checked = 0
    for i, drug in enumerate(drug_lexicon()):
        effect = effects[i % len(effects)]
        text = _TEMPLATES[i % len(_TEMPLATES)].format(drug=drug, effect=effect)
        norm = normalize_series(pd.Series([text]))[0]
        words = norm.split()
        tags = iob_tag_text(norm, [drug], [effect])
        got_real = _masked_via(tok, words, tags)
        got_det = _masked_via(det, words, tags)
        assert got_real == got_det, (drug, effect, got_real, got_det)
        checked += 1
    assert checked >= 50


def test_framing_with_real_vocab(tok):
    words = ["Treatment", "with", "dorvax", "caused", "nauseola"]
    labels = ["O", "O", "B-Drug", "O", "B-Effect"]
    toks, sub_labels = tokenize_words_with_labels(words, labels, tok)
    assert len(toks) == len(sub_labels) > len(words)  # real splits happen
    lab_ids = [0 if l == "O" else 1 for l in sub_labels]
    ids, attention, framed = frame_bert_input(toks, lab_ids, 16, tok)
    assert len(ids) == len(attention) == len(framed) == 16
    assert ids[0] == tok.convert_tokens_to_ids([CLS])[0]
    assert framed[0] == -100 and framed[-1] == -100
    # attention mask is 1 exactly over non-PAD positions
    n_real = len(toks) + 2
    assert attention == [1] * n_real + [0] * (16 - n_real)


def test_frame_words_for_inference_truncation(tok):
    from remediner_spark.kernels.wordpiece import (
        frame_words_for_inference,
        project_first_subtoken,
    )

    words = ["dorvax"] * 30  # 2 pieces each -> overflows max_len=16
    ids, att, word_ids = frame_words_for_inference(words, 16, tok)
    assert len(ids) == len(att) == len(word_ids) == 16
    # truncated words keep the default label
    preds = list(range(16))
    out = project_first_subtoken(preds, word_ids, len(words), default=-1)
    covered = {w for w in word_ids if w >= 0}
    assert all(
        (out[i] == -1) == (i not in covered) for i in range(len(words))
    )


# ------------------------- user-supplied real-vocab ingestion (7a) ---

_MINI_HF_VOCAB = (
    ["[PAD]"] + [f"unused{i}" for i in range(99)]
    + ["[UNK]", "[CLS]", "[SEP]", "[MASK]"]
    + list("abcdefghijklmnopqrstuvwxyz")
    + ["##" + c for c in "abcdefghijklmnopqrstuvwxyz"]
    + ["una", "##ffa", "##ble", "aspirin", "##in"]
)


def _write_vocab(tmp_path, lines, name="vocab.txt"):
    p = tmp_path / name
    p.write_text("\n".join(lines) + "\n", encoding="utf-8")
    return str(p)


class TestUserVocabIngestion:
    def test_env_override_reaches_default_constructor(
        self, tmp_path, monkeypatch
    ):
        path = _write_vocab(tmp_path, _MINI_HF_VOCAB)
        monkeypatch.setenv("REMEDINER_WORDPIECE_VOCAB", path)
        tok = WordPieceTokenizer()  # no explicit path: env wins
        # the canonical HF wordpiece example
        assert tok.tokenize("unaffable") == ["una", "##ffa", "##ble"]
        # ids are line numbers of the USER file (HF convention):
        # [PAD]=0, [UNK]=100, [CLS]=101, [SEP]=102 in this layout
        assert tok.convert_tokens_to_ids(["[PAD]", "[UNK]", "[CLS]", "[SEP]"]) \
            == [0, 100, 101, 102]
        assert tok.convert_tokens_to_ids(["una"])[0] == _MINI_HF_VOCAB.index("una")

    def test_explicit_path_beats_env(self, tmp_path, monkeypatch):
        env_path = _write_vocab(tmp_path, _MINI_HF_VOCAB, "env.txt")
        monkeypatch.setenv("REMEDINER_WORDPIECE_VOCAB", env_path)
        other = _write_vocab(
            tmp_path,
            ["[PAD]", "[UNK]", "[CLS]", "[SEP]", "zz", "##zz"],
            "other.txt",
        )
        tok = WordPieceTokenizer(vocab_path=other)
        assert tok.tokenize("zzzz") == ["zz", "##zz"]

    def test_validate_vocab(self, tmp_path):
        import sys as _sys, os as _os
        _sys.path.insert(0, _os.path.join(
            _os.path.dirname(_os.path.dirname(_os.path.abspath(__file__))),
            "tools"))
        from gen_wordpiece_vocab import validate_vocab

        good = _write_vocab(tmp_path, _MINI_HF_VOCAB, "good.txt")
        assert len(validate_vocab(good)) == len(_MINI_HF_VOCAB)
        for bad_lines, name in [
            (_MINI_HF_VOCAB + ["una"], "dup.txt"),            # duplicate
            (["[PAD]", "[UNK]", "a", "##a"], "nospecial.txt"), # no CLS/SEP
            (["[PAD]", "[UNK]", "[CLS]", "[SEP]", "a"], "nocont.txt"),
        ]:
            bad = _write_vocab(tmp_path, bad_lines, name)
            with pytest.raises(SystemExit):
                validate_vocab(bad)

    def test_pipeline_label_propagation_under_user_vocab(
        self, tmp_path, monkeypatch
    ):
        """A5+M3 word-level invariance holds under an ingested vocab
        too (the parity boundary is subtoken boundaries only)."""
        path = _write_vocab(tmp_path, _MINI_HF_VOCAB)
        monkeypatch.setenv("REMEDINER_WORDPIECE_VOCAB", path)
        tok = WordPieceTokenizer()
        words = ["aspirin", "caused", "unaffable", "pain"]
        labels = [1, 0, 0, 3]
        toks, labs = tokenize_words_with_labels(words, labels, tok)
        # first-subtoken convention: each word's pieces carry its label
        assert labs[: len(tok.tokenize("aspirin"))] == [1] * len(
            tok.tokenize("aspirin")
        )
        ids, att, framed = frame_bert_input(toks, labs, 16, tok)
        assert len(ids) == len(att) == len(framed) == 16
        assert framed[0] == -100 and ids[0] == tok.convert_tokens_to_ids([CLS])[0]
