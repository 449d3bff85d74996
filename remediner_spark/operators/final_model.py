"""Composed NER -> RE inference (the reference's FINAL MODEL).

Transcribes the composition in
/root/reference/src/FINALMODEL/final_model.py:16-36 +
test_final.py:60-95, executed torch-free end-to-end:

    sentence
      -> NER token classification          (numpy BERT encoder, M1/M2)
      -> masked text + mention list        (M3 reconstruction)
      -> wordpiece reframe of the mask     (M4)
      -> RE head forward + argmax          (numpy BiLSTM head, M5)
      -> per-word relation-group ids
      -> (drug, CAUSES, effect) triples    (M6 assembly)

Both model stages run the transcribed reference architectures over
broadcast seeded weights (kernels/bert_encoder.py, kernels/re_head.py);
every glue step is the same engine kernel the gazetteer path uses.
``NumpyFinalModel.extract_pairs`` is its entry into the fused
operators/ner.extract_triples_stage — one Python hop per Arrow batch
for segmentation, normalization and the whole composition.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from ..kernels.pairing import assemble_triples, pairs_frame
from ..kernels.re_head import re_head_forward, seeded_encoder
from ..kernels.reconstruct import mentions_from_word_iob
from ..kernels.wordpiece import (
    frame_words_for_inference,
    project_first_subtoken,
)


class NumpyFinalModel:
    """NER tagger + RE head + the M3/M4/M6 glue, as one picklable
    broadcastable object."""

    def __init__(self, ner_tagger, re_params: dict, re_max_len: int = 24):
        self.ner = ner_tagger
        self.re_params = re_params
        self.re_max_len = re_max_len

    def extract_pairs(self, norm: pd.Series) -> pd.DataFrame:
        """Normalized sentences -> (row, subj, obj): ``extract``
        flattened (its triples are all CAUSES)."""
        return pairs_frame(norm, self.extract)

    def extract(
        self, sentences: list[list[str]]
    ) -> list[list[tuple[str, str, str]]]:
        """Pre-split word lists -> triples per sentence."""
        if not sentences:
            return []
        tags_batch = self.ner.tag_words_batch(sentences)
        masked_words, mentions_batch = [], []
        for words, tags in zip(sentences, tags_batch):
            masked, mentions = mentions_from_word_iob(words, tags)
            masked_words.append(masked.split())
            mentions_batch.append(mentions)

        tok = self.ner._tok
        framed = [
            frame_words_for_inference(m_words, self.re_max_len, tok)
            for m_words in masked_words
        ]

        d_in = int(self.re_params["_d_in"][0])
        X = seeded_encoder(np.array([f[0] for f in framed]), d_in)
        preds = re_head_forward(X, self.re_params).argmax(axis=-1)

        out = []
        for row, mentions in enumerate(mentions_batch):
            rel = project_first_subtoken(
                preds[row], framed[row][2], len(masked_words[row])
            )
            out.append(assemble_triples(mentions, rel))
        return out
