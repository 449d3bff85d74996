"""BERT tagger stage (M1) — the reference's token classifier
(bert-base-cased, the reference's src/NER/model_ner.py:6-24) executed
as a numpy transcription behind the same ``extract_pairs`` contract as
the deterministic GazetteerTagger (operators/ner.py), so the pipeline
swaps models without changing the plan:

    tagger_bc = spark.sparkContext.broadcast(NumpyBertTagger.seeded())
    triples   = extract_triples_stage(pages, tagger_bc)

torch/transformers are not dependencies, and the weights are seeded
stand-ins: no trained checkpoint ships with the package, so loading
one waits until one does (COVERAGE.md, S4).
"""

from __future__ import annotations

import pandas as pd

IOB_LABELS = ["O", "B-Drug", "I-Drug", "B-Effect", "I-Effect"]


class NumpyBertTagger:
    """NER tagger executing the transcribed architecture in numpy
    (kernels/bert_encoder.py) — the M1 surface actually RUNS here,
    torch-free: wordpiece -> frame to max_len -> encoder forward ->
    per-token argmax -> first-subtoken label projection (the HF
    convention of the reference inference loop,
    the reference's src/FINALMODEL/test_final.py:75-93).

    Weights are a dict of numpy arrays (seeded stand-ins for the
    trained checkpoint); broadcast the whole tagger once per executor.
    """

    def __init__(self, params: dict, max_len: int = 48,
                 batch_size: int = 64):
        from ..kernels.wordpiece import WordPieceTokenizer

        self._p = params
        self.max_len = max_len
        self.batch_size = batch_size
        self._tok = WordPieceTokenizer()

    @classmethod
    def seeded(cls, seed: int = 13, d: int = 32, n_layers: int = 2,
               n_heads: int = 4, d_ffn: int = 64, max_len: int = 48):
        from ..kernels.bert_encoder import init_bert_params

        params = init_bert_params(
            seed, vocab=4096, d=d, n_layers=n_layers, n_heads=n_heads,
            d_ffn=d_ffn, max_len=max_len,
        )
        return cls(params, max_len=max_len)

    def extract_pairs(self, norm: pd.Series) -> pd.DataFrame:
        """Batched forward -> M3 mentions -> positional pairing."""
        from ..gold import pair_mentions_positional
        from ..kernels.pairing import pairs_frame
        from ..kernels.reconstruct import mentions_from_word_iob

        def extract(sentences: list[list[str]]):
            return [
                pair_mentions_positional(mentions_from_word_iob(w, t)[1])
                for w, t in zip(sentences, self.tag_words_batch(sentences))
            ]

        return pairs_frame(norm, extract)

    def tag_words_batch(self, batch: list[list[str]]) -> list[list[str]]:
        import numpy as np

        from ..kernels.bert_encoder import bert_token_logits
        from ..kernels.wordpiece import (
            frame_words_for_inference,
            project_first_subtoken,
        )

        out: list[list[str]] = []
        for i in range(0, len(batch), self.batch_size):
            chunk = batch[i : i + self.batch_size]
            framed = [
                frame_words_for_inference(words, self.max_len, self._tok)
                for words in chunk
            ]
            logits = bert_token_logits(
                np.array([f[0] for f in framed]),
                np.array([f[1] for f in framed]),
                self._p,
            )
            preds = logits.argmax(axis=-1)
            for row, words in enumerate(chunk):
                label_ids = project_first_subtoken(
                    preds[row], framed[row][2], len(words)
                )
                out.append([IOB_LABELS[i] for i in label_ids])
        return out
