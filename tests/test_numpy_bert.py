"""M1 executed without torch: numpy BERT-encoder token classification
behind the ``extract_pairs`` model contract, run through the REAL fused
extraction stage.

Checks:
* encoder shape/determinism and attention-mask isolation (padding a
  sequence longer must not change the logits of real positions),
* first-subtoken label projection (the HF decode convention),
* the fused Spark stage with a broadcast NumpyBertTagger equals a
  driver-side run of the same tagger through the same per-sentence
  chain — exact row-for-row equality.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest

from remediner_spark.kernels.bert_encoder import (
    bert_token_logits,
    init_bert_params,
)
from remediner_spark.operators.bert_stub import NumpyBertTagger


@pytest.fixture(scope="module")
def tagger():
    return NumpyBertTagger.seeded()


def test_encoder_shapes_and_determinism():
    p = init_bert_params(0, vocab=64, d=16, n_layers=2, n_heads=2,
                         d_ffn=24, max_len=10)
    ids = np.array([[5, 9, 3, 0, 0], [7, 0, 0, 0, 0]])
    att = np.array([[1, 1, 1, 0, 0], [1, 0, 0, 0, 0]])
    logits = bert_token_logits(ids, att, p)
    assert logits.shape == (2, 5, 5)
    assert np.array_equal(logits, bert_token_logits(ids, att, p))


def test_attention_mask_isolates_padding():
    p = init_bert_params(1, vocab=64, d=16, n_layers=2, n_heads=2,
                         d_ffn=24, max_len=12)
    ids_a = np.array([[5, 9, 3, 0, 0, 0]])
    att_a = np.array([[1, 1, 1, 0, 0, 0]])
    # same real tokens, different garbage in the padded tail
    ids_b = np.array([[5, 9, 3, 17, 21, 8]])
    logits_a = bert_token_logits(ids_a, att_a, p)
    logits_b = bert_token_logits(ids_b, att_a, p)
    assert np.allclose(logits_a[0, :3], logits_b[0, :3], atol=1e-7)


def test_first_subtoken_projection(tagger):
    words = ["dorvax", "induced", "nauseola", "in", "a", "patient"]
    tags = tagger.tag_words_batch([words])[0]
    assert len(tags) == len(words)
    assert all(
        t in ("O", "B-Drug", "I-Drug", "B-Effect", "I-Effect") for t in tags
    )
    # batch == single (the batch_size slicing changes nothing)
    assert tagger.tag_words_batch([words, words]) == [tags, tags]


def test_fused_stage_with_numpy_bert(spark, corpus_dir, tagger):
    """extract_triples_stage driven by the executed numpy BERT's
    extract_pairs — Spark output == driver-side per-sentence chain."""
    from remediner_spark.gold import pair_mentions_positional
    from remediner_spark.kernels.normalize import normalize_series
    from remediner_spark.kernels.reconstruct import mentions_from_word_iob
    from remediner_spark.kernels.webtext import split_sentences
    from remediner_spark.operators.ner import extract_triples_stage
    from remediner_spark.operators.text import filter_language

    pages = filter_language(
        spark.read.parquet(f"{corpus_dir}/pages.parquet")
    ).limit(60)
    tagger_bc = spark.sparkContext.broadcast(tagger)
    got = (
        extract_triples_stage(pages, tagger_bc)
        .toPandas()
        .sort_values(["url", "sent_idx", "subj", "obj"])
        .reset_index(drop=True)
    )

    pdf = pages.select("url", "text").toPandas()
    sents = split_sentences(pdf["text"])
    rows = []
    for url, lst in zip(pdf["url"], sents):
        norm = normalize_series(pd.Series(lst, dtype=object))
        for sent_idx, text in enumerate(norm):
            words = text.split()
            if not words:
                continue
            tags = tagger.tag_words_batch([words])[0]
            _, mentions = mentions_from_word_iob(words, tags)
            for s, p, o in pair_mentions_positional(mentions):
                rows.append((url, sent_idx, s, p, o))
    want = (
        pd.DataFrame(rows, columns=["url", "sent_idx", "subj", "pred", "obj"])
        .sort_values(["url", "sent_idx", "subj", "obj"])
        .reset_index(drop=True)
    )
    assert len(got) == len(want)
    pd.testing.assert_frame_equal(
        got[["url", "sent_idx", "subj", "pred", "obj"]].astype(
            {"sent_idx": "int64"}
        ),
        want.astype({"sent_idx": "int64"}),
    )
