"""Model plumbing of the fused extraction stage: a user's model whose
``extract_pairs`` is built on the shared ``pairs_frame`` helper runs
through extract_triples_stage via broadcast and Arrow batches."""

from __future__ import annotations

from typing import Sequence

import pandas as pd
import pytest


class DummyModel:
    """Deterministic test double for a model tagger: 'predicts' B-Drug
    for words ending in 'x', B-Effect for words ending in 'a'."""

    def extract_pairs(self, norm: pd.Series) -> pd.DataFrame:
        from remediner_spark.gold import pair_mentions_positional
        from remediner_spark.kernels.pairing import pairs_frame
        from remediner_spark.kernels.reconstruct import mentions_from_word_iob

        return pairs_frame(
            norm,
            lambda sentences: [
                pair_mentions_positional(
                    mentions_from_word_iob(w, self.tag_words(w))[1]
                )
                for w in sentences
            ],
        )

    def tag_words(self, words: Sequence[str]) -> list[str]:
        out = []
        for w in words:
            if w.endswith("x"):
                out.append("B-Drug")
            elif w.endswith("a"):
                out.append("B-Effect")
            else:
                out.append("O")
        return out


@pytest.fixture(scope="module")
def dummy_bc(spark):
    """The broadcast test double. Executors unpickle it by reference,
    so this module ships to them the way a user's model module would
    (--py-files)."""
    spark.sparkContext.addPyFile(__file__)
    return spark.sparkContext.broadcast(DummyModel())


def test_dummy_model_plumbing(spark, dummy_bc):
    from remediner_spark.operators.ner import extract_triples_stage

    pdf = pd.DataFrame(
        {
            "url": ["u1"],
            "warc_ts": pd.to_datetime(["2024-01-01"]).astype("datetime64[us]"),
            "text": ["zemtrax caused nauseola."],
        }
    )
    pages = spark.createDataFrame(pdf)
    triples = extract_triples_stage(pages, dummy_bc).toPandas()
    assert len(triples) == 1
    assert triples.iloc[0]["subj"] == "zemtrax"
    assert triples.iloc[0]["obj"] == "nauseola"


def test_dummy_model_zero_triple_batch(spark, dummy_bc):
    """Regression: a batch whose sentences yield NO pairs used to build
    an all-object empty pairs frame, making the fancy-index on
    sent['url'] raise IndexError inside the mapInPandas stage."""
    from remediner_spark.operators.ner import extract_triples_stage

    pdf = pd.DataFrame(
        {
            "url": ["u1", "u2"],
            "warc_ts": pd.to_datetime(
                ["2024-01-01", "2024-01-02"]
            ).astype("datetime64[us]"),
            "text": ["nothing to see here.", "plain words only."],
        }
    )
    pages = spark.createDataFrame(pdf)
    triples = extract_triples_stage(pages, dummy_bc).toPandas()
    assert len(triples) == 0
