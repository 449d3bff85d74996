"""Composed NER->RE final-model inference, executed end-to-end
(reference entry point 3, final_model.py:16-36) — torch-free.

* driver-side composition is deterministic and emits only surfaces the
  NER stage actually found (decode integrity across M3/M4/M6),
* the fused Spark stage equals the driver-side composition exactly,
* triple surfaces are lowercase mention text (the reference's
  convention).
"""

from __future__ import annotations

import pandas as pd
import pytest


@pytest.fixture(scope="module")
def model():
    from remediner_spark.operators.bert_stub import NumpyBertTagger
    from remediner_spark.operators.final_model import NumpyFinalModel
    from remediner_spark.kernels.re_head import init_re_head_params
    import numpy as np

    re_max_len = 24
    params = init_re_head_params(7, d_in=48, hidden=16, max_len=re_max_len,
                                 reduced=24)
    params["_d_in"] = np.array([48])
    return NumpyFinalModel(
        NumpyBertTagger.seeded(), params, re_max_len=re_max_len
    )


@pytest.fixture(scope="module")
def en_pages(corpus_dir):
    pages = pd.read_parquet(f"{corpus_dir}/pages.parquet")
    return pages[pages["lang"] == "en"].head(80)


@pytest.fixture(scope="module")
def norm_sentences(en_pages):
    from remediner_spark.kernels.normalize import normalize_series
    from remediner_spark.kernels.webtext import split_sentences

    rows = []
    for url, lst in zip(en_pages["url"], split_sentences(en_pages["text"])):
        norm = normalize_series(pd.Series(lst, dtype=object))
        for sent_idx, text in enumerate(norm):
            rows.append((url, sent_idx, text))
    return pd.DataFrame(rows, columns=["url", "sent_idx", "sentence"])


def test_composition_deterministic_and_decodes(model, norm_sentences):
    words = [s.split() for s in norm_sentences["sentence"]]
    words = [w for w in words if w]
    t1 = model.extract(words)
    t2 = model.extract(words)
    assert t1 == t2
    # triples only pair surfaces the NER stage emitted as mentions
    tags = model.ner.tag_words_batch(words)
    from remediner_spark.kernels.reconstruct import mentions_from_word_iob

    all_surfaces = set()
    for w, t in zip(words, tags):
        _, mentions = mentions_from_word_iob(w, t)
        all_surfaces |= {m["surface"] for m in mentions}
    emitted = {x for ts in t1 for (s, _, o) in ts for x in (s, o)}
    assert emitted <= all_surfaces


def test_spark_stage_equals_driver(spark, model, en_pages, norm_sentences):
    """The fused stage over page text (segmentation and normalization
    inside the hop) equals the driver-side composition per sentence."""
    from remediner_spark.operators.ner import extract_triples_stage

    sdf = spark.createDataFrame(
        en_pages[["url", "warc_ts", "text"]]
    ).repartition(4)
    model_bc = spark.sparkContext.broadcast(model)
    got = (
        extract_triples_stage(sdf, model_bc)
        .select("url", "sent_idx", "subj", "pred", "obj")
        .toPandas()
        .sort_values(["url", "sent_idx", "subj", "obj"])
        .reset_index(drop=True)
    )
    rows = []
    for url, sent_idx, text in norm_sentences.itertuples(index=False):
        w = text.split()
        if not w:
            continue
        for s, p, o in model.extract([w])[0]:
            rows.append((url, sent_idx, s, p, o))
    want = (
        pd.DataFrame(rows, columns=["url", "sent_idx", "subj", "pred", "obj"])
        .sort_values(["url", "sent_idx", "subj", "obj"])
        .reset_index(drop=True)
    )
    assert len(got) == len(want)
    pd.testing.assert_frame_equal(
        got.astype({"sent_idx": "int64"}), want.astype({"sent_idx": "int64"})
    )


def derive_final_model_expected():
    """In-process (no Spark) derivation of the composed model's
    triples over the fixture pages: the SAME segmentation ->
    normalization -> NER -> M3/M4 -> RE -> M6 chain the fused stage
    runs, driver-side. The gate itself reads only the committed file.
    Deterministic (seeded corpus + seeded weights)."""
    import os

    import pandas as pd

    from remediner_spark.kernels.normalize import normalize_series
    from remediner_spark.kernels.webtext import split_sentences
    from remediner_spark.plans.kg_gate import _final_model, _fixture_dir

    d = _fixture_dir()
    pages = pd.read_parquet(os.path.join(d, "pages.parquet"))
    pages = pages[pages["lang"] == "en"]
    model = _final_model()
    rows = []
    for url, sents in zip(pages["url"], split_sentences(pages["text"])):
        norm = normalize_series(pd.Series(sents, dtype=object))
        word_lists = [s.split() for s in norm]
        keep = [i for i, w in enumerate(word_lists) if w]
        triples = model.extract([word_lists[i] for i in keep])
        for j, i in enumerate(keep):
            for s, p, o in triples[j]:
                rows.append((url, i, s, p, o))
    exp = pd.DataFrame(
        rows, columns=["url", "sent_idx", "subj", "pred", "obj"]
    )
    exp["sent_idx"] = exp["sent_idx"].astype("int32")
    return exp


def test_committed_golden_matches_derivation():
    """The committed golden parquet (what the driver gate compares the
    distributed run against) must equal a fresh in-process derivation —
    a kernel behavior change shows up HERE as a diff against the
    reviewed artifact instead of silently regenerating the expected."""
    import pandas as pd

    from remediner_spark.plans.kg_gate import ensure_final_model_expected

    got = pd.read_parquet(ensure_final_model_expected())
    want = derive_final_model_expected()
    pd.testing.assert_frame_equal(
        got.reset_index(drop=True), want.reset_index(drop=True)
    )


def test_committed_golden_matches_transcription_composition():
    """The stronger form of the golden check (r4 verdict residual #2):
    the committed parquet must ALSO equal a composition built from the
    literal reference transcriptions (reference_chain,
    reference_convert + quirk-undos, independent mention harvest and
    group pairing in tools/gen_final_model_expected.py) — so the
    expected file is evidence independent of the engine kernels, not
    the kernels agreeing with themselves. The neural forwards and
    wordpiece framing are shared by necessity (the reference's are
    trained torch artifacts); everything around them is
    transcription-side here."""
    import os
    import sys

    import pandas as pd

    sys.path.insert(
        0,
        os.path.join(os.path.dirname(os.path.dirname(__file__)), "tools"),
    )
    from gen_final_model_expected import derive_from_transcriptions

    from remediner_spark.plans.kg_gate import ensure_final_model_expected

    got = pd.read_parquet(ensure_final_model_expected())
    want = derive_from_transcriptions()
    pd.testing.assert_frame_equal(
        got.reset_index(drop=True), want.reset_index(drop=True)
    )
