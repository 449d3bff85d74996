"""Regenerate / check the committed final-model golden parquet.

The golden is composed from the LITERAL reference transcriptions
(the test_*_differential ports quarantined under tests/), not the
engine's own kernels — so the committed artifact is independent
evidence, and a kernel behavior change diffs against transcription
semantics, not against itself (round-4 verdict residual #2):

* normalization: ``reference_chain`` (tests/test_normalize_
  differential.py — /root/reference/src/data_utilities.py:60-89),
* M3 masked-text reconstruction: ``reference_convert`` +
  ``normalize_sentence_end`` at SUBTOKEN grain (tests/test_
  reconstruct_differential.py —
  /root/reference/src/FINALMODEL/final_model.py:38-119),
* mention harvest + M6 pairing: independent re-implementations in
  this module, written to the reference's relation-annotation
  semantics (/root/reference/src/RE/data_utilities_re.py:24-40,56-74),
  never calling kernels/reconstruct.py or kernels/pairing.py.

The neural forwards (numpy BERT tagger, RE head) and the wordpiece
framing have no transcription alternative — the reference's are
trained torch artifacts — so those run the same seeded kernels the
engine uses; their Spark==driver exactness is pinned by
tests/test_numpy_bert.py and
tests/test_final_model.py::test_spark_stage_equals_driver.

Usage:
    python tools/gen_final_model_expected.py          # write golden
    python tools/gen_final_model_expected.py --check  # assert committed
                                                      # file unchanged
"""

from __future__ import annotations

import os
import sys
import tempfile

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, _REPO)
sys.path.insert(0, os.path.join(_REPO, "tests"))

_LABEL_TO_ID = {
    "O": 0, "B-Drug": 1, "I-Drug": 2, "B-Effect": 3, "I-Effect": 4
}
_CONT_ID = {"O": 0, "B-Drug": 2, "I-Drug": 2, "B-Effect": 4, "I-Effect": 4}
_MASK_OF = {
    "O": "O", "B-Drug": "DRUG", "I-Drug": "DRUG",
    "B-Effect": "EFFECT", "I-Effect": "EFFECT",
}


def _harvest_mentions(words: list[str], tags: list[str]) -> list[dict]:
    """Mention list from word-grain IOB — independent of
    kernels/reconstruct.py. One mention per contiguous same-class run
    (the reference's de_append latch collapses such runs to one mask,
    final_model.py:102-106); ``word_start`` indexes the OUTPUT word
    (masks count as one word each)."""
    mentions: list[dict] = []
    out_idx = 0
    i = 0
    while i < len(words):
        cls = _MASK_OF.get(tags[i], "O")
        if cls == "O":
            out_idx += 1
            i += 1
            continue
        j = i
        while j < len(words) and _MASK_OF.get(tags[j], "O") == cls:
            j += 1
        mentions.append(
            {
                "surface": " ".join(words[i:j]),
                "type": cls,
                "word_start": out_idx,
            }
        )
        out_idx += 1
        i = j
    return mentions


def _restore_adjacent_dropped_masks(
    masked_words: list[str], mentions: list[dict]
) -> list[str]:
    """Undo the reference's third sentence artifact (the one
    normalize_sentence_end doesn't cover): the de_append latch only
    resets when a NON-mask word is appended (final_model.py:95-106),
    so a mask immediately following a DIFFERENT-type mask is dropped
    from the text entirely ("DRUG EFFECT" -> "DRUG"). The engine keeps
    both mentions by documented design (kernels/reconstruct.py
    docstring, deviation #3 — dropping it would silently lose the
    adjacent mention from the KG). Mentions are harvested from word
    tags independently, so each missing mask is re-inserted at its
    expected output position; walking word_start ascending keeps later
    positions aligned after each insertion."""
    out = list(masked_words)
    for m in mentions:
        pos = m["word_start"]
        if pos >= len(out) or out[pos] != m["type"]:
            out.insert(pos, m["type"])
    return out


def _pair_by_group(
    mentions: list[dict], rel_ids: list[int]
) -> list[tuple[str, str, str]]:
    """Triple pairing — independent of kernels/pairing.py. The
    reference's RE gold relates the DRUG mask with group id k to the
    EFFECT mask with the same id (data_utilities_re.py:24-40,56-74);
    multiple same-group mentions cross-product, groups emit in id
    order, id 0 = unrelated."""
    drugs: dict[int, list[str]] = {}
    effects: dict[int, list[str]] = {}
    for m in mentions:
        pos = m["word_start"]
        gid = rel_ids[pos] if 0 <= pos < len(rel_ids) else 0
        if gid == 0:
            continue
        (drugs if m["type"] == "DRUG" else effects).setdefault(gid, [])
        (drugs if m["type"] == "DRUG" else effects)[gid].append(m["surface"])
    out: list[tuple[str, str, str]] = []
    for gid in sorted(drugs):
        for d in drugs[gid]:
            for e in effects.get(gid, []):
                out.append((d, "CAUSES", e))
    return out


def derive_from_transcriptions():
    """Reference-transcription composition of the final model over the
    fixture pages -> expected triples DataFrame. Deterministic (seeded
    corpus + seeded weights)."""
    import numpy as np
    import pandas as pd

    from test_normalize_differential import reference_chain
    from test_reconstruct_differential import (
        normalize_sentence_end,
        reference_convert,
    )

    from remediner_spark.kernels.re_head import re_head_forward, seeded_encoder
    from remediner_spark.kernels.webtext import split_sentences
    from remediner_spark.kernels.wordpiece import (
        frame_words_for_inference,
        project_first_subtoken,
    )
    from remediner_spark.plans.kg_gate import _final_model, _fixture_dir

    pages = pd.read_parquet(os.path.join(_fixture_dir(), "pages.parquet"))
    pages = pages[pages["lang"] == "en"]
    model = _final_model()
    tok = model.ner._tok
    d_in = int(model.re_params["_d_in"][0])

    rows = []
    for url, sents in zip(pages["url"], split_sentences(pages["text"])):
        norm = reference_chain(list(sents))
        word_lists = [s.split() for s in norm]
        keep = [i for i, w in enumerate(word_lists) if w]
        if not keep:
            continue
        tags_batch = model.ner.tag_words_batch([word_lists[i] for i in keep])

        masked_words_batch, mentions_batch = [], []
        for j, i in enumerate(keep):
            words, tags = word_lists[i], tags_batch[j]
            # expand word tags to subtoken grain (word-coherent by
            # construction — the transcription's equivalence domain)
            subtokens: list[str] = []
            ids: list[int] = []
            for w, t in zip(words, tags):
                pieces = tok.tokenize(w)
                for k, p in enumerate(pieces):
                    subtokens.append(p)
                    ids.append(
                        _LABEL_TO_ID[t] if k == 0 else _CONT_ID[t]
                    )
            masked = normalize_sentence_end(
                reference_convert(subtokens, ids)
            )
            mentions = _harvest_mentions(words, tags)
            masked_words = _restore_adjacent_dropped_masks(
                masked.split(), mentions
            )
            # internal consistency: every harvested mention must sit on
            # its mask token in the transcription-reconstructed text
            for m in mentions:
                assert masked_words[m["word_start"]] == m["type"], (
                    url, i, masked, m,
                )
            masked_words_batch.append(masked_words)
            mentions_batch.append(mentions)

        framed = [
            frame_words_for_inference(mw, model.re_max_len, tok)
            for mw in masked_words_batch
        ]
        X = seeded_encoder(np.array([f[0] for f in framed]), d_in)
        preds = re_head_forward(X, model.re_params).argmax(axis=-1)
        for j, i in enumerate(keep):
            rel = project_first_subtoken(
                preds[j], framed[j][2], len(masked_words_batch[j])
            )
            for s, p, o in _pair_by_group(mentions_batch[j], rel):
                rows.append((url, i, s, p, o))

    exp = pd.DataFrame(
        rows, columns=["url", "sent_idx", "subj", "pred", "obj"]
    )
    exp["sent_idx"] = exp["sent_idx"].astype("int32")
    return exp


def main() -> int:
    import pandas as pd

    from remediner_spark.plans.kg_gate import final_model_expected_path

    exp = derive_from_transcriptions()
    path = final_model_expected_path()
    if "--check" in sys.argv:
        got = pd.read_parquet(path)
        pd.testing.assert_frame_equal(
            got.reset_index(drop=True), exp.reset_index(drop=True)
        )
        print(
            f"OK: committed golden ({len(got)} triples) matches the "
            "reference-transcription composition"
        )
        return 0
    fd, tmp = tempfile.mkstemp(dir=os.path.dirname(path), suffix=".parquet")
    os.close(fd)
    exp.to_parquet(tmp, index=False)
    os.replace(tmp, path)
    print(f"wrote {len(exp)} expected triples -> {path}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
