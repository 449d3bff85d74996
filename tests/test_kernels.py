"""Golden tests for the byte-parity text kernels.

Expected values are hand-derived from the reference semantics
(/root/reference/src/data_utilities.py:50-101,
/root/reference/src/NER/data_utilities_ner.py:10-64,
/root/reference/src/RE/data_utilities_re.py:10-83).
"""

from __future__ import annotations

import pandas as pd

from remediner_spark.kernels.iob import iob_tag_row, iob_tag_text, span_tokenize
from remediner_spark.kernels.mask import mask_single, mask_texts_batch
from remediner_spark.kernels.normalize import (
    entity_overlap_mask,
    lower_entities_in_text,
    normalize_annotated_frame,
    normalize_series,
)
from remediner_spark.kernels.pairing import assemble_triples
from remediner_spark.kernels.reconstruct import (
    mentions_from_word_iob,
    reconstruct_masked_text,
)
from remediner_spark.kernels.webtext import extract_text, split_sentences
from remediner_spark.kernels.wordpiece import (
    CLS,
    WordPieceTokenizer,
    frame_bert_input,
    tokenize_words_with_labels,
)


class TestNormalize:
    def norm1(self, s: str) -> str:
        return normalize_series(pd.Series([s])).iloc[0]

    def test_punctuation_removed_decimals_kept(self):
        # NB: the reference chain leaves a trailing space when the final
        # '.' is consumed by the punctuation rule before the
        # trailing-dot rule runs — byte-parity keeps that quirk.
        assert (
            self.norm1("Nausea, vomiting (severe); z = 2.27 occurred.")
            == "Nausea vomiting severe z=2.27 occurred "
        )

    def test_possessive_s_removed(self):
        assert self.norm1("the patient's rash") == "the patient rash"

    def test_quotes_removed(self):
        assert self.norm1("a 'quoted' word") == "a quoted word"

    def test_trailing_dot_stripped_whitespace_collapsed(self):
        assert self.norm1("dose  was   2.5 mg .") == "dose was 2.5 mg "
        # the trailing-dot rule fires when the dot survives the punct
        # rule, i.e. directly after a digit
        assert self.norm1("dose was 2.5.") == "dose was 2.5"

    def test_eq_pattern_tightened(self):
        assert self.norm1("score z = 2.27 and k =3") == "score z=2.27 and k=3"

    def test_hyphen_becomes_space(self):
        assert self.norm1("High-dose therapy") == "High dose therapy"

    def test_overlap_mask(self):
        mask = entity_overlap_mask(
            pd.Series(["aspirin", "big drug", "solo"]),
            pd.Series(["rash", "drug fever", "other"]),
        )
        assert mask.tolist() == [False, True, False]

    def test_lower_entities_in_text(self):
        out = lower_entities_in_text(
            pd.Series(["Dorvax caused Nauseola and more Dorvax"]),
            pd.Series(["Dorvax"]),
            pd.Series(["Nauseola"]),
        )
        # python str.replace replaces ALL occurrences (reference quirk)
        assert out.iloc[0] == "dorvax caused nauseola and more dorvax"

    def test_normalize_annotated_frame(self):
        df = pd.DataFrame(
            {
                "text": ["Dorvax, caused Nauseola."],
                "drug": ["Dorvax"],
                "effect": ["Nauseola"],
            }
        )
        out = normalize_annotated_frame(df)
        assert out.loc[0, "text"] == "dorvax caused nauseola "
        assert out.loc[0, "drug"] == "dorvax"
        assert out.loc[0, "effect"] == "nauseola"


class TestIOB:
    def test_span_tokenize_is_whitespace(self):
        assert span_tokenize("ab  cd e") == [(0, 2), (4, 6), (7, 8)]

    def test_simple_tagging(self):
        tags = iob_tag_text(
            "dorvax caused severe nauseola today", ["dorvax"], ["nauseola"]
        )
        assert tags == ["B-Drug", "O", "O", "B-Effect", "O"]

    def test_multiword_entity_inside_tags(self):
        tags = iob_tag_text(
            "patient got hepatic lysteria from dorvax xr",
            ["dorvax xr"],
            ["hepatic lysteria"],
        )
        assert tags == ["O", "O", "B-Effect", "I-Effect", "O", "B-Drug", "I-Drug"]

    def test_first_occurrence_only(self):
        # repeated drug: only the first occurrence is tagged
        # (/root/reference/src/NER/data_utilities_ner.py:16-24)
        tags = iob_tag_text(
            "dorvax given then dorvax caused nauseola", ["dorvax"], ["nauseola"]
        )
        assert tags == ["B-Drug", "O", "O", "O", "O", "B-Effect"]

    def test_row_adapter_joins_with_spaces(self):
        assert (
            iob_tag_row("dorvax caused nauseola", "dorvax", "nauseola")
            == "B-Drug O B-Effect"
        )

    def test_missing_entity_does_not_crash(self):
        tags = iob_tag_text("nothing here", ["absent"], ["gone"])
        assert tags == ["O", "O"]


class TestMask:
    def test_single_sentence(self):
        rel, masked = mask_single(
            "dorvax caused severe nauseola", ["dorvax"], ["nauseola"]
        )
        assert masked == "DRUG caused severe EFFECT"
        assert rel == [1, 0, 0, 1]

    def test_multiword_drug_collapses_to_one_mask(self):
        rel, masked = mask_single(
            "dorvax xr caused nauseola", ["dorvax xr"], ["nauseola"]
        )
        # second drug word dropped entirely (reference quirk,
        # /root/reference/src/RE/data_utilities_re.py:56-63)
        assert masked == "DRUG caused EFFECT"
        assert rel == [1, 0, 1]

    def test_repeated_drug_second_unmasked(self):
        rel, masked = mask_single(
            "dorvax then dorvax caused nauseola", ["dorvax"], ["nauseola"]
        )
        assert masked == "DRUG then dorvax caused EFFECT"
        assert rel == [1, 0, 0, 0, 1]

    def test_batch_state_crosses_rows(self):
        # cross-row statefulness of the reference training-prep path
        # (/root/reference/src/RE/data_utilities_re.py:42-75)
        ann, masked = mask_texts_batch(
            ["dorvax caused nauseola", "dorvax caused vertigask"],
            ["dorvax", "dorvax"],
            ["nauseola", "vertigask"],
        )
        assert masked[0] == "DRUG caused EFFECT"
        # second row: 'dorvax' already seen -> passes through, rel id 0
        assert masked[1] == "dorvax caused EFFECT"
        assert ann[1] == [0, 0, 1]

    def test_concatenation_groups(self):
        ann, masked = mask_texts_batch(
            ["dorvax caused nauseola", "quilar caused vertigask"],
            ["dorvax", "quilar"],
            ["nauseola", "vertigask"],
            concatenation=True,
        )
        assert masked == ["DRUG caused EFFECT", "DRUG caused EFFECT"]
        assert ann == [[1, 0, 1], [2, 0, 2]]


class TestReconstruct:
    def test_word_level(self):
        masked, mentions = mentions_from_word_iob(
            ["dorvax", "xr", "caused", "hepatic", "lysteria"],
            ["B-Drug", "I-Drug", "O", "B-Effect", "I-Effect"],
        )
        assert masked == "DRUG caused EFFECT"
        assert mentions == [
            {"surface": "dorvax xr", "type": "DRUG", "word_start": 0},
            {"surface": "hepatic lysteria", "type": "EFFECT", "word_start": 2},
        ]

    def test_subtoken_level_matches_word_level(self):
        tok = WordPieceTokenizer()
        words = ["dorvaxin", "caused", "nauseola"]
        tags = ["B-Drug", "O", "B-Effect"]
        subtokens, sublabels = tokenize_words_with_labels(words, tags, tok)
        masked_sub, mentions_sub = reconstruct_masked_text(subtokens, sublabels)
        masked_w, mentions_w = mentions_from_word_iob(words, tags)
        assert masked_sub == masked_w
        assert [m["type"] for m in mentions_sub] == [m["type"] for m in mentions_w]
        assert [m["surface"] for m in mentions_sub] == [
            m["surface"] for m in mentions_w
        ]

    def test_unmasked_words_lowercased(self):
        masked, _ = mentions_from_word_iob(["The", "Dorvax"], ["O", "B-Drug"])
        assert masked == "the DRUG"


class TestPairing:
    def test_assemble(self):
        mentions = [
            {"surface": "dorvax", "type": "DRUG", "word_start": 0},
            {"surface": "nauseola", "type": "EFFECT", "word_start": 2},
        ]
        triples = assemble_triples(mentions, [1, 0, 1])
        assert triples == [("dorvax", "CAUSES", "nauseola")]

    def test_invert(self, spark):
        # the inverse view (ner.with_inverse_triples) of an assembled
        # triple: the CAUSES row plus (effect, TREATED_WITH, drug)
        from remediner_spark.operators.ner import with_inverse_triples

        triples = spark.createDataFrame(
            [("u1", None, 0, "d", "CAUSES", "e")],
            "url string, warc_ts timestamp, sent_idx int, "
            "subj string, pred string, obj string",
        )
        got = [
            (r.subj, r.pred, r.obj)
            for r in with_inverse_triples(triples).collect()
        ]
        assert sorted(got) == [
            ("d", "CAUSES", "e"), ("e", "TREATED_WITH", "d")
        ]

    def test_group_cross_product(self):
        mentions = [
            {"surface": "d1", "type": "DRUG", "word_start": 0},
            {"surface": "e1", "type": "EFFECT", "word_start": 1},
            {"surface": "e2", "type": "EFFECT", "word_start": 2},
        ]
        triples = assemble_triples(mentions, [1, 1, 1])
        assert set(triples) == {("d1", "CAUSES", "e1"), ("d1", "CAUSES", "e2")}


class TestWordpiece:
    def test_framing(self):
        tok = WordPieceTokenizer()
        ids, mask, labels = frame_bert_input(["dorv", "##axin"], [1, 1], 8, tok)
        assert len(ids) == len(mask) == len(labels) == 8
        assert ids[0] == tok.convert_tokens_to_ids([CLS])[0]
        assert mask[:4] == [1, 1, 1, 1] and mask[4:] == [0] * 4
        assert labels[0] == -100 and labels[3] == -100 and labels[-1] == -100

    def test_truncation(self):
        tok = WordPieceTokenizer()
        ids, mask, labels = frame_bert_input(["a"] * 20, [1] * 20, 8, tok)
        assert len(ids) == 8 and all(m == 1 for m in mask)


class TestWebtext:
    def test_extract_inverts_fixture_wrapping(self):
        t = "Hello world. Second sentence."
        html = b"<html><body><p>" + t.encode() + b"</p></body></html>"
        assert extract_text(pd.Series([html])).iloc[0] == t

    def test_script_stripped(self):
        html = b"<html><script>var x=1;</script><p>Real text</p></html>"
        assert extract_text(pd.Series([html])).iloc[0] == "Real text"

    def test_split_sentences(self):
        out = split_sentences(pd.Series(["One two. Three four. fifth sent."]))
        assert out.iloc[0] == ["One two.", "Three four.", "fifth sent."]

    def test_split_sentences_flat_differential(self):
        # the batch-flat fast path must equal split_sentences + flatten
        # exactly — including empty rows, None, trailing terminators,
        # whitespace-leading rows, and the \x01 fallback row
        from remediner_spark.kernels.webtext import split_sentences_flat

        cases = [
            "One two. Three four. fifth sent.",
            "",
            None,
            "No terminator here",
            "Ends with dot. ",
            "  leading space! And more? yes.",
            "a.b decimals 2.27 stay. next",
            "x! y? z.",
            "double  spaces. between!  sentences",
        ]
        for extra in ([], ["with \x01 sentinel. second."]):
            s = pd.Series(cases + extra)
            ref = split_sentences(s)
            flat, doc_of = split_sentences_flat(s)
            want = [x for lst in ref for x in lst]
            want_doc = [i for i, lst in enumerate(ref) for _ in lst]
            assert list(flat) == want
            assert doc_of.tolist() == want_doc
