"""M10 eval operator (triple-level precision/recall) + A5/A6 framing."""

from __future__ import annotations

from remediner_spark.metrics import triple_precision_recall


def test_triple_pr_joins(spark):
    cols = ["url", "sent_idx", "subj", "pred", "obj"]
    predicted = spark.createDataFrame(
        [("u1", 0, "a", "CAUSES", "x"), ("u1", 1, "b", "CAUSES", "y")], cols
    )
    gold = spark.createDataFrame(
        [("u1", 0, "a", "CAUSES", "x"), ("u2", 0, "c", "CAUSES", "z")], cols
    )
    m = triple_precision_recall(predicted, gold)
    assert m["precision"] == 0.5 and m["recall"] == 0.5


def test_framing_stage():
    """A5/A6: word-level IOB -> wordpiece with the word's label on every
    subtoken -> BERT frame (CLS/SEP, -100 outside the words, padding)."""
    from remediner_spark.kernels.wordpiece import (
        CLS,
        WordPieceTokenizer,
        frame_bert_input,
        tokenize_words_with_labels,
    )
    from remediner_spark.operators.bert_stub import IOB_LABELS

    tok = WordPieceTokenizer()
    words = ["dorvaxin", "caused", "nauseola"]
    label_ids = [IOB_LABELS.index(t) for t in ["B-Drug", "O", "B-Effect"]]
    subtoks, sublabels = tokenize_words_with_labels(words, label_ids, tok)
    ids, attention_mask, framed = frame_bert_input(
        subtoks, sublabels, 16, tok
    )
    assert len(ids) == len(attention_mask) == 16
    assert ids[0] == tok.convert_tokens_to_ids([CLS])[0]
    assert framed[0] == -100
    # 'dorvaxin' -> dorv ##ax ##in, every piece labeled B-Drug(1)
    assert subtoks[:3] == ["dorv", "##ax", "##in"]
    assert framed[1:4] == [1, 1, 1] and framed[4] == 0
    # attention mask covers CLS + the 5 subtokens + SEP
    assert len(subtoks) == 5 and sum(attention_mask) == 7
