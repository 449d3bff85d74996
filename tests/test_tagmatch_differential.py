"""Differential: vectorized batch extraction (kernels/tagmatch.py) vs
the per-sentence reference chain

    GazetteerTagger.tag_words -> mentions_from_word_iob ->
    pair_mentions_positional

on (a) the full synthetic corpus and (b) hypothesis-generated word
soup over a lexicon engineered for collisions (shared-start phrases,
overlapping candidates, adjacent same-class mentions). The per-row
B-tag counts (``count_b_tags``) are pinned to ``tag_words`` the same
way, in both split modes.
"""

from __future__ import annotations

import pandas as pd
from hypothesis import given, settings
from hypothesis import strategies as st

from remediner_spark.gold import pair_mentions_positional
from remediner_spark.kernels.reconstruct import mentions_from_word_iob
from remediner_spark.kernels.tagmatch import BatchMatcher
from remediner_spark.operators.ner import GazetteerTagger


def _reference_pairs(norm: pd.Series, tagger: GazetteerTagger) -> pd.DataFrame:
    rows = []
    for i, text in enumerate(norm):
        words = text.split()
        if not words:
            continue
        tags = tagger.tag_words(words)
        _, mentions = mentions_from_word_iob(words, tags)
        for s, p, o in pair_mentions_positional(mentions):
            rows.append((i, s, o))
    return pd.DataFrame(rows, columns=["row", "subj", "obj"])


def _assert_equal(norm: pd.Series, tagger: GazetteerTagger) -> None:
    want = _reference_pairs(norm, tagger)
    got = BatchMatcher.from_tagger(tagger).extract_pairs(norm)
    key = ["row", "subj", "obj"]
    w = want.sort_values(key).reset_index(drop=True)
    g = got[key].sort_values(key).reset_index(drop=True).astype(w.dtypes.to_dict())
    pd.testing.assert_frame_equal(g, w)


def test_corpus_differential():
    from remediner_spark.kernels import webtext
    from remediner_spark.kernels.normalize import normalize_series
    from remediner_spark.plans.pipeline import default_tagger_bc  # noqa: F401
    from remediner_spark.sources.corpus import (
        drug_lexicon,
        effect_lexicon,
        generate_pages,
        typo_surface,
    )

    pages, _ = generate_pages(400)
    sents = webtext.split_sentences(pages["text"])
    norm = normalize_series(
        pd.Series([s for lst in sents for s in lst], dtype=object)
    )
    drugs = drug_lexicon()
    tagger = GazetteerTagger(
        drugs + [typo_surface(d) for d in drugs], effect_lexicon()
    )
    _assert_equal(norm, tagger)


# collision-heavy lexicon: shared-start phrases, a term that is also
# the continuation of another, single chars, adjacent-merge bait
_DRUGS = ["alpha", "alpha beta", "alpha beta gamma", "delta", "gamma"]
_EFFECTS = ["omega", "beta", "beta gamma", "sigma tau", "tau"]
_VOCAB = ["alpha", "beta", "gamma", "delta", "omega", "sigma", "tau",
          "x", "y", "the", "and"]


@settings(max_examples=300, deadline=None)
@given(
    st.lists(
        st.lists(st.sampled_from(_VOCAB), min_size=0, max_size=12),
        min_size=1,
        max_size=8,
    )
)
def test_hypothesis_differential(sentences):
    norm = pd.Series([" ".join(ws) for ws in sentences], dtype=object)
    tagger = GazetteerTagger(_DRUGS, _EFFECTS)
    _assert_equal(norm, tagger)


def test_empty_and_no_match():
    tagger = GazetteerTagger(_DRUGS, _EFFECTS)
    m = BatchMatcher.from_tagger(tagger)
    assert len(m.extract_pairs(pd.Series([], dtype=object))) == 0
    assert len(m.extract_pairs(pd.Series(["", "the x y", ""]))) == 0


def _assert_counts_equal(norm: pd.Series, tagger: GazetteerTagger) -> None:
    """count_b_tags, in both split modes, vs per-row B-tag counts of
    tag_words over the same split."""
    for space_split in (False, True):
        got = BatchMatcher.from_tagger(
            tagger, space_split=space_split
        ).count_b_tags(norm)
        want: tuple[list, list] = ([], [])
        for text in norm.fillna(""):
            tags = tagger.tag_words(
                text.split(" ") if space_split else text.split()
            )
            want[0].append(sum(t == "B-Drug" for t in tags))
            want[1].append(sum(t == "B-Effect" for t in tags))
        assert (got[0].tolist(), got[1].tolist()) == want, space_split


def test_count_b_tags_corpus_differential():
    from remediner_spark.kernels import webtext
    from remediner_spark.kernels.normalize import normalize_series
    from remediner_spark.sources.corpus import (
        drug_lexicon,
        effect_lexicon,
        generate_pages,
        typo_surface,
    )

    pages, _ = generate_pages(200)
    sents = webtext.split_sentences(pages["text"])
    norm = normalize_series(
        pd.Series([s for lst in sents for s in lst], dtype=object)
    )
    drugs = drug_lexicon()
    tagger = GazetteerTagger(
        drugs + [typo_surface(d) for d in drugs], effect_lexicon()
    )
    _assert_counts_equal(norm, tagger)
    # matching is case-folded
    _assert_counts_equal(
        pd.Series(["DORVAX caused Nauseola", "", "plain text only"]),
        tagger,
    )


@settings(max_examples=200, deadline=None)
@given(
    st.lists(
        # "" words join into double spaces: the split modes differ
        st.lists(st.sampled_from(_VOCAB + [""]), min_size=0, max_size=12),
        min_size=1,
        max_size=8,
    )
)
def test_count_b_tags_hypothesis_differential(sentences):
    norm = pd.Series([" ".join(ws) for ws in sentences], dtype=object)
    _assert_counts_equal(norm, GazetteerTagger(_DRUGS, _EFFECTS))


def test_space_split_mode():
    """split(' ') mode (the docpipe/oracle string_split semantics):
    empty tokens survive double spaces and break match adjacency,
    exactly like the per-row text.split(' ') loop it replaces."""
    tagger = GazetteerTagger(_DRUGS, _EFFECTS)
    texts = pd.Series(
        [
            "alpha  omega",          # double space -> empty token between
            "alpha beta gamma omega",
            " alpha omega",          # leading space -> leading empty token
            "delta  beta gamma  tau",
            "",
            "alpha beta  gamma omega sigma tau",
        ]
    )
    m = BatchMatcher.from_tagger(tagger, space_split=True)
    got = m.extract_pairs(texts)
    want_rows = []
    for i, text in enumerate(texts):
        words = text.split(" ")
        tags = tagger.tag_words(words)
        _, mentions = mentions_from_word_iob(words, tags)
        for s, p, o in pair_mentions_positional(mentions):
            want_rows.append((i, s, o))
    want = pd.DataFrame(want_rows, columns=["row", "subj", "obj"])
    key = ["row", "subj", "obj"]
    pd.testing.assert_frame_equal(
        got[key].sort_values(key).reset_index(drop=True).astype(
            want.dtypes.to_dict()
        ),
        want.sort_values(key).reset_index(drop=True),
    )
    # count_b_tags mirrors per-row B-tag counting
    nd, ne = m.count_b_tags(texts)
    for i, text in enumerate(texts):
        tags = tagger.tag_words(text.split(" "))
        assert nd[i] == sum(t == "B-Drug" for t in tags)
        assert ne[i] == sum(t == "B-Effect" for t in tags)
