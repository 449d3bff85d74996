"""Differential property test: kernels.normalize vs a literal
transcription of the reference chain
(/root/reference/src/data_utilities.py:60-89), byte-for-byte on
arbitrary text."""

from __future__ import annotations

import pandas as pd
from hypothesis import given, settings
from hypothesis import strategies as st

from remediner_spark.kernels.normalize import normalize_series

_REF_PATTERN = (
    r"('s\b)|(?!(?:\b\w+\b|\d+(?:\.\d+)?|[a-zA-Z]=\d+(?:\.\d+)?))"
    r"([^\w\s\'.=]|(?<!\d)\.(?!\d))"
)


def reference_chain(values: list[str]) -> list[str]:
    data = pd.Series(values, dtype=object)
    data = data.str.strip()
    data = data.str.replace(_REF_PATTERN, " ", regex=True)
    data = data.str.replace("'", "", regex=True)
    data = data.str.replace(r"\.\s*$", "", regex=True)
    data = data.str.replace(r"\s+", " ", regex=True)
    data = data.str.replace(r"(\b\w)\s*=\s*", r"\1=", regex=True)
    return data.tolist()


text_strategy = st.text(
    alphabet=st.characters(
        codec="utf-8", categories=("L", "N", "P", "S", "Zs")
    ),
    max_size=80,
)


@settings(max_examples=300, deadline=None)
@given(st.lists(text_strategy, min_size=1, max_size=5))
def test_normalize_matches_reference_chain(values):
    assert normalize_series(pd.Series(values, dtype=object)).tolist() == (
        reference_chain(values)
    )


def test_medical_style_sentences():
    cases = [
        "A 63 year old patient developed nauseola after taking dorvax.",
        "nauseola was observed (z = 2.27) after dorvax infusion!",
        "High-dose dorvax therapy, started in March, led to nauseola.",
        "the patient's dorvax-induced nauseola; severity 3.5.",
    ]
    assert normalize_series(pd.Series(cases)).tolist() == reference_chain(cases)


@settings(max_examples=500, deadline=None)
@given(text_strategy)
def test_punct_fast_equals_reference_pattern(text):
    """PUNCT_FAST drops the (provably never-matching) negative
    lookahead; pin byte equality against the literal reference
    pattern."""
    import re

    from remediner_spark.kernels.normalize import PUNCT_FAST

    assert PUNCT_FAST.sub(" ", text) == re.sub(_REF_PATTERN, " ", text)


# ---- ASCII fast-path equivalence (the str.translate decomposition) --

from hypothesis import given, settings
from hypothesis import strategies as st

import pandas as pd

from remediner_spark.kernels import normalize as N

_ASCII = st.text(
    alphabet=st.characters(min_codepoint=0, max_codepoint=127), max_size=60
)


@settings(max_examples=300, deadline=None)
@given(st.lists(_ASCII, min_size=0, max_size=8))
def test_punct_fast_path_equals_pattern(rows):
    s = pd.Series(rows, dtype=object)
    want = s.str.replace(N.PUNCT_FAST, " ", regex=True)
    got = N._punct_pass(s)
    assert got.tolist() == want.tolist()


@settings(max_examples=300, deadline=None)
@given(st.lists(_ASCII, min_size=0, max_size=8))
def test_space_fast_path_equals_pattern(rows):
    s = pd.Series(rows, dtype=object)
    want = s.str.replace(N.MULTI_SPACE_FAST, " ", regex=True)
    got = N._space_pass(s)
    assert got.tolist() == want.tolist()
