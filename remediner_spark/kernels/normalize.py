"""Text normalization — byte-parity port of the reference chain.

Reference semantics: /root/reference/src/data_utilities.py:50-101
(`pre_process_texts`). The regex substitutions there run through pandas
`.str.replace(..., regex=True)`, i.e. Python `re` semantics (variable-
width lookahead/lookbehind). JVM `regexp_replace` differs on these
patterns, so on the parity path this module is executed inside Arrow
pandas UDFs, never translated to Catalyst regex expressions.

All functions take/return ``pd.Series`` and are vectorized at the pandas
level (no per-row Python loops outside pandas' own str machinery, except
`lower_entities_in_text`, which needs the paired drug/effect value of
each row — it runs as a numpy-level zip over one Arrow batch, matching
the reference's row loop at data_utilities.py:92-97).
"""

from __future__ import annotations

import re

import pandas as pd

# Removes punctuation while keeping word chars, whitespace, apostrophes,
# decimal numbers (2.27) and `z=2.27` patterns; also strips possessive
# `'s`. Port of the reference's src/data_utilities.py:65-66, with the
# reference pattern's negative lookahead dropped: the lookahead can only
# succeed at positions starting \w (word char / digit / letter), where
# the guarded group `[^\w\s'.=]|(?<!\d)\.(?!\d)` can never match — so
# it never vetoes a match. Evaluating it at every scan position was ~3x
# the pattern's cost. (The reference builds the pattern with `.format()`
# but it contains no placeholder, so the `exception_words` argument is
# cosmetic.) tests/test_normalize_differential.py pins byte equality
# against the literal reference pattern.
PUNCT_FAST = re.compile(r"'s\b|[^\w\s\'.=]|(?<!\d)\.(?!\d)")

TRAILING_DOT = re.compile(r"\.\s*$")
# Equivalent form of `\s+` -> " " (the reference's space collapse): a run of
# one single space maps to itself under \s+ -> " ", so only runs of
# >=2 and single NON-space whitespace chars ([^\S ]) need rewriting.
# Most prose is single-spaced, so this touches few positions.
MULTI_SPACE_FAST = re.compile(r"\s{2,}|[^\S ]")
EQ_PATTERN = re.compile(r"(\b\w)\s*=\s*")


# ---- ASCII fast path for the two hot regex passes -------------------
#
# Profiling puts the fused extraction stage's normalize cost almost
# entirely in two Python-re scans (PUNCT_FAST ~34 ms, MULTI_SPACE_FAST
# ~21 ms per 4k-page Arrow batch); the scan itself dominates, not
# per-row call overhead. For pure-ASCII batches (the web-text common
# case) both patterns decompose into C-speed str.translate plus
# literal-prefix regexes, which is provably byte-equivalent:
#
#   PUNCT_FAST = `'s\b | [^\w\s'.=] | (?<!\d)\.(?!\d)`. The three
#   alternatives match DISJOINT characters (' s . are all excluded
#   from the char class), so one simultaneous alternation equals three
#   sequential passes PROVIDED earlier passes cannot change a later
#   pass's outcome: every replacement inserts " " — non-word, non-
#   digit, whitespace — so it cannot create or destroy an `'s`, a
#   class char, a digit next to a dot, or flip the trailing \b
#   (punct and space are both non-word). The dot alternative is
#   rewritten `\.(?<!\d\.)(?!\d)` — identical positions (prev != digit
#   and next != digit) but with a literal first char, which lets sre
#   skip-scan instead of trying lookarounds at every offset.
#
#   MULTI_SPACE_FAST = `\s{2,} | [^\S ]` with replacement " " maps
#   every maximal whitespace run containing a non-space or of length
#   >= 2 to one space. Translating all non-space whitespace to " "
#   first and then collapsing ` {2,}` yields the same fixed point.
#
# Batches are processed as ONE joined string per pass; the separators
# are invisible to the passes by class membership (\x1c IS whitespace
# -> inert to the punct class, a \b terminator, and a non-digit, so
# row boundaries behave exactly like string ends; \x00 is NOT
# whitespace -> cannot join two rows' runs and is untouched by the
# whitespace table). Rows containing a separator, NaNs, or any
# non-ASCII character fall back to the pinned per-row path — the
# hypothesis differential (test_normalize_differential) exercises
# both paths (its alphabet includes ASCII-only and Unicode cases).
_SEP_WS = "\x1c"
_SEP_NWS = "\x00"

_CLASS_RE = re.compile(r"[^\w\s'.=]")
_PUNCT_TABLE = str.maketrans(
    {c: " " for c in map(chr, range(128)) if _CLASS_RE.fullmatch(c)}
)
_APOS_S = re.compile(r"'s\b")
_DOT_GUARDED = re.compile(r"\.(?<!\d\.)(?!\d)")
_WS_TABLE = str.maketrans(
    {
        c: " "
        for c in map(chr, range(128))
        if c != " " and re.fullmatch(r"\s", c)
    }
)
_SPACE_RUN = re.compile(r" {2,}")


def _joinable(s: pd.Series, sep: str):
    """The batch joined with `sep`, or None when the fast path is
    inapplicable (empty batch — ''.join([]) would split back to ONE
    empty string against a 0-length index — NaNs, separator collision,
    non-ASCII)."""
    if len(s) == 0 or s.isna().any():
        return None
    big = sep.join(s.to_numpy())
    if not big.isascii() or s.str.contains(sep, regex=False).any():
        return None
    return big


def _punct_pass(s: pd.Series) -> pd.Series:
    big = _joinable(s, _SEP_WS)
    if big is None:
        return s.str.replace(PUNCT_FAST, " ", regex=True)
    big = _DOT_GUARDED.sub(" ", _APOS_S.sub(" ", big.translate(_PUNCT_TABLE)))
    return pd.Series(big.split(_SEP_WS), index=s.index)


def _space_pass(s: pd.Series) -> pd.Series:
    big = _joinable(s, _SEP_NWS)
    if big is None:
        return s.str.replace(MULTI_SPACE_FAST, " ", regex=True)
    big = _SPACE_RUN.sub(" ", big.translate(_WS_TABLE))
    return pd.Series(big.split(_SEP_NWS), index=s.index)


def normalize_series(s: pd.Series) -> pd.Series:
    """Apply the reference normalization chain R5-R10 to a string Series.

    Order matters and mirrors data_utilities.py:60-89 exactly:
    strip -> punctuation removal -> quote removal -> trailing-dot
    removal -> whitespace collapse -> `=` tightening.
    """
    s = s.str.strip()
    s = _punct_pass(s)
    s = s.str.replace("'", "", regex=False)
    # TRAILING_DOT is $-anchored — anchors don't survive joining; the
    # pass is cheap per-row (~3 ms/batch), keep it as-is
    s = s.str.replace(TRAILING_DOT, "", regex=True)
    s = _space_pass(s)
    # `=` appears in a small fraction of prose rows: restrict the
    # tightening pass to rows that contain one (cheap literal scan)
    has_eq = s.str.contains("=", regex=False).fillna(False)
    if has_eq.any():
        s = s.copy()
        s[has_eq] = s[has_eq].str.replace(EQ_PATTERN, r"\1=", regex=True)
    return s


def lower_entities_in_text(
    texts: pd.Series, drugs: pd.Series, effects: pd.Series
) -> pd.Series:
    """Lowercase each row's drug/effect surface inside its text (R11).

    Python ``str.replace`` replaces *all* occurrences — the reference
    relies on that at data_utilities.py:96-97, so we do too.
    """
    out = [
        t.replace(d, d.lower()).replace(e, e.lower())
        for t, d, e in zip(texts.to_numpy(), drugs.to_numpy(), effects.to_numpy())
    ]
    return pd.Series(out, index=texts.index)


def entity_overlap_mask(drugs: pd.Series, effects: pd.Series) -> pd.Series:
    """True where any whitespace token of drug equals any token of effect.

    Port of `drop_incorrect_sentences`
    (/root/reference/src/data_utilities.py:33-47); rows where this is
    True are dropped (R4).
    """
    d_tok = drugs.str.split()
    e_tok = effects.str.split()
    return pd.Series(
        [bool(set(d) & set(e)) for d, e in zip(d_tok, e_tok)], index=drugs.index
    )


def normalize_annotated_frame(df: pd.DataFrame) -> pd.DataFrame:
    """Full `pre_process_texts` over an annotated (text, drug, effect) frame.

    Driver/gold-side convenience mirroring
    /root/reference/src/data_utilities.py:50-101: overlap drop, then the
    normalization chain on all three columns, then in-text entity
    lowering, then lowercasing drug/effect.
    """
    df = df[~entity_overlap_mask(df["drug"], df["effect"])].reset_index(drop=True)
    df = df.copy()
    for col in ("text", "drug", "effect"):
        df[col] = normalize_series(df[col])
    df["text"] = lower_entities_in_text(df["text"], df["drug"], df["effect"])
    df["drug"] = df["drug"].str.lower()
    df["effect"] = df["effect"].str.lower()
    return df
