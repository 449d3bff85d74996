"""Generate the frozen WordPiece vocab shipped with the package.

The real bert-base-cased vocab is a network download (unavailable
here), so the frozen vocab is built deterministically from public
material only: the synthetic corpus lexicons/templates plus a
char-level fallback alphabet — the standard WordPiece vocab shape
(specials, then single chars and their '##' continuations, then
longer units), so greedy max-munch always terminates without [UNK]
for ASCII prose and splits lexicon terms into realistic multi-piece
sequences.

Usage:
    python tools/gen_wordpiece_vocab.py
        regenerate the frozen corpus-derived vocab resource
    python tools/gen_wordpiece_vocab.py --ingest /path/to/vocab.txt
        validate a USER-SUPPLIED real vocab (e.g. bert-base-cased's
        vocab.txt, one token per line, ids = line numbers — the HF file
        format) and install it as the package resource, closing the A5
        subtoken-boundary parity deviation for out-of-corpus text.
        Alternatively leave the resource alone and export
        REMEDINER_WORDPIECE_VOCAB=/path/to/vocab.txt — every
        default-constructed WordPieceTokenizer honors it.
"""

from __future__ import annotations

import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

OUT = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "remediner_spark",
    "resources",
    "wordpiece_vocab.txt",
)

SPECIALS = ["[PAD]", "[UNK]", "[CLS]", "[SEP]", "[MASK]"]

# common English subword units (suffix pieces as continuations) — the
# kind of units a trained WordPiece vocab contains
PIECES = [
    "##s", "##ed", "##ing", "##ia", "##ora", "##exia", "##ex", "##al",
    "##an", "##ol", "##in", "##ax", "##ine", "##one", "##ra", "##ta",
    "##vax", "##tra", "##xa", "##il", "##on", "##or", "##er", "##ly",
]

# word STEMS only (first 4 chars) for a slice of lexicon terms, so
# many domain words genuinely tokenize into multiple pieces — the
# realistic case the label-propagation/reconstruction path must handle
STEM_LEN = 4


def build_vocab() -> list[str]:
    from remediner_spark.sources.corpus import (
        _FILLER_DE,
        _FILLER_EN,
        _FILLER_FR,
        _TEMPLATES,
        drug_lexicon,
        effect_lexicon,
    )

    vocab: list[str] = list(SPECIALS)
    seen = set(vocab)

    def add(tok: str) -> None:
        if tok and tok not in seen:
            seen.add(tok)
            vocab.append(tok)

    # char-level fallback: every printable ASCII char + continuation
    for o in range(33, 127):
        add(chr(o))
        add("##" + chr(o))

    add("##")  # artifact-free guard for empty continuations

    for p in PIECES:
        add(p)

    # template/filler prose words (cased + lowercase), whole units
    prose = " ".join(_TEMPLATES + _FILLER_EN + _FILLER_DE + _FILLER_FR)
    for w in re.findall(r"[A-Za-z]+", prose):
        add(w)
        add(w.lower())

    # lexicon terms: every other term goes in whole; the rest only as
    # a STEM_LEN stem (continuations come from PIECES/char fallback)
    for i, term in enumerate(sorted(set(drug_lexicon() + effect_lexicon()))):
        for w in term.split():
            if i % 2 == 0:
                add(w)
            else:
                add(w[:STEM_LEN])
    return vocab


REQUIRED_SPECIALS = ("[PAD]", "[UNK]", "[CLS]", "[SEP]")


def validate_vocab(path: str) -> list[str]:
    """Check a user-supplied vocab file is usable: non-empty, one token
    per line, no duplicates, all four framing specials present, and at
    least one '##' continuation piece (a vocab without continuations
    would [UNK] every multi-piece word). Returns the token list."""
    with open(path, encoding="utf-8") as f:
        toks = [line.rstrip("\n") for line in f]
    if toks and toks[-1] == "":
        toks.pop()  # trailing newline
    if not toks:
        raise SystemExit(f"{path}: empty vocab")
    dupes = len(toks) - len(set(toks))
    if dupes:
        raise SystemExit(f"{path}: {dupes} duplicate tokens")
    missing = [s for s in REQUIRED_SPECIALS if s not in toks]
    if missing:
        raise SystemExit(f"{path}: missing specials {missing}")
    if not any(t.startswith("##") for t in toks):
        raise SystemExit(
            f"{path}: no '##' continuation pieces — not a WordPiece vocab"
        )
    return toks


def ingest(path: str, out: str = OUT) -> int:
    toks = validate_vocab(path)
    os.makedirs(os.path.dirname(out), exist_ok=True)
    with open(out, "w", encoding="utf-8") as f:
        f.write("\n".join(toks) + "\n")
    return len(toks)


if __name__ == "__main__":
    # explicit arg handling: a typo'd flag or a missing --ingest path
    # must NOT silently fall through to the regenerate branch and
    # overwrite an installed real vocab with the synthetic one
    if len(sys.argv) == 1:
        os.makedirs(os.path.dirname(OUT), exist_ok=True)
        vocab = build_vocab()
        with open(OUT, "w", encoding="utf-8") as f:
            f.write("\n".join(vocab) + "\n")
        print(f"wrote {len(vocab)} tokens to {OUT}")
    elif sys.argv[1] == "--ingest" and len(sys.argv) == 3:
        n = ingest(sys.argv[2])
        print(f"installed {n}-token user vocab from {sys.argv[2]} to {OUT}")
        print(
            "note: ids are line numbers; a checkpoint's embedding rows "
            "must follow the SAME file, or its ids index the wrong rows"
        )
    else:
        raise SystemExit(
            "usage: gen_wordpiece_vocab.py              (regenerate)\n"
            "       gen_wordpiece_vocab.py --ingest /path/to/vocab.txt"
        )
