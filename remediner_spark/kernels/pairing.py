"""M6: triple assembly — pair DRUG and EFFECT mentions by relation id.

The reference stops at per-token relation-id lists
(/root/reference/src/FINALMODEL/test_final.py:91-95); the pairing
semantics are defined by how the RE gold was constructed
(/root/reference/src/RE/data_utilities_re.py:24-40,56-74): a token
masked DRUG with group id k relates to the token masked EFFECT with the
same id k. This kernel zips the M3 mention list with the RE stage's
per-output-word relation ids and emits (subj=drug, obj=effect) pairs.
"""

from __future__ import annotations

from typing import Callable

import pandas as pd

PRED_CAUSES = "CAUSES"


def assemble_triples(
    mentions: list[dict], rel_ids: list[int]
) -> list[tuple[str, str, str]]:
    """Pair mentions sharing a relation-group id.

    ``mentions``: [{surface, type, word_start}] from reconstruct;
    ``rel_ids``: one int per output word of the masked text (0 = none).
    Returns (drug_surface, CAUSES, effect_surface) triples; a group with
    several drugs/effects yields the cross product (the reference's
    concatenation gold admits one drug : many effects and vice versa).
    """
    drugs_by_group: dict[int, list[str]] = {}
    effects_by_group: dict[int, list[str]] = {}
    n = len(rel_ids)
    for m in mentions:
        pos = m["word_start"]
        rid = rel_ids[pos] if 0 <= pos < n else 0
        if rid == 0:
            continue
        target = drugs_by_group if m["type"] == "DRUG" else effects_by_group
        target.setdefault(rid, []).append(m["surface"])
    triples: list[tuple[str, str, str]] = []
    for rid, drug_list in sorted(drugs_by_group.items()):
        for d in drug_list:
            for e in effects_by_group.get(rid, []):
                triples.append((d, PRED_CAUSES, e))
    return triples


def pairs_frame(
    norm: pd.Series,
    extract: Callable[[list[list[str]]], list[list[tuple[str, str, str]]]],
) -> pd.DataFrame:
    """Normalized sentences -> (row, subj, obj) pairs through a model's
    word-list ``extract`` (one triple list per sentence), the
    ``extract_pairs`` contract of operators.ner.extract_triples_stage.

    Whitespace-only sentences never reach ``extract``. ``row`` is the
    positional index into ``norm`` and is int64 even when no sentence
    pairs, so the stage's fancy indexing stays valid on an empty batch.
    """
    words = [s.split() for s in norm.to_numpy()]
    keep = [i for i, w in enumerate(words) if w]
    rows, subjs, objs = [], [], []
    for i, triples in zip(keep, extract([words[i] for i in keep])):
        for s, _p, o in triples:
            rows.append(i)
            subjs.append(s)
            objs.append(o)
    return pd.DataFrame(
        {
            "row": pd.Series(rows, dtype="int64"),
            "subj": pd.Series(subjs, dtype=object),
            "obj": pd.Series(objs, dtype=object),
        }
    )
