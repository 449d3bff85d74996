"""Vectorized gazetteer match + positional pairing over sentence batches.

Replaces the per-sentence Python loop in the fused extraction stage
(operators/ner.py) with batch-level numpy/pandas work, preserving the
exact semantics of

    GazetteerTagger.tag_words -> mentions_from_word_iob ->
    pair_mentions_positional

for the CAUSES-triple output (subj/obj lowercase surfaces):

* greedy left-to-right longest-match phrase tagging (per start
  position, phrases tried longest-first in lexicon order; after a
  match of k words the scan resumes k words later),
* run-collapse of adjacent same-class mentions (the reference's
  ``de_append`` latch, /root/reference/src/FINALMODEL/final_model.py:102-106),
* first-occurrence surface dedup, k-th drug pairs with k-th effect
  (/root/reference/src/RE/data_utilities_re.py:24-40).

It has two outputs: ``extract_pairs`` (the pairs of the fused stage)
and ``count_b_tags`` (per-row B-tag counts, the docpipe oracles).
Both are pinned against the per-sentence chain above by
tests/test_tagmatch_differential.py (hypothesis + corpus sweep);
``GazetteerTagger.tag_words`` survives only as that test's referee.

The batch algorithm: factorize the batch's flattened word stream once,
generate match candidates per lexicon phrase with O(1)-lookup position
lists (vectorized continuation checks), resolve overlaps greedily
(vectorized fast path; a Python loop only over the rare rows whose
candidates actually overlap), then run-collapse/dedup/rank/pair with
groupby arithmetic. Python-level iteration is proportional to the
lexicon size and the number of *conflicting matches*, not to the
number of sentences or words.
"""

from __future__ import annotations

import numpy as np
import pandas as pd


class BatchMatcher:
    """Batch-vectorized equivalent of GazetteerTagger for triple output.

    Built from the tagger's phrase index; cache one per executor
    process (it is derived state, cheap to rebuild from the broadcast
    tagger).
    """

    def __init__(
        self,
        index: dict[str, list[tuple[tuple[str, ...], str]]],
        space_split: bool = False,
    ):
        # flatten the per-first-word buckets, keeping bucket-local
        # priority (position in the longest-first list) for tie-breaks
        self._phrases: list[tuple[tuple[str, ...], str, int]] = []
        for first in index:
            for prio, (phrase, etype) in enumerate(index[first]):
                self._phrases.append((phrase, etype, prio))
        # split semantics: str.split() (whitespace runs collapse; the
        # tag_words parity mode) vs str.split(" ") (single-space, empty
        # tokens preserved — the semantics of SQL string_split(text,' ')
        # used by the docpipe oracles)
        self._space_split = space_split

    @classmethod
    def from_tagger(cls, tagger, space_split: bool = False) -> "BatchMatcher":
        return cls(tagger._index, space_split=space_split)

    def _accepted(self, norm: pd.Series):
        """Shared tokenize -> candidate -> greedy-resolution pipeline.

        Returns (flat_lower, row_id, pos, k, is_drug) where (pos, k, is_drug) are the accepted matches in (row,
        position) order; flat_* / row_id cover every token of every
        row. With no tokens or no matches the match arrays are empty
        (the token arrays still describe the batch).
        """
        # ONE join+lower+split over the whole batch (C-speed) instead
        # of per-sentence splits; SOH (\x01) tokens mark sentence
        # boundaries. The sentinel must be (a) non-whitespace for
        # str.split (\x1c-\x1f are Unicode whitespace) and (b) NUL-free:
        # pandas' string hashtable hashes C strings, so "\x00" collides
        # with "" — which space-split mode produces for double spaces —
        # and numpy `== "\x00"` is separately broken by trailing-NUL
        # trimming. \x01 satisfies both and can't survive
        # normalization; sanitize defensively so a pathological input
        # degrades to a word split, never to a row miscount.
        vals = norm.fillna("").astype(str)
        big = " \x01 ".join(vals)
        # sentinel-collision check on the JOINED string (one C-speed
        # count vs a per-row regex scan — measured ~6% of the match
        # phase): exactly len(vals)-1 separators means no row carried
        # its own \x01
        if big.count("\x01") != len(vals) - 1:
            vals = vals.str.replace("\x01", " ", regex=False)
            big = " \x01 ".join(vals)
        if self._space_split:
            # split(" "): empty tokens survive (they can never match a
            # phrase, and they break match adjacency exactly like the
            # per-row text.split(" ") they mirror); the join's added
            # spaces around \x01 keep the separator its own token
            tokens = big.lower().split(" ")
        else:
            tokens = big.lower().split()
        tok = np.array(tokens, dtype=object)
        codes_all, vocab = pd.factorize(tok)
        code_of = {w: c for c, w in enumerate(vocab)}
        sep = codes_all == code_of.get("\x01", -1)
        row_id = np.cumsum(sep)
        flat = tok[~sep]
        codes = codes_all[~sep]
        row_id = row_id[~sep]
        n = len(flat)
        none_pos = np.array([], dtype=np.int64)
        if n == 0:
            return (flat, row_id, none_pos, none_pos.copy(),
                    np.array([], dtype=bool))

        # word -> sorted position list, via one stable argsort of the
        # (already factorized) codes
        order = np.argsort(codes, kind="stable")
        sorted_codes = codes[order]

        def positions(code: int) -> np.ndarray:
            lo = np.searchsorted(sorted_codes, code, side="left")
            hi = np.searchsorted(sorted_codes, code, side="right")
            return order[lo:hi]

        # ---- candidate generation: one vector op set per lexicon phrase
        c_pos, c_len, c_is_drug, c_prio = [], [], [], []
        for phrase, etype, prio in self._phrases:
            first_code = code_of.get(phrase[0])
            if first_code is None:
                continue
            pos = positions(first_code)
            k = len(phrase)
            if k > 1:
                pos = pos[pos + k <= n]
                for j in range(1, k):
                    if len(pos) == 0:
                        break
                    cj = code_of.get(phrase[j])
                    if cj is None:
                        pos = pos[:0]
                        break
                    pos = pos[
                        (codes[pos + j] == cj) & (row_id[pos + j] == row_id[pos])
                    ]
            if len(pos):
                c_pos.append(pos)
                c_len.append(np.full(len(pos), k))
                c_is_drug.append(np.full(len(pos), etype == "Drug"))
                c_prio.append(np.full(len(pos), prio))
        if not c_pos:
            return (flat, row_id, none_pos, none_pos.copy(),
                    np.array([], dtype=bool))
        pos_all = np.concatenate(c_pos)
        k_all = np.concatenate(c_len)
        drug_all = np.concatenate(c_is_drug)
        prio_all = np.concatenate(c_prio)

        # per start position the tagger takes the first (longest /
        # lowest-prio) matching phrase. np.lexsort is stable with the
        # LAST key primary — identical ordering to the previous pandas
        # stable sort_values(["pos", "prio"]) + duplicated dedup,
        # without the DataFrame round-trip.
        order = np.lexsort((prio_all, pos_all))
        pos = pos_all[order]
        first = np.empty(len(pos), dtype=bool)
        if len(pos):
            first[0] = True
            first[1:] = pos[1:] != pos[:-1]
        pos = pos[first]
        sel = order[first]
        k = k_all[sel]
        is_drug = drug_all[sel]
        row = row_id[pos]
        prev_end = np.empty(len(pos), dtype=np.int64)
        prev_end[0] = -1
        prev_end[1:] = pos[:-1] + k[:-1]
        same_row = np.empty(len(pos), dtype=bool)
        same_row[0] = False
        same_row[1:] = row[1:] == row[:-1]
        conflict = same_row & (pos < prev_end)
        if conflict.any():
            # only rows with an actual overlap chain need the
            # sequential greedy pass
            bad_rows = np.unique(row[conflict])
            in_bad = np.isin(row, bad_rows)
            keep = ~in_bad
            for r in bad_rows:
                idx = np.flatnonzero(row == r)
                cur_end = -1
                for i in idx:
                    if pos[i] >= cur_end:
                        keep[i] = True
                        cur_end = pos[i] + k[i]
            pos, k, row, is_drug = pos[keep], k[keep], row[keep], is_drug[keep]
        return flat, row_id, pos, k, is_drug

    def extract_pairs(self, norm: pd.Series) -> pd.DataFrame:
        """Normalized sentences -> (row, subj, obj) CAUSES pairs.

        ``row`` is the positional index into ``norm`` (0..len-1).
        """
        empty = pd.DataFrame({"row": pd.array([], dtype="int64"),
                              "subj": pd.array([], dtype=object),
                              "obj": pd.array([], dtype=object)})
        if len(norm) == 0:
            return empty
        flat, row_id, pos, k, is_drug = self._accepted(norm)
        if len(pos) == 0:
            return empty
        row = row_id[pos]

        # ---- run-collapse: adjacent same-class matches merge into one
        # mention (gap 0, same row, same class — the de_append latch).
        # Runs are contiguous in the (row, pos)-sorted arrays, so this
        # is pure run-length arithmetic — no Python-agg groupby.
        new_run = np.ones(len(pos), dtype=bool)
        new_run[1:] = (
            (row[1:] != row[:-1])
            | (is_drug[1:] != is_drug[:-1])
            | (pos[1:] != pos[:-1] + k[:-1])
        )
        # per-match surface: k=1 matches take the word directly (the
        # common case); multi-word matches join in a small loop
        surf = flat[pos].copy()
        for i in np.flatnonzero(k > 1):
            surf[i] = " ".join(flat[pos[i] : pos[i] + k[i]])
        run_start = np.flatnonzero(new_run)
        counts = np.diff(np.append(run_start, len(pos)))
        r_row = row[run_start]
        r_is_drug = is_drug[run_start]
        r_surface = surf[run_start].copy()
        for j in np.flatnonzero(counts > 1):  # merged runs are rare
            s = run_start[j]
            r_surface[j] = " ".join(surf[s : s + counts[j]])

        # ---- first-occurrence dedup per (row, class, surface), then
        # rank within (row, class) in text order (mentions interleave
        # by position, so groups are NOT contiguous: stable-argsort
        # cumcount), then k-th drug pairs with k-th effect
        scode, _ = pd.factorize(r_surface)
        dup_key = (
            (r_row.astype(np.int64) * 2 + r_is_drug) * (scode.max() + 1)
            + scode
        )
        # runs are already in (row, text-position) order: np.unique
        # keeps the first occurrence index
        _, first_idx = np.unique(dup_key, return_index=True)
        keep = np.zeros(len(dup_key), dtype=bool)
        keep[first_idx] = True
        r_row, r_is_drug, r_surface = (
            r_row[keep], r_is_drug[keep], r_surface[keep]
        )

        grp = r_row.astype(np.int64) * 2 + r_is_drug
        order = np.argsort(grp, kind="stable")
        sg = grp[order]
        starts = np.r_[True, sg[1:] != sg[:-1]] if len(sg) else np.array([], bool)
        blk_id = np.cumsum(starts) - 1
        blk_first = np.flatnonzero(starts)
        rank = np.empty(len(grp), dtype=np.int64)
        rank[order] = np.arange(len(grp)) - blk_first[blk_id]

        dm = r_is_drug.astype(bool)
        d = pd.DataFrame(
            {"row": r_row[dm], "rank": rank[dm], "subj": r_surface[dm]}
        )
        e = pd.DataFrame(
            {"row": r_row[~dm], "rank": rank[~dm], "obj": r_surface[~dm]}
        )
        return d.merge(e, on=["row", "rank"])[["row", "subj", "obj"]]

    def count_b_tags(
        self, norm: pd.Series
    ) -> tuple[np.ndarray, np.ndarray]:
        """Per-row counts of B-Drug / B-Effect tags (one per accepted
        match — tag_words emits exactly one B per match start)."""
        n_rows = len(norm)
        if n_rows == 0:
            z = np.zeros(0, dtype=np.int64)
            return z, z.copy()
        _f, row_id, pos, _k, is_drug = self._accepted(norm)
        rows = row_id[pos]
        nd = np.bincount(rows[is_drug], minlength=n_rows).astype(np.int64)
        ne = np.bincount(rows[~is_drug], minlength=n_rows).astype(np.int64)
        return nd, ne
