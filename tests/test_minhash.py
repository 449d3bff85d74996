"""The shared MinHash-LSH kernel (operators/minhash.py) against its
DuckDB mirror, for both hash families that run through it: entity
linking (char-3 shingles, K=24 = 8 bands x 3 rows) and document dedup
(word-3-gram shingles, K=16 = 4 bands x 4 rows). Spark's struct band
key is rendered as the mirror's ':'-joined string, and the full
(id, band_idx, band_key) tables must be equal."""

from __future__ import annotations

import random

import duckdb
import pandas as pd
import pytest
from pyspark.sql import functions as F

from remediner_spark.operators import dedup, linking
from remediner_spark.operators.minhash import (
    band_rows_sql,
    band_table,
    base_hash_sql,
    base_hashes,
    minhash_cols_sql,
)
from remediner_spark.plans.kg_gate import _shingle_sql

WORDS = ["the", "drug", "causes", "mild", "rash", "in", "some", "patients",
         "after", "dose", "of", "nausea"]


def _surfaces(rng: random.Random, n: int) -> list[str]:
    out = []
    for _ in range(n):
        if out and rng.random() < 0.3:  # a one-char edit of an earlier one
            s = rng.choice(out)
            i = rng.randrange(len(s) + 1)
            out.append(s[:i] + rng.choice("aeiou") + s[i:])
        else:
            out.append("".join(rng.choice("abcdefghijklmnop")
                               for _ in range(rng.randint(1, 14))))
    return out


def _texts(rng: random.Random, n: int) -> list[str]:
    return [" ".join(rng.choice(WORDS) for _ in range(rng.randint(1, 12)))
            for _ in range(n)]


FAMILIES = {
    # name: (strings, Spark shingles, SQL shingles, A, B, bands, rows)
    "linking": (_surfaces, linking.char_shingles, _shingle_sql,
                linking._HASH_A, linking._HASH_B,
                linking.LSH_BANDS, linking.LSH_ROWS),
    "dedup": (_texts, dedup._shingles_expr, dedup._shingles_sql,
              dedup.MH_A, dedup.MH_B, dedup.MH_BANDS, dedup.MH_ROWS),
}


@pytest.mark.parametrize("prehashed", [False, True],
                         ids=["raw_shingles", "prehashed"])
@pytest.mark.parametrize("family", sorted(FAMILIES))
def test_band_table_matches_sql_mirror(spark, family, prehashed):
    gen, sh_expr, sh_sql, hash_a, hash_b, bands, rows = FAMILIES[family]
    assert len(hash_a) == len(hash_b) == bands * rows
    strings = gen(random.Random(20 + len(family)), 200)
    pdf = pd.DataFrame({"id": range(len(strings)), "txt": strings})

    got_df = band_table(
        spark.createDataFrame(pdf).select(
            "id", base_hashes(sh_expr(F.col("txt"))).alias("bh")
        ),
        "bh", hash_a, hash_b, bands, rows,
    )
    got = {
        (r.id, r.band_idx, ":".join(str(v) for v in r.band_key))
        for r in got_df.collect()
    }

    # the two SQL shapes the oracles use: the base hash inside the fold
    # (kg_linked_mentions, dedup_minhash_lsh) or a pre-hashed list
    # folded through its lambda variable (dedup_incremental)
    if prehashed:
        arr = f"list_transform(sh, s -> {base_hash_sql('s')})"
        mh = minhash_cols_sql("bh", "x", "x", hash_a, hash_b)
    else:
        arr = "sh"
        mh = minhash_cols_sql("bh", "s", base_hash_sql("s"), hash_a, hash_b)
    con = duckdb.connect()
    con.register("t", pdf)
    want = {
        tuple(r)
        for r in con.execute(f"""
WITH s AS (SELECT id, {sh_sql('txt')} AS sh FROM t),
h AS (SELECT id, {arr} AS bh FROM s),
sig AS (SELECT id, {mh} FROM h)
{band_rows_sql('sig', 'id', bands, rows)}""").fetchall()
    }
    assert len(got) == len(strings) * bands
    assert got == want
