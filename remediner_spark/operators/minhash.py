"""MinHash-LSH: one signature-and-band kernel, in Spark and DuckDB SQL.

Entity linking (linking.py, M8) and document dedup (dedup.py) run the
same algorithm, each over its own shingles and hash family (A, B):

    base hash h = md5_hash32(shingle) % P -> K = len(A) min-hashes
    mh_i = min((h * A[i] + B[i]) % P) -> B bands of R rows -> band join

Spark band keys are structs of the R min-hash longs; the SQL mirror
renders the same key as the ':'-joined string. Both encodings are
injective, so a band equi-join matches the same pairs in both engines
(tests/test_minhash.py pins the mirror for both families).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .textstats import md5_hash32_expr, md5_hash32_sql

# Mersenne modulus. Base hashes are reduced mod P before the multiply,
# so h * a + b stays under 2^63 (Spark 4 ANSI: long overflow raises).
P = (1 << 31) - 1


def base_hashes(shingles: Column) -> Column:
    """Per-shingle base hash, the md5 evaluated ONCE per shingle. In its
    own projection CollapseProject keeps the split (non-cheap, read K
    times), so codegen compiles one md5 pass plus K tiny affine folds
    instead of a K-way md5 tree."""
    return F.transform(shingles, lambda s: md5_hash32_expr(s) % P)


def base_hash_sql(var: str) -> str:
    return f"({md5_hash32_sql(var)}) % {P}"


def band_table(df: DataFrame, base_col: str, hash_a: list[int],
               hash_b: list[int], bands: int, rows: int) -> DataFrame:
    """``df`` with a base-hash array ``base_col`` -> one row per (row,
    band): the other columns, ``band_idx`` and ``band_key`` (struct
    r0..r{rows-1}). Map-side projections and an explode over a literal
    array, so the band join stays an equi-join."""
    carry = [c for c in df.columns if c != base_col]

    def lcg(a: int, b: int):
        return lambda h: (h * a + b) % P

    sig = df.select(*carry, *[
        F.array_min(F.transform(base_col, lcg(a, b))).alias(f"mh_{i}")
        for i, (a, b) in enumerate(zip(hash_a, hash_b))
    ])
    band_structs = F.array(*[
        F.struct(
            F.lit(b).alias("band_idx"),
            F.struct(*[F.col(f"mh_{b * rows + r}").alias(f"r{r}")
                       for r in range(rows)]).alias("band_key"),
        )
        for b in range(bands)
    ])
    return sig.select(*carry, F.explode(band_structs).alias("band")).select(
        *carry, "band.band_idx", "band.band_key"
    )


def minhash_cols_sql(arr: str, var: str, base: str, hash_a: list[int],
                     hash_b: list[int]) -> str:
    """``mh_0, ..., mh_{K-1}`` over the list column ``arr``: ``base`` is
    one element's base hash in lambda variable ``var`` (base_hash_sql
    over raw shingles, ``var`` itself over a pre-hashed list)."""
    return ", ".join(
        f"list_aggregate(list_transform({arr}, {var} -> "
        f"({base} * {a} + {b}) % {P}), 'min') AS mh_{i}"
        for i, (a, b) in enumerate(zip(hash_a, hash_b))
    )


def band_rows_sql(src: str, carry: str, bands: int, rows: int) -> str:
    """band_table's mirror over ``src``'s mh_* columns: one UNION ALL
    branch per band, ``carry`` the select list carried through."""
    return " UNION ALL ".join(
        f"SELECT {carry}, {b} AS band_idx, "
        + " || ':' || ".join(
            f"CAST(mh_{b * rows + r} AS VARCHAR)" for r in range(rows)
        )
        + f" AS band_key FROM {src}"
        for b in range(bands)
    )
