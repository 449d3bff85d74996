"""IVF ANN quality gate: recall@k vs the brute-force baseline."""

from __future__ import annotations

from remediner_spark.operators.ivf import NPROBE, _round_half_up, q_sim_topk_ivf
from remediner_spark.operators.similarity import q_sim_topk_bruteforce

SF = "/root/testdata/sf0.01"


def _query_probe_cells(centers: list[list[float]], qv: list[float]) -> list[int]:
    """NPROBE nearest cells for one query vector — the DRIVER-SIDE
    DIFFERENTIAL REFEREE for probe_cells_df
    (test_probe_cells_plan_matches_driver pins plan == driver).
    Strictly sequential accumulation + 9dp HALF_UP rounding:
    bitwise-identical to the Spark aggregate and DuckDB list_sum
    derivations."""
    ds = []
    for cell, c in enumerate(centers):
        acc = 0.0
        for a, b in zip(qv, c):
            acc += (a - b) * (a - b)
        ds.append((_round_half_up(acc), cell))
    ds.sort()
    return [cell for _d, cell in ds[:NPROBE]]


def test_ivf_recall_vs_bruteforce(spark):
    exact = q_sim_topk_bruteforce(spark, SF).toPandas()
    approx = q_sim_topk_ivf(spark, SF).toPandas()
    exact_sets = exact.groupby("query_id")["neighbor_id"].apply(set)
    approx_sets = approx.groupby("query_id")["neighbor_id"].apply(set)
    recalls = []
    for q, truth in exact_sets.items():
        got = approx_sets.get(q, set())
        recalls.append(len(got & truth) / len(truth))
    mean_recall = sum(recalls) / len(recalls)
    # 64-dim random embeddings are a hard case for coarse quantizers;
    # nprobe=4/16 cells must still recover most true neighbors
    assert mean_recall >= 0.5, (mean_recall, recalls)
    # and the candidate set actually shrank (approx != exact everywhere
    # would suggest a full scan)
    assert len(approx) <= len(exact)


def test_ivf_deterministic(spark):
    a = q_sim_topk_ivf(spark, SF).toPandas().sort_values(
        ["query_id", "rank"]
    ).reset_index(drop=True)
    b = q_sim_topk_ivf(spark, SF).toPandas().sort_values(
        ["query_id", "rank"]
    ).reset_index(drop=True)
    import pandas as pd

    pd.testing.assert_frame_equal(a, b)


def test_probe_cells_plan_matches_driver(spark):
    """The plan-side NPROBE selection (probe_cells_df: array_sort over
    rounded (d2, cell) structs) equals the driver-side sequential-sum
    referee per query — the exactness that lets the DuckDB oracle
    re-derive probing relationally."""
    from pyspark.sql import functions as F

    from remediner_spark.operators.ivf import _fit_centroids, probe_cells_df
    from remediner_spark.operators.similarity import N_QUERIES, _as_double

    emb = spark.read.parquet(
        "/root/testdata/sf0.001/embeddings.parquet"
    ).select("vec_id", _as_double(F.col("embedding")).alias("v"))
    centers = _fit_centroids(spark, emb)
    queries = emb.filter(F.col("vec_id") < N_QUERIES)

    got = {
        (r["query_id"], r["cell"])
        for r in probe_cells_df(queries, centers).collect()
    }
    want = {
        (int(r["vec_id"]), cell)
        for r in queries.collect()
        for cell in _query_probe_cells(centers, r["v"])
    }
    assert got == want
