"""Per-partition checkpointing with lineage + metrics (resumable runs).

Generalizes the reference's cache-gate pattern (the CSV existence
checks at /root/reference/src/main.py:124-146) to a distributed,
bucket-granular contract, per SURVEY.md §4.3:

* Work is bucketed by a deterministic hash of the lineage key (url):
  ``_bucket = pmod(xxhash64(url), n_buckets)``.
* A stage writes its output parquet **partitioned by _bucket** with
  dynamic partition overwrite, so re-processing a bucket is
  idempotent (replaces the partition, never duplicates).
* After the data commit, a manifest line per bucket records
  (stage, bucket, url_min, url_max, rows_in, rows_out, status,
  wall_sec) — the lineage + metrics record.
* Resume = set difference: buckets in the manifest with
  status=committed are skipped; only pending buckets recompute.
  Crash between data write and manifest append -> the bucket is
  simply recomputed (overwrite makes that safe).

The manifest is driver-side JSONL (metadata-sized; one line per
bucket per stage), written via temp-file + atomic rename.
"""

from __future__ import annotations

import json
import os
import time
from typing import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

BUCKET_COL = "_bucket"


def with_bucket(df: DataFrame, n_buckets: int) -> DataFrame:
    return df.withColumn(
        BUCKET_COL, F.pmod(F.xxhash64(F.col("url")), F.lit(n_buckets)).cast("int")
    )


def _manifest_path(checkpoint_dir: str, stage: str) -> str:
    return os.path.join(checkpoint_dir, f"manifest_{stage}.jsonl")


def read_manifest(checkpoint_dir: str, stage: str) -> list[dict]:
    path = _manifest_path(checkpoint_dir, stage)
    if not os.path.exists(path):
        return []
    with open(path) as f:
        return [json.loads(line) for line in f if line.strip()]


def committed_buckets(checkpoint_dir: str, stage: str) -> set[int]:
    return {
        rec["bucket"]
        for rec in read_manifest(checkpoint_dir, stage)
        if rec["status"] == "committed"
    }


def _append_manifest(checkpoint_dir: str, stage: str, records: list[dict]) -> None:
    os.makedirs(checkpoint_dir, exist_ok=True)
    path = _manifest_path(checkpoint_dir, stage)
    tmp = path + ".tmp"
    existing = read_manifest(checkpoint_dir, stage)
    with open(tmp, "w") as f:
        for rec in existing + records:
            f.write(json.dumps(rec) + "\n")
    os.replace(tmp, path)


def run_stage(
    spark: SparkSession,
    stage: str,
    input_df: DataFrame,
    transform: Callable[[DataFrame], DataFrame],
    checkpoint_dir: str,
    n_buckets: int = 32,
) -> DataFrame:
    """Run ``transform`` over only the not-yet-committed buckets of
    ``input_df``; return the full (committed + new) stage output.

    ``transform`` must preserve the lineage key column (url). Output lands at
    {checkpoint_dir}/{stage}/ partitioned by _bucket.

    CONTRACT: ``transform`` must consume its input exactly once in the
    plan feeding the single write action. The bucket metrics ride
    Observation nodes, which accumulate once per *execution* of the
    observed subtree — a transform that branches its input (self-join,
    union of two derivations) without caching re-executes the observed
    scan and inflates rows_in by the branch count. The commit decision
    is robust to that (it ORs the input- and output-side counts, and
    double-counting can only raise a count above zero, never to zero),
    but the manifest's rows_in lineage stat would overstate; cache the
    input inside such a transform.
    """
    data_dir = os.path.join(checkpoint_dir, stage)
    bucketed = with_bucket(input_df, n_buckets)
    done = committed_buckets(checkpoint_dir, stage)
    pending = bucketed.filter(~F.col(BUCKET_COL).isin(list(done))) if done else bucketed
    todo = [b for b in range(n_buckets) if b not in done]

    if todo:
        from pyspark.sql import Observation

        # lineage metrics ride the write job via observe() — no
        # separate stats scan of the input (at 10^12 docs an extra
        # full pass per stage) and no read-back of the output. The
        # pending bucket set is known statically (manifest set
        # difference), so per-bucket metrics are count_if/min/max
        # expressions over the observed nodes.
        def _bucket_metrics(prefix: str, with_urls: bool):
            cols = []
            for b in todo:
                hit = F.col(BUCKET_COL) == b
                cols.append(F.count_if(hit).alias(f"{prefix}n_{b}"))
                if with_urls:
                    url = F.when(hit, F.col("url"))
                    cols.append(F.min(url).alias(f"{prefix}lo_{b}"))
                    cols.append(F.max(url).alias(f"{prefix}hi_{b}"))
            return cols

        obs_in = Observation(f"ckpt_{stage}_in")
        obs_out = Observation(f"ckpt_{stage}_out")
        t0 = time.time()
        out = transform(pending.observe(obs_in, *_bucket_metrics("", True)))
        if BUCKET_COL not in out.columns:
            out = with_bucket(out, n_buckets)
        (
            out.observe(obs_out, *_bucket_metrics("o", False))
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy(BUCKET_COL)
            .parquet(data_dir)
        )
        wall = time.time() - t0
        in_m, out_m = obs_in.get, obs_out.get
        records = [
            {
                "stage": stage,
                "bucket": int(b),
                "url_min": in_m[f"lo_{b}"],
                "url_max": in_m[f"hi_{b}"],
                "rows_in": int(in_m[f"n_{b}"]),
                "rows_out": int(out_m[f"on_{b}"]),
                "status": "committed",
                "wall_sec": round(wall, 3),
                "ts": time.strftime("%Y-%m-%dT%H:%M:%S"),
            }
            for b in todo
            # commit on either side's evidence: a key-preserving
            # transform can drop every row of a bucket (rows_out 0,
            # rows_in > 0 — still done), and the output-side count
            # backstops any input-side observation anomaly
            if in_m[f"n_{b}"] > 0 or out_m[f"on_{b}"] > 0
        ]
        if records:
            _append_manifest(checkpoint_dir, stage, records)

    committed = committed_buckets(checkpoint_dir, stage)
    return (
        spark.read.parquet(data_dir)
        .filter(F.col(BUCKET_COL).isin([int(b) for b in committed]))
        .drop(BUCKET_COL)
    )
