"""spark-submit entry point: pages corpus -> KG triples (+ metrics).

Usage:
    spark-submit --py-files remediner_spark.zip job.py \
        --corpus-dir /path/with/pages.parquet --out /path/out \
        [--gold] [--graph] [--model gazetteer|numpy-bert] [--cores 32]

Runs: scan -> lang filter -> HTML extraction (byte-identity checked) ->
fused segmentation/NER/RE triple extraction -> writes triples parquet,
prints one JSON metrics line to stdout. ``--graph`` runs the checkpointed
pipeline instead; ``--gold`` scores either path's CAUSES triples. Both
paths audit the extraction against the corpus text and exit 1 on any
mismatch.
"""

from __future__ import annotations

import argparse
import json
import sys
import time


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__)
    ap.add_argument("--corpus-dir", required=True)
    ap.add_argument("--out", required=True)
    ap.add_argument("--cores", type=int, default=None)
    ap.add_argument(
        "--gold",
        action="store_true",
        help="also score triples against the pandas gold (needs "
        "ade_annotations.parquet in --corpus-dir)",
    )
    ap.add_argument(
        "--graph",
        action="store_true",
        help="run the full checkpointed pipeline (linking + "
        "canonicalization + node/edge Iceberg-style tables) instead of "
        "triples only",
    )
    ap.add_argument(
        "--model",
        choices=["gazetteer", "numpy-bert"],
        default="gazetteer",
        help="NER model behind the fused stage: the deterministic "
        "gazetteer (exact vs gold), or the executed numpy BERT encoder "
        "with seeded weights (architecture demo — predictions are not "
        "trained, so skip --gold with it)",
    )
    args = ap.parse_args(argv)

    from remediner_spark.operators.ner import (
        extract_triples_stage,
        with_inverse_triples,
    )
    from remediner_spark.operators.text import (
        extraction_mismatch_count,
        filter_language,
    )
    from remediner_spark.session import get_spark

    spark = get_spark(app_name="remediner-job", cores=args.cores)
    t0 = time.time()
    if args.model == "numpy-bert":
        from remediner_spark.operators.bert_stub import NumpyBertTagger

        tagger_bc = spark.sparkContext.broadcast(NumpyBertTagger.seeded())
    else:
        from remediner_spark.plans.pipeline import default_tagger_bc

        tagger_bc = default_tagger_bc(spark)
    english = filter_language(
        spark.read.parquet(f"{args.corpus_dir}/pages.parquet")
    )
    if not args.graph:
        # cache the filtered slice: it feeds three actions (invariant
        # check, page count, triple extraction) — one scan+filter
        # instead of three. run_pipeline reads its own input.
        english = english.cache()
    # the byte-identity audit of the extraction, on both paths
    mismatches = extraction_mismatch_count(english)
    if args.graph:
        from remediner_spark.plans.pipeline import run_pipeline
        from remediner_spark.sources.table import read_table

        metrics = run_pipeline(spark, args.corpus_dir, args.out, tagger_bc=tagger_bc)
        metrics["elapsed_sec"] = round(time.time() - t0, 2)
        out_triples = read_table(spark, f"{args.out}/triples_out")
    else:
        n_pages = english.count()
        # extraction is fused into the triple stage (html in, triples out)
        triples = with_inverse_triples(
            extract_triples_stage(english, tagger_bc, extract_html=True)
        )
        triples.write.mode("overwrite").partitionBy("pred").parquet(
            f"{args.out}/triples"
        )
        out_triples = spark.read.parquet(f"{args.out}/triples")
        n_triples = out_triples.count()
        english.unpersist()
        elapsed = time.time() - t0
        metrics = {
            "n_pages_en": n_pages,
            "n_triples": n_triples,
            "elapsed_sec": round(elapsed, 2),
            "triples_per_sec": round(n_triples / elapsed, 1),
        }
    if args.gold:
        import pandas as pd

        from remediner_spark.gold import gold_triples
        from remediner_spark.metrics import triple_precision_recall

        ann = pd.read_parquet(f"{args.corpus_dir}/ade_annotations.parquet")
        gold = spark.createDataFrame(gold_triples(ann))
        causes = out_triples.filter("pred = 'CAUSES'")
        metrics.update(triple_precision_recall(causes, gold))
    metrics["extraction_mismatches"] = mismatches
    print(json.dumps(metrics))
    spark.stop()
    return 0 if mismatches == 0 else 1


if __name__ == "__main__":
    sys.exit(main())
