"""The benchmark's four workloads.

Each workload generates its inputs from the seed (``prepare``, pandas
only, before Spark starts), builds its per-session fixtures
(``setup``), runs one closed-loop operation (``op``) and checks the
operation's output outside the timed region (``check``). The program
sees only the generated files and its own public entry points.
"""

from __future__ import annotations

import os
import shutil

import numpy as np
import pandas as pd


class WorkloadError(Exception):
    """An operation ran but its output is wrong."""


def expected_causes(ann: pd.DataFrame) -> pd.Series:
    """CAUSES triples per url, from the generator's annotations through
    the pandas gold path (``gold.gold_triples``)."""
    from remediner_spark.gold import gold_triples

    return gold_triples(ann).groupby("url").size()


class Workload:
    name = ""
    # the loop ends only on a multiple of this many ops
    round_len = 1
    # ops run untimed in every set-up (JIT, Python workers, fixtures)
    warmup_ops = 1
    # ops run untimed after the last set-up, outside setup_s: the JIT
    # and the session's Python workers take a few ops to warm up
    prime_ops = 3
    # sessions set up per run; setup_s is their median. The first also
    # launches the JVM, so with three the median is a set-up in a
    # running JVM
    setups = 3
    # multiplies every input size (the smoke test shrinks it)
    scale = 1.0

    def __init__(self, work: str, seed: int) -> None:
        self.work = os.path.join(work, self.name)
        self.seed = seed
        os.makedirs(self.work, exist_ok=True)

    def size(self, n: int) -> int:
        return max(int(n * self.scale), 8)

    def prepare(self) -> None:
        pass

    def setup(self, spark) -> None:
        pass

    def op(self, spark, i: int) -> dict:
        raise NotImplementedError

    def check(self, spark, res: dict) -> None:
        pass

    def final_check(self, spark) -> dict:
        return {}

    def exhausted(self) -> bool:
        return False

    def after_op(self, res: dict) -> None:
        pass


class ExtractJob(Workload):
    """The calls ``job.py`` makes without ``--graph``, on a
    ``write_corpus`` corpus (one ``pages.parquet``, one row group)."""

    name = "extract_job"
    N_PAGES = 2000

    def prepare(self) -> None:
        from remediner_spark.sources.corpus import write_corpus

        self.corpus = os.path.join(self.work, "corpus")
        write_corpus(self.corpus, n_pages=self.size(self.N_PAGES), seed=self.seed)
        ann = pd.read_parquet(os.path.join(self.corpus, "ade_annotations.parquet"))
        self.n_causes = int(expected_causes(ann).sum())
        self.cur_out = self.last_out = None

    def setup(self, spark) -> None:
        from remediner_spark.plans.pipeline import default_tagger_bc

        self.tagger_bc = default_tagger_bc(spark)

    def op(self, spark, i: int) -> dict:
        from remediner_spark.operators.ner import (
            extract_triples_stage,
            with_inverse_triples,
        )
        from remediner_spark.operators.text import (
            extraction_mismatch_count,
            filter_language,
        )

        out = self.cur_out = os.path.join(self.work, f"out{i}")
        pages = spark.read.parquet(os.path.join(self.corpus, "pages.parquet"))
        # as job.py: the filtered slice is cached and counted, so the
        # count, the audit and the extraction share one scan
        english = filter_language(pages).cache()
        english.count()
        mismatches = extraction_mismatch_count(english)
        triples = with_inverse_triples(
            extract_triples_stage(english, self.tagger_bc, extract_html=True)
        )
        triples.write.mode("overwrite").partitionBy("pred").parquet(out)
        written = spark.read.parquet(out).count()
        english.unpersist()
        # CAUSES triples; the other half is their TREATED_WITH inverse
        return {"out": out, "written": written, "triples": written // 2,
                "mismatches": mismatches}

    def check(self, spark, res: dict) -> None:
        if res["mismatches"] != 0:
            raise WorkloadError(f"{res['mismatches']} extraction mismatches")
        if res["written"] != 2 * self.n_causes:
            raise WorkloadError(
                f"{res['written']} triples, expected {2 * self.n_causes}"
            )

    def after_op(self, res: dict) -> None:
        """Keeps only the latest op's output directory."""
        if self.last_out and self.last_out != self.cur_out:
            shutil.rmtree(self.last_out, ignore_errors=True)
        self.last_out = self.cur_out

    def final_check(self, spark) -> dict:
        """Triple precision/recall of the last op's CAUSES triples
        against the pandas gold."""
        from remediner_spark.gold import gold_triples
        from remediner_spark.metrics import triple_precision_recall

        if not self.last_out:
            return {}
        ann = pd.read_parquet(os.path.join(self.corpus, "ade_annotations.parquet"))
        gold = spark.createDataFrame(gold_triples(ann))
        causes = spark.read.parquet(self.last_out).filter("pred = 'CAUSES'")
        pr = triple_precision_recall(causes, gold)
        if pr["precision"] != 1.0 or pr["recall"] != 1.0:
            raise WorkloadError(
                f"precision {pr['precision']} recall {pr['recall']}"
            )
        return {
            "triple_precision": pr["precision"],
            "triple_recall": pr["recall"],
        }


class KgBuild(ExtractJob):
    """``plans.pipeline.run_pipeline(checkpoint=True)`` on the same
    corpus, into a fresh output directory per op."""

    name = "kg_build"

    def op(self, spark, i: int) -> dict:
        from remediner_spark.plans.pipeline import run_pipeline

        out = self.cur_out = os.path.join(self.work, f"out{i}")
        m = run_pipeline(
            spark, self.corpus, out, tagger_bc=self.tagger_bc, checkpoint=True
        )
        return {"out": out, "written": m["n_triples"], "triples": m["n_triples"] // 2}

    def check(self, spark, res: dict) -> None:
        from pyspark.sql import functions as F

        from remediner_spark.sources.table import read_table

        weight = read_table(spark, os.path.join(res["out"], "edges")).agg(
            F.sum("weight")
        ).first()[0]
        if weight != self.n_causes:
            raise WorkloadError(f"edge weight {weight}, expected {self.n_causes}")
        if res["written"] != 2 * self.n_causes:
            raise WorkloadError(
                f"{res['written']} triples, expected {2 * self.n_causes}"
            )

    def final_check(self, spark) -> dict:
        return {}


class EdgeStream(Workload):
    """Crawl segments landing one at a time in a watched directory;
    each op runs ``streaming.stream_edge_weights`` (availableNow) on a
    persistent checkpoint and edge table."""

    name = "edge_stream"
    # the set-up's warm-up op creates the table; the first priming op
    # makes the session's first read-modify-write commit, which runs
    # about 2 s slower than the later ones, and the next two still ran
    # 10-20% slower than the rest
    prime_ops = 3
    N_SEGMENTS = 60
    SEGMENT_PAGES = 80

    def prepare(self) -> None:
        from remediner_spark.sources.corpus import generate_pages

        n_seg = max(int(self.N_SEGMENTS * min(self.scale, 1.0)), 6)
        seg_pages = self.size(self.SEGMENT_PAGES)
        pages, ann = generate_pages(n_seg * seg_pages, self.seed)
        causes = expected_causes(ann).reindex(pages["url"]).fillna(0).to_numpy()
        # deal the pages, most triples first, in snake order over the
        # segments: every segment gets the same number of pages and
        # nearly the same number of triples, so segments differ in
        # content, not in work
        rank = np.arange(len(pages))
        lap, pos = rank // n_seg, rank % n_seg
        seg_of = np.empty(len(pages), dtype=int)
        seg_of[np.argsort(-causes, kind="stable")] = np.where(
            lap % 2 == 0, pos, n_seg - 1 - pos
        )
        staging = os.path.join(self.work, "staging")
        os.makedirs(staging, exist_ok=True)
        self.segments = []
        for s in range(n_seg):
            path = os.path.join(staging, f"seg{s:04d}.parquet")
            pages[seg_of == s].to_parquet(path, index=False)
            self.segments.append((path, int(causes[seg_of == s].sum())))

    def setup(self, spark) -> None:
        """A fresh table, checkpoint and watched directory per session."""
        from remediner_spark.plans.pipeline import default_tagger_bc

        for d in ("watched", "table", "ckpt"):
            shutil.rmtree(os.path.join(self.work, d), ignore_errors=True)
        self.watched = os.path.join(self.work, "watched")
        self.table = os.path.join(self.work, "table")
        self.ckpt = os.path.join(self.work, "ckpt")
        os.makedirs(self.watched)
        self.tagger_bc = default_tagger_bc(spark)
        self.landed = 0
        self.landed_causes = 0

    def exhausted(self) -> bool:
        return self.landed >= len(self.segments)

    def op(self, spark, i: int) -> dict:
        from remediner_spark.streaming import stream_edge_weights

        src, causes = self.segments[self.landed]
        name = os.path.basename(src)
        # copy under a hidden name, then rename: the file source
        # ignores dot-files, so the segment appears whole
        tmp = os.path.join(self.watched, "." + name)
        shutil.copyfile(src, tmp)
        os.rename(tmp, os.path.join(self.watched, name))
        self.landed += 1
        self.landed_causes += causes
        q = stream_edge_weights(
            spark, self.watched, self.table, self.ckpt, self.tagger_bc
        )
        q.awaitTermination()
        if q.exception() is not None:
            raise RuntimeError(str(q.exception()))
        return {"triples": causes, "stream": q, "expected_total": self.landed_causes}

    def check(self, spark, res: dict) -> None:
        """Σ weight over the current snapshot's data files, read with
        pyarrow: a driver-side read keeps the check short."""
        import pyarrow.parquet as pq

        from remediner_spark.sources.table import live_files

        weight = sum(
            pq.read_table(f["path"], columns=["weight"])["weight"].to_numpy().sum()
            for f in live_files(self.table)
        )
        if weight != res["expected_total"]:
            raise WorkloadError(
                f"table weight {weight}, expected {res['expected_total']}"
            )

    def final_check(self, spark) -> dict:
        """The same sum through the program's own read path."""
        from pyspark.sql import functions as F

        from remediner_spark.sources.table import read_table

        weight = read_table(spark, self.table).agg(F.sum("weight")).first()[0]
        if weight != self.landed_causes:
            raise WorkloadError(
                f"final table weight {weight}, expected {self.landed_causes}"
            )
        return {}


# the synthetic ``documents`` table: the word vocabulary, language mix
# and near-duplicate share of the sf test tables (TESTDATA.md)
DOC_VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
DOC_LANGS = (["en", "zh", "es", "fr", "de"], [0.41, 0.15, 0.15, 0.15, 0.14])


def write_documents(path: str, n_docs: int, seed: int) -> None:
    rng = np.random.RandomState(seed)
    vocab = np.array(DOC_VOCAB)
    texts = [" ".join(rng.choice(vocab, k)) for k in rng.randint(10, 101, n_docs)]
    # 5% near-duplicates: an earlier doc's text plus one marker word
    for d in rng.choice(np.arange(1, n_docs), n_docs // 20, replace=False):
        texts[d] = texts[rng.randint(0, d)] + " dup"
    pd.DataFrame(
        {
            "doc_id": np.arange(n_docs, dtype="int64"),
            "text": texts,
            "lang": rng.choice(DOC_LANGS[0], n_docs, p=DOC_LANGS[1]),
            "source": [f"src{i % 20}" for i in range(n_docs)],
            "n_chars": np.array([len(t) for t in texts], dtype="int64"),
        }
    ).to_parquet(path, index=False)


class QueryMix(Workload):
    """Six ``__spark_entry__.queries()`` entries, in turn, to a noop
    sink, over a generated ``documents`` table."""

    name = "query_mix"
    ENTRIES = (
        "top_ngrams",
        "dedup_minhash_lsh",
        "decontaminate_bloom",
        "search_bm25",
        "kg_top_effects_per_drug",
        "table_mor_read",
    )
    round_len = warmup_ops = len(ENTRIES)
    prime_ops = 0
    # each set-up warms six different queries, 15-19 s even in a
    # running JVM; one set-up keeps a run near 60 s
    setups = 1
    N_DOCS = 1000

    def prepare(self) -> None:
        # a directory name of its own: table_mor_read keys its on-disk
        # fixture by this basename
        self.sf_dir = os.path.join(self.work, f"perfbench_sf_{os.getpid()}")
        os.makedirs(self.sf_dir, exist_ok=True)
        write_documents(
            os.path.join(self.sf_dir, "documents.parquet"),
            self.size(self.N_DOCS),
            self.seed,
        )
        self.oracle_ok: dict[str, bool] = {}

    def fixture_dirs(self) -> list[str]:
        from remediner_spark.operators import tableops

        d = tableops._cache_dir("mor", self.sf_dir)
        parent = os.path.dirname(d)
        if not os.path.isdir(parent):
            return []
        base = os.path.basename(d)
        return [os.path.join(parent, n) for n in os.listdir(parent) if n.startswith(base)]

    def setup(self, spark) -> None:
        """Drops the on-disk MoR fixture, so each session builds it in
        its warm-up round."""
        import __spark_entry__ as entrymod

        for d in self.fixture_dirs():
            shutil.rmtree(d, ignore_errors=True)
        qs = entrymod.queries()
        self.fns = {name: qs[name] for name in self.ENTRIES}

    def oracle_check(self, spark) -> None:
        """Each entry's rows against its DuckDB ``oracle_sql()``, once
        per process."""
        import duckdb

        import __spark_entry__ as entrymod
        from tools.check_oracles import value_hash

        oracles = entrymod.oracle_sql()
        con = duckdb.connect()
        con.execute(
            "CREATE VIEW documents AS SELECT * FROM read_parquet("
            f"'{os.path.join(self.sf_dir, 'documents.parquet')}')"
        )
        for name in self.ENTRIES:
            got = self.fns[name](spark, self.sf_dir).toPandas()
            want = con.execute(oracles[name]).df()
            self.oracle_ok[name] = (
                len(got) == len(want)
                and sorted(got.columns) == sorted(want.columns)
                and value_hash(got) == value_hash(want)
            )
        con.close()

    def op(self, spark, i: int) -> dict:
        name = self.ENTRIES[i % len(self.ENTRIES)]
        self.fns[name](spark, self.sf_dir).write.format("noop").mode(
            "overwrite"
        ).save()
        return {"query": name}

    def check(self, spark, res: dict) -> None:
        if not self.oracle_ok.get(res["query"], False):
            raise WorkloadError(f"{res['query']} rows differ from its oracle")

    def cleanup(self) -> None:
        for d in self.fixture_dirs():
            shutil.rmtree(d, ignore_errors=True)


WORKLOADS = {w.name: w for w in (ExtractJob, KgBuild, EdgeStream, QueryMix)}
