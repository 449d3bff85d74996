"""Benchmark harness: headline queries at $SPARK_GRAFT_SF_DIR on
local[$SPARK_GRAFT_CPUS]; prints ONE JSON line.

Headline metric: triples/sec of the fused KG extraction stage
(scan -> lang filter -> segmentation/normalization/NER/RE) over a
seeded synthetic corpus materialized ONCE as parquet (256 files so
both parallelism levels have enough input splits; the same files are
reused by the N vs 4N scaling legs). One untimed warmup run excludes
Python-worker spawn and JIT from the timed run.

Usage:
    python bench.py                       # sf0.1, 32 cores
    SPARK_GRAFT_CPUS=8 python bench.py    # scaling-efficiency leg
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

BENCH_QUERIES = [
    "m1_gazetteer_ner",
    "m6_triple_assembly",
    "m9_edge_agg_salted",
    "dedup_exact",
    "dedup_ngram_jaccard",
    "dedup_minhash_lsh",
    "dedup_simhash",
    "text_langid",
    "text_fingerprint",
    "sim_topk_bruteforce",
    "join_semi_anti",
    "agg_two_phase",
    "window_topk",
    "sample_stratified",
    "pack_sequences",
    # OLAP + KG-consumer + sessionization families (round-3 verdict:
    # oracle-green but previously wall-untracked)
    "tpch_q1",
    "tpch_q3",
    "tpch_q5",
    "event_rollup",
    "kg_top_effects_per_drug",
    "kg_drug_similarity",
    "sessionize",
    # round-4 additions
    "event_percentiles_approx",
    "decontaminate_bloom",
    "dedup_span_coverage",
    "agg_approx_distinct",
    # round-5 additions. sim_topk_pq's codebook FIT is memoized per
    # process (training is a one-off, not the query), so its timed
    # legs measure encode + ADC shortlist + exact rerank — the search
    # path a deployment runs per query batch.
    "kg_degree_distribution",
    "sim_topk_pq",
    # round-6 additions: the crawl ingest edge + the as-of join
    "warc_ingest",
    "url_canonicalize",
    "join_asof",
    "join_range",
    "topk_heavy_hitters",
    "search_bm25",
    "dedup_incremental",
    # round-8: SemDeDup search path (centroid fit memoized and timed
    # as its own ivf_centroid_fit wall, the pq_codebook_fit pattern)
    "dedup_semantic",
]

# base pages generated pandas-side, then tiled with distinct urls to
# corpus scale (tiling preserves the text distribution; throughput is
# text-bound, not vocabulary-bound)
_BASE_PAGES = {"sf0.001": 2_000, "sf0.01": 20_000, "sf0.1": 100_000}
_TILE = {"sf0.001": 1, "sf0.01": 2, "sf0.1": 10}
_N_FILES = 256


def _ensure_corpus(
    spark, sf_name: str, tile: int | None = None,
    transform=None, kind: str = "corpus",
) -> tuple[str, int]:
    """Materialize a tiled bench corpus in tmpfs (cached by generator
    version + size). ``transform`` post-processes the base pandas
    pages before tiling (e.g. corpus.add_outlinks for the link-graph
    leg); the SPARK_GRAFT_CORPUS_DIR override applies only to the
    default kind so a redirected base corpus never collides with a
    derived one."""
    base_n = _BASE_PAGES.get(sf_name, 100_000)
    if tile is None:
        tile = int(os.environ.get("SPARK_GRAFT_TILE", _TILE.get(sf_name, 10)))
    n_pages = base_n * tile
    from remediner_spark.sources.corpus import CORPUS_VERSION

    # prefer tmpfs: the bench measures compute, not disk variance;
    # cache key includes the generator version so stale corpora from
    # older code are never reused
    base_dir = "/dev/shm" if os.path.isdir("/dev/shm") else "/tmp"
    default = f"{base_dir}/remediner_bench_{kind}_v{CORPUS_VERSION}_{n_pages}"
    corpus_dir = (
        os.environ.get("SPARK_GRAFT_CORPUS_DIR", default)
        if kind == "corpus"
        else default
    )
    if not os.path.exists(os.path.join(corpus_dir, "_SUCCESS")):
        from pyspark.sql import functions as F

        from remediner_spark.sources.corpus import generate_pages

        pages_pdf, _ = generate_pages(base_n)
        if transform is not None:
            pages_pdf = transform(pages_pdf)
        base = spark.createDataFrame(pages_pdf)
        tiled = base
        if tile > 1:
            tiled = base.crossJoin(
                spark.range(tile).select(F.col("id").alias("_tile"))
            ).select(
                F.concat_ws("#", "url", "_tile").alias("url"),
                "warc_ts", "html", "text", "lang",
            )
        tiled.repartition(_N_FILES).write.mode("overwrite").parquet(corpus_dir)
    return corpus_dir, n_pages


def _ensure_linked_corpus(spark, sf_name: str) -> str:
    """Series-scale corpus WITH injected outlinks (corpus.add_outlinks)
    for the web-graph construction leg — the gate's linked fixture is
    400-page correctness grain; this measures href extraction + edge
    agg at corpus scale. Internal link targets reference the untiled
    url space; extraction/agg throughput is target-agnostic."""
    from remediner_spark.sources.corpus import LINKS_VERSION, add_outlinks

    out, _n = _ensure_corpus(
        spark, sf_name, transform=add_outlinks, kind=f"links{LINKS_VERSION}"
    )
    return out


def _wait_for_idle(threshold: float = 2.0, max_wait_s: int = 600) -> None:
    """Best-effort guard against noisy-neighbor host load: a burst
    during the timed runs skews walls 1.5-2x (observed). Bounded so a
    persistently-busy host still benches rather than hanging. The
    single home of this logic — tools/run_scaling.py relies on it
    running inside each bench subprocess."""
    waited = 0
    while os.getloadavg()[0] >= threshold and waited < max_wait_s:
        time.sleep(15)
        waited += 15
    if waited:
        print(f"# waited {waited}s for host load < {threshold}",
              file=sys.stderr)


def _cpu_probe() -> float:
    """Fixed pure-Python work unit (~0.1 s idle): its wall time is a
    direct contention signal. loadavg misses short-lived bursts (1-min
    EMA); the probe, run right after a timed section, catches the
    multi-minute noisy-neighbor windows that corrupted single bench
    sections in r3/r4 (SCALE.md)."""
    t0 = time.perf_counter()
    x = 0
    for i in range(2_000_000):
        x += i * i
    return time.perf_counter() - t0


def _tree_cpu_seconds() -> float:
    """User+sys CPU consumed by THIS process and every descendant —
    the JVM and the Python UDF workers os.times() can't see — plus
    already-reaped children (cutime/cstime), summed from /proc. The
    per-section delta is the work WE did; compared against the host's
    total busy delta it makes external load visible in the artifact
    (the r5 verdict's unfalsifiable-walls finding: a uniformly loaded
    host calibrated its slowness into the burst guard and reported
    clean)."""
    clk = os.sysconf("SC_CLK_TCK")
    procs: dict[int, tuple[int, int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat", "rb") as fh:
                data = fh.read().decode("ascii", "replace")
        except OSError:
            continue  # process exited mid-walk
        # comm can contain spaces/parens: fields start after last ')'
        fields = data[data.rindex(")") + 2:].split()
        ppid = int(fields[1])
        ticks = sum(int(fields[i]) for i in (11, 12, 13, 14))
        procs[int(d)] = (ppid, ticks)
    children: dict[int, list[int]] = {}
    for pid, (ppid, _t) in procs.items():
        children.setdefault(ppid, []).append(pid)
    total, stack, seen = 0, [os.getpid()], set()
    while stack:
        p = stack.pop()
        if p in seen or p not in procs:
            continue
        seen.add(p)
        total += procs[p][1]
        stack.extend(children.get(p, []))
    return total / clk


def _host_cpu_busy() -> float:
    """Host-wide busy CPU seconds (all cores, every process) from
    /proc/stat — ours plus everyone else's."""
    with open("/proc/stat") as fh:
        vals = [int(x) for x in fh.readline().split()[1:]]
    idle = vals[3] + (vals[4] if len(vals) > 4 else 0)  # idle + iowait
    return (sum(vals) - idle) / os.sysconf("SC_CLK_TCK")


def _timed(fn):
    """(wall, tree_cpu_delta, host_other_cpu_delta) for one leg.
    host_other ~ 0 on an idle host; a large value is positive proof of
    external load during THIS leg, independent of any calibration."""
    c0, h0 = _tree_cpu_seconds(), _host_cpu_busy()
    t0 = time.time()
    fn()
    wall = time.time() - t0
    c1, h1 = _tree_cpu_seconds(), _host_cpu_busy()
    cpu = max(c1 - c0, 0.0)
    return wall, cpu, max(h1 - h0 - cpu, 0.0)


class _BestLeg:
    """min-of-k by wall, carrying that leg's cpu evidence along."""

    def __init__(self) -> None:
        self.wall = float("inf")
        self.cpu = self.other = 0.0

    def add(self, wall: float, cpu: float, other: float) -> None:
        if wall < self.wall:
            self.wall, self.cpu, self.other = wall, cpu, other

    def run(self, fn) -> None:
        self.add(*_timed(fn))


# r8 observation: a contaminated web_link_extract leg (wall 6x idle,
# q_cpu inflated ~4x by co-tenant frequency/bandwidth contention)
# posted a 1.48x probe — just under the old 1.5 threshold, so the
# guard never fired. 1.35 still clears idle jitter (probes on a quiet
# host stay within ~1.15x of calibration, measured across r5-r8).
_BURST_FACTOR = 1.35


class _BurstGuard:
    """Detects host-load bursts around a timed section and grants one
    re-run. Calibrated at start (min-of-3 probe on the idle host).
    Every post-section probe's ABSOLUTE wall is recorded (self.probes)
    so a reader can normalize walls even when the host was uniformly
    loaded for the whole run — a state the relative threshold cannot
    see because calibration absorbs it (r5 verdict)."""

    def __init__(self) -> None:
        self.base = min(_cpu_probe() for _ in range(3))
        self.retries: list[str] = []
        self.probes: dict[str, float] = {}

    def corrupted(self, section: str) -> bool:
        p = _cpu_probe()
        self.probes[section] = round(p, 4)
        if section in self.retries:
            return False  # one re-run per section — never loop on a
            # persistently-loaded host, just record the evidence
        if p <= _BURST_FACTOR * self.base:
            return False
        self.retries.append(section)
        print(f"# burst detected after {section}; re-running",
              file=sys.stderr)
        _wait_for_idle()
        return True


def _certificate(result: dict) -> str:
    """The FINAL stdout line, every key kept: walls at 2 dp and
    burst_retries as a count fit all legs in ~1.8 KB (the retried
    section names stay in the evidence artifact)."""
    return json.dumps(dict(
        result,
        queries={k: round(v, 2) for k, v in result["queries"].items()},
        burst_retries=len(result["burst_retries"]),
    ))


def main() -> int:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cores = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    sf_name = os.path.basename(sf_dir.rstrip("/"))
    _wait_for_idle()

    import __spark_entry__ as entrymod
    from remediner_spark.operators.ner import extract_triples_stage
    from remediner_spark.operators.text import filter_language
    from remediner_spark.plans.pipeline import default_tagger_bc
    from remediner_spark.session import get_spark

    spark = get_spark(
        app_name="remediner-bench", cores=cores, shuffle_partitions=cores
    )
    spark.sparkContext.setLogLevel("ERROR")

    # --- KG pipeline throughput (the headline metric) ---
    # Two corpora, both tmpfs-cached: the SERIES corpus (per-sf tile —
    # 1M pages at sf0.1, the r1-r4 basis for every per-query wall and
    # the graph/stream legs) and the HEADLINE corpus at 2x tile
    # (2M pages at sf0.1) — the same protocol as BENCH/BASELINE.md's
    # scaling legs, where fixed costs (scan setup, stage scheduling,
    # Arrow spin-up: ~0.3 s of a ~2 s wall at 1M pages) amortize and
    # the rate measures the stage's steady-state throughput rather
    # than corpus-size-diluted latency. kg_triple_extraction below
    # stays on the series corpus, so the wall series remains
    # cross-round comparable.
    corpus_dir, n_pages = _ensure_corpus(spark, sf_name)
    h_tile = int(
        os.environ.get(
            "SPARK_GRAFT_TILE_HEADLINE",
            2 * int(os.environ.get("SPARK_GRAFT_TILE",
                                   _TILE.get(sf_name, 10))),
        )
    )
    headline_dir, h_pages = _ensure_corpus(spark, sf_name, tile=h_tile)
    tagger_bc = default_tagger_bc(spark)

    def kg_run(d: str = corpus_dir) -> int:
        pages = spark.read.parquet(d)
        return extract_triples_stage(
            filter_language(pages), tagger_bc
        ).count()

    guard = _BurstGuard()
    # warmup x2: worker spawn + JVM JIT need more than one pass to
    # reach steady state (measured: run1 ~1.6x slower than run3)
    n_triples = kg_run(headline_dir)
    kg_run(headline_dir)
    timed_runs = int(os.environ.get("SPARK_GRAFT_TIMED_RUNS", "3"))
    h_best = _BestLeg()
    for _ in range(timed_runs):  # min-of-k: steady state, not scheduler luck
        h_best.run(lambda: kg_run(headline_dir))
    if guard.corrupted("headline"):
        h_best.run(lambda: kg_run(headline_dir))
    h_sec = h_best.wall
    triples_per_sec = n_triples / h_sec if h_sec else 0.0

    # series wall on the r1-r4 corpus (already warm: same code path)
    kg_run()
    kg_best = _BestLeg()
    for _ in range(timed_runs):
        kg_best.run(kg_run)
    if guard.corrupted("kg_triple_extraction"):
        kg_best.run(kg_run)

    from remediner_spark.session import release_caches

    # full pipeline (extraction + linking + salted graph aggs).
    # COLD semantics: caches are released between runs, so every timed
    # run re-executes extraction + linking + aggs end-to-end. (Rounds
    # 1-3 reported a WARM number by accident: the warmup's .cache()
    # entries matched the timed run's logical plan, so Spark served
    # extraction from cache — kg_graph_pipeline_warm keeps that series
    # comparable; see SCALE.md.)
    graph_best = None
    graph_warm_sec = None
    if not os.environ.get("SPARK_GRAFT_KG_ONLY"):
        from remediner_spark.operators.graph import build_graph
        from remediner_spark.sources.corpus import generate_entity_dictionary

        dictionary = spark.createDataFrame(generate_entity_dictionary())

        def graph_run():
            pages = spark.read.parquet(corpus_dir)
            triples = extract_triples_stage(filter_language(pages), tagger_bc)
            nodes, edges = build_graph(triples, dictionary)
            return nodes.count(), edges.count()

        graph_run()  # warmup (caches left live for the warm leg)
        t0 = time.time()
        graph_run()
        graph_warm_sec = round(time.time() - t0, 3)
        graph_best = _BestLeg()
        legs = 2
        while legs:
            release_caches(spark)
            graph_best.run(graph_run)
            legs -= 1
            if not legs and guard.corrupted("kg_graph_pipeline"):
                legs = 1
        release_caches(spark)

    # --- streaming micro-batch pipeline wall ---
    # ingest (file-source stream, 8 files/trigger) -> fused extraction
    # -> per-batch edge MERGE into the Iceberg-style table, drained
    # with Trigger.AvailableNow: 24 staged corpus files = 3 micro-
    # batches end-to-end, including snapshot commits + replay markers.
    stream_best = None
    if not os.environ.get("SPARK_GRAFT_KG_ONLY"):
        import glob
        import shutil
        import tempfile

        from remediner_spark.streaming import stream_edge_weights

        stream_src = corpus_dir.rstrip("/") + "_stream24"
        if not os.path.exists(os.path.join(stream_src, "_STAGED")):
            os.makedirs(stream_src, exist_ok=True)
            for f in sorted(glob.glob(os.path.join(corpus_dir, "part-*")))[
                :24
            ]:
                shutil.copy(f, stream_src)
            open(os.path.join(stream_src, "_STAGED"), "w").close()

        def stream_run() -> None:
            work = tempfile.mkdtemp(prefix="bench_stream_")
            try:
                q = stream_edge_weights(
                    spark, stream_src, os.path.join(work, "edges"),
                    os.path.join(work, "ckpt"), tagger_bc,
                )
                q.awaitTermination()  # availableNow drains and stops
            finally:
                shutil.rmtree(work, ignore_errors=True)

        stream_run()  # warmup
        release_caches(spark)
        stream_best = _BestLeg()
        legs = 2
        while legs:
            stream_best.run(stream_run)
            release_caches(spark)
            legs -= 1
            if not legs and guard.corrupted("stream_edge_merge"):
                legs = 1

    # --- per-query timings over the provided tables ---
    # (skipped in scaling-curve legs: SPARK_GRAFT_KG_ONLY=1)
    q_times: dict[str, float] = {}
    q_cpu: dict[str, float] = {}
    q_host_other: dict[str, float] = {}

    def record(name: str, best: _BestLeg) -> None:
        q_times[name] = round(best.wall, 3)
        q_cpu[name] = round(best.cpu, 3)
        q_host_other[name] = round(best.other, 3)

    if not os.environ.get("SPARK_GRAFT_KG_ONLY"):
        # PQ codebook FIT timed as its own labeled wall (r5 verdict #5:
        # the fit is memoized per process, so without this split the
        # 4 KMeans fits land inside whichever sim_topk_pq leg runs
        # first and search-path regressions hide behind fit noise).
        # Priming the memo here makes every sim_topk_pq leg below pure
        # encode + ADC shortlist + rerank — the per-query-batch path.
        from remediner_spark.operators.pq import _emb, _fit_codebooks

        fit_best = _BestLeg()
        fit_best.run(
            lambda: _fit_codebooks(spark, _emb(spark, sf_dir),
                                   cache_key=sf_dir)
        )
        record("pq_codebook_fit", fit_best)

        # IVF/SemDeDup quantizer fit, same memo contract: primes the
        # per-process centroid cache so every dedup_semantic leg below
        # times assignment + capped pair enumeration + verdict — the
        # per-corpus dedup path, not the k-means training job
        from remediner_spark.operators.ivf import ensure_centroids

        ivf_fit_best = _BestLeg()
        ivf_fit_best.run(
            lambda: ensure_centroids(spark, _emb(spark, sf_dir),
                                     cache_key=sf_dir)
        )
        record("ivf_centroid_fit", ivf_fit_best)

        # BPE tokenizer training: a training job like the PQ fit, so
        # one labeled wall (min-of-2 would just re-train). The loop is
        # vocabulary-grain — this wall is 6 merge rounds of Spark job
        # overhead + one corpus-scan agg, not corpus-proportional work.
        from remediner_spark.operators.bpe import train_bpe

        def run_bpe() -> None:
            _rules, final = train_bpe(spark, sf_dir)
            final.unpersist()

        bpe_best = _BestLeg()
        bpe_best.run(run_bpe)
        release_caches(spark)
        record("bpe_train", bpe_best)

        # web-graph construction at corpus scale: JVM-regex href
        # extraction (decode + regexp_extract_all in codegen, no
        # Python hop) + weighted (src, dst) edge aggregation over the
        # linked series corpus
        from remediner_spark.operators.linkgraph import link_graph

        linked_dir = _ensure_linked_corpus(spark, sf_name)

        def run_links() -> None:
            link_graph(spark.read.parquet(linked_dir)).write.format(
                "noop"
            ).mode("overwrite").save()

        run_links()  # warmup
        release_caches(spark)
        lg_best = _BestLeg()
        legs = 2
        while legs:
            lg_best.run(run_links)
            release_caches(spark)
            legs -= 1
            if not legs and guard.corrupted("web_link_extract"):
                legs = 1
        record("web_link_extract", lg_best)

        # iterative graph family at corpus scale (r7 verdict #2): the
        # gate verifies PageRank/HITS on the 400-node fixture; these
        # legs measure the join-per-round walls over the 1M-page
        # injected link graph (~2.5 internal links/page), extraction
        # included — the full "crawl to ranks" path a scheduler runs.
        from pyspark.sql import functions as F

        from remediner_spark.operators.components import (
            pagerank_fixed_point,
        )
        from remediner_spark.operators.linkgraph import (
            _INTERNAL_PREFIX,
            extract_outlinks,
            hits_fixed_point,
        )

        def _corpus_edges():
            return (
                extract_outlinks(spark.read.parquet(linked_dir))
                .where(F.col("dst_url").startswith(_INTERNAL_PREFIX))
                .select(
                    F.col("src_url").alias("src"),
                    F.col("dst_url").alias("dst"),
                )
            )

        def run_pagerank() -> None:
            pagerank_fixed_point(_corpus_edges()).write.format("noop").mode(
                "overwrite"
            ).save()

        def run_hits() -> None:
            hits_fixed_point(
                _corpus_edges().where(F.col("src") != F.col("dst")).distinct()
            ).write.format("noop").mode("overwrite").save()

        for leg_name, leg_fn in (
            ("web_pagerank_corpus", run_pagerank),
            ("web_hits_corpus", run_hits),
        ):
            leg_fn()  # warmup
            release_caches(spark)
            leg_best = _BestLeg()
            legs = 2
            while legs:
                leg_best.run(leg_fn)
                release_caches(spark)
                legs -= 1
                if not legs and guard.corrupted(leg_name):
                    legs = 1
            record(leg_name, leg_best)

        queries = entrymod.queries()
        for name in BENCH_QUERIES:
            # time construction + execution together: some operators
            # (pack_sequences' prefix-sum phase 1) run a driver-side
            # job while BUILDING the DataFrame — timing only the final
            # write would under-report them
            def run_query() -> None:
                df = queries[name](spark, sf_dir)
                df.write.format("noop").mode("overwrite").save()

            # min-of-2 after one warmup (sub-second walls carry ±30%
            # single-run scheduler noise — measured, SCALE.md r4).
            # COLD legs: release_caches between EVERY run — a persist
            # created INSIDE the query (minhash band table, bloom
            # shingles) otherwise stays live from the previous run and
            # serves the next via logical-plan cache matching, which
            # made r4's dedup_minhash_lsh/decontaminate_bloom walls
            # silently warm (r4 verdict). Within one run the persist
            # still earns its keep (built once, consumed twice) — that
            # is the query's honest cost.
            run_query()  # warmup
            release_caches(spark)
            best = _BestLeg()
            legs = 2
            while legs:
                best.run(run_query)
                release_caches(spark)
                legs -= 1
                if not legs and guard.corrupted(name):
                    legs = 1
            record(name, best)
    record("kg_triple_extraction", kg_best)
    record("headline", h_best)
    if graph_best is not None:
        record("kg_graph_pipeline", graph_best)
        q_times["kg_graph_pipeline_warm"] = graph_warm_sec
    if stream_best is not None:
        record("stream_edge_merge", stream_best)

    # The final stdout line must stay COMPACT (<~1.8 KB): the driver
    # locates the bench JSON inside a ~2,000-char stdout tail window,
    # and r6's evidence-laden 4.4 KB line overflowed it (BENCH_r06
    # parsed: null — a +16% headline with no driver record). Headline
    # certificate on the last line; the noisy-neighbor evidence
    # (probes / q_cpu / q_host_other — what makes walls falsifiable on
    # a shared host, see CLAUDE.md) goes to BENCH/evidence.json AND an
    # earlier stdout line so it still ships even if the file write is
    # not committed.
    result = {
        "metric": "triples_per_sec",
        "value": round(triples_per_sec, 1),
        "unit": "sec",
        "queries": q_times,
        "sf": sf_name,
        "cores": cores,
        # headline corpus (2x tile, steady-state protocol); the series
        # walls ran on series_n_pages (the r1-r4 basis)
        "n_pages": h_pages,
        "series_n_pages": n_pages,
        "n_triples": n_triples,
        "burst_retries": guard.retries,
        "probe_base": round(guard.base, 4),
        "loadavg_end": round(os.getloadavg()[0], 2),
        "host_cores": os.cpu_count(),
    }
    evidence = {
        # noisy-neighbor evidence, three independent signals so the
        # artifact itself proves or disproves host load:
        # 1. burst_retries — sections re-run after a RELATIVE probe
        #    excursion (>1.5x calibration);
        # 2. probe_base + probes — ABSOLUTE wall of the fixed
        #    pure-python probe at calibration and after each section
        #    (~0.105 s idle on this host);
        # 3. q_cpu / q_host_other — CPU burned by OUR process tree vs
        #    busy host CPU that was NOT ours during the best leg.
        "headline": result,
        "probes": guard.probes,
        "q_cpu": q_cpu,
        "q_host_other": q_host_other,
    }
    ev_path = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                           "BENCH", "evidence.json")
    try:
        os.makedirs(os.path.dirname(ev_path), exist_ok=True)
        with open(ev_path, "w") as f:
            json.dump(evidence, f, indent=1)
    except OSError:
        pass
    print("BENCH_EVIDENCE " + json.dumps(evidence))
    print(_certificate(result))
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
