"""Link-graph extraction (operators/linkgraph.py) + corpus outlinks."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest

from remediner_spark.kernels.webtext import extract_text
from remediner_spark.sources.corpus import add_outlinks, generate_pages


class TestOutlinkInjection:
    def test_extraction_byte_identity_preserved(self):
        """The north-rule invariant: anchors carry empty display text,
        so tag-stripping extraction still inverts html to `text`
        byte-for-byte on EVERY page."""
        pages, _ = generate_pages(120)
        linked = add_outlinks(pages)
        extracted = extract_text(pd.Series(list(linked["html"])))
        assert list(extracted) == list(linked["text"])

    def test_deterministic_and_counts(self):
        pages, _ = generate_pages(60)
        a, b = add_outlinks(pages), add_outlinks(pages)
        assert list(a["html"]) == list(b["html"])
        # page i carries 1 + i%4 internal + (i%3==0) external anchors
        for i in (0, 1, 5, 9):
            n_hrefs = a["html"][i].count(b'href="')
            assert n_hrefs == 1 + i % 4 + (1 if i % 3 == 0 else 0)


class TestLinkGraph:
    @pytest.fixture(scope="class")
    def pages_df(self, spark):
        pages, _ = generate_pages(60)
        return spark.createDataFrame(add_outlinks(pages))

    def test_edges_match_injection_rule(self, spark, pages_df):
        from remediner_spark.operators.linkgraph import link_graph

        got = {
            (r["src_url"], r["dst_url"]): r["n_links"]
            for r in link_graph(pages_df).collect()
        }
        n = 60
        expect: dict[tuple[str, str], int] = {}
        for i in range(n):
            src = f"https://example.org/doc/{i:08d}"
            for j in range(1 + i % 4):
                t = (i * 31 + j * 17 + 1) % n
                key = (src, f"https://example.org/doc/{t:08d}")
                expect[key] = expect.get(key, 0) + 1
            if i % 3 == 0:
                key = (src,
                       f"https://cdn{(i // 3) % 7}.example-assets.net"
                       f"/l/{i % 11}")
                expect[key] = expect.get(key, 0) + 1
        assert got == expect

    def test_pagerank_mass_and_determinism(self, spark, pages_df):
        """Fixed-point PageRank over the internal doc graph: every
        page ranks (all have outlinks), ranks are positive, and a
        repeat run is bit-identical (integer arithmetic)."""
        from pyspark.sql import functions as F

        from remediner_spark.operators.components import (
            pagerank_fixed_point,
        )
        from remediner_spark.operators.linkgraph import extract_outlinks

        edges = extract_outlinks(pages_df).where(
            F.col("dst_url").startswith("https://example.org/doc/")
        ).select(
            F.col("src_url").alias("src"), F.col("dst_url").alias("dst")
        )
        r1 = {r["node"]: r["rank_fp"]
              for r in pagerank_fixed_point(edges).collect()}
        r2 = {r["node"]: r["rank_fp"]
              for r in pagerank_fixed_point(edges).collect()}
        assert r1 == r2
        assert len(r1) == 60
        assert all(v > 0 for v in r1.values())
        # the most-linked-to pages outrank the median page
        assert max(r1.values()) > int(np.median(list(r1.values())))

    @pytest.mark.parametrize("dangling", [False, True])
    def test_pagerank_unit_weight_column_is_no_weight(
        self, spark, pages_df, dangling
    ):
        """A (src, dst) edge list and the same rows with a w = 1 column
        rank identically: each row is one unit of weight, so duplicate
        hrefs keep their multiplicity either way."""
        from pyspark.sql import functions as F

        from remediner_spark.operators.components import (
            pagerank_fixed_point,
        )
        from remediner_spark.operators.linkgraph import extract_outlinks

        edges = extract_outlinks(pages_df).select(
            F.col("src_url").alias("src"), F.col("dst_url").alias("dst")
        )
        plain = pagerank_fixed_point(edges, dangling=dangling).collect()
        unit = pagerank_fixed_point(
            edges.withColumn("w", F.lit(1)), dangling=dangling
        ).collect()
        assert len(plain) == (80 if dangling else 60)
        assert sorted(plain) == sorted(unit)


class TestTriangleCensus:
    def test_k4_census(self, spark):
        """K4: 6 edges, 4 triangles, every node deg 3 -> 12 open
        triads, clustering 3*4/12 = 1.0."""
        from remediner_spark.operators.linkgraph import triangle_census

        nodes = ["a", "b", "c", "d"]
        edges = [(u, v) for i, u in enumerate(nodes)
                 for v in nodes[i + 1:]]
        e = spark.createDataFrame(edges, "a string, b string")
        row = triangle_census(e).collect()[0]
        assert (row["n_edges"], row["n_triangles"],
                row["n_wedges"], row["global_clustering"]) == (6, 4, 12, 1.0)

    def test_path_graph_no_triangles(self, spark):
        from remediner_spark.operators.linkgraph import triangle_census

        e = spark.createDataFrame(
            [("a", "b"), ("b", "c"), ("c", "d")], "a string, b string"
        )
        row = triangle_census(e).collect()[0]
        assert row["n_triangles"] == 0
        assert row["n_wedges"] == 2  # b and c each center one wedge
        assert row["global_clustering"] == 0.0


class TestHits:
    def test_star_hub_authority(self, spark):
        """u links to v1..v3; w links to v1. u is the top hub; all of
        u's targets share the top authority score; pure-source nodes
        have authority 0."""
        from remediner_spark.operators.linkgraph import hits_fixed_point

        e = spark.createDataFrame(
            [("u", "v1"), ("u", "v2"), ("u", "v3"), ("w", "v1")],
            "src string, dst string",
        )
        r = {x["node"]: (x["hub_fp"], x["auth_fp"])
             for x in hits_fixed_point(e).collect()}
        assert r["u"][0] == 1_000_000          # max hub (rescaled)
        assert r["u"][1] == 0 and r["w"][1] == 0
        assert r["v1"][0] == 0                  # sink: no hub score
        assert r["v1"][1] == 1_000_000          # most-linked authority
        assert r["v2"][1] == r["v3"][1] < r["v1"][1]
        # deterministic repeat
        r2 = {x["node"]: (x["hub_fp"], x["auth_fp"])
              for x in hits_fixed_point(e).collect()}
        assert r == r2


class TestLPA:
    def test_matches_reference_implementation(self, spark):
        """Sync LPA on a barbell graph (two triangles + bridge) equals
        an independent driver implementation of the same rule: adopt
        the most frequent neighbor label, ties to the smallest."""
        from collections import Counter

        from remediner_spark.operators.linkgraph import (
            LPA_ITERS, lpa_communities,
        )

        und_pairs = [("a1", "a2"), ("a1", "a3"), ("a2", "a3"),
                     ("b1", "b2"), ("b1", "b3"), ("b2", "b3"),
                     ("a3", "b1")]
        edges = und_pairs + [(b, a) for a, b in und_pairs]
        df = spark.createDataFrame(edges, "src string, dst string")
        got = {r["node"]: r["label"]
               for r in lpa_communities(df).collect()}

        nbrs: dict[str, list[str]] = {}
        for s, d in edges:
            nbrs.setdefault(d, []).append(s)
        labels = {n: n for n in nbrs}
        for _ in range(LPA_ITERS):
            labels = {
                n: min(
                    Counter(labels[m] for m in ms).items(),
                    key=lambda kv: (-kv[1], kv[0]),
                )[0]
                for n, ms in nbrs.items()
            }
        assert got == labels
        # deterministic repeat
        got2 = {r["node"]: r["label"]
                for r in lpa_communities(df).collect()}
        assert got == got2


class TestLinkPredict:
    def test_square_cycle(self, spark):
        """4-cycle a-b-c-d: the two diagonals (a,c) and (b,d) are the
        only non-edges with common neighbors — 2 each, ra = 2 *
        (SCALE div 2) since every node has degree 2."""
        from remediner_spark.operators import linkgraph as LG
        from pyspark.sql import functions as F

        e = spark.createDataFrame(
            [("a", "b"), ("b", "c"), ("c", "d"), ("a", "d")],
            "a string, b string",
        )
        # drive the internal census path directly on a custom edge set
        und = e.select(F.col("a").alias("u"), F.col("b").alias("w")).unionAll(
            e.select(F.col("b").alias("u"), F.col("a").alias("w")))
        deg = und.groupBy("w").agg(F.count(F.lit(1)).alias("deg"))
        wedges = (
            und.alias("x")
            .join(und.alias("y"),
                  (F.col("x.w") == F.col("y.w")) & (F.col("x.u") < F.col("y.u")))
            .select(F.col("x.u").alias("u"), F.col("y.u").alias("v"),
                    F.col("x.w").alias("w")))
        ow = wedges.join(e, (wedges["u"] == e["a"]) & (wedges["v"] == e["b"]),
                         "left_anti")
        got = {(r["u"], r["v"]): (r["n_common"], r["ra_fp"])
               for r in ow.join(deg, "w").groupBy("u", "v").agg(
                   F.count(F.lit(1)).alias("n_common"),
                   F.sum(F.expr(f"{LG.LP_SCALE} div deg")).alias("ra_fp"),
               ).collect()}
        assert got == {
            ("a", "c"): (2, 2 * (LG.LP_SCALE // 2)),
            ("b", "d"): (2, 2 * (LG.LP_SCALE // 2)),
        }


class TestHotHubOrientation:
    """Pin the r7-verdict scale fix: a hub of degree d must not put
    C(d, 2) wedge candidates under one join key.

    Census: degree-ordered orientation means spokes (deg 1) own every
    star edge, so the star's candidate count is ZERO (lexicographic
    orientation with a low-sorting hub name produced C(d, 2)).
    Link prediction: exact common-neighbor counting inherently needs
    every wedge, so the guard is LP_CENTER_CAP — capped, the hub
    enumerates nothing; uncapped it is quadratic."""

    HUB, N = "a_hub", 60  # hub sorts lexicographically FIRST — the
    # exact shape where the old lex corner went quadratic

    @pytest.fixture()
    def star(self, spark):
        from pyspark.sql import functions as F

        rows = [(self.HUB, f"z_spoke_{i:03d}") for i in range(self.N)]
        return spark.createDataFrame(rows, "a string, b string").select(
            F.least("a", "b").alias("a"), F.greatest("a", "b").alias("b")
        )

    def test_star_census_candidates_linear_not_quadratic(self, spark, star):
        from remediner_spark.operators.linkgraph import (
            oriented_wedges, triangle_census)

        # lexicographic corner (the old plan) explodes: C(60, 2) rows
        lex = star.alias("e1").join(
            star.alias("e2"), "a").where("e2.b > e1.b").count()
        assert lex == self.N * (self.N - 1) // 2
        # degree-ordered corner: spokes have out-degree 1 -> no pairs
        assert oriented_wedges(star).count() == 0
        row = triangle_census(star).collect()[0]
        assert (row["n_edges"], row["n_triangles"]) == (self.N, 0)
        assert row["n_wedges"] == self.N * (self.N - 1) // 2

    def test_closing_edge_still_counted_once(self, spark, star):
        from pyspark.sql import functions as F

        from remediner_spark.operators.linkgraph import triangle_census

        extra = spark.createDataFrame(
            [("z_spoke_000", "z_spoke_001")], "a string, b string")
        e = star.unionAll(extra)
        row = triangle_census(e).collect()[0]
        assert row["n_triangles"] == 1
        # candidate volume stays linear: the two deg-2 spokes enumerate
        from remediner_spark.operators.linkgraph import oriented_wedges
        assert oriented_wedges(e).count() <= 2

    def test_link_predict_center_cap_bounds_hub(self, spark, star):
        from remediner_spark.operators.linkgraph import (
            LP_SCALE, link_predict_candidates)

        capped = link_predict_candidates(star, center_cap=8)
        assert capped.count() == 0  # hub excluded -> nothing enumerated
        uncapped = link_predict_candidates(star, center_cap=None)
        # exact form: every spoke pair is a candidate through the hub
        assert uncapped.count() == self.N * (self.N - 1) // 2
        r = uncapped.where("u = 'z_spoke_000' AND v = 'z_spoke_001'").collect()
        assert r[0]["n_common"] == 1 and r[0]["ra_fp"] == LP_SCALE // self.N


class TestHostRank:
    def test_weighted_dangling_semantics(self, spark):
        """hub links a 3x and b 1x; a and b are sinks. Weighted mass
        splits 3:1 across the distinct edges; every round the sinks'
        rank recycles equally to all three nodes (integer div), so the
        dangling correction is visible as hub rank above the 150k
        no-inlink floor."""
        from remediner_spark.operators.components import (
            PR_BASE,
            PR_SCALE,
            pagerank_fixed_point,
        )

        e = spark.createDataFrame(
            [("hub", "a", 3), ("hub", "b", 1)], "src string, dst string, w int"
        )
        r = {
            x["node"]: x["rank_fp"]
            for x in pagerank_fixed_point(e, dangling=True).collect()
        }
        assert set(r) == {"hub", "a", "b"}
        # replay one round by hand: d0 = 2*SCALE (both sinks), each node
        # gets d0 div 3; a additionally gets SCALE*3 div 4, b SCALE div 4
        d = 2 * PR_SCALE // 3
        assert r["hub"] >= PR_BASE + 85 * d // 100 > PR_BASE
        assert r["a"] > r["b"] > r["hub"]
        # deterministic repeat (integer fixed point)
        r2 = {
            x["node"]: x["rank_fp"]
            for x in pagerank_fixed_point(e, dangling=True).collect()
        }
        assert r == r2


class TestPageRankConfs:
    CONFS = (
        ("spark.sql.adaptive.enabled", "false"),
        ("spark.sql.autoBroadcastJoinThreshold", "-1"),
    )

    def test_call_shapes_identical_across_confs(self, spark, monkeypatch):
        """The five call shapes of the one PageRank kernel (duplicate
        rows, symmetric near-dup ids, weighted, dangling, weighted +
        dangling hosts) give the same rows whatever join strategy the
        planner picks: default, AQE off, broadcast joins off."""
        import pandas as pd
        from pyspark.sql import functions as F

        from remediner_spark.operators import components as C
        from remediner_spark.operators import dedup as D
        from remediner_spark.operators import linkgraph as LG

        pairs = pd.DataFrame(
            [(i, (i * 7 + 3) % 97) for i in range(97) if i < (i * 7 + 3) % 97],
            columns=["doc_a", "doc_b"],
        )
        monkeypatch.setattr(
            D,
            "q_dedup_ngram_jaccard",
            lambda spark_, sf_dir: spark.createDataFrame(pairs).select(
                F.col("doc_a").cast("long"), F.col("doc_b").cast("long")
            ),
        )
        shapes = (
            LG.q_web_link_pagerank,
            C.q_graph_pagerank,
            LG.q_web_pagerank_weighted,
            LG.q_web_pagerank_dangling,
            LG.q_web_host_rank,
        )

        def run_all():
            return [sorted(q(spark, "").collect()) for q in shapes]

        base = run_all()
        assert all(base)
        for key, value in self.CONFS:
            old = spark.conf.get(key)
            spark.conf.set(key, value)
            try:
                assert run_all() == base, key
            finally:
                spark.conf.set(key, old)


class TestSitemap:
    def test_roundtrip_counts_and_shard_bound(self, spark):
        """Every corpus page appears exactly once across the parsed
        sitemap records; no shard exceeds the protocol cap; lastmod is
        an ISO date string."""
        import re as _re

        from remediner_spark.sources.kg_fixture import ensure_kg_fixture
        from remediner_spark.sources.sitemap import (
            SITEMAP_SHARD,
            parse_sitemaps,
            render_sitemaps,
        )

        d = ensure_kg_fixture()
        pages = spark.read.parquet(f"{d}/pages.parquet").select(
            "url", "warc_ts"
        )
        recs = parse_sitemaps(render_sitemaps(pages)).collect()
        urls = [r["loc"] for r in recs]
        assert sorted(urls) == sorted(
            x["url"] for x in pages.select("url").collect()
        )
        by_shard: dict[int, int] = {}
        for r in recs:
            by_shard[r["shard"]] = by_shard.get(r["shard"], 0) + 1
        assert max(by_shard.values()) <= SITEMAP_SHARD
        assert len(by_shard) > 1  # sharding actually happened
        for r in recs[:5]:
            assert _re.fullmatch(r"\d{4}-\d{2}-\d{2}", r["lastmod"])
            assert _re.fullmatch(r"0\.\d", r["priority"])
