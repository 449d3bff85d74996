"""Materialized KG-corpus fixture for the driver's DuckDB oracle gate.

The synthetic medical corpus (sources/corpus.py) is generated, not one
of the driver's pre-registered parquet views — so the end-to-end KG
queries (kg_pipeline_triples / kg_linked_mentions / kg_nodes /
kg_edges) need their input tables *and* the independent pandas gold
written to stable parquet paths that the oracle SQL can read via
``read_parquet('<abs path>')``.

What gets materialized (deterministic, seed-pinned, idempotent):

* ``pages.parquet`` / ``entity_dictionary.parquet`` — the corpus input
  tables (same frames the generated-in-memory path used before).
* ``gold_triples.parquet`` — the pandas-gold triples (gold.gold_triples
  over the annotations: the annotation-span IOB path, independent of
  the engine's gazetteer text-matching path), joined with warc_ts.
* ``drug_ae.rel`` — a DRUG-AE.rel-shaped pipe-delimited file (the
  reference's raw input format,
  /root/reference/ade_corpus_v2/ade_corpus_v2.py:199-218: one line per
  relation instance, positional fields id|text|effect|e_start|e_end|
  drug|d_start|d_end) rendered from the corpus annotations, for the
  S1 literal-scan gate entry.

The oracle SQL then derives linking / nodes / edges *relationally* in
DuckDB from gold_triples + entity_dictionary: exact dictionary join
plus the banded MinHash-LSH residual linker re-expressed over the same
md5-prefix hash family (plans/kg_gate.py) — both engines compute the
identical banding, so the gate checks implementation correctness; LSH
*recall* versus an exhaustive all-pairs Jaccard linker is gated
separately in tests/test_linking_graph.py.
"""

from __future__ import annotations

import os

from . import corpus

# bump to invalidate materialized fixtures when gold logic changes
FIXTURE_VERSION = 3

N_PAGES = 400


def fixture_dir() -> str:
    repo = os.path.dirname(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    )
    return os.path.join(
        repo,
        ".kg_oracle",
        f"v{corpus.CORPUS_VERSION}.{FIXTURE_VERSION}_p{N_PAGES}",
    )


_FILES = (
    "pages.parquet",
    "entity_dictionary.parquet",
    "gold_triples.parquet",
    "drug_ae.rel",
    "linked_pages.parquet",
    "crawl.cdx",
)


def _surt(url: str) -> str:
    """SURT urlkey (host labels reversed, comma-joined, ')' + path) —
    the reference rendering the cdx module's recomputation is checked
    against."""
    rest = url.split("://", 1)[1]
    host, slash, path = rest.partition("/")
    return ",".join(reversed(host.split("."))) + ")" + slash + path


def write_cdx_file(pages, path: str) -> None:
    """Render a CDX-J index for the corpus pages: `urlkey ts {json}`
    per line, offsets accumulating in url order; every 17th record is
    a 404 and every 23rd a non-html mime so downstream selection
    provably drops rows."""
    import json as _json

    lines = []
    offset = 0
    for i, rec in enumerate(pages.itertuples(index=False)):
        length = len(rec.html)
        payload = {
            "url": rec.url,
            "mime": "application/pdf" if i % 23 == 0 else "text/html",
            "status": "404" if i % 17 == 0 else "200",
            "length": str(length),
            "offset": str(offset),
            "filename": f"crawl-r7-{i // 100:05d}.warc.gz",
        }
        ts = rec.warc_ts.strftime("%Y%m%d%H%M%S")
        lines.append(
            f"{_surt(rec.url)} {ts} "
            + _json.dumps(payload, separators=(", ", ": "))
        )
        offset += length
    with open(path, "w") as f:
        f.write("\n".join(lines) + "\n")


def _write_rel_file(ann, path: str) -> None:
    """Render annotations as DRUG-AE.rel-style pipe-delimited lines.

    Offsets are first-occurrence character spans (the reference
    computes them the same way: `text.find`-style, no word
    boundaries)."""
    lines = []
    for i, rec in enumerate(ann.itertuples(index=False)):
        assert "|" not in rec.text, "pipe in corpus text breaks .rel format"
        e0 = rec.text.find(rec.effect)
        d0 = rec.text.find(rec.drug)
        lines.append(
            f"{i}|{rec.text}|{rec.effect}|{e0}|{e0 + len(rec.effect)}"
            f"|{rec.drug}|{d0}|{d0 + len(rec.drug)}"
        )
    with open(path, "w") as f:
        f.write("\n".join(lines) + "\n")


def ensure_kg_fixture() -> str:
    """Write the fixture parquet files if absent; return the directory."""
    out = fixture_dir()
    if all(os.path.exists(os.path.join(out, f)) for f in _FILES):
        return out
    os.makedirs(out, exist_ok=True)
    from ..gold import gold_triples

    pages, ann = corpus.generate_pages(N_PAGES)
    gold = gold_triples(ann).merge(
        pages[["url", "warc_ts"]], on="url", how="left"
    )[["url", "warc_ts", "sent_idx", "subj", "pred", "obj"]]
    # write-then-rename per file would still race across processes;
    # idempotent content (same seed) makes last-write-wins safe here
    pages.to_parquet(os.path.join(out, "pages.parquet"), index=False)
    corpus.generate_entity_dictionary().to_parquet(
        os.path.join(out, "entity_dictionary.parquet"), index=False
    )
    gold.to_parquet(os.path.join(out, "gold_triples.parquet"), index=False)
    _write_rel_file(ann, os.path.join(out, "drug_ae.rel"))
    # web-graph dimension: same pages with deterministic <a href>
    # outlinks injected (empty anchor text — extraction byte-identity
    # holds; operators/linkgraph.py consumes this)
    corpus.add_outlinks(pages).to_parquet(
        os.path.join(out, "linked_pages.parquet"), index=False
    )
    # CDX-J record index (sources/cdx.py consumes this)
    write_cdx_file(pages, os.path.join(out, "crawl.cdx"))
    return out
