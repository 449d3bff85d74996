"""CDX-J crawl-index ingestion: the manifest-level record locator
Common-Crawl publishes alongside WARCs.

Real pipelines never scan 100 TB of WARC blindly — they select record
subsets from the CDX(-J) index first (urlkey + timestamp + a JSON
payload with url/mime/status/offset/length/filename), then range-read
only the matching WARC members. This module is that selection step:

* parse the space-framed line format (two tokens, then JSON — the
  JSON itself contains spaces, so framing is a 2-token regex, never a
  naive split);
* filter to fetchable content (status 200, text/html);
* verify the urlkey against a recomputed SURT (Sort-friendly URI
  Reordering Transform: host labels reversed and comma-joined, then
  ')' + path — the canonical CDX key order that clusters one host's
  records together);
* project the (filename, offset, length) locator triple a WARC
  range-reader consumes.

Scale shape: the index is line-text — map-only parse inside JVM
codegen (regexp + get_json_object, no Python hop), filter pushed to
the text scan's projection; output is locator-grain. The DuckDB
oracle parses the SAME lines with the same regex + JSON extraction,
and recomputes SURT with the same string ops.

The fixture CDX (kg_fixture.write_cdx_file) is rendered
deterministically from the corpus pages: per-page byte offsets
accumulate in url order, every 17th record is a 404 and every 23rd a
non-html mime, so the filter provably drops rows on both engines.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

# two space-framed tokens, then the JSON remainder
_LINE_RE = r"^(\S+) (\S+) (.*)$"


def surt_key(url_col):
    """SURT urlkey from a url column, JVM-side: reversed host labels
    comma-joined + ')' + path ('' for a bare host)."""
    host = F.regexp_extract(url_col, r"^https?://([^/]+)", 1)
    path = F.regexp_extract(url_col, r"^https?://[^/]+(/.*)?$", 1)
    return F.concat(
        F.array_join(F.reverse(F.split(host, r"\.")), ","),
        F.lit(")"),
        path,
    )


_PAYLOAD_SCHEMA = (
    "url string, mime string, status string, length string, "
    "offset string, filename string"
)


def parse_cdx(lines: DataFrame) -> DataFrame:
    """Text lines -> typed CDX records (no filtering).

    The JSON payload is parsed ONCE per row (from_json into a struct),
    not once per projected field — six get_json_object calls would
    re-parse the same string six times on the hot ingest path."""
    v = F.col("value")
    framed = lines.select(
        F.regexp_extract(v, _LINE_RE, 1).alias("urlkey"),
        F.regexp_extract(v, _LINE_RE, 2).alias("ts"),
        F.from_json(F.regexp_extract(v, _LINE_RE, 3), _PAYLOAD_SCHEMA).alias(
            "p"
        ),
    )
    return framed.select(
        "urlkey",
        "ts",
        F.col("p.url").alias("url"),
        F.col("p.mime").alias("mime"),
        F.col("p.status").alias("status"),
        F.col("p.length").cast("long").alias("length"),
        F.col("p.offset").cast("long").alias("offset"),
        F.col("p.filename").alias("filename"),
    )


def cdx_select(records: DataFrame) -> DataFrame:
    """Fetchable-content selection + SURT verification: status 200,
    text/html, with surt_ok = 1 when the published urlkey equals the
    recomputed SURT of the payload url."""
    return records.where(
        (F.col("status") == "200") & (F.col("mime") == "text/html")
    ).select(
        "urlkey",
        "ts",
        "url",
        "length",
        "offset",
        "filename",
        (F.col("urlkey") == surt_key(F.col("url"))).cast("int").alias(
            "surt_ok"
        ),
    )


def q_cdx_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .kg_fixture import ensure_kg_fixture

    d = ensure_kg_fixture()
    return cdx_select(parse_cdx(spark.read.text(f"{d}/crawl.cdx")))


def sql_cdx_ingest() -> str:
    from .kg_fixture import ensure_kg_fixture

    d = ensure_kg_fixture()
    return f"""
WITH raw AS (
  SELECT unnest(string_split(rtrim(content, chr(10)), chr(10))) AS value
  FROM read_text('{d}/crawl.cdx')),
rec AS (
  SELECT regexp_extract(value, '{_LINE_RE}', 1) AS urlkey,
         regexp_extract(value, '{_LINE_RE}', 2) AS ts,
         regexp_extract(value, '{_LINE_RE}', 3) AS j
  FROM raw),
typed AS (
  SELECT urlkey, ts,
         json_extract_string(j, '$.url') AS url,
         json_extract_string(j, '$.mime') AS mime,
         json_extract_string(j, '$.status') AS status,
         CAST(json_extract_string(j, '$.length') AS BIGINT) AS length,
         CAST(json_extract_string(j, '$.offset') AS BIGINT) AS "offset",
         json_extract_string(j, '$.filename') AS filename
  FROM rec)
SELECT urlkey, ts, url, length, "offset", filename,
       CAST(urlkey =
         array_to_string(
           list_reverse(
             string_split(regexp_extract(url, '^https?://([^/]+)', 1), '.')),
           ',')
         || ')' ||
         coalesce(regexp_extract(url, '^https?://[^/]+(/.*)?$', 1), '')
         AS INT) AS surt_ok
FROM typed
WHERE status = '200' AND mime = 'text/html'"""


QUERIES = {"cdx_ingest": q_cdx_ingest}


def oracles() -> dict[str, str]:
    return {"cdx_ingest": sql_cdx_ingest()}
