"""Common-Crawl-style pages → link-graph edge table (north rule ingest).

Input shape (BASELINE.json:15): ``pages(url STRING, warc_ts TIMESTAMP,
html BINARY, text STRING, lang STRING)`` — an Iceberg table at design
scale; parquet stands in here (the reader path takes any DataFrame, so
``spark.read.table`` vs ``.parquet`` is the caller's choice).

Pipeline (all Arrow-vectorized — no per-row Python UDFs, BASELINE.json:15):

    pages --mapInPandas--> (url, text, links ARRAY<STRING>)
          --explode + normalize + self-join corpus--> edges(src_url, dst_url)
          --build_ids dictionary--> edges(src BIGINT, dst BIGINT)

The text extraction spec (``extract_text``; the batch parser shares its
stages and also collects raw href values) is deterministic and
self-contained (stdlib only):

1. decode UTF-8 (errors='replace');
2. drop <script>/<style>/<head> blocks;
3. block-closing tags and <br> become newlines;
4. remaining tags become spaces; HTML entities unescaped;
5. per line: unicode-whitespace runs collapse to single spaces; blank
   lines drop; lines join with '\n'.

The per-row invariant "byte-identical extracted text per url" is gated by
tests against the ``text`` oracle column (the synthesizer constructs html
whose extraction equals ``text`` exactly).

URL normalization (deterministic pure function): resolve relative hrefs
against the page url (RFC 3986 via urllib.parse), keep http(s) only,
lowercase scheme and host, strip default ports, strip fragments, drop
empty queries.
"""

from __future__ import annotations

import html as _html
import re
from typing import Iterator, Optional

import pandas as pd
from py4j.protocol import Py4JError
from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

_SCRIPT_RE = re.compile(r"(?is)<(script|style)\b.*?</\1\s*>")
_HEAD_RE = re.compile(r"(?is)<head\b.*?</head\s*>")
_BLOCK_RE = re.compile(
    r"(?i)<(?:br|/p|/div|/h[1-6]|/li|/tr|/table|/ul|/ol|/blockquote|/pre|/title)[^>]*>"
)
_TAG_RE = re.compile(r"(?s)<[^>]*>")
_HREF_RE = re.compile(
    r"(?is)<a\s[^>]*?href\s*=\s*(?:\"([^\"]*)\"|'([^']*)'|([^\s>]+))"
)


def _stripped(html_bytes: bytes) -> str:
    """Decode + script/style removal — the stage shared by text and href
    extraction (ONE implementation; ``extract_text`` and the batch parser
    build on it)."""
    return _SCRIPT_RE.sub(" ", html_bytes.decode("utf-8", errors="replace"))


def _text_from_stripped(s: str) -> str:
    t = _HEAD_RE.sub(" ", s)
    t = _BLOCK_RE.sub("\n", t)
    t = _TAG_RE.sub(" ", t)
    t = _html.unescape(t)
    lines = [" ".join(line.split()) for line in t.split("\n")]
    return "\n".join(line for line in lines if line)


def _hrefs_from_stripped(s: str) -> list[str]:
    out = []
    for m in _HREF_RE.finditer(s):
        href = m.group(1) or m.group(2) or m.group(3) or ""
        href = _html.unescape(href).strip()
        if href:
            out.append(href)
    return out


def extract_text(html_bytes: Optional[bytes]) -> str:
    """Deterministic HTML → text (spec in module docstring)."""
    if html_bytes is None:
        return ""
    return _text_from_stripped(_stripped(html_bytes))


def normalize_url(base_url: str, href: str) -> Optional[str]:
    """Resolve + canonicalize; None if not http(s)."""
    from urllib.parse import urljoin, urlsplit, urlunsplit

    try:
        resolved = urljoin(base_url, href)
        parts = urlsplit(resolved)
    except ValueError:
        return None
    scheme = parts.scheme.lower()
    if scheme not in ("http", "https"):
        return None
    host = parts.hostname
    if not host:
        return None
    host = host.lower()
    port = parts.port
    if port is not None and not (
        (scheme == "http" and port == 80) or (scheme == "https" and port == 443)
    ):
        host = f"{host}:{port}"
    path = parts.path or "/"
    return urlunsplit((scheme, host, path, parts.query, ""))


def _parse_one(blob: Optional[bytes]) -> tuple[str, list[str]]:
    """Text + raw hrefs with ONE decode and ONE script/style strip per
    page (separate text and href passes did both twice — double the
    regex work on the dominant ingest path). Same staged pipeline as
    ``extract_text``, so the byte-identical-text gate holds by
    construction."""
    if blob is None:
        return "", []
    s = _stripped(blob)
    return _text_from_stripped(s), _hrefs_from_stripped(s)


def parse_pages(pages: DataFrame) -> DataFrame:
    """pages -> (url, text STRING, links ARRAY<STRING>) via one
    Arrow-batched mapInPandas pass (html decoded once per row for both
    text and links)."""

    def _parse(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            texts, links = [], []
            for url, blob in zip(pdf["url"], pdf["html"]):
                text, hrefs = _parse_one(blob)
                texts.append(text)
                normed = []
                for href in hrefs:
                    n = normalize_url(url, href)
                    if n is not None:
                        normed.append(n)
                links.append(normed)
            yield pd.DataFrame(
                {"url": pdf["url"], "text": texts, "links": links}
            )

    return pages.select("url", "html").mapInPandas(
        _parse, schema="url string, text string, links array<string>"
    )


def pages_to_edges(pages: DataFrame) -> DataFrame:
    """pages -> distinct (src_url, dst_url), only edges whose target is
    itself a page in the corpus (semi-join against the url set — at scale
    both sides are huge, so this is a plain shuffled semi-join on the url
    key; no broadcast)."""
    parsed = parse_pages(pages)
    edges = (
        parsed.select(F.col("url").alias("src_url"), F.explode("links").alias("dst_url"))
        .filter(F.col("src_url") != F.col("dst_url"))
        .distinct()
    )
    urls = pages.select(F.col("url").alias("dst_url")).distinct()
    return edges.join(urls, "dst_url", "left_semi").select("src_url", "dst_url")


def encode_edges(edges_urls: DataFrame) -> tuple[DataFrame, DataFrame]:
    """(src_url, dst_url) -> ((src, dst) BIGINT edges, ids dictionary).

    Dictionary encoding (the Indexer contract, SURVEY.md §1.7): joins on
    dense longs instead of long url strings — Catalyst/Tungsten joins and
    parquet dictionary pages both benefit. The dictionary is built over
    the edges' own endpoints.
    """
    from ..indexer import build_ids

    nodes = (
        edges_urls.select(F.col("src_url").alias("node"))
        .unionByName(edges_urls.select(F.col("dst_url").alias("node")))
        .distinct()
    )
    ids = build_ids(nodes)
    out = (
        edges_urls.join(ids.withColumnRenamed("node", "src_url"), "src_url")
        .withColumnRenamed("id", "src")
        .join(ids.withColumnRenamed("node", "dst_url"), "dst_url")
        .withColumnRenamed("id", "dst")
        .select("src", "dst")
    )
    return out, ids


def read_pages(spark: SparkSession, source: str) -> DataFrame:
    """Format-agnostic pages reader (SURVEY §7 risk item: Iceberg at
    design scale, parquet files as the sandbox stand-in).

    - a filesystem path (contains ``/`` or ends in ``.parquet``) reads as
      parquet;
    - otherwise the session catalog is probed FIRST
      (``spark.catalog.tableExists``) so a registered table is never
      shadowed by a cwd-relative file of the same name; a catalog hit
      reads via ``spark.read.table`` — this is the Iceberg path: with an
      Iceberg catalog configured (``spark.sql.catalog.<name>`` + the
      runtime jar) a ``catalog.db.pages`` identifier Just Works, including
      hidden partitioning and snapshot pruning, with no reader code
      changes;
    - a catalog miss falls back to a bare relative dir on the local
      filesystem (``pages_dir`` must not be misread as a catalog
      identifier).

    VERIFICATION BOUNDARY: the catalog branch is exercised in tests
    against the built-in session catalog only. No Iceberg runtime jar
    ships in this sandbox, so the Iceberg-specific behaviors (snapshot
    pruning, hidden partitioning) are design-argued, not executed — see
    README "Iceberg". An unresolvable multi-part identifier raises with
    that context instead of failing as a bogus parquet read.
    """
    import os

    if "/" in source or source.endswith(".parquet"):
        return spark.read.parquet(source)
    try:
        in_catalog = spark.catalog.tableExists(source)
    except (AnalysisException, Py4JError) as exc:
        # tableExists raises ParseException (an AnalysisException) for
        # names that are not valid SQL identifiers (e.g. 'my-pages',
        # 'pages dir'), AnalysisException for an unknown catalog, and
        # Py4JError for a JVM error PySpark leaves unconverted (as in
        # SparkDiGraph.load). A name that fails to parse can still be a
        # perfectly good bare relative directory, which the
        # filesystem fallback below must keep serving. Reserve the error
        # for names that are neither parseable identifiers nor existing
        # paths.
        if os.path.exists(source):
            return spark.read.parquet(source)
        raise ValueError(
            f"read_pages: {source!r} looks like a catalog identifier but the "
            f"session catalog cannot resolve it ({exc}). Reading through a "
            "named catalog (e.g. Iceberg) needs spark.sql.catalog.<name> "
            "configured and the catalog's runtime jar on the classpath; "
            "neither is present in this build (the Iceberg path is untested "
            "here — see README)."
        ) from exc
    if in_catalog:
        return spark.read.table(source)
    if os.path.exists(source):
        return spark.read.parquet(source)
    raise ValueError(
        f"read_pages: {source!r} is neither a registered table in the "
        "session catalog nor an existing filesystem path."
    )
