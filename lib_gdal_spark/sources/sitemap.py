"""Sitemap XML source (sitemaps.org protocol) — crawl metadata a
Common-Crawl-style pipeline seeds and prioritizes fetches from.

Parses both ``<urlset>`` documents (url: loc, lastmod, changefreq,
priority) and ``<sitemapindex>`` documents (child sitemap locs), one
ElementTree parse per document inside an Arrow batch — the standard
zero-shuffle narrow map over a document-string column.
"""

from __future__ import annotations

import re
import xml.etree.ElementTree as ET
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame

_TAG_RE = re.compile(r"\{[^}]*\}")

ENTRY_SCHEMA = ("src string, kind string, loc string, lastmod string, "
                "changefreq string, priority double")


def _bare(el: ET.Element) -> str:
    return _TAG_RE.sub("", el.tag)


def parse_sitemap(doc: str, src: str = "") -> list[tuple]:
    """One sitemap/sitemapindex document -> entry rows."""
    root = ET.fromstring(doc)
    kind = "sitemap" if _bare(root) == "sitemapindex" else "url"
    rows: list[tuple] = []
    for entry in root:
        fields = {_bare(c): (c.text or "").strip() for c in entry}
        prio = None
        if fields.get("priority"):
            try:
                prio = float(fields["priority"])
            except ValueError:
                prio = None
        rows.append((src, kind, fields.get("loc"),
                     fields.get("lastmod") or None,
                     fields.get("changefreq") or None, prio))
    return rows


def parse_sitemap_documents(docs: DataFrame, doc_col: str = "sitemap",
                            id_col: str = "src") -> DataFrame:
    def work(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        cols = ["src", "kind", "loc", "lastmod", "changefreq",
                "priority"]
        for b in batches:
            rows: list[tuple] = []
            for src, d in zip(b[id_col], b[doc_col]):
                rows.extend(parse_sitemap(str(d), str(src)))
            yield pd.DataFrame(rows, columns=cols)

    return docs.select(id_col, doc_col).mapInPandas(work,
                                                    schema=ENTRY_SCHEMA)
