"""Vectorized text + geocoordinate extraction from page HTML.

The engine's analog of a format driver's decode step: given the ``html``
binary column of the pages table (``BASELINE.json:input_hint``), produce the
extracted ``text`` (the **byte-identical-text-per-url invariant** is asserted
against this) and mined (lon, lat) coordinates.

Extraction contract (deterministic, order of precedence for coordinates):

1. ``<meta name="geo.position" content="LAT;LON">`` in the head,
2. ``<span data-lat="LAT" data-lon="LON">...</span>`` in the body.

Text contract: ``title`` + "\\n" + each ``<p>`` paragraph + "\\n" + the
geo-span inner text when present, joined with single newlines.

Everything runs on whole pandas Series (pandas ``.str`` engine; no explicit
per-row Python loops), Arrow-batched by the caller.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

_TITLE_RE = r"<title>([^<]*)</title>"
_META_GEO_RE = r'<meta name="geo\.position" content="(-?\d+\.\d+);(-?\d+\.\d+)">'
_SPAN_GEO_RE = (
    r'<span data-lat="(-?\d+\.\d+)" data-lon="(-?\d+\.\d+)">([^<]*)</span>'
)
_PARA_RE = r"<p>([^<]*)</p>"


def decode_html(html_bytes: pd.Series) -> pd.Series:
    """binary -> str (utf-8). Invalid byte sequences decode to U+FFFD, so
    one malformed page keeps its row instead of failing the batch; valid
    utf-8 decodes exactly as before."""
    return html_bytes.map(lambda b: b.decode("utf-8", errors="replace"),
                          na_action="ignore")


def extract_enriched(html: pd.Series):
    """The extractor: (text, lon, lat) from decoded html (str Series), with
    each regex run ONCE over the batch.

    ``text`` follows the text contract above; ``lon``/``lat`` are NaN when
    the page carries no coordinates, mirroring the NULL-geometry path of
    the reference's join semantics (``drivers/ogr_gensql.cpp:1310-1316``):
    rows without coordinates keep NULL keys and fall out of spatial joins.
    ``enrich_pages`` writes its output and ``verify_text_invariant``
    re-derives text with it, so the invariant checks this very code.
    """
    title = html.str.extract(_TITLE_RE, expand=False).fillna("")
    paras = html.str.findall(_PARA_RE).str.join("\n")
    span = html.str.extract(_SPAN_GEO_RE, expand=True)
    span_text = span[2].fillna("")
    text = title.str.cat(paras, sep="\n")
    has_span = span_text.str.len() > 0
    text = text.where(~has_span, text.str.cat(span_text, sep="\n"))
    meta = html.str.extract(_META_GEO_RE, expand=True)
    lat = pd.to_numeric(meta[0], errors="coerce").fillna(
        pd.to_numeric(span[0], errors="coerce")
    )
    lon = pd.to_numeric(meta[1], errors="coerce").fillna(
        pd.to_numeric(span[1], errors="coerce")
    )
    return text, lon.astype(np.float64), lat.astype(np.float64)
