"""Text + geocoordinate extraction from page HTML: the contract and its
pandas reference.

The engine's analog of a format driver's decode step: given the ``html``
binary column of the pages table (``BASELINE.json:input_hint``), produce the
extracted ``text`` (the **byte-identical-text-per-url invariant** is asserted
against this) and mined (lon, lat) coordinates.

Extraction contract (deterministic, order of precedence for coordinates):

1. ``<meta name="geo.position" content="LAT;LON">`` in the head,
2. ``<span data-lat="LAT" data-lon="LON">...</span>`` in the body.

Text contract: ``title`` + "\\n" + each ``<p>`` paragraph + "\\n" + the
geo-span inner text when present, joined with single newlines.

The engine runs the contract natively (``operators/geo.enrich_pages``);
the pandas functions here are its reference. Both read the regexes below,
written in the subset Python ``re`` and ``java.util.regex`` agree on:
greedy character classes only (so the JVM's regex stack depth cannot
depend on the page) and ASCII digits ``[0-9]`` (Python's ``\\d`` is wider).
"""

from __future__ import annotations

import numpy as np
import pandas as pd

TITLE_RE = r"<title>([^<]*)</title>"
_NUM = r"(-?[0-9]+\.[0-9]+)"
META_GEO_RE = rf'<meta name="geo\.position" content="{_NUM};{_NUM}">'
SPAN_GEO_RE = rf'<span data-lat="{_NUM}" data-lon="{_NUM}">([^<]*)</span>'
PARA_RE = r"<p>([^<]*)</p>"


def decode_html(html_bytes: pd.Series) -> pd.Series:
    """binary -> str (utf-8). Invalid byte sequences decode to U+FFFD, so
    one malformed page keeps its row instead of failing the batch; the
    engine's ``make_valid_utf8`` replaces exactly the same bytes."""
    return html_bytes.map(lambda b: b.decode("utf-8", errors="replace"),
                          na_action="ignore")


def extract_enriched(html: pd.Series):
    """The reference extractor: (text, lon, lat) from decoded html (str
    Series), with each regex run ONCE over the batch.

    ``text`` follows the text contract above; ``lon``/``lat`` are NaN when
    the page carries no coordinates, mirroring the NULL-geometry path of
    the reference's join semantics (``drivers/ogr_gensql.cpp:1310-1316``):
    rows without coordinates keep NULL keys and fall out of spatial joins.
    NULL html gives NaN text. ``enrich_pages`` and ``verify_text_invariant``
    run the same contract natively; the parity tests hold them to this.
    """
    title = html.str.extract(TITLE_RE, expand=False).fillna("")
    paras = html.str.findall(PARA_RE).str.join("\n")
    span = html.str.extract(SPAN_GEO_RE, expand=True)
    span_text = span[2].fillna("")
    text = title.str.cat(paras, sep="\n")
    has_span = span_text.str.len() > 0
    text = text.where(~has_span, text.str.cat(span_text, sep="\n"))
    meta = html.str.extract(META_GEO_RE, expand=True)
    lat = pd.to_numeric(meta[0], errors="coerce").fillna(
        pd.to_numeric(span[0], errors="coerce")
    )
    lon = pd.to_numeric(meta[1], errors="coerce").fillna(
        pd.to_numeric(span[1], errors="coerce")
    )
    return text, lon.astype(np.float64), lat.astype(np.float64)
