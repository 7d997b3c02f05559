"""Pages source: scan + deterministic byte-identical html -> text extraction.

Replaces the reference's PDF loader (``kg_creator/src/utils.py:892-904``,
``read_document``: pages joined with "\\n").  Our input is the Common-Crawl
style table mandated by BASELINE.json.input_hint:

    pages(url string, warc_ts timestamp, html binary, text string, lang string)

Invariant kept from the reference: extracted text is a *deterministic pure
function of the source bytes* (``read_document`` has no randomness), so the
same url always yields byte-identical text — asserted by the pytest gate.

Extraction is fully Arrow-vectorized (pandas ``.str`` ops inside
``mapInPandas``); no per-row Python in the hot path.  Only ``url`` and
``html``/``lang`` columns are read — Catalyst prunes the rest at the scan.
"""

from __future__ import annotations

import re
from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

EXTRACTED_SCHEMA = "url string, warc_ts timestamp, text string, lang string"

_PRE_RE = r"(?is)<pre[^>]*>(.*?)</pre>"
_TAG_RE = r"(?s)<[^>]+>"


def _unescape_series(s: pd.Series) -> pd.Series:
    """Inverse of html.escape(quote=True), vectorized.  &amp; must be last."""
    return (
        s.str.replace("&lt;", "<", regex=False)
        .str.replace("&gt;", ">", regex=False)
        .str.replace("&quot;", '"', regex=False)
        .str.replace("&#x27;", "'", regex=False)
        .str.replace("&#39;", "'", regex=False)
        .str.replace("&amp;", "&", regex=False)
    )


def extract_text_batch(html: pd.Series) -> pd.Series:
    """binary html -> text.  Prefers a single <pre> block (our fixture/WARC
    shape); falls back to tag-stripping.  Pure + vectorized + null-safe:
    NULL html decodes to '' (rows whose html was masked off JVM-side in
    :func:`extract_pages` reach the UDF as nulls)."""
    raw = html.map(
        lambda b: b.decode("utf-8")
        if isinstance(b, (bytes, bytearray))
        else ("" if b is None else str(b))
    )
    pre = raw.str.extract(_PRE_RE, expand=False)
    stripped = raw.str.replace(_TAG_RE, "", regex=True).str.strip()
    chosen = pre.fillna(stripped)
    return _unescape_series(chosen)


def extract_pages(
    pages: DataFrame,
    prefer_existing_text: bool = True,
    text_gate=None,
) -> DataFrame:
    """pages -> (url, warc_ts, text, lang).

    ``prefer_existing_text=True`` (default): rows that already carry the
    extracted ``text`` column use it directly and the html decode runs only
    for rows where text is null — html bytes then never cross the Arrow
    boundary for the common case (at 20 KB/page that halves Python I/O, and
    when no row needs decoding Catalyst prunes the html column off the scan
    entirely).  The byte-identical html->text invariant is still enforced:
    the pytest gate re-derives text from html with
    ``prefer_existing_text=False`` and compares hashes.

    ``prefer_existing_text=False``: always re-derive from html (the
    reference's ``read_document`` semantics, utils.py:892-904).

    ``text_gate``: optional zero-arg callable returning a boolean Column
    over ``text`` — a conservative keep-filter applied to rows whose RAW
    stored text is present, BEFORE the decode projection.  A filter placed
    on the projected text column instead would reference the decode UDF's
    output, and Catalyst's filter pushdown then evaluates the UDF TWICE
    (once under the pushed filter, once in the projection — guide §4.4,
    plan-verified).  Gating the raw column keeps one decode per row and
    full pushdown; null-text rows (html-only) pass the gate un-examined
    and are filtered by the consumer AFTER decoding (for triple
    extraction that consumer-side gate is extract_from_text itself, which
    emits nothing without its anchors — result-identical, pinned by the
    P/R gate)."""
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("string")
    def _decode(html: pd.Series) -> pd.Series:
        return extract_text_batch(html)

    if text_gate is not None and prefer_existing_text:
        pages = pages.filter(F.col("text").isNull() | text_gate())

    if prefer_existing_text:
        # Spark evaluates a pandas UDF argument unconditionally even inside
        # F.when, so the skip must happen in the ARGUMENT: html is masked to
        # NULL for rows that already carry text (nulls cross Arrow for free
        # and decode to '' — never used), then the when() picks the text.
        masked = F.when(F.col("text").isNull(), F.col("html"))
        text = F.coalesce(F.col("text"), _decode(masked))
    else:
        text = _decode(F.col("html"))
    return pages.select(
        "url", "warc_ts", text.alias("text"), "lang"
    )

