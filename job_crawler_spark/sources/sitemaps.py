"""Sitemap ingestion: sitemap XML blobs -> ordered frontier candidate rows.

The standard crawl seed-expansion source (sitemaps.org protocol): each
``<url>`` entry contributes a candidate with its ``<loc>`` plus the
optional freshness hints ``<lastmod>`` and ``<priority>`` that a recrawl
scheduler consumes. The reference crawler starts from a literal seed list
(``main.py``); sitemap expansion is how a real frontier bootstraps and
refreshes — at 10^10-URL scale the sitemap fetch results ARE a corpus
table (one row per sitemap document), so the parser must be a narrow,
shuffle-free, no-Python column program over that table, not a per-file
driver loop.

Parsing strategy: entries are isolated with one non-greedy dotall regex
(``(?s)<url>(.*?)</url>``) via ``regexp_extract_all`` — bounded work per
document, order-preserving — then each entry's fields are extracted with
per-field regexes inside a JVM ``transform`` lambda. ``posexplode`` keeps
the document-order sequence number (sitemap order is meaningful: sites
list important URLs first, and a deterministic seq makes ingestion
replayable). Entries without a ``<loc>`` are dropped (protocol requires
it); missing ``<lastmod>``/``<priority>`` surface as NULLs. This is a
REGULAR subset of XML, safe for regex: real sitemap files are
machine-generated flat lists, and a malformed entry degrades to a dropped
row, never a crash.

Scale shape: one scan, zero exchanges, zero Python — the whole parse is
whole-stage-codegen string work (plan-pinned in tests/test_sitemaps.py).
Canonicalization of ``loc`` (functions/urls.py) composes downstream so
sitemap candidates enter the same seen-filter/politeness pipeline as
discovered outlinks.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

_ENTRY_RE = r"(?s)<url>(.*?)</url>"


def _field(entry: F.Column, tag: str) -> F.Column:
    got = F.regexp_extract(entry, f"<{tag}>([^<]*)</{tag}>", 1)
    return F.nullif(F.trim(got), F.lit(""))


def parse_sitemap_entries(
    df: DataFrame,
    xml_col: str = "sitemap_xml",
    id_cols: tuple[str, ...] = ("host",),
) -> DataFrame:
    """One row per ``<url>`` entry of every sitemap document in ``df``.

    Output: ``(*id_cols, seq, loc, lastmod, priority)`` — ``seq`` is the
    1-based position of the entry within its document, ``lastmod`` a DATE
    (NULL when absent or unparseable; W3C datetime's date prefix), and
    ``priority`` a DOUBLE (NULL when absent). Entries with no ``<loc>``
    are dropped.
    """
    entries = F.regexp_extract_all(F.col(xml_col), F.lit(_ENTRY_RE), 1)
    # try_cast, not to_date/cast: under ANSI mode (Spark 4 default) a
    # malformed <lastmod>/<priority> value must degrade to NULL per the
    # contract above, not fail the whole ingest
    parsed = F.transform(
        entries,
        lambda e: F.struct(
            _field(e, "loc").alias("loc"),
            F.substring(_field(e, "lastmod"), 1, 10)
            .try_cast("date")
            .alias("lastmod"),
            _field(e, "priority").try_cast("double").alias("priority"),
        ),
    )
    return (
        df.select(*id_cols, F.posexplode(parsed).alias("p0", "e"))
        .filter(F.col("e.loc").isNotNull())
        .select(
            *id_cols,
            (F.col("p0") + 1).alias("seq"),
            F.col("e.loc").alias("loc"),
            F.col("e.lastmod").alias("lastmod"),
            F.col("e.priority").alias("priority"),
        )
    )


# ---------------------------------------------------------------------------
# Single-process Python oracle for golden/property tests (the
# urls.py py_canonicalize pattern).
# ---------------------------------------------------------------------------

import datetime as _dt
import re as _re


def py_parse_sitemap(xml: str) -> list[tuple]:
    """(seq, loc, lastmod, priority) rows per the module contract."""
    out = []
    for i, m in enumerate(
        _re.finditer(r"<url>(.*?)</url>", xml, _re.S), start=1
    ):
        entry = m.group(1)

        def field(tag: str) -> str | None:
            mm = _re.search(rf"<{tag}>([^<]*)</{tag}>", entry)
            if not mm:
                return None
            v = mm.group(1).strip()
            return v or None

        loc = field("loc")
        if loc is None:
            continue
        lastmod = None
        lm = field("lastmod")
        if lm:
            try:
                lastmod = _dt.date.fromisoformat(lm[:10])
            except ValueError:
                lastmod = None
        prio = None
        pv = field("priority")
        if pv is not None:
            try:
                prio = float(pv)
            except ValueError:
                prio = None
        out.append((i, loc, lastmod, prio))
    return out
