"""Span parser: fetched page text -> interleaved span sequence.

The structured generalization of the reference's per-row feature extraction
(main.py:246-358, surveyed as D1): a fetched page is decomposed into an
ordered sequence of typed spans

    (kind, text, media_ref, offset)   kind in {listing_text, salary_snippet,
                                               benefit_snippet, logo_media}

ordered by ``offset`` (BASELINE.json input_hint). Outlinks (``<a:url>``
markers) are extracted alongside for frontier expansion but are not spans.

Two implementations with an exact-equality contract (SURVEY.md §5):

- ``parse_pages`` — Spark, Arrow-batched ``mapInPandas`` (the page decompose
  genuinely needs offset-carrying regex scans, which no built-in column
  function expresses; everything downstream of the parser is pure JVM
  column expressions again).
- ``py_parse_page`` — single-process Python oracle.

Both share ``_parse_one`` so the per-page rule is written once; the
Spark-vs-oracle test then checks the DISTRIBUTED properties (partitioning,
Arrow round-trip, schema, ordering stability), while parser-rule golden
tests pin the rule itself.
"""

from __future__ import annotations

import re
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from job_crawler_spark import schemas

# One combined scan so offsets come from a single left-to-right pass.
_MARKER_RE = re.compile(
    r"<img:(?P<img>[^>]+)>"
    r"|<a:(?P<link>[^>]+)>"
    r"|(?P<salary>Salary:\s*\d+\s*-\s*\d+\.?)"
    r"|(?P<benefits>Benefits:\s*[^.<]*\.?)"
)

Span = tuple[str, str, str, int]  # (kind, text, media_ref, offset)


def _parse_one(page: str) -> tuple[list[Span], list[str]]:
    spans: list[Span] = []
    outlinks: list[str] = []
    pos = 0

    def emit_text(seg: str, seg_start: int) -> None:
        stripped = seg.strip()
        if stripped:
            spans.append(
                ("listing_text", stripped, "", seg_start + seg.index(stripped[0]))
            )

    for m in _MARKER_RE.finditer(page):
        emit_text(page[pos : m.start()], pos)
        if m.group("img") is not None:
            spans.append(("logo_media", "", m.group("img"), m.start()))
        elif m.group("link") is not None:
            outlinks.append(m.group("link"))
        elif m.group("salary") is not None:
            spans.append(("salary_snippet", m.group("salary"), "", m.start()))
        else:
            spans.append(("benefit_snippet", m.group("benefits"), "", m.start()))
        pos = m.end()
    emit_text(page[pos:], pos)
    # finditer is left-to-right so spans are already offset-ordered; the
    # explicit sort documents (and enforces) the input_hint invariant.
    spans.sort(key=lambda s: s[3])
    return spans, outlinks


def py_parse_page(page: str) -> list[dict]:
    """Oracle: span dicts for one page, offset-ordered."""
    spans, _ = _parse_one(page)
    return [
        {"kind": k, "text": t, "media_ref": m, "offset": o}
        for (k, t, m, o) in spans
    ]


def py_parse_outlinks(page: str) -> list[str]:
    return _parse_one(page)[1]


PARSED_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.StringType(), False),
        T.StructField(
            "spans", T.ArrayType(schemas.SPAN_TYPE, containsNull=False), False
        ),
        T.StructField("outlinks", T.ArrayType(T.StringType(), False), False),
    ]
)


def parse_pages(pages: DataFrame) -> DataFrame:
    """Distributed parse: (url_canon, page) -> (doc_id, spans, outlinks).

    Narrow transformation — no shuffle; Arrow batches in and out. doc_id is
    the canonical URL (the reference's natural key, main.py:141).
    """

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out_spans: list[list[dict]] = []
            out_links: list[list[str]] = []
            for page in pdf["page"].tolist():
                spans, links = _parse_one(page or "")
                out_spans.append(
                    [
                        {"kind": k, "text": t, "media_ref": m, "offset": o}
                        for (k, t, m, o) in spans
                    ]
                )
                out_links.append(links)
            yield pd.DataFrame(
                {
                    "doc_id": pdf["url_canon"],
                    "spans": out_spans,
                    "outlinks": out_links,
                }
            )

    return pages.mapInPandas(run, schema=PARSED_SCHEMA)


# ---------------------------------------------------------------------------
# Downstream of the parser: pure JVM column expressions over the span array.
# ---------------------------------------------------------------------------

def listing_text_col(spans: F.Column) -> F.Column:
    """Concatenated listing text (the 'description') — higher-order fns only."""
    return F.array_join(
        F.transform(
            F.filter(spans, lambda s: s.kind == F.lit("listing_text")),
            lambda s: s.text,
        ),
        " ",
    )


def _first_span_text(spans: F.Column, kind: str) -> F.Column:
    matched = F.filter(spans, lambda s: s.kind == F.lit(kind))
    return F.when(F.size(matched) > 0, matched.getItem(0).getField("text"))


def salary_bounds_cols(spans: F.Column) -> tuple[F.Column, F.Column]:
    txt = _first_span_text(spans, "salary_snippet")
    smin = F.regexp_extract(txt, r"Salary:\s*(\d+)\s*-", 1)
    smax = F.regexp_extract(txt, r"-\s*(\d+)", 1)
    return (
        F.when(smin != "", smin.cast("double")),
        F.when(smax != "", smax.cast("double")),
    )


def benefits_text_col(spans: F.Column) -> F.Column:
    return _first_span_text(spans, "benefit_snippet")


def enrich_documents(docs: DataFrame) -> DataFrame:
    """documents(doc_id, spans[, ...]) -> + description, salary bounds,
    features struct. All JVM-side; the features struct is the reference's
    extract_basic_job_features as column expressions (functions/text.py).

    The description fed to the classifier includes the benefit snippet —
    mirroring the reference, where benefits appear inside the one
    description blob (main.py:341-358).
    """
    from job_crawler_spark.functions.text import features_col

    spans = F.col("spans")
    smin, smax = salary_bounds_cols(spans)
    with_desc = docs.withColumn(
        "description",
        F.concat_ws(
            " ", listing_text_col(spans), F.coalesce(benefits_text_col(spans), F.lit(""))
        ),
    ).withColumn("salary_min", smin).withColumn("salary_max", smax)
    title = F.when(
        F.size(spans) > 0, spans.getItem(0).getField("text")
    ).otherwise(F.lit(""))
    return with_desc.withColumn(
        "features",
        features_col(
            F.col("description"), title, F.col("salary_min"), F.col("salary_max")
        ),
    )
