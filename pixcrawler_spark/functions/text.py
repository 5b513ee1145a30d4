"""Text / outlink extraction from html:binary — the byte-identical
invariant (BASELINE.json input_hint: "byte-identical extracted text
per url").

The engine extracts with JVM expressions (``CrawlEngine.
extracted_pages``: ``regexp_extract_all`` over ``make_valid_utf8`` of
the body), with no Python evaluation. ``extract_text_py`` /
``extract_outlinks_py`` below are its reference: pure Python over one
bytes value. The fixture generator writes the pages table so that
``pages.text == extract_text_py(pages.html)`` for every url, and tests
assert the engine reproduces both functions byte-for-byte.
"""

from __future__ import annotations

import re

import pandas as pd
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, StringType, StructField, StructType

# Oracle regexes (bytes-level, DOTALL so truncated/corrupted html still
# yields a deterministic result).
_TITLE_RE = re.compile(rb"<title>(.*?)</title>", re.DOTALL)
_PARA_RE = re.compile(rb"<p>(.*?)</p>", re.DOTALL)
_HREF_RE = re.compile(rb'<a href="([^"]*)"')


def extract_text_py(html: bytes | None) -> str | None:
    """Extraction oracle: title + each <p> body, joined by newline.

    None html (fetch failure) → None. Malformed/truncated html →
    whatever the regexes find (deterministic), joined the same way.
    """
    if html is None:
        return None
    parts = [m.decode("utf-8", errors="replace") for m in _TITLE_RE.findall(html)]
    parts += [m.decode("utf-8", errors="replace") for m in _PARA_RE.findall(html)]
    return "\n".join(parts)


def extract_outlinks_py(html: bytes | None) -> list[str] | None:
    """Outlink oracle: href values of <a> anchors, document order,
    duplicates preserved (frontier dedup happens downstream)."""
    if html is None:
        return None
    return [m.decode("utf-8", errors="replace") for m in _HREF_RE.findall(html)]


# ---------------------------------------------------------------------------
# Anchor-text extraction (href + link text pairs)
# ---------------------------------------------------------------------------
# The web-graph relevance signal outlink extraction drops: WHAT the
# linking page calls the target. A Python oracle plus the Arrow UDF
# that the registry's anchor-text query runs.
_ANCHOR_RE = re.compile(rb'<a href="([^"]*)"[^>]*>(.*?)</a>', re.DOTALL)


def extract_anchors_py(html: bytes | None) -> list[dict] | None:
    """Anchor oracle: (href, anchor text) per <a>...</a>, document
    order, duplicates preserved. None html (fetch failure) → None."""
    if html is None:
        return None
    return [
        {
            "href": h.decode("utf-8", errors="replace"),
            "anchor": a.decode("utf-8", errors="replace"),
        }
        for h, a in _ANCHOR_RE.findall(html)
    ]


def _extract_anchors_batch(s: pd.Series) -> pd.Series:
    return s.map(extract_anchors_py)


extract_anchors_udf = F.pandas_udf(
    _extract_anchors_batch,
    ArrayType(
        StructType(
            [
                StructField("href", StringType()),
                StructField("anchor", StringType()),
            ]
        )
    ),
)
