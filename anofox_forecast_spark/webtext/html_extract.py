"""HTML → text extraction: the ingest step in front of every other
webtext operator (the engine's input contract is Common-Crawl-style
pages with an ``html`` payload next to extracted ``text``).

Boilerplate-light extraction with the stdlib ``html.parser`` (tolerant
of malformed markup, no external deps — the container has no
trafilatura/bs4/lxml): script/style/noscript/template subtrees are
dropped, block-level tags emit paragraph breaks, inline tags emit
nothing, entities are decoded by the parser (``convert_charrefs``),
and whitespace is normalized deterministically (runs collapsed, one
``\\n`` between blocks). Title and link count ride along.

Spark shape: ONE struct-returning Arrow UDF — the page parses once and
(title, text, n_links) are projected from the struct; zero shuffles.
Per-row Python is unavoidable for an HTML parse (like the unicode
normalize step), but it is C-accelerated stdlib inside Arrow batches,
never a row-at-a-time Python UDF.
"""

from __future__ import annotations

import re
from html.parser import HTMLParser

import pandas as pd

from pyspark.sql import DataFrame, functions as F

from anofox_forecast_spark._worker import release_zip_finders

# subtrees whose text is never content
_SKIP = {"script", "style", "noscript", "template", "head"}
# tags that terminate a text block (paragraph break on open AND close)
_BLOCK = {
    "p", "div", "br", "li", "ul", "ol", "h1", "h2", "h3", "h4", "h5", "h6",
    "tr", "td", "th", "table", "section", "article", "header", "footer",
    "blockquote", "pre", "hr", "nav", "aside", "form", "figure",
}


class _Extractor(HTMLParser):
    def __init__(self) -> None:
        super().__init__(convert_charrefs=True)
        self.parts: list[str] = []
        self.title_parts: list[str] = []
        self.n_links = 0
        self._skip_depth = 0
        self._in_title = False

    def handle_starttag(self, tag, attrs):
        if tag in _SKIP and tag != "head":
            self._skip_depth += 1
        elif tag == "title":
            self._in_title = True
        elif tag == "a":
            if any(k == "href" for k, _ in attrs):
                self.n_links += 1
        if tag in _BLOCK:
            self.parts.append("\n")

    def handle_endtag(self, tag):
        if tag in _SKIP and tag != "head":
            self._skip_depth = max(0, self._skip_depth - 1)
        elif tag == "title":
            self._in_title = False
        if tag in _BLOCK:
            self.parts.append("\n")

    def handle_data(self, data):
        if self._in_title:
            self.title_parts.append(data)
        elif self._skip_depth == 0:
            self.parts.append(data)


_WS = re.compile(r"[ \t\r\f\v]+")
_NL = re.compile(r" ?\n[ \n]*")


def _extract_one(html: str) -> tuple[str, str, int]:
    p = _Extractor()
    try:
        p.feed(html)
        p.close()
    except Exception:
        # HTMLParser is tolerant; a hard parser error yields what was
        # accumulated before it (never poisons the batch)
        pass
    raw = _WS.sub(" ", "".join(p.parts))
    text = _NL.sub("\n", raw).strip()
    title = _WS.sub(" ", " ".join(p.title_parts)).strip()
    return title, text, p.n_links


def extract_html(df: DataFrame, id_col: str, html_col: str) -> DataFrame:
    """(id, title, text, n_links, n_chars) from an HTML payload column
    (string or binary utf-8). One parse per page via a single
    struct-returning Arrow UDF; shuffle-free."""

    @F.pandas_udf("struct<title:string, text:string, n_links:int>")
    def ext(pages: pd.Series) -> pd.DataFrame:
        release_zip_finders()
        rows = []
        for h in pages:
            if h is None:
                rows.append(("", "", 0))
                continue
            if isinstance(h, (bytes, bytearray)):
                h = h.decode("utf-8", errors="replace")
            rows.append(_extract_one(h))
        return pd.DataFrame(rows, columns=["title", "text", "n_links"])

    out = df.select(F.col(id_col).alias("id"), ext(F.col(html_col)).alias("__e"))
    return out.select(
        "id",
        F.col("__e.title").alias("title"),
        F.col("__e.text").alias("text"),
        F.col("__e.n_links").alias("n_links"),
        F.length("__e.text").cast("int").alias("n_chars"),
    )
