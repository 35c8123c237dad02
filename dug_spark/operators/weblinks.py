"""Web link-graph construction: href extraction from raw HTML and the
host edge list that feeds graph.pagerank.

The reference never parses hyperlinks (Dug's inputs are study metadata);
for a Common-Crawl-shaped corpus the link graph is the other first-class
artifact next to the text — host-level PageRank is a standard quality /
crawl-priority signal.

Everything here is pure codegen (decode → regexp_extract_all → explode →
parse_url chains): the corpus never touches Python, and the only wide
operation is the final distinct on (src_host, dst_host) — a
host-pair-cardinality aggregate, dimension-sized next to the corpus,
with map-side partial dedup collapsing the hot pairs first.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

_HREF_PATTERN = r'href="([^"]+)"'


def extract_links(
    df: DataFrame, html_col: str = "html", url_col: str = "url"
) -> DataFrame:
    """(url, href) pairs from raw HTML bytes — strict-UTF-8 decode (the
    corpus invariant; same contract as functions/text.extract_text_udf),
    ``href="..."`` attributes in document order, one row per link.
    Narrow: decode + regexp_extract_all + explode fuse into the scan's
    WholeStageCodegen."""
    hrefs = F.regexp_extract_all(
        F.decode(F.col(html_col), "UTF-8"), F.lit(_HREF_PATTERN), 1
    )
    return df.select(
        F.col(url_col).alias("url"), F.explode(hrefs).alias("href")
    )


def _host_of(col):
    h = F.lower(F.parse_url(col, F.lit("HOST")))
    return F.regexp_replace(h, r"^www\.", "")


def _resolve_dst(src, href):
    """Destination host of an href relative to the source host (RFC 3986
    §3.1 case-insensitive schemes; non-navigational schemes → NULL)."""
    lhref = F.lower(href)
    return (
        F.when(lhref.rlike(r"^https?://"), _host_of(href))
        .when(href.startswith("//"), _host_of(F.concat(F.lit("http:"), href)))
        .when(
            lhref.rlike(r"^(#|mailto:|javascript:|tel:|data:|about:)"),
            F.lit(None).cast("string"),
        )
        .otherwise(src)
    )


def host_edges(
    links: DataFrame,
    url_col: str = "url",
    href_col: str = "href",
    keep_self: bool = False,
) -> DataFrame:
    """Distinct (src_host, dst_host) edges from (url, href) pairs.

    Absolute hrefs (``http(s)://…``) and scheme-relative hrefs (``//…``)
    parse their own host; path-relative hrefs resolve to the source host
    (and are therefore self-edges, dropped unless ``keep_self`` — host
    PageRank conventionally ignores intra-host links).  Fragment-only and
    unparseable hrefs drop out via null hosts."""
    src = _host_of(F.col(url_col))
    # Scheme detection is case-insensitive (RFC 3986 §3.1: schemes are
    # case-insensitive; HTTP://HOST/.. must parse its own host, not fall
    # through to the path-relative branch and become a src self-edge).
    # Non-navigational schemes (mailto:, javascript:, tel:, data:) are
    # not links between pages — NULL, not otherwise(src), so keep_self
    # runs never fabricate self-edges from them.
    dst = _resolve_dst(src, F.col(href_col))
    edges = (
        links.select(src.alias("src_host"), dst.alias("dst_host"))
        .where(F.col("src_host").isNotNull() & F.col("dst_host").isNotNull())
        .where(F.col("src_host") != "")
        .where(F.col("dst_host") != "")
    )
    if not keep_self:
        edges = edges.where(F.col("src_host") != F.col("dst_host"))
    return edges.distinct()
