"""HTML head-metadata extraction: canonical, hreflang, OpenGraph,
meta-robots, pagination hints, feed autodiscovery.

The reference never reads <head> metadata (its Selenium driver renders
pages whole, src/core/tracker/base_tracker.py); a corpus-scale crawler
must, because the head is where pages declare identity: canonical URLs
(operators/redirects.py:collapse_canonical), ``hreflang`` clusters
(operators/translations.py), pagination chains
(operators/pagination.py), robots meta directives, and feed
autodiscovery links (operators/feeds.py). One pass extracts the whole
vocabulary.

Execution shape — explode + codegen regex + ONE aggregation:

1. Per page (no shuffle): clip everything before ``</head>``, pull the
   page-level regexes (title, <html lang>, <base href>), and
   ``regexp_extract_all`` the raw ``<link>``/``<meta>`` tag strings
   into one document-ordered array.
2. ``posexplode_outer`` the tag array into a tag table and extract
   each attribute (rel/href/hreflang/type, name/property/content) with
   plain ``regexp_extract`` columns. Every expression here is
   whole-stage-codegen'd, so the regex work runs thread-local on the
   executor cores.
3. One ``groupBy(url)`` reassembles the page row: document-order
   first-wins via ``min(struct(pos, value))``, arrays via
   ``collect_list`` + ``array_sort``.

Why not per-element lambdas (``F.transform``/``F.filter``) over the
tag array — the zero-shuffle alternative this replaced? Higher-order
functions evaluate on the interpreted expression path (~1.4x per row
for the attribute regexes alone, benchkit/hof_scaling.py), and the
lambda-shaped formulation compounds that: the first-wins helper and
the array filters repeat whole transform subtrees that neither
common-subexpression elimination nor column pruning can reach through
lambda boundaries. Measured on the same sf0.1 input on local[32],
the old formulation ran 4.5-5.7 s per pass on 32 cores vs 0.65-0.75 s
for this explode shape (~7x). The one groupBy shuffle moves only
extracted attribute strings (tens of bytes/tag), never the HTML, so
at corpus scale it is noise next to the scan; first-wins and array
results are map-side combinable.

Output is one row per distinct ``url`` (the page key of every table
this engine feeds). Within one page row, tag-level fields are
first-wins by document position. Duplicate-url input rows merge by
value, not by row order: the page-level scalars (``title``, ``lang``,
``base_href``) take the greatest non-NULL value (``max``), and since
tag positions restart in every row, a first-wins tie between rows at
the same position goes to the smaller value.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

__all__ = ["parse_head_meta"]

# Everything up to </head>; a page with no </head> contributes its whole
# body (head-less fragments still often carry meta tags up top).
_HEAD_RE = r"(?is)^(.*?)</head>"
_TAG_LINK_RE = r"(?is)<link\b[^>]*>"
_TAG_META_RE = r"(?is)<meta\b[^>]*>"
_TITLE_RE = r"(?is)<title[^>]*>\s*(.*?)\s*</title>"
_HTML_LANG_RE = r'(?is)<html\b[^>]*\blang\s*=\s*["\']?([A-Za-z0-9-]+)'
_BASE_RE = r'(?is)<base\b[^>]*\bhref\s*=\s*["\']([^"\']*)'


def _attr(tag: Column, name: str) -> Column:
    """Attribute value from a single tag, either quote style, NULL when
    absent. Case-insensitive attribute names (HTML is)."""
    dq = F.regexp_extract(tag, rf'(?i)\b{name}\s*=\s*"([^"]*)"', 1)
    sq = F.regexp_extract(tag, rf"(?i)\b{name}\s*=\s*'([^']*)'", 1)
    uq = F.regexp_extract(tag, rf"(?i)\b{name}\s*=\s*([^\s\"'>]+)", 1)
    return F.when(dq != "", dq).when(sq != "", sq).when(uq != "", uq)


def _rel_has(rel_tokens: Column, token: str) -> Column:
    return F.array_contains(rel_tokens, token)


def _first_by_pos(cond: Column, val: Column) -> Column:
    """Aggregate: document-order first non-null ``val`` where ``cond``.

    min over struct(pos, val) — struct ordering compares ``pos`` first,
    and `min` skips the NULL structs the `when` leaves elsewhere.
    """
    return F.min(
        F.when(
            cond & val.isNotNull(),
            F.struct(F.col("__pos").alias("p"), val.alias("v")),
        )
    )["v"]


def parse_head_meta(
    pages: DataFrame, url_col: str = "url", html_col: str = "html"
) -> DataFrame:
    """One row per page with the standard head-metadata vocabulary.

    Output columns (beyond ``url``):

    - ``title`` — ``<title>`` text, whitespace-trimmed, NULL if absent.
    - ``lang`` — ``<html lang=...>`` attribute.
    - ``base_href`` — ``<base href=...>``.
    - ``canonical`` — first ``<link rel="canonical">`` href (first wins,
      matching browser/search-engine behavior on conflicting hints).
    - ``next_href``/``prev_href`` — pagination hints from
      ``<link rel="next"/"prev">`` (``previous`` accepted as an alias);
      the edges operators/pagination.py reconstructs chains from.
    - ``meta_description`` — ``<meta name="description">`` content.
    - ``og_title``/``og_type``/``og_url``/``og_image`` — OpenGraph
      ``<meta property="og:*">`` content (first of each).
    - ``robots_noindex``/``robots_nofollow`` — token-wise flags from
      ``<meta name="robots">`` content (``none`` implies both, per the
      de-facto standard).
    - ``hreflang`` — array of ``struct(lang, href)`` from
      ``<link rel="alternate" hreflang=...>``, sorted by lang.
    - ``feed_hrefs`` — array of hrefs from feed autodiscovery links
      (``rel=alternate`` with an RSS/Atom MIME type), sorted.

    Rel matching is token-wise and case-insensitive (``rel`` is a
    space-separated token list per the HTML spec). NULL html yields
    NULL arrays; empty html yields empty arrays (matching the
    row-level formulation this replaced).
    """
    body = F.col(html_col)
    head_ext = F.regexp_extract(body, _HEAD_RE, 1)
    head = F.when(head_ext != "", head_ext).otherwise(body)

    title_ext = F.regexp_extract(head, _TITLE_RE, 1)
    lang_ext = F.regexp_extract(head, _HTML_LANG_RE, 1)
    base_ext = F.regexp_extract(head, _BASE_RE, 1)

    base = pages.select(
        F.col(url_col).alias("url"),
        F.when(title_ext != "", title_ext).alias("title"),
        F.when(lang_ext != "", F.lower(lang_ext)).alias("lang"),
        F.when(base_ext != "", base_ext).alias("base_href"),
        body.isNotNull().alias("__has_html"),
        # document order: all link tags, then all meta tags — first-wins
        # below only ever compares positions within one kind, and each
        # kind keeps its in-document order through the concat
        F.concat(
            F.regexp_extract_all(head, F.lit(_TAG_LINK_RE), F.lit(0)),
            F.regexp_extract_all(head, F.lit(_TAG_META_RE), F.lit(0)),
        ).alias("__tags"),
    )

    t = base.select(
        "url",
        "title",
        "lang",
        "base_href",
        "__has_html",
        F.posexplode_outer("__tags").alias("__pos", "__tag"),
    )

    tag = F.col("__tag")
    is_link = F.lower(F.substring(tag, 1, 5)) == "<link"
    is_meta = F.lower(F.substring(tag, 1, 5)) == "<meta"
    rel_tokens = F.split(
        F.trim(F.lower(F.coalesce(_attr(tag, "rel"), F.lit("")))), r"\s+"
    )

    t = t.select(
        "url",
        "title",
        "lang",
        "base_href",
        "__has_html",
        "__pos",
        # link-tag attributes, gated so meta rows skip the regex work
        F.when(is_link, _attr(tag, "href")).alias("__href"),
        F.when(is_link, rel_tokens).alias("__rel"),
        F.when(is_link, F.lower(_attr(tag, "hreflang"))).alias("__hreflang"),
        F.when(is_link, F.lower(F.coalesce(_attr(tag, "type"), F.lit("")))).alias(
            "__type"
        ),
        # meta-tag attributes, same gating the other way
        F.when(is_meta, F.lower(_attr(tag, "name"))).alias("__name"),
        F.when(is_meta, F.lower(_attr(tag, "property"))).alias("__prop"),
        F.when(is_meta, _attr(tag, "content")).alias("__content"),
    )

    rel = F.col("__rel")
    href = F.col("__href")
    content = F.col("__content")

    def meta_named(key: str) -> Column:
        return _first_by_pos(F.col("__name") == key, content)

    def og(prop: str) -> Column:
        return _first_by_pos(F.col("__prop") == prop, content)

    hreflang_elem = F.when(
        rel.isNotNull()
        & _rel_has(rel, "alternate")
        & F.col("__hreflang").isNotNull()
        & href.isNotNull(),
        F.struct(
            F.col("__hreflang").alias("lang"), href.alias("href")
        ),
    )
    feed_elem = F.when(
        rel.isNotNull()
        & _rel_has(rel, "alternate")
        & F.col("__type").rlike(r"application/(rss|atom)\+xml"),
        href,
    )

    agg = t.groupBy("url").agg(
        F.max("title").alias("title"),
        F.max("lang").alias("lang"),
        F.max("base_href").alias("base_href"),
        F.max("__has_html").alias("__has_html"),
        _first_by_pos(rel.isNotNull() & _rel_has(rel, "canonical"), href).alias(
            "canonical"
        ),
        _first_by_pos(rel.isNotNull() & _rel_has(rel, "next"), href).alias(
            "next_href"
        ),
        _first_by_pos(
            rel.isNotNull() & (_rel_has(rel, "prev") | _rel_has(rel, "previous")),
            href,
        ).alias("prev_href"),
        meta_named("description").alias("meta_description"),
        og("og:title").alias("og_title"),
        og("og:type").alias("og_type"),
        og("og:url").alias("og_url"),
        og("og:image").alias("og_image"),
        meta_named("robots").alias("__robots"),
        F.array_sort(F.collect_list(hreflang_elem)).alias("__hreflang_arr"),
        F.array_sort(F.collect_list(feed_elem)).alias("__feed_arr"),
    )

    robots = F.split(
        F.trim(F.lower(F.coalesce(F.col("__robots"), F.lit("")))), r"\s*,\s*"
    )
    noindex = F.array_contains(robots, "noindex") | F.array_contains(robots, "none")
    nofollow = F.array_contains(robots, "nofollow") | F.array_contains(
        robots, "none"
    )

    return agg.select(
        "url",
        "title",
        "lang",
        "base_href",
        "canonical",
        "next_href",
        "prev_href",
        "meta_description",
        "og_title",
        "og_type",
        "og_url",
        "og_image",
        noindex.alias("robots_noindex"),
        nofollow.alias("robots_nofollow"),
        F.when(F.col("__has_html"), F.col("__hreflang_arr")).alias("hreflang"),
        F.when(F.col("__has_html"), F.col("__feed_arr")).alias("feed_hrefs"),
    )
