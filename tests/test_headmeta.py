"""HTML head-metadata extraction (operators/headmeta.py).

The battery row (`head_metadata`) pins the render→extract round-trip
against DuckDB at corpus scale; here: structural edges — conflicting
canonicals, rel token lists, body decoys, missing </head>, quote-style
and case variety, robots 'none' shorthand.
"""

from __future__ import annotations

from web_scraper_spark.operators.headmeta import parse_head_meta

FULL = """<html lang="en-GB"><head>
<meta charset="utf-8">
<title>
  Padded Title
</title>
<base href="https://w.example.com/base/">
<link rel="canonical" href="https://w.example.com/one">
<link rel="canonical" href="https://w.example.com/two">
<link rel="next" href="https://w.example.com/p?page=2">
<link rel="previous" href="https://w.example.com/p?page=0">
<link rel="stylesheet alternate" title="dark" href="/dark.css">
<link rel="alternate" hreflang="TR" href="https://w.example.com/tr">
<link rel="alternate" hreflang="en" href="https://w.example.com/en">
<link rel="alternate" type="application/atom+xml" href="https://w.example.com/atom.xml">
<link rel="ALTERNATE" type="application/rss+xml" href="https://w.example.com/rss.xml">
<meta name="ROBOTS" content="NOINDEX">
<meta name="description" content="A description">
<meta property="og:title" content="OG title">
<meta property="og:image" content="https://w.example.com/i.png">
</head><body>
<link rel="canonical" href="https://w.example.com/body-decoy">
<meta property="og:title" content="body og decoy">
</body></html>"""


def _one(spark, html, url="https://w.example.com/p"):
    df = spark.createDataFrame([(url, html)], "url string, html string")
    return parse_head_meta(df).collect()[0]


def test_full_head(spark):
    r = _one(spark, FULL)
    assert r["title"] == "Padded Title"
    assert r["lang"] == "en-gb"
    assert r["base_href"] == "https://w.example.com/base/"
    # first canonical wins; body decoy never reached
    assert r["canonical"] == "https://w.example.com/one"
    assert r["next_href"] == "https://w.example.com/p?page=2"
    # 'previous' accepted as rel=prev alias
    assert r["prev_href"] == "https://w.example.com/p?page=0"
    assert r["meta_description"] == "A description"
    assert r["og_title"] == "OG title"
    assert r["og_image"] == "https://w.example.com/i.png"
    assert r["og_type"] is None
    assert r["robots_noindex"] is True and r["robots_nofollow"] is False
    # hreflang sorted, lang lowered; stylesheet-alternate has no hreflang
    assert [(s["lang"], s["href"]) for s in r["hreflang"]] == [
        ("en", "https://w.example.com/en"),
        ("tr", "https://w.example.com/tr"),
    ]
    assert r["feed_hrefs"] == [
        "https://w.example.com/atom.xml",
        "https://w.example.com/rss.xml",
    ]


def test_robots_none_and_token_lists(spark):
    r = _one(spark, "<head><meta content='none' name='robots'></head>")
    assert r["robots_noindex"] is True and r["robots_nofollow"] is True
    # rel is a token LIST: 'alternate nofollow' still counts as alternate
    r2 = _one(
        spark,
        '<head><link rel="nofollow alternate" hreflang="de" href="/de"></head>',
    )
    assert [(s["lang"], s["href"]) for s in r2["hreflang"]] == [("de", "/de")]


def test_headless_fragment_and_unquoted(spark):
    # no </head>: the whole body is scanned (top-of-page metas count)
    r = _one(spark, '<meta name=description content=short><link rel=canonical href=/c>')
    assert r["meta_description"] == "short"
    assert r["canonical"] == "/c"
    assert r["title"] is None and r["hreflang"] == [] and r["feed_hrefs"] == []


def test_empty_and_garbage(spark):
    r = _one(spark, "")
    assert r["canonical"] is None and r["robots_noindex"] is False
    r2 = _one(spark, "plain text, no tags at all")
    assert r2["title"] is None and r2["og_title"] is None


def test_link_header_entries(spark):
    from pyspark.sql import functions as F

    from web_scraper_spark.functions.http_headers import link_header_entries

    rows = [
        ('</p?page=2>; rel="next", <https://c.example.com/x>; rel=canonical',),
        ('<https://a/b>; rel="next prefetch"; title="a, b", <https://no-rel>; type="text/html"',),
        ("not a link header",),
        (None,),
    ]
    df = spark.createDataFrame(rows, "h string")
    out = [r["e"] for r in df.select(link_header_entries(F.col("h")).alias("e")).collect()]
    assert [(s["href"], s["rel"]) for s in out[0]] == [
        ("/p?page=2", "next"),
        ("https://c.example.com/x", "canonical"),
    ]
    # rel token list explodes; quoted comma does not split; no-rel dropped
    assert [(s["href"], s["rel"]) for s in out[1]] == [
        ("https://a/b", "next"),
        ("https://a/b", "prefetch"),
    ]
    assert out[2] == [] and out[3] is None


def test_duplicate_url_rows_merge_by_value(spark):
    """Duplicate-url input rows merge by value, not row order: page-level
    scalars take the max, same-position first-wins ties the min."""
    url = "https://w.example.com/p"
    rows = [
        (url, '<html lang="de"><head><title>B title</title>'
              '<link rel="canonical" href="https://w.example.com/z"></head>'),
        (url, '<html lang="fr"><head><title>A title</title>'
              '<link rel="canonical" href="https://w.example.com/a"></head>'),
    ]
    for ordered in (rows, rows[::-1]):
        df = spark.createDataFrame(ordered, "url string, html string")
        out = parse_head_meta(df).collect()
        assert len(out) == 1
        assert (out[0]["title"], out[0]["lang"]) == ("B title", "fr")
        assert out[0]["canonical"] == "https://w.example.com/a"
