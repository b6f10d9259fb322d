"""Microbenchmark: higher-order-function lambdas vs explode+codegen.

Pins the ISOLATED penalty behind the round-5 rewrite of
operators/headmeta.py — the hreflang edge extraction (tag array ->
alternate/hreflang/href attributes) expressed two ways:

- ``hof``: the pre-rewrite hreflang column verbatim — per-element
  lambdas (``F.transform``/``F.filter``/``F.array_sort`` comparator)
  over the tag array. Higher-order functions evaluate on Catalyst's
  interpreted expression path.
- ``explode``: ``explode`` the tag array into rows, plain
  ``regexp_extract`` columns (whole-stage codegen), filter. One narrow
  shuffle-free pass; the aggregation back to page grain is not part of
  this probe (the battery query needs edges, not arrays).

Both run the SAME regex set over the SAME synthetic pages at 1 and P
partitions on local[P]; the JSON reports per-variant wall times and
intra-executor scaling. Round-5 box: HOF ~1.4x slower per row for this
single column. The FULL old parse was worse than this isolated probe
shows (~7x vs the rewrite, 4.5-5.7 s -> 0.65-0.75 s per sf0.1 pass on
32 cores): its first-wins helpers repeated whole transform subtrees,
and neither subexpression elimination nor column pruning reaches
through lambda boundaries, so the duplicated lambda work was all paid.
That compounding, not the per-row penalty alone, is why
parse_head_meta is explode-shaped.

    python benchkit/hof_scaling.py --rows 100000 --cpus 32
"""

from __future__ import annotations

import argparse
import json
import time

from pyspark.sql import SparkSession
from pyspark.sql import functions as F


def _attr(tag, name):
    dq = F.regexp_extract(tag, rf'(?i)\b{name}\s*=\s*"([^"]*)"', 1)
    sq = F.regexp_extract(tag, rf"(?i)\b{name}\s*=\s*'([^']*)'", 1)
    uq = F.regexp_extract(tag, rf"(?i)\b{name}\s*=\s*([^\s\"'>]+)", 1)
    return F.when(dq != "", dq).when(sq != "", sq).when(uq != "", uq)


def _pages(spark, rows):
    e = F.col("id")
    base = e - e % 4
    site = F.concat(F.lit("https://t"), (base % 7).cast("string"), F.lit(".example.com"))
    gs = base.cast("string")

    def alt(lg):
        return F.concat(
            F.lit('<link rel="alternate" hreflang="'), F.lit(lg),
            F.lit('" href="'), site, F.lit("/"), F.lit(lg), F.lit("/g"), gs,
            F.lit('">\n'),
        )

    links = F.when(e % 4 == 2, alt("en")).otherwise(
        F.concat(alt("de"), alt("en"), alt("fr"), alt("tr"))
    )
    html = F.concat(
        F.lit("<html><head><title>T</title>\n"), links,
        F.lit("</head><body>t</body></html>"),
    )
    url = F.concat(site, F.lit("/p"), e.cast("string"))
    return spark.range(rows).select(url.alias("url"), html.alias("html"))


_TAGS = r"(?is)<link\b[^>]*>"


def _edges_hof(pages):
    # the pre-rewrite parse_head_meta hreflang column, verbatim shape:
    # transform -> struct(lang, href) -> filter on struct fields ->
    # array_sort (comparator lambda), then explode to edges
    tags = F.regexp_extract_all(F.col("html"), F.lit(_TAGS), F.lit(0))

    def rel_has(t, token):
        rel = F.coalesce(_attr(t, "rel"), F.lit(""))
        return F.array_contains(F.split(F.trim(F.lower(rel)), r"\s+"), token)

    arr = F.array_sort(
        F.filter(
            F.transform(
                tags,
                lambda t: F.when(
                    rel_has(t, "alternate") & _attr(t, "hreflang").isNotNull(),
                    F.struct(
                        F.lower(_attr(t, "hreflang")).alias("lang"),
                        _attr(t, "href").alias("href"),
                    ),
                ),
            ),
            lambda s: s.isNotNull() & s["href"].isNotNull(),
        )
    )
    return pages.select("url", F.explode(arr).alias("a")).select(
        "url", F.col("a.href").alias("dst")
    )


def _edges_explode(pages):
    t = pages.select(
        "url",
        F.explode(F.regexp_extract_all(F.col("html"), F.lit(_TAGS), F.lit(0))).alias(
            "t"
        ),
    )
    rel = F.coalesce(_attr(F.col("t"), "rel"), F.lit(""))
    rel_ok = F.array_contains(F.split(F.trim(F.lower(rel)), r"\s+"), "alternate")
    return (
        t.withColumn("hl", F.lower(_attr(F.col("t"), "hreflang")))
        .withColumn("dst", _attr(F.col("t"), "href"))
        .filter(rel_ok & F.col("hl").isNotNull() & F.col("dst").isNotNull())
        .select("url", "dst")
    )


def _at_least_one(value: str) -> int:
    n = int(value)
    if n < 1:
        raise argparse.ArgumentTypeError(f"must be >= 1, got {n}")
    return n


def parse_args(argv=None) -> argparse.Namespace:
    ap = argparse.ArgumentParser()
    ap.add_argument("--rows", type=_at_least_one, default=100_000)
    ap.add_argument("--cpus", type=_at_least_one, default=32)
    # best-of-N needs at least one timed trial
    ap.add_argument("--trials", type=_at_least_one, default=3)
    return ap.parse_args(argv)


def main(argv=None):
    args = parse_args(argv)

    spark = (
        SparkSession.builder.master(f"local[{args.cpus}]")
        .config("spark.sql.shuffle.partitions", str(args.cpus))
        .config("spark.driver.memory", "16g")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    out = {"rows": args.rows, "cpus": args.cpus, "variants": {}}
    for name, fn in (("hof", _edges_hof), ("explode", _edges_explode)):
        for nparts in (1, args.cpus):
            pages = _pages(spark, args.rows)
            pages = pages.repartition(nparts) if nparts > 1 else pages.coalesce(1)
            best = None
            for _ in range(args.trials):
                t0 = time.time()
                n = fn(pages).count()
                dt = time.time() - t0
                best = dt if best is None else min(best, dt)
            out["variants"][f"{name}_p{nparts}"] = {"best_s": round(best, 3), "edges": n}
    for name in ("hof", "explode"):
        s1 = out["variants"][f"{name}_p1"]["best_s"]
        sp = out["variants"][f"{name}_p{args.cpus}"]["best_s"]
        out["variants"][name + "_speedup"] = round(s1 / sp, 2)
    print(json.dumps(out))
    spark.stop()


if __name__ == "__main__":
    main()
