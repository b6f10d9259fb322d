"""Dump formatted physical plans of headline queries → PLANS.md.

Evidence artifact: shows filter pushdown, column pruning, broadcast
joins, WindowGroupLimit, and the Arrow extraction stage in the actual
optimized plans (what tests/test_plans.py asserts mechanically).
"""

from __future__ import annotations

import io
import os
import sys
from contextlib import redirect_stdout

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

HEADLINE = [
    ("politeness_budget", "per-host budget → WindowGroupLimit (partial/final), single shuffle"),
    ("seen_antijoin", "URL-seen dedup → hash LeftAnti join"),
    ("pricing_summary", "date filter pushed to scan, unused columns pruned"),
    ("top_revenue_orders", "selective dim broadcast, ordered top-k"),
    ("cosine_topk", "broadcast query vectors, JVM-side dot products, windowed rank"),
    ("dedup_lsh_pairs", "shingle explode → map-side-combined min-agg → band equi-join"),
    ("dedup_embedding_neardup", "multi-band bucket equi-join gate — no CartesianProduct / BroadcastNestedLoopJoin"),
    ("ann_ivf_topk", "1-row centroid-array broadcast → in-row argmax assignment → cell equi-join"),
    ("corpus_clean", "one fingerprint shuffle; lang/quality gates fused into the same projection"),
    ("line_dedup", "explode → line-fp hash-aggregate (map-side partial) → broadcastable boilerplate join → one reassembly shuffle; never all-pairs"),
    ("pii_scrub", "pure projection: regexp count+replace fused into one codegen stage, zero shuffle"),
    ("sitemap_parse", "parse stage (post fixture-render aggregate) is a narrow per-row regexp block extraction + explode; data-proportional, zero Python"),
    ("decontaminate", "eval shingles broadcast; corpus side explode + broadcast semi-join + partial count — corpus never shuffles except doc_id agg"),
    ("revisit_schedule", "one window pass + one hash agg on url key; engine uses the shuffle-free incremental stats form"),
    ("host_pagerank", "per-iteration: host-graph equi-join + in-neighbor agg, 1-row dangling scalar; host cardinality, never page corpus"),
    ("dedup_components", "min-label propagation: per-iteration edge equi-join + min-agg on node id, lineage checkpoint-broken; edge-proportional"),
    ("mixture_sample", "source stats agg → domain-sized rate table broadcast → scan-local md5 accept filter"),
    ("span_dedup", "in-row window hashing (no explode) → hash group min-owner → explode only dup instances → anti-join reassembly"),
    ("robots_wildcard", "rules compiled once on broadcast side; per-candidate longest-match fold — plain prefixes regex-free"),
    ("registrable_domain", "PSL rule table as one literal array; in-row suffix fold — no join, no shuffle"),
    ("warc_roundtrip", "parse stage is one Arrow mapInPandas over file blobs; record walk is Content-Length-driven"),
    ("text_normalize", "NFC/accent via vectorized pandas_udf; lowercase + ws collapse stay in the same codegen projection"),
    ("adaptive_backoff", "one hash agg over the fetch log → host-sized projection; no shuffle past the stats table"),
    ("feed_parse", "parse stage (post fixture-render aggregate) is a narrow regexp block pull + explode + two try_to_timestamp grammars — zero Python, data-proportional"),
    ("sitemap_hints", "changefreq/priority validation riding the native-regex sitemap explode — token whitelist + range gate, no Python"),
    ("doc_entropy", "one Arrow mapInPandas pass for histogram+deflate signals — no per-char explode, no shuffle"),
    ("head_metadata", "tag explode → per-tag codegen regex attrs → one map-side-combinable groupBy (attr strings only, never HTML) — zero Python, HOF-free hot path"),
    ("jsonld_extract", "regex block pull + posexplode + get_json_object projections in one narrow stage; only the small JSON blocks survive the HTML scan"),
    ("pagination_chains", "predecessor inversion = one hash agg; then early-stopping pointer-doubling equi-joins (log2 of the actual longest chain) + one chain-length agg — never a row-at-a-time walk"),
    ("hreflang_clusters", "hreflang explode → min-label components (iter 1 fused into init, 2-shuffle rounds on a dst-partitioned edge cache) → size via count window"),
    ("mirror_hosts", "distinct (fp,host) agg → boilerplate cap drops >8-host fingerprints (bounds the pair join to C(8,2)/fp — the skew guard) → pair count + two size joins"),
    ("link_header_parse", "link-value pull + per-value attr regex + rel-token explode, all in one narrow codegen stage"),
]


def main() -> int:
    import __spark_entry__ as entry_mod
    from web_scraper_spark.session import get_spark

    spark = get_spark(master="local[4]", shuffle_partitions=4, app_name="plans")
    qs = entry_mod.queries()
    out = ["# PLANS.md — formatted physical plans of headline operators",
           "", "Generated by `python tools/dump_plans.py` (sf0.001 input; plan",
           "shapes are scale-independent).", ""]
    for name, why in HEADLINE:
        df = qs[name](spark, "/root/testdata/sf0.001")
        buf = io.StringIO()
        with redirect_stdout(buf):
            df.explain("formatted")
        out += [f"## {name}", "", f"*Why this plan is right: {why}*", "",
                "```", buf.getvalue().strip(), "```", ""]
    with open(os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "PLANS.md"), "w") as f:
        f.write("\n".join(out))
    print("wrote PLANS.md")
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
