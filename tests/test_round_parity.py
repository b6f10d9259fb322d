"""North-rule parity gates: engine ≡ oracle after N rounds.

- identical URL-seen membership set
- identical per-host crawl ordering (global interleaving free)
- byte-identical extracted text per url (vs oracle AND vs golden pages.text)
- identical frontier states / retry attempts / fetch-log statuses
- politeness budgets never exceeded (per host per round + global)
"""

from __future__ import annotations

from collections import Counter

from pyspark.sql import functions as F


def test_round_counts_match(oracle, engine_run):
    _, _, stats, _ = engine_run
    for o, e in zip(oracle.stats, stats):
        for key in ("selected", "success", "empty", "error", "discovered"):
            assert o[key] == e[key], (key, o, e)


def test_seen_set_identical(oracle, engine_run):
    _, catalog, _, _ = engine_run
    frontier = catalog.read("frontier")
    eng_seen = {
        r.url for r in frontier.filter("state = 'fetched'").select("url").collect()
    }
    assert eng_seen == oracle.seen


def test_per_host_order_identical(oracle, engine_run):
    _, catalog, _, _ = engine_run
    log = catalog.read_log("fetch_log").filter(F.col("status") != "robots")
    rows = log.orderBy(
        "host", "round_id", "depth", "discovery_round", "seed_rank",
        "yacht_rank", "period_idx", "url",
    ).select("host", "url").collect()
    eng_order: dict[str, list[str]] = {}
    for r in rows:
        eng_order.setdefault(r.host, []).append(r.url)
    assert eng_order == oracle.order_per_host


def test_extracted_text_byte_identical(oracle, engine_run, world):
    _, catalog, _, _ = engine_run
    ext = catalog.read_log("extractions").select("url", "text").collect()
    eng_text = {r.url: r.text for r in ext}
    ora_text = {u: e["text"] for u, e in oracle.extractions.items()}
    assert eng_text == ora_text
    # and equal to the golden pages.text column, byte for byte
    from web_scraper_spark.oracle.pyurl import canonicalize_url_py

    golden = {}
    for p in world.pages:
        canon = canonicalize_url_py(p["url"])
        golden[canon] = p["text"]
    for url, text in eng_text.items():
        assert golden[url] == text, url


def test_extraction_details_match(oracle, engine_run):
    _, catalog, _, _ = engine_run
    rows = catalog.read_log("extractions").select("url", "details").collect()
    for r in rows:
        ora = oracle.extractions[r.url]["fields"]
        assert r.details.asDict() == ora, r.url


def test_frontier_states_match(oracle, engine_run):
    _, catalog, _, _ = engine_run
    frontier = catalog.read("frontier")
    eng = {
        r.url: (r.state, r.attempts, r.not_before)
        for r in frontier.select("url", "state", "attempts", "not_before").collect()
    }
    ora = {
        e.url: (e.state, e.attempts, e.not_before)
        for e in oracle.frontier.values()
    }
    assert eng == ora


def test_fetch_log_statuses_match(oracle, engine_run):
    _, catalog, _, _ = engine_run
    log = catalog.read_log("fetch_log")
    eng = Counter(
        (r.round_id, r.host, r.status)
        for r in log.select("round_id", "host", "status").collect()
    )
    ora = Counter((l["round_id"], l["host"], l["status"]) for l in oracle.fetch_log)
    assert eng == ora


def test_politeness_never_exceeded(engine_run, world):
    _, catalog, _, _ = engine_run
    spec = world.config.politeness
    delays = {r["host"]: r["crawl_delay_s"] for r in world.robots}
    log = catalog.read_log("fetch_log").filter(F.col("status") != "robots")
    per_host_round = (
        log.groupBy("round_id", "host").agg(F.count("*").alias("n")).collect()
    )
    for r in per_host_round:
        budget = spec.host_budget(delays.get(r.host, spec.default_crawl_delay_s))
        assert r.n <= budget, (r.host, r.round_id, r.n, budget)
    per_round = log.groupBy("round_id").agg(F.count("*").alias("n")).collect()
    for r in per_round:
        assert r.n <= spec.global_budget


def test_robots_blocked_permanently(oracle, engine_run):
    _, catalog, _, _ = engine_run
    frontier = catalog.read("frontier")
    eng_blocked = {
        r.url for r in frontier.filter("state='robots_blocked'").select("url").collect()
    }
    ora_blocked = {
        e.url for e in oracle.frontier.values() if e.state == "robots_blocked"
    }
    assert eng_blocked == ora_blocked
    assert all("/private" in u or "/admin" in u for u in eng_blocked)
    # blocked urls are never fetched
    log = catalog.read_log("fetch_log").filter(F.col("status") != "robots")
    fetched_urls = {r.url for r in log.select("url").collect()}
    assert not (eng_blocked & fetched_urls)


def test_discoveries_enter_frontier_at_depth_1(oracle, engine_run):
    _, catalog, _, _ = engine_run
    frontier = catalog.read("frontier")
    eng_d1 = {r.url for r in frontier.filter("depth = 1").select("url").collect()}
    ora_d1 = {e.url for e in oracle.frontier.values() if e.depth == 1}
    assert eng_d1 == ora_d1
    assert len(eng_d1) > 0

