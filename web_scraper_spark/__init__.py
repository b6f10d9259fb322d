"""web_scraper_spark — a PySpark-native crawl frontier + fetch scheduler.

A from-scratch re-expression (NOT a port) of the crawl semantics of the
reference repo deha388/web-scraper (see /root/repo/SURVEY.md): URL
canonicalization + xxhash64 identity, URL-seen dedup as the exact
discovery anti-join against the frontier keys, per-host politeness
budgets, robots rules, deterministic priority ordering,
retry/backoff state machine, resumable crawl rounds over snapshot-versioned
tables — all as declarative DataFrame plans so Catalyst/Tungsten/AQE pick
the physical strategy.

Layout
------
- ``functions``  : pure Column-expression libraries (URLs, prices, text
  stats, hashing) — no UDFs in the hot path.
- ``operators``  : composable DataFrame->DataFrame operators (seen-filter,
  politeness, priority, robots, retry, dedup, similarity, compare).
- ``sources``    : table catalog (parquet snapshot catalog w/ Iceberg-ready
  abstraction), synthetic fixtures generator, pages source.
- ``plans``      : crawl-round orchestration, checkpoint/resume, round manifests.
- ``oracle``     : pure-Python sequential reference oracle (the parity spec).
"""

__version__ = "0.1.0"
