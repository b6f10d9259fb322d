"""Output checks: every round the engine commits is compared with the
sequential oracle (``oracle.crawler.OracleCrawler``) on the same world.

The oracle's per-round result is computed once per (workload, seed,
size) and cached as JSON next to the world. A round passes when the
engine has

- the same fetch-log rows ``(url, host, status)`` — which pins the
  URL-seen set, since a URL enters it exactly when it is logged
  ``success`` or ``empty``, and that no URL is fetched twice;
- the same per-host fetch order (engine rows sorted by their stored
  priority key against the oracle's selection order);
- a byte-identical ``text`` per extracted URL (compared by SHA-1);
- the same round counts (selected / success / empty / error /
  discovered).
"""

from __future__ import annotations

import hashlib
import json
import os

from pyspark.sql import functions as F

from web_scraper_spark.oracle.crawler import OracleCrawler
from web_scraper_spark.operators.priority import PRIORITY_COLS

__all__ = ["write_oracle_rounds", "read_oracle_rounds", "check_round", "STAT_KEYS"]

STAT_KEYS = ("selected", "success", "empty", "error", "discovered")


def write_oracle_rounds(world, spec, n_rounds: int, path: str) -> None:
    """Run the oracle for rounds 1..n_rounds and store what each round
    must produce as JSON at ``path``."""
    oracle = OracleCrawler(world, spec)
    out: dict[int, dict] = {}
    for r in range(1, n_rounds + 1):
        n_log = len(oracle.fetch_log)
        stats = oracle.run_round(r)
        text = {}
        for url, ext in oracle.extractions.items():
            if ext["round_id"] == r and "text" in ext:
                text[url] = hashlib.sha1(ext.pop("text").encode("utf-8")).hexdigest()
        out[r] = {
            "log": [[e["url"], e["host"], e["status"]] for e in oracle.fetch_log[n_log:]],
            "text": text,
            "stats": {k: stats[k] for k in STAT_KEYS},
        }
    tmp = path + ".tmp"
    with open(tmp, "w") as f:
        json.dump(out, f)
    os.replace(tmp, path)


def read_oracle_rounds(path: str) -> dict[int, dict]:
    with open(path) as f:
        return {int(k): v for k, v in json.load(f).items()}


def _host_order(rows: list[tuple[str, str, str]]) -> dict[str, list[str]]:
    order: dict[str, list[str]] = {}
    for url, host, status in rows:
        if status != "robots":
            order.setdefault(host, []).append(url)
    return order


def check_round(catalog, round_id: int, stats: dict, expected: dict) -> list[str]:
    """Problems found in the engine's committed ``round_id`` (empty = ok)."""
    problems = []
    for k in STAT_KEYS:
        if stats.get(k) != expected["stats"][k]:
            problems.append(f"{k}: engine {stats.get(k)} oracle {expected['stats'][k]}")

    prio = [c for c in PRIORITY_COLS if c != "url"]
    log = (
        catalog.read_log("fetch_log")
        .filter(F.col("round_id") == round_id)
        .select("url", "host", "status", *prio)
        .collect()
    )
    got = sorted(log, key=lambda r: (*[r[c] for c in prio], r["url"]))
    got_rows = [(r["url"], r["host"], r["status"]) for r in got]
    want_rows = [tuple(e) for e in expected["log"]]
    if sorted(got_rows) != sorted(want_rows):
        missing = set(want_rows) - set(got_rows)
        extra = set(got_rows) - set(want_rows)
        problems.append(
            f"fetch log differs: {len(missing)} missing, {len(extra)} extra"
            f" (e.g. {sorted(missing)[:1]} / {sorted(extra)[:1]})"
        )
    elif _host_order(got_rows) != _host_order(want_rows):
        problems.append("per-host fetch order differs")

    text = dict(
        catalog.read_log("extractions")
        .filter(F.col("round_id") == round_id)
        .select("url", F.sha1(F.col("text")).alias("h"))
        .collect()
    )
    if text != expected["text"]:
        bad = sum(1 for u, h in expected["text"].items() if text.get(u) != h)
        problems.append(
            f"extracted text differs on {bad} URLs"
            f" ({len(text)} engine vs {len(expected['text'])} oracle rows)"
        )
    return problems
