"""Seeded crawl worlds for the benchmark workloads.

Each world is a pure function of ``(shape, seed)``: the same seed gives
the same seeds/robots/pages tables byte for byte. Worlds are built in
plain Python so the sequential oracle (``oracle.crawler.OracleCrawler``)
runs on exactly the rows the engine reads; the engine itself only ever
sees the parquet files written here.

Two shapes:

- ``bench_world``: the ``benchkit/genworld.py`` shape. Hosts x yachts x
  28 weekly periods of task URLs, full-weight pages (~19 KB of prose
  around the 16-field table), a next-period outlink and a robots-blocked
  outlink per page, 4 % missing pages (timeout path) and 3 % error pages.
- ``link_growth``: a web-like world. The same seed tasks, plus
  ``items_per_host`` item pages per host that are in the pages table but
  not in the frontier. Every page is light (~1.5 KB) and carries 16
  outlinks: 13 same-host items, one dirty variant of a known URL, one
  cross-host item and one robots-blocked link. The global budget binds,
  so the frontier grows several-fold as the crawl proceeds.

Pages are written as a fixed 64-file table (genworld's layout), so the
scan parallelism of the measuring session never depends on the session
that generated the world.
"""

from __future__ import annotations

import os
import random
from dataclasses import dataclass
from datetime import datetime, timedelta

import pyarrow as pa
import pyarrow.parquet as pq

from web_scraper_spark.sources.fixtures import (
    FIELDS,
    FixtureConfig,
    PolitenessSpec,
    World,
    generate_weekly_dates,
)
from web_scraper_spark.oracle.pyurl import canonicalize_url_py

__all__ = ["SHAPES", "WorldShape", "build_world", "write_world", "xxhash64", "PAGE_FILES"]

PAGE_FILES = 64
ERROR_MARKER = "<!--STATUS:500-->"  # operators.extract.ERROR_MARKER
ERROR_HTML = ERROR_MARKER + "<html><body>Server Error</body></html>"
_EPOCH = datetime(2025, 4, 1)


@dataclass(frozen=True)
class WorldShape:
    name: str
    hosts: int
    yachts_per_host: int
    items_per_host: int  # non-seed pages reachable only through outlinks
    full_weight: bool  # ~19 KB prose pages vs ~1.5 KB light pages
    global_budget: int  # URLs selected per round (binds in both shapes)
    missing_frac: float
    error_frac: float

    def spec(self) -> PolitenessSpec:
        # one virtual day per round: the per-host budget (2,880 or 5,760)
        # never binds, the global budget does
        return PolitenessSpec(
            round_seconds=86400,
            global_batch_urls=self.global_budget,
            global_pause_s=86400,
        )

    def key(self) -> str:
        return (
            f"h{self.hosts}y{self.yachts_per_host}i{self.items_per_host}"
            f"{'f' if self.full_weight else 'l'}b{self.global_budget}"
        )


SHAPES = {
    "bench_world": WorldShape(
        "bench_world", hosts=8, yachts_per_host=8, items_per_host=0,
        full_weight=True, global_budget=448,
        missing_frac=0.04, error_frac=0.03,
    ),
    "link_growth": WorldShape(
        "link_growth", hosts=12, yachts_per_host=4, items_per_host=800,
        full_weight=False, global_budget=400,
        missing_frac=0.02, error_frac=0.02,
    ),
}


def _task_url(host: str, yacht_id: str, p_from: str, p_to: str) -> str:
    d_from, d_to = p_from[:10], p_to[:10]
    return (
        f"https://{host}/yacht/{yacht_id}/period/{d_from}"
        f"?period_to={d_to}&period_from={d_from}"
    )


def _dirty(url: str, rng: random.Random) -> str:
    """An equivalent spelling of ``url`` (upper-case host, explicit :443,
    fragment or reversed query) that canonicalizes back to it."""
    scheme, rest = url.split("://", 1)
    host, tail = rest.split("/", 1)
    choice = rng.randrange(4)
    if choice == 0:
        return f"{scheme}://{host.upper()}/{tail}"
    if choice == 1:
        return f"{scheme}://{host}:443/{tail}"
    if choice == 2 or "?" not in tail:
        return f"{scheme}://{host}/{tail}#s{rng.randrange(10)}"
    path, q = tail.split("?", 1)
    return f"{scheme}://{host}/{path}?{'&'.join(reversed(q.split('&')))}"


def _render(title: str, fields: dict[str, str], links: list[str], prose: str) -> str:
    rows = "\n".join(
        f'<tr><td class="label">{k}</td><td>'
        f'<span id="yachtReservationDialogForm:tabView:{k}">{fields[k]}</span>'
        "</td></tr>"
        for k in FIELDS
    )
    anchors = "\n".join(f'<a href="{u}">{i}</a>' for i, u in enumerate(links))
    return (
        f"<html><head><title>{title}</title></head><body>\n"
        f'<div class="prose">\n{prose}</div>\n'
        f'<div id="yachtReservationDialogForm"><table><tbody>\n{rows}\n'
        f'</tbody></table></div>\n<div class="outlinks">\n{anchors}\n</div>\n'
        "</body></html>"
    )


def _prose(rng: random.Random, full: bool) -> str:
    if not full:
        return ""
    return "".join(
        f"<p>Lorem charter fleet availability notes segment {i} with berth and "
        "skipper manifest entries recorded for audit trail purposes. "
        f"{rng.randrange(10_000_000)}</p>\n"
        for i in range(120)
    )


def build_world(shape: WorldShape, seed: int) -> World:
    """The world of ``shape`` for ``seed`` (deterministic)."""
    rng = random.Random(f"{shape.name}:{seed}")
    periods = generate_weekly_dates()
    hosts = [f"charter{h:05d}.example.com" for h in range(shape.hosts)]
    seeds, robots, tasks, pages = [], [], [], []
    # per host: every URL a link may point at (task + item URLs)
    known: dict[str, list[str]] = {}

    for rank, host in enumerate(hosts):
        comp = f"comp{rank:05d}"
        ids = rng.sample(range(10_000_000, 90_000_000), shape.yachts_per_host)
        yachts = {f"yacht_{comp}_{j:03d}": str(y) for j, y in enumerate(ids)}
        seeds.append({
            "competitor_name": comp, "host": host, "yacht_ids": yachts,
            "params": {"currency": "EUR"}, "seed_rank": rank,
        })
        robots.append({
            "host": host, "disallow": ["/private", "/admin"],
            "crawl_delay_s": 30 if rank % 2 == 0 else 15,
        })
        for y_rank, (y_name, y_id) in enumerate(yachts.items()):
            for p_idx, (p_from, p_to) in enumerate(periods):
                tasks.append({
                    "url": _task_url(host, y_id, p_from, p_to), "host": host,
                    "competitor": comp, "yacht_id": y_id, "yacht_name": y_name,
                    "seed_rank": rank, "yacht_rank": y_rank, "period_idx": p_idx,
                    "period_from": p_from, "period_to": p_to, "depth": 0,
                })
        known[host] = [t["url"] for t in tasks if t["host"] == host] + [
            f"https://{host}/item/{k:05d}" for k in range(shape.items_per_host)
        ]

    def links_for(host: str, url: str, next_url: str | None) -> list[str]:
        blocked = f"https://{host}/private/{abs(hash_str(url)) % 100_000}"
        if not shape.items_per_host:
            return ([next_url] if next_url else []) + [blocked]
        items = known[host][-shape.items_per_host:]
        other = hosts[rng.randrange(len(hosts))]
        out = [items[rng.randrange(len(items))] for _ in range(13)]
        out.append(_dirty(known[host][rng.randrange(len(known[host]))], rng))
        out.append(known[other][-1 - rng.randrange(shape.items_per_host)])
        out.append(blocked)
        return out

    def add_page(url: str, host: str, title: str, links: list[str]) -> None:
        r = rng.random()
        if r < shape.missing_frac:
            return  # no page: the fetch times out
        if r < shape.missing_frac + shape.error_frac:
            html = ERROR_HTML
        else:
            fields = {k: f"v{rng.randrange(100_000)}" for k in FIELDS}
            html = _render(title, fields, links, _prose(rng, shape.full_weight))
        pages.append({
            "url": url,
            "warc_ts": _EPOCH + timedelta(seconds=len(pages)),
            "html": html.encode("utf-8"),
            "text": "",
            "lang": "en",
        })

    by_yacht_period = {(t["host"], t["yacht_id"], t["period_idx"]): t for t in tasks}
    for t in tasks:
        nxt = by_yacht_period.get((t["host"], t["yacht_id"], t["period_idx"] + 1))
        links = links_for(t["host"], t["url"], nxt["url"] if nxt else None)
        add_page(t["url"], t["host"], f"Reservation {t['yacht_id']}", links)
    for host in hosts:
        for url in known[host][len(known[host]) - shape.items_per_host:]:
            add_page(url, host, f"Item {url[-5:]}", links_for(host, url, None))

    return World(
        config=FixtureConfig(seed=seed), seeds=seeds, robots=robots,
        tasks=tasks, pages=pages, periods=periods,
    )


_P1, _P2, _P3 = 11400714785074694791, 14029467366897019727, 1609587929392839161
_P4, _P5, _M = 9650029242287828579, 2870177450012600261, (1 << 64) - 1


def _rotl(x: int, r: int) -> int:
    return ((x << r) | (x >> (64 - r))) & _M


def _round(acc: int, lane: int) -> int:
    return _rotl((acc + lane * _P2) & _M, 31) * _P1 & _M


def xxhash64(s: str, seed: int = 42) -> int:
    """Spark's ``xxhash64`` of a string (XXH64 of its UTF-8 bytes, seed
    42, as a signed long) — the engine's ``url_hash``."""
    data = s.encode("utf-8")
    n, i = len(data), 0
    word = lambda j, w: int.from_bytes(data[j:j + w], "little")  # noqa: E731
    if n >= 32:
        v = [(seed + _P1 + _P2) & _M, (seed + _P2) & _M, seed, (seed - _P1) & _M]
        while i + 32 <= n:
            v = [_round(v[k], word(i + 8 * k, 8)) for k in range(4)]
            i += 32
        h = (_rotl(v[0], 1) + _rotl(v[1], 7) + _rotl(v[2], 12) + _rotl(v[3], 18)) & _M
        for x in v:
            h = ((h ^ _round(0, x)) * _P1 + _P4) & _M
    else:
        h = (seed + _P5) & _M
    h = (h + n) & _M
    while i + 8 <= n:
        h = (_rotl(h ^ _round(0, word(i, 8)), 27) * _P1 + _P4) & _M
        i += 8
    if i + 4 <= n:
        h = (_rotl(h ^ (word(i, 4) * _P1 & _M), 23) * _P2 + _P3) & _M
        i += 4
    while i < n:
        h = _rotl(h ^ (data[i] * _P5 & _M), 11) * _P1 & _M
        i += 1
    h = (h ^ (h >> 33)) * _P2 & _M
    h = (h ^ (h >> 29)) * _P3 & _M
    h ^= h >> 32
    return h - (1 << 64) if h >> 63 else h


def hash_str(s: str) -> int:
    """FNV-1a (Python's ``hash`` is salted per process)."""
    h = 2166136261
    for ch in s.encode():
        h = (h ^ ch) * 16777619 & 0xFFFFFFFF
    return h


def write_world(world: World, out_dir: str) -> dict[str, str]:
    """seeds/robots as one parquet file each; the pages table already
    resolved to its canonical lookup form (the ingest-time
    ``pages_source.resolve_pages`` output: ``url_canon``, ``url_hash``,
    ``page_status``; every URL is emitted once, so no dedup) as
    PAGE_FILES files."""
    os.makedirs(out_dir, exist_ok=True)
    paths = {
        k: os.path.join(out_dir, f"{k}.parquet")
        for k in ("seeds", "robots", "pages_resolved")
    }
    str_map = pa.map_(pa.string(), pa.string())
    pq.write_table(pa.table({
        "competitor_name": [s["competitor_name"] for s in world.seeds],
        "host": [s["host"] for s in world.seeds],
        "yacht_ids": pa.array([list(s["yacht_ids"].items()) for s in world.seeds], str_map),
        "params": pa.array([list(s["params"].items()) for s in world.seeds], str_map),
        "seed_rank": pa.array([s["seed_rank"] for s in world.seeds], pa.int32()),
    }), paths["seeds"])
    pq.write_table(pa.table({
        "host": [r["host"] for r in world.robots],
        "disallow": pa.array([r["disallow"] for r in world.robots], pa.list_(pa.string())),
        "crawl_delay_s": pa.array([r["crawl_delay_s"] for r in world.robots], pa.int32()),
    }), paths["robots"])
    os.makedirs(paths["pages_resolved"], exist_ok=True)
    for f in range(PAGE_FILES):
        part = world.pages[f::PAGE_FILES]
        canon = [canonicalize_url_py(p["url"]) for p in part]
        pq.write_table(pa.table({
            "url": [p["url"] for p in part],
            "warc_ts": pa.array([p["warc_ts"] for p in part], pa.timestamp("us")),
            "html": pa.array([p["html"] for p in part], pa.binary()),
            "text": [p["text"] for p in part],
            "lang": [p["lang"] for p in part],
            "url_canon": canon,
            "url_hash": pa.array([xxhash64(c) for c in canon], pa.int64()),
            "page_status": [
                "error" if p["html"].startswith(ERROR_MARKER.encode()) else "ok"
                for p in part
            ],
        }), os.path.join(paths["pages_resolved"], f"part-{f:05d}.parquet"),
            compression="zstd")
    return paths
