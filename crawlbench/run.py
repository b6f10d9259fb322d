"""Steady-state crawl-round benchmark.

    python3 crawlbench/run.py --workload bench_world --seed 1 --seconds 5 --trace 0

Run from the repository root. Builds the seeded world (cached), starts
one Spark driver at ``local[<cores>]``, and runs closed-loop crawls in
merge-on-read mode: each crawl initializes the frontier and runs round 1
(set-up), then times round 2, which starts when round 1 has committed.
Every round is checked against the oracle.

``--trace 0`` times the rounds with tracing off and prints the
end-to-end metrics. ``--trace 1`` runs a traced crawl (catalog proxy +
event log + layer replay), then an untraced reference round 2 in a fresh
session on a copy of the traced crawl's set-up state, and prints the
per-layer metrics and the per-round layer table.
The last stdout line is the JSON result; everything the benchmark writes
stays under ``.crawlbench/`` in the repository root.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
import traceback
from datetime import datetime, timezone

from pyspark.sql import functions as F

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".crawlbench")
PERIOD_START, PERIOD_END = "2025-04-12", "2025-10-25"
N_BUCKETS = 4
# Every crawl times one round, round 2: the first with a live seen set
# and bloom probe. A crawl's cold-JVM set-up costs as much as two to
# three rounds, and a run has to stay near a minute so that the tens of
# runs a comparison needs stay affordable, so a second timed round per
# crawl does not fit. Which
# kind round 2 is depends on the workload: bench_world compacts every
# second round, so its round 2 folds round 1's delta into a snapshot;
# link_growth compacts every third, so its round 2 writes a delta.
TIMED_LAST_ROUND = 2
COMPACT_EVERY = {"bench_world": 2, "link_growth": 3}
DRIVER_MEM = "2g"
NO_NEW_CRAWL_AFTER_S = 60.0  # since process start
# a traced run skips its reference round (~35-50 s with its session
# restart and warm-up) when it is this late, so it ends within 180 s
REFERENCE_BY_S = 100.0

# The round is measured in CPU seconds, not wall: on the shared 4-vCPU
# VM this was built on, hypervisor steal swung from 1 % to 30 % within
# minutes, which moved round wall by up to 2x between runs (IQR 0.10-0.40
# of the median over ten runs) while CPU seconds spread 0.06-0.13. Each
# run's report keeps the wall too.
E2E_UNITS = {
    "round_cpu_s": "s",
    "setup_s": "s",
    "peak_rss_mb": "MB",
    "state_bytes_per_url": "B/URL",
    "rounds_ok_frac": "ratio",
}
CATALOG_TABLES = ("frontier", "frontier_delta", "seen_bloom", "fetch_log", "extractions", "metrics")


def _prepare_env() -> None:
    """The JVM and the Python workers it forks inherit this environment:
    workers import the package from the checkout whatever the cwd, and
    temp files stay inside the checkout."""
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["TMPDIR"] = tmp
    sys.path.insert(0, ROOT)


def _cores() -> int:
    return len(os.sched_getaffinity(0))


def start_spark(event_dir: str | None = None):
    from web_scraper_spark.session import get_spark

    conf = {
        "spark.driver.memory": DRIVER_MEM,
        "spark.local.dir": os.path.join(WORK, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(WORK, "warehouse"),
        # the heap is committed up front, so peak RSS does not depend on
        # when the collector happened to grow it
        "spark.driver.extraJavaOptions": (
            f"-Djava.io.tmpdir={os.path.join(WORK, 'tmp')} "
            f"-Xms{DRIVER_MEM} -XX:+AlwaysPreTouch -XX:-UsePerfData"
        ),
        "spark.ui.enabled": "false",
        "spark.ui.showConsoleProgress": "false",
    }
    # explicit either way: a session started after a logging one in the
    # same JVM inherits its settings, and would log into the same dir
    conf["spark.eventLog.enabled"] = "true" if event_dir else "false"
    if event_dir:
        os.makedirs(event_dir, exist_ok=True)
        conf["spark.eventLog.dir"] = event_dir
    n = _cores()
    return get_spark(
        app_name="crawlbench", master=f"local[{n}]", shuffle_partitions=n, extra_conf=conf,
    )


def stop_jvm(spark) -> None:
    """Stop the session, then the gateway JVM, and wait for it to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


# ---------------------------------------------------------------------------
# world
# ---------------------------------------------------------------------------


def ensure_world(shape, seed: int) -> tuple[str, dict]:
    """Generated world dir + oracle expectations, cached per
    (workload, seed, size). Generation is never part of set-up."""
    from crawlbench.checks import read_oracle_rounds, write_oracle_rounds
    from crawlbench.worlds import build_world, write_world

    out = os.path.join(WORK, "worlds", f"{shape.name}-s{seed}-{shape.key()}")
    oracle_path = os.path.join(out, "oracle.json")
    if not os.path.exists(os.path.join(out, "_DONE")):
        shutil.rmtree(out, ignore_errors=True)
        world = build_world(shape, seed)
        write_world(world, out)
        write_oracle_rounds(world, shape.spec(), TIMED_LAST_ROUND, oracle_path)
        with open(os.path.join(out, "_DONE"), "w") as f:
            f.write("ok\n")
    return out, read_oracle_rounds(oracle_path)


def load_world(spark, world_dir: str, shape) -> dict:
    world = {
        k: spark.read.parquet(os.path.join(world_dir, f"{k}.parquet"))
        for k in ("seeds", "robots", "pages_resolved")
    }
    world["spec"] = shape.spec()
    world["name"] = shape.name
    return world


# ---------------------------------------------------------------------------
# crawls
# ---------------------------------------------------------------------------


def dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f)) for d, _dirs, files in os.walk(path) for f in files
    )


class Crawl:
    """One crawl from an empty catalog: set-up, then timed rounds."""

    def __init__(self, spark, world: dict, expected: dict, state_dir: str,
                 traced: bool = False, resume: bool = False):
        from crawlbench.trace import TracingCatalog
        from web_scraper_spark.plans.rounds import CrawlEngine
        from web_scraper_spark.sources.catalog import ParquetSnapshotCatalog

        if not resume:
            shutil.rmtree(state_dir, ignore_errors=True)
        self.state_dir = state_dir
        self.world, self.expected = world, expected
        self.traced = traced
        cls = TracingCatalog if traced else ParquetSnapshotCatalog
        self.catalog = cls(spark, state_dir)
        self.engine = CrawlEngine(
            spark, self.catalog, world["spec"], n_buckets=N_BUCKETS,
            frontier_mode="mor", mor_compact_every=COMPACT_EVERY[world["name"]],
        )
        self.sc = spark.sparkContext
        self.rounds: list[dict] = []  # timed rounds
        self.attempted = self.failed = 0
        self.selected_total = 0
        self.setup_s = 0.0

    def _round(self, r: int) -> tuple[float, float, dict]:
        """(wall s, CPU s, engine stats) of round ``r``."""
        from crawlbench.host import tree_cpu_s
        from crawlbench.trace import ROUND_PROP

        w = self.world
        self.attempted += 1
        self.sc.setLocalProperty(ROUND_PROP, str(r))
        try:
            c0, t0 = tree_cpu_s(), time.monotonic()
            stats = self.engine.run_round(r, w["pages_resolved"], w["robots"], w["seeds"])
            return time.monotonic() - t0, tree_cpu_s() - c0, stats
        finally:
            self.sc.setLocalProperty(ROUND_PROP, None)

    def _check(self, r: int, stats: dict) -> list[str]:
        from crawlbench.checks import check_round

        self.selected_total += stats["selected"]
        problems = check_round(self.catalog, r, stats, self.expected[r])
        if problems:
            self.failed += 1
            print(f"round {r} FAILED its output check: {'; '.join(problems)}",
                  file=sys.stderr)
        return problems

    def setup(self, copy_to: str | None = None) -> None:
        """``init_frontier`` + round 1; ``copy_to`` keeps a copy of the
        state they committed."""
        w = self.world
        t0 = time.monotonic()
        self.engine.init_frontier(w["seeds"], PERIOD_START, PERIOD_END)
        _, _, stats = self._round(1)
        self.setup_s = time.monotonic() - t0
        self._check(1, stats)
        if self.traced:
            self.catalog.take_spans()
        if copy_to:
            shutil.rmtree(copy_to, ignore_errors=True)
            shutil.copytree(self.state_dir, copy_to)

    def timed_rounds(self, last: int, replay: bool = False) -> None:
        """Rounds 2..last."""
        from crawlbench.trace import breakdown, replay_round

        w = self.world
        for r in range(2, last + 1):
            layers = replay_round(self.engine, r, w["pages_resolved"], w["robots"]) if replay else {}
            wall, cpu, stats = self._round(r)
            rec = {"round": r, "wall_s": wall, "cpu_s": cpu, "stats": stats, "layers": layers,
                   "problems": self._check(r, stats)}
            if self.traced:
                rec["spans"] = breakdown(wall, self.catalog.take_spans())
            self.rounds.append(rec)


def run_crawls(spark, world, expected, seconds: float, t_start: float,
               traced: bool = False, max_crawls: int | None = None,
               copy_setup_to: str | None = None) -> list[Crawl]:
    """Closed loop of crawls, each timing rounds 2..TIMED_LAST_ROUND,
    until ``seconds`` of timed round wall."""
    crawls: list[Crawl] = []
    timed = 0.0
    while timed < seconds:
        if crawls and (
            len(crawls) == max_crawls
            or time.monotonic() - t_start > NO_NEW_CRAWL_AFTER_S
        ):
            break
        c = Crawl(spark, world, expected,
                  os.path.join(WORK, "state", f"crawl{len(crawls)}"), traced=traced)
        crawls.append(c)
        try:
            c.setup(copy_setup_to)
            c.timed_rounds(TIMED_LAST_ROUND, replay=traced)
        except Exception:
            # a round that raises counts as failed; the crawl's state is
            # no longer trustworthy, so the run ends here
            traceback.print_exc()
            c.failed += 1
            c.attempted = max(c.attempted, c.failed)  # init_frontier may be what raised
            break
        timed += sum(x["wall_s"] for x in c.rounds)
    return crawls


# ---------------------------------------------------------------------------
# metrics
# ---------------------------------------------------------------------------


def e2e_metrics(crawls: list[Crawl], session_s: float, load_s: float, peak_kb: int) -> dict:
    rounds = [x for c in crawls for x in c.rounds]
    attempted = sum(c.attempted for c in crawls)
    failed = sum(c.failed for c in crawls)
    last = crawls[-1]
    return {
        "round_cpu_s": statistics.median([x["cpu_s"] for x in rounds] or [0.0]),
        # the first crawl's set-up is the cold one a user waits for; a
        # later crawl's runs in a warm JVM
        "setup_s": session_s + load_s + crawls[0].setup_s,
        "peak_rss_mb": peak_kb / 1024.0,
        "state_bytes_per_url": dir_bytes(last.state_dir) / max(1, last.selected_total),
        "rounds_ok_frac": (attempted - failed) / max(1, attempted),
    }


def layer_metrics(crawl: Crawl, spark_rounds: dict, untraced_walls: dict,
                  pages_html_bytes: int) -> tuple[dict, list[dict]]:
    """Per-layer metrics (mean per traced timed round) + the per-round
    table. The extraction scan reads the whole pages table every round,
    so the useful share of what it scans is the selected pages' html
    over the table's html (both uncompressed)."""
    from crawlbench.trace import SPAN_NAMES, SPARK_TAGS, span_metric

    table = []
    for x in crawl.rounds:
        sp = spark_rounds.get(x["round"], {})
        layers = dict(x["layers"])
        html_bytes = layers.pop("fetch.selected_html_bytes")
        row = {"round": x["round"], "wall_s": x["wall_s"]}
        row.update({span_metric(n): x["spans"][n] for n in SPAN_NAMES})
        row["rounds.driver_gap_s"] = x["spans"]["driver_gap"]
        row["rounds.spark_jobs"] = sp.get("jobs", 0)
        row.update(layers)
        row["fetch.scan_bytes"] = sp.get("extractions", {}).get("input_bytes", 0)
        row["fetch.useful_ratio"] = html_bytes / pages_html_bytes
        row["fetch.success"] = x["stats"]["success"]
        row["fetch.empty"] = x["stats"]["empty"]
        row["fetch.timeout"] = x["stats"]["error"]
        for tag in SPARK_TAGS:
            for k in ("stage_s", "tasks", "shuffle_write_bytes", "spill_bytes"):
                row[f"spark.{tag}.{k}"] = sp.get(tag, {}).get(k, 0)
        table.append(row)

    metrics = {
        k: statistics.fmean(r[k] for r in table) for k in table[0] if k not in ("round", "wall_s")
    }
    for t in CATALOG_TABLES:
        metrics[f"catalog.{t}_bytes"] = dir_bytes(os.path.join(crawl.state_dir, t))
    metrics["trace.round_wall_s"] = statistics.median(x["wall_s"] for x in crawl.rounds)
    # 0 when the reference round was skipped (see REFERENCE_BY_S)
    metrics["trace.untraced_round_wall_s"] = metrics["trace.overhead_frac"] = 0.0
    both = sorted(set(untraced_walls) & {x["round"] for x in crawl.rounds})
    if both:
        traced_ref = statistics.median(x["wall_s"] for x in crawl.rounds if x["round"] in both)
        untraced_ref = statistics.median(untraced_walls[r] for r in both)
        metrics["trace.untraced_round_wall_s"] = untraced_ref
        metrics["trace.overhead_frac"] = traced_ref / untraced_ref - 1.0
    return metrics, table


def print_table(table: list[dict]) -> None:
    from crawlbench.trace import SPAN_NAMES, span_metric

    cols = [("wall", "wall_s")] + [(n[:9], span_metric(n)) for n in SPAN_NAMES] + [
        ("gap", "rounds.driver_gap_s"), ("jobs", "rounds.spark_jobs")]
    print("round  " + " ".join(f"{h:>9}" for h, _ in cols))
    for row in table:
        print(f"{row['round']:>5}  " + " ".join(f"{row[k]:>9.3f}" for _, k in cols))
    print("(seconds; catalog spans + gap = wall)")
    layers = [
        ("frontier", "frontier.read_s", "frontier.delta_rows", "frontier.rows"),
        ("robots", "robots.gate_s", "robots.rows_in", "seen.rows_in"),
        ("seen", "seen.filter_s", "seen.rows_in", "politeness.rows_in"),
        ("politeness", "politeness.select_s", "politeness.rows_in", "politeness.selected"),
        ("extract", "extract.s", "fetch.success", "extract.pages"),
        ("discover", "discover.s", "discover.outlinks", "discover.new_urls"),
    ]
    print("layer replay on the state before each round: seconds, rows in -> rows out")
    for row in table:
        cells = [f"{name} {row[t]:.2f}s {row[i]:.0f}->{row[o]:.0f}" for name, t, i, o in layers]
        cells.append(f"bloom merge {row['bloom.merge_s']:.2f}s")
        print(f"{row['round']:>5}  " + " | ".join(cells))


# ---------------------------------------------------------------------------
# main
# ---------------------------------------------------------------------------


def _run_index() -> int:
    path = os.path.join(WORK, "run_counter")
    n = 0
    if os.path.exists(path):
        with open(path) as f:
            n = int(f.read().strip() or 0)
    with open(path, "w") as f:
        f.write(f"{n + 1}\n")
    return n + 1


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "web_scraper_spark", "__init__.py")):
        print(f"no web_scraper_spark package under {ROOT}: run from a full checkout",
              file=sys.stderr)
        return 2
    t_start = time.monotonic()
    _prepare_env()
    from crawlbench.host import RssSampler, calibrate, cpu_jiffies, steal_iowait_pct
    from crawlbench.worlds import SHAPES

    shape = SHAPES.get(args.workload)
    if shape is None:
        print(f"unknown workload {args.workload!r}; one of {sorted(SHAPES)}", file=sys.stderr)
        return 2
    context = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "run_index": _run_index(), "started_utc": datetime.now(timezone.utc).isoformat(),
        "cores": _cores(), "calib_pages_per_s_pre": calibrate(_cores()),
    }

    with RssSampler() as rss:
        t0 = time.monotonic()
        world_dir, expected = ensure_world(shape, args.seed)
        context["world_s"] = time.monotonic() - t0
        event_dir = os.path.join(WORK, "eventlog", f"run{context['run_index']}")
        t0 = time.monotonic()
        spark = start_spark(event_dir if args.trace else None)
        session_s = time.monotonic() - t0
        t0 = time.monotonic()
        world = load_world(spark, world_dir, shape)
        load_s = time.monotonic() - t0
        cpu0 = cpu_jiffies()
        if not args.trace:
            crawls = run_crawls(spark, world, expected, args.seconds, t_start)
            metrics = e2e_metrics(crawls, session_s, load_s, rss.peak_kb)
        else:
            # traced first, so its layers are measured in the same
            # (cold-JVM) conditions as the timed runs' rounds
            html_bytes = world["pages_resolved"].agg(F.sum(F.length("html"))).first()[0]
            ref_state = os.path.join(WORK, "state", "reference")
            traced = run_crawls(spark, world, expected, args.seconds, t_start,
                                traced=True, max_crawls=1, copy_setup_to=ref_state)
            untraced, crawls = {}, traced
            if traced[-1].rounds and time.monotonic() - t_start < REFERENCE_BY_S:
                spark.stop()  # the reference session reuses the gateway JVM
                spark = start_spark()
                world = load_world(spark, world_dir, shape)
                # the reference resumes from the traced crawl's set-up state
                # and replays the layers first too, so both timed rounds
                # follow the same warm-up; it runs in the warmer JVM, so the
                # overhead is an upper bound
                ref = Crawl(spark, world, expected, ref_state, resume=True)
                try:
                    ref.timed_rounds(TIMED_LAST_ROUND, replay=True)
                except Exception:
                    traceback.print_exc()
                    ref.failed += 1
                    ref.attempted = max(ref.attempted, ref.failed)
                untraced = {x["round"]: x["wall_s"] for x in ref.rounds}
                crawls = traced + [ref]
        cpu1 = cpu_jiffies()
        stop_jvm(spark)
    context["steal_pct"], context["iowait_pct"] = steal_iowait_pct(cpu0, cpu1)
    context["peak_procs"] = rss.peak_procs
    context["calib_pages_per_s_post"] = calibrate(_cores())

    attempted = sum(c.attempted for c in crawls)
    failed = sum(c.failed for c in crawls)
    if args.trace:
        from crawlbench.eventlog import read_stages
        from crawlbench.trace import spark_by_tag

        units = per_layer_units()
        values, table = {k: 0.0 for k in units}, []
        if traced[-1].rounds:
            spark_rounds = spark_by_tag(read_stages(event_dir))
            found, table = layer_metrics(traced[-1], spark_rounds, untraced, html_bytes)
            values.update(found)
            print_table(table)
        metrics = {k: {"value": values[k], "unit": units[k]} for k in units}
        report = {"context": context, "rounds": table, "metrics": values}
    else:
        metrics = {k: {"value": v, "unit": E2E_UNITS[k]} for k, v in metrics.items()}
        report = {"context": context, "metrics": metrics,
                  "rounds": [{k: x[k] for k in ("round", "wall_s", "cpu_s", "stats", "problems")}
                             for c in crawls for x in c.rounds],
                  "setups_s": [c.setup_s for c in crawls], "session_s": session_s,
                  "load_s": load_s}
    os.makedirs(os.path.join(WORK, "reports"), exist_ok=True)
    with open(os.path.join(WORK, "reports", f"run{context['run_index']}.json"), "w") as f:
        json.dump(report, f, indent=1, default=str)
    context["run_s"] = time.monotonic() - t_start
    print("context " + json.dumps(context))
    print(json.dumps({"correct": failed == 0 and attempted > 0, "attempted": max(1, attempted),
                      "failed": failed, "metrics": metrics}))
    return 0


def per_layer_units() -> dict[str, str]:
    """Every per-layer metric with its unit (the BENCHMARK.json list)."""
    from crawlbench.trace import SPAN_NAMES, SPARK_TAGS, span_metric

    units = {"rounds.driver_gap_s": "s", "rounds.spark_jobs": "count"}
    units.update({span_metric(n): "s" for n in SPAN_NAMES})
    units.update({f"catalog.{t}_bytes": "B" for t in CATALOG_TABLES})
    units.update({
        "frontier.read_s": "s", "frontier.rows": "count", "frontier.delta_rows": "count",
        "robots.gate_s": "s", "robots.rows_in": "count", "robots.blocked": "count",
        "seen.filter_s": "s", "seen.rows_in": "count", "seen.bloom_negative": "count", "seen.bloom_positive": "count",
        "seen.bloom_fp_rate": "ratio", "bloom.merge_s": "s",
        "politeness.select_s": "s", "politeness.rows_in": "count",
        "politeness.selected": "count", "politeness.hosts_capped": "count",
        "fetch.scan_bytes": "B", "fetch.useful_ratio": "ratio", "fetch.success": "count",
        "fetch.empty": "count", "fetch.timeout": "count",
        "extract.s": "s", "extract.pages": "count", "extract.pages_per_s": "1/s",
        "discover.s": "s", "discover.outlinks": "count", "discover.new_urls": "count",
    })
    for tag in SPARK_TAGS:
        units.update({f"spark.{tag}.stage_s": "s", f"spark.{tag}.tasks": "count",
                      f"spark.{tag}.shuffle_write_bytes": "B", f"spark.{tag}.spill_bytes": "B"})
    units.update({"trace.round_wall_s": "s", "trace.untraced_round_wall_s": "s",
                  "trace.overhead_frac": "ratio"})
    return units


if __name__ == "__main__":
    sys.exit(main())
