"""The correctness battery behind ``__spark_entry__``.

Every implemented operator from SURVEY.md §2 (and the training-data
pipeline extensions) gets:
- a Spark query over the driver's parquet tables (region nation customer
  supplier part orders lineitem events documents embeddings), built on
  the engine's own functions/operators, and
- an equivalent ANSI-SQL string for DuckDB (the driver's oracle).

Both sides alias every computed column identically; hashing that must
agree across engines uses md5 hex strings; floats are rounded; sums are
cast. ``REGISTRY`` maps name -> (callable, sql | None); sql=None marks
genuinely non-SQL-expressible ops (driver falls back to rows-only).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.prices import durum_flag, format_date_for_api, parse_price
from ..functions.urls import canonicalize_url, url_hash
from ..operators.politeness import split_robots
from ..operators.seen import filter_unseen

Query = Callable[[SparkSession, str], DataFrame]
REGISTRY: dict[str, tuple[Query, str | None]] = {}


def q(name: str, sql: str | None):
    def deco(fn: Query):
        REGISTRY[name] = (fn, sql)
        return fn

    return deco


def T(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


# =========================================================================
# crawl-engine operators over the driver tables
# (events doubles as a URL-bearing fact table: deterministic synthetic
#  URLs derived from its columns, identically on both engines)
# =========================================================================

_DIRTY_URL_SQL = (
    "'HTTPS://Host' || (user_id % 37) || '.Example.COM:443/e/' || event_id || '?b=2&a=1#frag'"
)
_CANON_URL_SQL = (
    "'https://host' || (user_id % 37) || '.example.com/e/' || event_id || '?a=1&b=2'"
)


def _dirty_url() -> F.Column:
    return F.concat(
        F.lit("HTTPS://Host"),
        (F.col("user_id") % 37).cast("string"),
        F.lit(".Example.COM:443/e/"),
        F.col("event_id").cast("string"),
        F.lit("?b=2&a=1#frag"),
    )


@q(
    "url_canonicalize",
    f"SELECT event_id, {_CANON_URL_SQL} AS url_canon FROM events",
)
def q_url_canonicalize(spark, sf_dir):
    """S-new: canonicalization (lower host, strip :443/#frag, sort params)."""
    return T(spark, sf_dir, "events").select(
        "event_id", canonicalize_url(_dirty_url()).alias("url_canon")
    )


@q(
    "url_dedup_variants",
    """
    SELECT user_id % 37 AS host_id,
           COUNT(DISTINCT event_id) AS n_urls
    FROM events GROUP BY 1
    """,
)
def q_url_dedup_variants(spark, sf_dir):
    """Dirty URL variants collapse to one identity per event (url_hash
    dedup over canonical form)."""
    ev = T(spark, sf_dir, "events")
    v1 = ev.select((F.col("user_id") % 37).alias("host_id"), _dirty_url().alias("u"))
    v2 = ev.select(
        (F.col("user_id") % 37).alias("host_id"),
        F.concat(
            F.lit("https://host"),
            (F.col("user_id") % 37).cast("string"),
            F.lit(".example.com/e/"),
            F.col("event_id").cast("string"),
            F.lit("?a=1&b=2"),
        ).alias("u"),
    )
    return (
        v1.unionAll(v2)
        .select("host_id", url_hash(canonicalize_url(F.col("u"))).alias("h"))
        .groupBy("host_id")
        .agg(F.countDistinct("h").alias("n_urls"))
    )


@q(
    "seen_antijoin",
    """
    SELECT e.event_id FROM events e
    WHERE NOT EXISTS (
      SELECT 1 FROM events s WHERE s.event_type = 'click' AND s.event_id = e.event_id
    )
    """,
)
def q_seen_antijoin(spark, sf_dir):
    """S6/J1 — URL-seen dedup as left-anti join (engine operator)."""
    ev = T(spark, sf_dir, "events")
    cand = ev.select("event_id", url_hash(canonicalize_url(_dirty_url())).alias("url_hash"))
    seen = (
        ev.filter(F.col("event_type") == "click")
        .select(url_hash(canonicalize_url(_dirty_url())).alias("url_hash"))
    )
    return filter_unseen(cand, seen).select("event_id")


@q(
    "politeness_budget",
    """
    SELECT event_id FROM events
    QUALIFY row_number() OVER (PARTITION BY user_id % 20 ORDER BY ts, event_id) <= 25
    """,
)
def q_politeness_budget(spark, sf_dir):
    """R1-R5 — per-host budget via priority-ordered row_number window."""
    ev = T(spark, sf_dir, "events").withColumn("host", F.col("user_id") % 20)
    w = Window.partitionBy("host").orderBy("ts", "event_id")
    return (
        ev.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 25)
        .select("event_id")
    )


@q(
    "global_budget",
    """
    SELECT event_id FROM (
      SELECT event_id, ts FROM events
      QUALIFY row_number() OVER (PARTITION BY user_id % 20 ORDER BY ts, event_id) <= 25
    ) ORDER BY ts, event_id LIMIT 300
    """,
)
def q_global_budget(spark, sf_dir):
    """R2 — global cap as distributed ordered-limit (TakeOrdered), after
    the per-host budget."""
    ev = T(spark, sf_dir, "events").withColumn("host", F.col("user_id") % 20)
    w = Window.partitionBy("host").orderBy("ts", "event_id")
    per_host = ev.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") <= 25)
    return per_host.orderBy("ts", "event_id").limit(300).select("event_id")


@q(
    "robots_filter",
    """
    SELECT user_id % 20 AS host_id,
           SUM(CASE WHEN event_type IN ('click','purchase') THEN 0 ELSE 1 END)::BIGINT AS n_allowed,
           SUM(CASE WHEN event_type IN ('click','purchase') THEN 1 ELSE 0 END)::BIGINT AS n_blocked
    FROM events GROUP BY 1
    """,
)
def q_robots_filter(spark, sf_dir):
    """R9 — robots disallow-prefix gate (broadcast rules join + exists)."""
    ev = T(spark, sf_dir, "events")
    cand = ev.select(
        (F.col("user_id") % 20).alias("host_id"),
        F.concat(F.lit("h"), (F.col("user_id") % 20).cast("string")).alias("host"),
        F.concat(
            F.lit("https://h"),
            (F.col("user_id") % 20).cast("string"),
            F.lit("/"),
            F.col("event_type"),
            F.lit("/"),
            F.col("event_id").cast("string"),
        ).alias("url"),
    )
    robots = spark.createDataFrame(
        [(f"h{i}", ["/click", "/purchase"], 30) for i in range(20)],
        "host string, disallow array<string>, crawl_delay_s int",
    )
    allowed, blocked = split_robots(cand, robots)
    return (
        allowed.groupBy("host_id")
        .agg(F.count("*").alias("n_allowed"))
        .join(
            blocked.groupBy("host_id").agg(F.count("*").alias("n_blocked")),
            "host_id",
            "full_outer",
        )
        .select(
            "host_id",
            F.coalesce("n_allowed", F.lit(0)).alias("n_allowed"),
            F.coalesce("n_blocked", F.lit(0)).alias("n_blocked"),
        )
    )


@q(
    "adaptive_backoff",
    """
    WITH s AS (
      SELECT user_id % 20 AS host,
             round(SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END)
                   / count(*)::DOUBLE, 6) AS error_rate
      FROM events GROUP BY 1
    )
    SELECT host::VARCHAR AS host, error_rate,
           (30 * pow(2.0, least(4, floor(error_rate / 0.1)::INT)))::BIGINT
             AS crawl_delay_s
    FROM s
    """,
)
def q_adaptive_backoff(spark, sf_dir):
    """Error-feedback politeness: per-host fetch-outcome rates from the
    (simulated) fetch log drive multiplicative crawl-delay backoff —
    the delay that feeds select_polite's per-round host budget."""
    from ..operators.linkgraph import adaptive_crawl_delay, host_stats

    ev = T(spark, sf_dir, "events")
    log = ev.select(
        (F.col("user_id") % 20).cast("string").alias("host"),
        F.when(F.col("event_type") == "error", F.lit("error"))
        .otherwise(F.lit("success"))
        .alias("status"),
    )
    return adaptive_crawl_delay(host_stats(log)).select(
        "host", "error_rate", "crawl_delay_s"
    )


@q(
    "registrable_domain",
    """
    SELECT host,
      CASE c_custkey % 8
        WHEN 0 THEN 'shop' || c_custkey || '.com'
        WHEN 1 THEN 'site' || c_custkey || '.co.uk'
        WHEN 2 THEN 'x' || c_custkey || '.zone' || c_custkey % 5 || '.ck'
        WHEN 3 THEN 'www.ck'
        WHEN 4 THEN 'a' || c_custkey || '.com.au'
        WHEN 5 THEN 'site' || c_custkey || '.unknowntld'
        WHEN 6 THEN 'site' || c_custkey || '.unknowntld'
        ELSE NULL
      END AS reg_domain
    FROM (
      SELECT c_custkey,
        CASE c_custkey % 8
          WHEN 0 THEN 'www.shop' || c_custkey || '.com'
          WHEN 1 THEN 'a.b.site' || c_custkey || '.co.uk'
          WHEN 2 THEN 'x' || c_custkey || '.zone' || c_custkey % 5 || '.ck'
          WHEN 3 THEN 'sub' || c_custkey || '.www.ck'
          WHEN 4 THEN 'deep.a' || c_custkey || '.com.au'
          WHEN 5 THEN 'site' || c_custkey || '.unknowntld'
          WHEN 6 THEN 'cdn.site' || c_custkey || '.unknowntld'
          ELSE 'co.uk'
        END AS host
      FROM customer
    )
    """,
)
def q_registrable_domain(spark, sf_dir):
    """eTLD+1 extraction under the PSL algorithm (longest suffix,
    wildcard ``*.`` rules, ``!`` exceptions, implicit ``*`` default) —
    the politeness/ownership grouping key at web scale. Host classes
    cover every rule branch; the oracle states the expected registrable
    domain per class directly."""
    from ..functions.domains import registrable_domain

    cust = T(spark, sf_dir, "customer")
    k = F.col("c_custkey")
    ks = k.cast("string")
    host = (
        F.when(k % 8 == 0, F.concat(F.lit("www.shop"), ks, F.lit(".com")))
        .when(k % 8 == 1, F.concat(F.lit("a.b.site"), ks, F.lit(".co.uk")))
        .when(
            k % 8 == 2,
            F.concat(
                F.lit("x"), ks, F.lit(".zone"), (k % 5).cast("string"), F.lit(".ck")
            ),
        )
        .when(k % 8 == 3, F.concat(F.lit("sub"), ks, F.lit(".www.ck")))
        .when(k % 8 == 4, F.concat(F.lit("deep.a"), ks, F.lit(".com.au")))
        .when(k % 8 == 5, F.concat(F.lit("site"), ks, F.lit(".unknowntld")))
        .when(k % 8 == 6, F.concat(F.lit("cdn.site"), ks, F.lit(".unknowntld")))
        .otherwise(F.lit("co.uk"))
    )
    return cust.select(host.alias("host")).select(
        "host", registrable_domain(F.col("host")).alias("reg_domain")
    )


@q(
    "robots_wildcard",
    """
    WITH cand AS (
      SELECT 'h' || (user_id % 4)::VARCHAR AS host,
             '/' || event_type || '/' || event_id::VARCHAR
               || CASE WHEN event_id % 3 = 0
                       THEN '?page=' || event_id::VARCHAR ELSE '' END
               AS target
      FROM events
    ),
    scored AS (
      SELECT host, target,
        CASE host
          WHEN 'h0' THEN GREATEST(
            CASE WHEN target LIKE '/click%' THEN 6*2 ELSE -1 END,
            CASE WHEN regexp_matches(target, '^/view/.*7$') THEN 9*2 ELSE -1 END,
            CASE WHEN target LIKE '/click/1%' THEN 9*2+1 ELSE -1 END,
            CASE WHEN regexp_matches(target, '^/view/.*7$') THEN 9*2+1 ELSE -1 END)
          WHEN 'h1' THEN GREATEST(
            CASE WHEN regexp_matches(target, '^/.*u.*') THEN 4*2 ELSE -1 END,
            CASE WHEN target LIKE '/signup/2%' THEN 10*2+1 ELSE -1 END)
          WHEN 'h2' THEN GREATEST(
            CASE WHEN target LIKE '/error/%' THEN 7*2 ELSE -1 END,
            CASE WHEN contains(target, '?') THEN 3*2 ELSE -1 END)
          WHEN 'h3' THEN GREATEST(
            CASE WHEN target LIKE '/%' THEN 1*2 ELSE -1 END,
            CASE WHEN target LIKE '/signup%' THEN 7*2+1 ELSE -1 END)
        END AS score
      FROM cand
    )
    SELECT host, target, (score >= 0 AND score % 2 = 0) AS blocked
    FROM scored
    """,
)
def q_robots_wildcard(spark, sf_dir):
    """R9 full RFC 9309 matching — * / trailing-$ wildcards, Allow vs
    Disallow longest-match precedence, Allow winning ties — over the
    RFC match target (path + '?query': every third URL carries a query
    string, and h2's '/*?' rule must block exactly those) through the
    engine's compile-once broadcast rules table. The oracle replays the
    decision as explicit (2*spec + is_allow) max-scoring: the same
    longest-match algebra, independently encoded."""
    from ..operators.robots_txt import robots_match_target

    ev = T(spark, sf_dir, "events")
    cand = ev.select(
        F.concat(F.lit("h"), (F.col("user_id") % 4).cast("string")).alias("host"),
        F.concat(
            F.lit("https://h"),
            (F.col("user_id") % 4).cast("string"),
            F.lit("/"),
            F.col("event_type"),
            F.lit("/"),
            F.col("event_id").cast("string"),
            F.when(
                F.col("event_id") % 3 == 0,
                F.concat(F.lit("?page="), F.col("event_id").cast("string")),
            ).otherwise(F.lit("")),
        ).alias("url"),
    )
    robots = spark.createDataFrame(
        [
            ("h0", ["/click", "/view/*7$"], ["/click/1*", "/view/*7$"], 30),
            ("h1", ["/*u*"], ["/signup/2*"], 30),
            ("h2", ["/error/", "/*?"], [], 30),
            ("h3", ["/"], ["/signup"], 30),
        ],
        "host string, disallow array<string>, allow array<string>, crawl_delay_s int",
    )
    allowed, blocked = split_robots(cand, robots)
    target = robots_match_target(F.col("url")).alias("target")
    return allowed.select("host", target, F.lit(False).alias("blocked")).unionByName(
        blocked.select("host", target, F.lit(True).alias("blocked"))
    )


@q(
    "retry_backoff",
    """
    SELECT event_id,
           CASE WHEN value < 1 THEN 'timeout' WHEN value < 3 THEN 'success' ELSE 'empty' END AS outcome,
           CASE WHEN value >= 1 THEN 'fetched'
                WHEN (event_id % 4) + 1 >= 3 THEN 'failed'
                ELSE 'pending' END AS new_state,
           CASE WHEN value < 1 THEN (event_id % 4) + 1 ELSE event_id % 4 END::BIGINT AS new_attempts,
           CASE WHEN value < 1 AND (event_id % 4) + 1 < 3 THEN 8 ELSE 0 END AS new_not_before
    FROM events
    """,
)
def q_retry_backoff(spark, sf_dir):
    """R6 — retry/backoff state machine (attempts/not_before/failed),
    the nausys timeout semantics (nausys_tracker.py:216-321) as CASE."""
    ev = T(spark, sf_dir, "events").select(
        "event_id",
        (F.col("event_id") % 4).alias("attempts"),
        F.when(F.col("value") < 1, "timeout")
        .when(F.col("value") < 3, "success")
        .otherwise("empty")
        .alias("outcome"),
    )
    round_id, backoff, max_attempts = 7, 1, 3
    return ev.select(
        "event_id",
        "outcome",
        F.when(F.col("outcome") != "timeout", F.lit("fetched"))
        .when(F.col("attempts") + 1 >= max_attempts, F.lit("failed"))
        .otherwise(F.lit("pending"))
        .alias("new_state"),
        F.when(F.col("outcome") == "timeout", F.col("attempts") + 1)
        .otherwise(F.col("attempts"))
        .cast("long")
        .alias("new_attempts"),
        F.when(
            (F.col("outcome") == "timeout") & (F.col("attempts") + 1 < max_attempts),
            F.lit(round_id + backoff),
        )
        .otherwise(F.lit(0))
        .alias("new_not_before"),
    )


@q(
    "weekly_periods",
    """
    SELECT (row_number() OVER (ORDER BY d)) - 1 AS period_idx,
           strftime(d, '%Y-%m-%d') || ' 17:00:00' AS period_from,
           strftime(d + INTERVAL 7 DAY, '%Y-%m-%d') || ' 08:00:00' AS period_to
    FROM (SELECT unnest(generate_series(DATE '2025-04-12', DATE '2025-10-24', INTERVAL 7 DAY)) AS d)
    """,
)
def q_weekly_periods(spark, sf_dir):
    """T1 — generate_weekly_dates (nausys_tracker.py:323-338) via
    sequence + explode."""
    return (
        spark.range(1)
        .select(
            F.explode(
                F.sequence(
                    F.to_date(F.lit("2025-04-12")),
                    F.to_date(F.lit("2025-10-25")),
                    F.expr("interval 7 days"),
                )
            ).alias("d")
        )
        .filter(F.col("d") < F.to_date(F.lit("2025-10-25")))
        .select(
            (F.row_number().over(Window.orderBy("d")) - 1).alias("period_idx"),
            F.concat(F.date_format("d", "yyyy-MM-dd"), F.lit(" 17:00:00")).alias(
                "period_from"
            ),
            F.concat(
                F.date_format(F.date_add("d", 7), "yyyy-MM-dd"), F.lit(" 08:00:00")
            ).alias("period_to"),
        )
    )


@q(
    "task_expansion",
    """
    WITH periods AS (
      SELECT (row_number() OVER (ORDER BY d)) - 1 AS period_idx, d
      FROM (SELECT unnest(generate_series(DATE '2025-04-12', DATE '2025-10-24', INTERVAL 7 DAY)) AS d)
    )
    SELECT n.n_name, p.period_idx,
           'https://' || lower(n.n_name) || '.example.com/p/' || strftime(p.d, '%Y-%m-%d') AS url
    FROM nation n CROSS JOIN periods p
    """,
)
def q_task_expansion(spark, sf_dir):
    """T3 — frontier candidate expansion: seeds x periods cross join."""
    periods = (
        spark.range(1)
        .select(
            F.explode(
                F.sequence(
                    F.to_date(F.lit("2025-04-12")),
                    F.to_date(F.lit("2025-10-25")),
                    F.expr("interval 7 days"),
                )
            ).alias("d")
        )
        .filter(F.col("d") < F.to_date(F.lit("2025-10-25")))
        .select((F.row_number().over(Window.orderBy("d")) - 1).alias("period_idx"), "d")
    )
    nation = T(spark, sf_dir, "nation")
    return nation.crossJoin(F.broadcast(periods)).select(
        "n_name",
        "period_idx",
        F.concat(
            F.lit("https://"),
            F.lower("n_name"),
            F.lit(".example.com/p/"),
            F.date_format("d", "yyyy-MM-dd"),
        ).alias("url"),
    )


@q(
    "latest_per_key",
    """
    SELECT o_custkey, o_orderkey AS latest_orderkey,
           strftime(o_orderdate, '%Y-%m-%d') AS latest_date
    FROM orders
    QUALIFY row_number() OVER (PARTITION BY o_custkey ORDER BY o_orderdate DESC, o_orderkey DESC) = 1
    """,
)
def q_latest_per_key(spark, sf_dir):
    """J5 — latest-doc lookup (booking_data_repository.py:66-82) as
    window top-1 per key."""
    o = T(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(
        F.col("o_orderdate").desc(), F.col("o_orderkey").desc()
    )
    return (
        o.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "o_custkey",
            F.col("o_orderkey").alias("latest_orderkey"),
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("latest_date"),
        )
    )


@q(
    "price_compare",
    """
    WITH comp AS (
      SELECT date_trunc('month', l_shipdate) AS m, round(avg(l_extendedprice), 2) AS rakip_fiyat
      FROM lineitem WHERE l_returnflag = 'R' GROUP BY 1
    ), ours AS (
      SELECT date_trunc('month', l_shipdate) AS m, round(avg(l_extendedprice), 2) AS bizim_fiyat
      FROM lineitem WHERE l_returnflag = 'A' GROUP BY 1
    )
    SELECT strftime(COALESCE(comp.m, ours.m), '%Y-%m') AS ay,
           COALESCE(bizim_fiyat, 0.0) AS bizim_fiyat,
           COALESCE(rakip_fiyat, 0.0) AS rakip_fiyat,
           round(abs(COALESCE(bizim_fiyat,0.0) - COALESCE(rakip_fiyat,0.0)), 2) AS fark,
           CASE WHEN COALESCE(bizim_fiyat,0.0) - COALESCE(rakip_fiyat,0.0) < 0 THEN 0
                WHEN COALESCE(bizim_fiyat,0.0) - COALESCE(rakip_fiyat,0.0) > 0 THEN 1
                ELSE 2 END AS durum
    FROM comp FULL OUTER JOIN ours ON comp.m = ours.m
    """,
)
def q_price_compare(spark, sf_dir):
    """J3/J4 + P10/P11 — the §3.3 full-outer price comparison shape
    (price.py:71-132) over driver data."""
    li = T(spark, sf_dir, "lineitem")
    comp = (
        li.filter(F.col("l_returnflag") == "R")
        .groupBy(F.date_trunc("month", "l_shipdate").alias("m"))
        .agg(F.round(F.avg("l_extendedprice"), 2).alias("rakip_fiyat"))
    )
    ours = (
        li.filter(F.col("l_returnflag") == "A")
        .groupBy(F.date_trunc("month", "l_shipdate").alias("m"))
        .agg(F.round(F.avg("l_extendedprice"), 2).alias("bizim_fiyat"))
    )
    j = comp.join(ours, "m", "full_outer")
    bizim = F.coalesce("bizim_fiyat", F.lit(0.0))
    rakip = F.coalesce("rakip_fiyat", F.lit(0.0))
    diff = bizim - rakip
    return j.select(
        F.date_format("m", "yyyy-MM").alias("ay"),
        bizim.alias("bizim_fiyat"),
        rakip.alias("rakip_fiyat"),
        F.round(F.abs(diff), 2).alias("fark"),
        durum_flag(diff).alias("durum"),
    )


@q(
    "parse_price",
    """
    WITH s AS (
      SELECT l_returnflag,
             (floor(l_extendedprice * 100 + 0.5)::BIGINT // 100) || ',' ||
             lpad((floor(l_extendedprice * 100 + 0.5)::BIGINT % 100)::VARCHAR, 2, '0') AS price_str
      FROM lineitem
    )
    SELECT l_returnflag,
           round(sum(replace(replace(price_str, '.', ''), ',', '.')::DOUBLE), 2) AS sum_parsed
    FROM s GROUP BY l_returnflag
    """,
)
def q_parse_price(spark, sf_dir):
    """P5 — European price-string parsing round-trip
    (price.py:26-33 semantics) at aggregate scale."""
    li = T(spark, sf_dir, "lineitem")
    cents = F.floor(F.col("l_extendedprice") * 100 + 0.5).cast("long")
    price_str = F.concat(
        F.expr("div(cast(floor(l_extendedprice * 100 + 0.5) as bigint), 100)").cast(
            "string"
        ),
        F.lit(","),
        F.lpad((cents % 100).cast("string"), 2, "0"),
    )
    return (
        li.select("l_returnflag", price_str.alias("price_str"))
        .groupBy("l_returnflag")
        .agg(F.round(F.sum(parse_price(F.col("price_str"))), 2).alias("sum_parsed"))
    )


@q(
    "price_regex_parse",
    """
    WITH s AS (
      SELECT l_orderkey, l_linenumber,
             ((floor(l_extendedprice * 100 + 0.5)::BIGINT // 100)::VARCHAR || ' € (' ||
              (floor(l_extendedprice * 110 + 0.5)::BIGINT // 100)::VARCHAR || ' € - ' ||
              (l_linenumber % 30)::VARCHAR || '%)') AS price_text
      FROM lineitem WHERE l_orderkey <= 4000
    )
    SELECT l_orderkey, l_linenumber,
           regexp_extract(price_text, '([0-9,\\.]+)\\s*€\\s*\\(\\s*([0-9,\\.]+)\\s*€\\s*-\\s*([0-9,\\.]+)%\\)', 1) AS total_str,
           regexp_extract(price_text, '([0-9,\\.]+)\\s*€\\s*\\(\\s*([0-9,\\.]+)\\s*€\\s*-\\s*([0-9,\\.]+)%\\)', 2) AS list_str,
           regexp_extract(price_text, '([0-9,\\.]+)\\s*€\\s*\\(\\s*([0-9,\\.]+)\\s*€\\s*-\\s*([0-9,\\.]+)%\\)', 3) AS pct_str
    FROM s
    """,
)
def q_price_regex_parse(spark, sf_dir):
    """P2 — the MMK discounted-price regex (mmk_tracker.py:211-217:
    ``([\\d,\\.]+)\\s*€\\s*\\(...``) via native regexp_extract groups."""
    li = T(spark, sf_dir, "lineitem").filter(F.col("l_orderkey") <= 4000)
    total = F.expr("div(cast(floor(l_extendedprice * 100 + 0.5) as bigint), 100)").cast("string")
    lst = F.expr("div(cast(floor(l_extendedprice * 110 + 0.5) as bigint), 100)").cast("string")
    pct = (F.col("l_linenumber") % 30).cast("string")
    price_text = F.concat(total, F.lit(" € ("), lst, F.lit(" € - "), pct, F.lit("%)"))
    pat = r"([0-9,\.]+)\s*€\s*\(\s*([0-9,\.]+)\s*€\s*-\s*([0-9,\.]+)%\)"
    return li.select(
        "l_orderkey",
        "l_linenumber",
        F.regexp_extract(price_text, pat, 1).alias("total_str"),
        F.regexp_extract(price_text, pat, 2).alias("list_str"),
        F.regexp_extract(price_text, pat, 3).alias("pct_str"),
    )


@q(
    "format_currency",
    # DuckDB regex is RE2 (no lookahead): group thousands by
    # reverse → dot every 3 digits → reverse → trim leading dot
    """
    SELECT o_orderkey,
           ltrim(reverse(regexp_replace(reverse((floor(o_totalprice * 100 + 0.5)::BIGINT // 100)::VARCHAR),
                                        '(\\d{3})', '\\1.', 'g')), '.')
           || ',' || lpad((floor(o_totalprice * 100 + 0.5)::BIGINT % 100)::VARCHAR, 2, '0') AS eur
    FROM orders WHERE o_orderkey <= 2000
    """,
)
def q_format_currency(spark, sf_dir):
    """P6 — European currency formatting (mmk_tracker.py:31-39):
    thousands '.' grouping + ',' decimals, built portably from cents."""
    o = T(spark, sf_dir, "orders").filter(F.col("o_orderkey") <= 2000)
    cents = F.floor(F.col("o_totalprice") * 100 + 0.5).cast("long")
    int_part = F.expr("div(cast(floor(o_totalprice * 100 + 0.5) as bigint), 100)").cast(
        "string"
    )
    grouped = F.regexp_replace(int_part, r"(\d)(?=(\d{3})+$)", r"$1.")
    return o.select(
        "o_orderkey",
        F.concat(grouped, F.lit(","), F.lpad((cents % 100).cast("string"), 2, "0")).alias(
            "eur"
        ),
    )


@q(
    "collect_periods",
    # order by the formatted string itself so tie-breaking matches
    # Spark's sort_array (lexicographic) exactly
    """
    SELECT o_custkey,
           string_agg(strftime(o_orderdate, '%Y-%m-%d') || '#' || o_orderkey, '|'
                      ORDER BY strftime(o_orderdate, '%Y-%m-%d') || '#' || o_orderkey) AS periods
    FROM orders GROUP BY o_custkey
    """,
)
def q_collect_periods(spark, sf_dir):
    """A1 — per-key collect_list of period structs, deterministically
    sorted (nausys_tracker.py:404-409's booking_periods accumulation)."""
    o = T(spark, sf_dir, "orders")
    item = F.concat(
        F.date_format("o_orderdate", "yyyy-MM-dd"),
        F.lit("#"),
        F.col("o_orderkey").cast("string"),
    )
    return o.groupBy("o_custkey").agg(
        F.array_join(F.sort_array(F.collect_list(item)), "|").alias("periods")
    )


@q(
    "fetch_metrics",
    """
    SELECT event_type,
           count(*)::BIGINT AS n_events,
           count(DISTINCT user_id)::BIGINT AS n_users,
           round(sum(value), 2) AS total_value
    FROM events GROUP BY event_type
    """,
)
def q_fetch_metrics(spark, sf_dir):
    """A6 — metrics rollup (count / countDistinct / sum per key)."""
    return (
        T(spark, sf_dir, "events")
        .groupBy("event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.countDistinct("user_id").alias("n_users"),
            F.round(F.sum("value"), 2).alias("total_value"),
        )
    )


@q(
    "date_format_api",
    """
    SELECT o_orderkey, strftime(o_orderdate, '%d.%m.%Y %H:%M') AS api_date
    FROM orders WHERE o_orderkey <= 2000
    """,
)
def q_date_format_api(spark, sf_dir):
    """P7 — format_date_for_api (nausys_tracker.py:443-450)."""
    return (
        T(spark, sf_dir, "orders")
        .filter(F.col("o_orderkey") <= 2000)
        .select(
            "o_orderkey",
            format_date_for_api(
                F.date_format("o_orderdate", "yyyy-MM-dd HH:mm:ss")
            ).alias("api_date"),
        )
    )


@q(
    "epoch_millis",
    "SELECT event_id, epoch_ms(ts) AS ts_ms FROM events WHERE event_id <= 3000",
)
def q_epoch_millis(spark, sf_dir):
    """P8 — epoch-millis conversion (mmk_tracker.py:171-172)."""
    return (
        T(spark, sf_dir, "events")
        .filter(F.col("event_id") <= 3000)
        # parquet naive timestamps load as TIMESTAMP_NTZ; session tz is
        # UTC so the cast is the identity instant (matches DuckDB)
        .select("event_id", F.unix_millis(F.col("ts").cast("timestamp")).alias("ts_ms"))
    )


@q(
    "frontier_merge",
    """
    WITH old AS (
      SELECT o_orderkey AS k, 'fetched' AS state FROM orders WHERE o_orderkey % 2 = 0
    ), updates AS (
      SELECT o_orderkey AS k, 'pending' AS state FROM orders WHERE o_orderkey % 3 = 0
    )
    SELECT COALESCE(u.state, o.state) AS state, count(*)::BIGINT AS n
    FROM old o FULL OUTER JOIN updates u ON o.k = u.k
    GROUP BY 1
    """,
)
def q_frontier_merge(spark, sf_dir):
    """W2/W4 — MERGE upsert semantics as full-outer + coalesce."""
    o = T(spark, sf_dir, "orders")
    old = o.filter(F.col("o_orderkey") % 2 == 0).select(
        F.col("o_orderkey").alias("k"), F.lit("fetched").alias("state_old")
    )
    upd = o.filter(F.col("o_orderkey") % 3 == 0).select(
        F.col("o_orderkey").alias("k"), F.lit("pending").alias("state_new")
    )
    return (
        old.join(upd, "k", "full_outer")
        .select(F.coalesce("state_new", "state_old").alias("state"))
        .groupBy("state")
        .agg(F.count("*").alias("n"))
    )


# -------------------------------------------------------------------------
# P1-general — adversarial real-world-HTML extraction
# -------------------------------------------------------------------------

def _adversarial_oracle_sql() -> str:
    from ..sources.adversarial_html import oracle_case_sql

    return f"""
    SELECT event_id AS doc,
           {oracle_case_sql('text')} AS text,
           {oracle_case_sql('yacht_name')} AS yacht_name,
           CAST({oracle_case_sql('n_outlinks')} AS INT) AS n_outlinks
    FROM events WHERE event_id < 1200
    """


@q("extract_adversarial", _adversarial_oracle_sql())
def q_extract_adversarial(spark, sf_dir):
    """P1 general path — the tag-soup extractor (operators/html_parse.py)
    over hostile HTML the synthetic grammar never renders: malformed
    nesting, entities, comments-with-markup, script/style brackets,
    attribute reorder/quoting, duplicate ids, CDATA, noscript/template.

    Pages are assembled NATIVELY (a when-chain of concat over the
    hand-written templates in sources/adversarial_html.py, ``{ID}`` →
    event_id), so the only Python stage is the Arrow-batched extractor
    under test; the oracle recomputes text/field/link expectations from
    the same hand-written spec strings, independent of the engine path.
    Parity target: the reference's lxml extraction tolerates all of
    these shapes (nausys_tracker.py:268-296)."""
    from ..operators.extract import extract_pages
    from ..sources.adversarial_html import N_CASES, SPEC

    ev = (
        T(spark, sf_dir, "events")
        .select("event_id")
        .filter(F.col("event_id") < 1200)
    )
    id_str = F.col("event_id").cast("string")
    case_idx = (F.col("event_id") % N_CASES).cast("int")
    html = F.lit(None).cast("string")
    for i, (_, tpl, _, _, _) in enumerate(SPEC):
        pieces = tpl.split("{ID}")
        args: list = [F.lit(pieces[0])]
        for p in pieces[1:]:
            args.append(id_str)
            args.append(F.lit(p))
        html = F.when(case_idx == F.lit(i), F.concat(*args)).otherwise(html)
    pages = ev.select("event_id", F.encode(html, "utf-8").alias("html"))
    out = extract_pages(pages, parser="html")
    return out.select(
        F.col("event_id").alias("doc"),
        "text",
        F.col("details.yacht_name").alias("yacht_name"),
        F.size("outlinks").alias("n_outlinks"),
    )


# -------------------------------------------------------------------------
# adaptive re-crawl scheduling (beyond R7's fixed daily cycle)
# -------------------------------------------------------------------------

@q(
    "revisit_schedule",
    """
    WITH h AS (
      SELECT url_hash,
             (event_id // 337) * (1 + url_hash % 3) AS round_id,
             md5('fp' || url_hash || '_' ||
                 floor(value / (2 + url_hash % 7))::BIGINT) AS fingerprint
      FROM (
        SELECT event_id, value,
               CASE WHEN event_id < 9000 THEN event_id % 337
                    ELSE event_id END AS url_hash
        FROM events
      )
    ),
    lagged AS (
      SELECT url_hash, fingerprint,
             lag(fingerprint) OVER (
               PARTITION BY url_hash ORDER BY round_id) AS prev_fp,
             round_id
      FROM h
    ),
    agg AS (
      SELECT url_hash,
             count(prev_fp)::BIGINT AS n_intervals,
             sum(CASE WHEN prev_fp IS NOT NULL AND fingerprint <> prev_fp
                      THEN 1 ELSE 0 END)::BIGINT AS n_changes,
             max(round_id) AS last_round,
             min(round_id) AS first_round
      FROM lagged GROUP BY url_hash
    ),
    rates AS (
      SELECT url_hash, n_changes, n_intervals, last_round,
             CASE WHEN n_intervals = 0 THEN NULL
                  WHEN n_changes = 0 THEN 0.0
                  ELSE -ln((n_intervals - n_changes + 0.5)
                           / (n_intervals + 0.5))
                       / ((last_round - first_round) / n_intervals::DOUBLE)
             END AS rate
      FROM agg
    ),
    sched AS (
      SELECT *,
             floor(CASE WHEN rate IS NULL THEN 8.0
                        WHEN rate <= 0 THEN 64.0
                        ELSE least(greatest(0.5 / rate, 1.0), 64.0)
                   END)::BIGINT AS interval
      FROM rates
    )
    SELECT url_hash, n_changes, n_intervals,
           round(rate, 6) AS change_rate,
           interval,
           last_round + interval AS next_due
    FROM sched
    """,
)
def q_revisit_schedule(spark, sf_dir):
    """Adaptive re-crawl (Cho & Garcia-Molina change-rate MLE) over a
    visit history synthesized from events: ~337 URLs visited ~30 times
    with per-URL visit spacing (1 + url%3) and change propensity set by
    bucketing `value` at width (2 + url%7); event_id >= 9000 become
    single-visit URLs exercising the no-evidence default-interval path.
    One window pass + one hash agg — both shuffles on url_hash."""
    from ..operators.revisit import revisit_schedule

    ev = T(spark, sf_dir, "events")
    url = (
        F.when(F.col("event_id") < 9000, F.col("event_id") % 337)
        .otherwise(F.col("event_id"))
        .alias("url_hash")
    )
    base = ev.select("event_id", "value", url)
    hist = base.select(
        "url_hash",
        (F.expr("event_id DIV 337") * (1 + F.col("url_hash") % 3)).alias(
            "round_id"
        ),
        F.md5(
            F.concat(
                F.lit("fp"),
                F.col("url_hash").cast("string"),
                F.lit("_"),
                F.floor(
                    F.col("value") / (F.lit(2) + F.col("url_hash") % 7)
                ).cast("string"),
            )
        ).alias("fingerprint"),
    )
    return revisit_schedule(
        hist, target=0.5, min_interval=1, max_interval=64, default_interval=8
    )


# -------------------------------------------------------------------------
# host-graph crawl prioritization (PageRank + fetch feedback)
# -------------------------------------------------------------------------

def _pagerank_sql(n_iter: int, final_select: str | None = None) -> str:
    """Unrolled power-iteration oracle matching operators/linkgraph.py:
    r0..r{n} CTEs, dangling mass redistributed uniformly. All float
    literals carry e0 suffixes so DuckDB computes in DOUBLE (its bare
    decimals are DECIMAL-typed and round differently at the last ulp
    than the Python-side constants the operator embeds)."""
    its = []
    for i in range(n_iter):
        its.append(f"""
    d{i} AS (SELECT coalesce(sum(r.rank), 0.0e0) AS mass
             FROM dang JOIN r{i} r USING (node)),
    c{i} AS (SELECT t.dst, sum(t.p * r.rank) AS contrib
             FROM trans t JOIN r{i} r ON t.src = r.node GROUP BY t.dst),
    r{i + 1} AS (
      SELECT n.node,
             (1.0e0 - 0.85e0) / (SELECT n FROM nn)
             + 0.85e0 * (coalesce(c.contrib, 0.0e0)
                         + (SELECT mass FROM d{i}) / (SELECT n FROM nn))
             AS rank
      FROM nodes n LEFT JOIN c{i} c ON n.node = c.dst)""")
    return f"""
    WITH e0 AS (
      SELECT 'h' || (user_id % 50) AS src, 'h' || (event_id % 60) AS dst
      FROM events
    ),
    edges AS (
      SELECT src, dst, count(*)::BIGINT AS weight
      FROM e0 WHERE src <> dst GROUP BY src, dst
    ),
    nodes AS (
      SELECT DISTINCT node FROM (
        SELECT src AS node FROM edges UNION ALL SELECT dst FROM edges)
    ),
    nn AS (SELECT count(*)::DOUBLE AS n FROM nodes),
    outw AS (SELECT src, sum(weight)::DOUBLE AS out_w
             FROM edges GROUP BY src),
    trans AS (SELECT e.src, e.dst, e.weight / o.out_w AS p
              FROM edges e JOIN outw o USING (src)),
    dang AS (SELECT node FROM nodes
             WHERE node NOT IN (SELECT src FROM edges)),
    r0 AS (SELECT node, 1.0e0 / (SELECT n FROM nn) AS rank FROM nodes),
    {",".join(its)}
    {final_select or f'SELECT node, round(rank, 6) AS rank FROM r{n_iter}'}
    """


def _battery_host_edges(spark, sf_dir):
    from ..operators.linkgraph import host_edges  # noqa: F401 (shape twin below)

    ev = T(spark, sf_dir, "events")
    # synthetic host graph: 50 linking hosts -> 60 targets (hosts
    # 50..59 are dangling: linked-to but never crawled as sources)
    return (
        ev.select(
            F.concat(F.lit("h"), (F.col("user_id") % 50).cast("string")).alias(
                "src"
            ),
            F.concat(F.lit("h"), (F.col("event_id") % 60).cast("string")).alias(
                "dst"
            ),
        )
        .filter(F.col("src") != F.col("dst"))
        .groupBy("src", "dst")
        .agg(F.count("*").cast("long").alias("weight"))
    )


@q("host_pagerank", _pagerank_sql(2))
def q_host_pagerank(spark, sf_dir):
    """Link-graph crawl priority: weighted PageRank over a 60-host
    graph with 10 dangling hosts, 2 power iterations — per-iteration
    dangling mass and node count are 1-row scalars, each iteration is
    ONE shuffle over the HOST graph (never the page corpus)."""
    from ..operators.linkgraph import pagerank

    return pagerank(
        _battery_host_edges(spark, sf_dir), n_iter=2, damping=0.85, round_to=6
    )


@q(
    "host_fetch_stats",
    """
    SELECT 'h' || (user_id % 37) AS host,
           count(*)::BIGINT AS n_fetches,
           sum(CASE WHEN value < 6 THEN 1 ELSE 0 END)::BIGINT AS n_success,
           sum(CASE WHEN value >= 6 AND value < 9 THEN 1 ELSE 0 END)::BIGINT
             AS n_error,
           sum(CASE WHEN value >= 9 THEN 1 ELSE 0 END)::BIGINT AS n_robots,
           round(sum(CASE WHEN value < 6 THEN 1 ELSE 0 END)
                 / count(*)::DOUBLE, 6) AS success_rate,
           round(sum(CASE WHEN value >= 6 AND value < 9 THEN 1 ELSE 0 END)
                 / count(*)::DOUBLE, 6) AS error_rate,
           round(sum(CASE WHEN value >= 9 THEN 1 ELSE 0 END)
                 / count(*)::DOUBLE, 6) AS robots_rate
    FROM events GROUP BY 1
    """,
)
def q_host_fetch_stats(spark, sf_dir):
    """Per-host fetch feedback (host_stats over a synthetic W3 fetch
    log: status derived from `value` buckets). One hash aggregate."""
    from ..operators.linkgraph import host_stats

    ev = T(spark, sf_dir, "events")
    log = ev.select(
        F.concat(F.lit("h"), (F.col("user_id") % 37).cast("string")).alias(
            "host"
        ),
        F.when(F.col("value") < 6, "success")
        .when(F.col("value") < 9, "error")
        .otherwise("robots")
        .alias("status"),
    )
    return host_stats(log)


_PRIORITY_FINAL = """
    stats AS (
      SELECT 'h' || (user_id % 37) AS host,
             round(sum(CASE WHEN value < 6 THEN 1 ELSE 0 END)
                   / count(*)::DOUBLE, 6) AS success_rate
      FROM events GROUP BY 1
    ),
    mx AS (SELECT max(rank) AS m FROM r1)
    SELECT coalesce(r.node, s.host) AS host,
           coalesce(r.rank, 0.0e0) AS rank,
           coalesce(s.success_rate, 0.5e0) AS success_rate,
           round(0.7e0 * (coalesce(r.rank, 0.0e0) / (SELECT m FROM mx))
                 + 0.3e0 * coalesce(s.success_rate, 0.5e0), 6) AS priority
    FROM r1 r FULL OUTER JOIN stats s ON r.node = s.host
    """


@q("host_priority_blend", _pagerank_sql(1, final_select="," + _PRIORITY_FINAL))
def q_host_priority_blend(spark, sf_dir):
    """Scheduler feedback blend: link centrality (1-iteration PageRank
    over the 60-host graph) x observed success rate (37-host fetch
    log); hosts with no graph presence get rank 0, hosts never fetched
    a neutral 0.5 prior. The blend itself is a broadcast-sized join —
    host cardinality, never page cardinality."""
    from ..operators.linkgraph import host_priority, host_stats, pagerank

    ev = T(spark, sf_dir, "events")
    ranks = pagerank(_battery_host_edges(spark, sf_dir), n_iter=1)
    log = ev.select(
        F.concat(F.lit("h"), (F.col("user_id") % 37).cast("string")).alias(
            "host"
        ),
        F.when(F.col("value") < 6, "success")
        .when(F.col("value") < 9, "error")
        .otherwise("robots")
        .alias("status"),
    )
    return host_priority(ranks, host_stats(log), rank_weight=0.7)


# -------------------------------------------------------------------------
# crawler-trap detection + training-data sampling/packing
# -------------------------------------------------------------------------

@q(
    "trap_hosts",
    """
    WITH u AS (
      SELECT 'h' || (user_id % 20) AS host,
             CASE WHEN user_id % 20 < 3
                  THEN '/cal/' || event_id || '/d' || user_id
                  ELSE '/p/' || (event_id % 25) END AS path
      FROM events
    ),
    t AS (
      SELECT host, path,
             regexp_replace(regexp_replace(path, '[0-9a-f]{8,}', 'H', 'g'),
                            '[0-9]+', 'N', 'g') AS template
      FROM u
    ),
    per_t AS (
      SELECT host, template, count(*)::BIGINT AS n_urls,
             count(DISTINCT path)::BIGINT AS n_paths
      FROM t GROUP BY host, template
    ),
    agg AS (
      SELECT host, sum(n_urls)::BIGINT AS n_urls,
             sum(n_paths)::BIGINT AS n_paths,
             count(*)::BIGINT AS n_templates,
             max(n_paths)::BIGINT AS max_template_paths
      FROM per_t GROUP BY host
    )
    SELECT host, n_urls, n_paths, n_templates, max_template_paths,
           round(n_paths / n_templates::DOUBLE, 6) AS expansion,
           round(n_paths / n_templates::DOUBLE, 6) >= 50.0 AS trap
    FROM agg
    """,
)
def q_trap_hosts(spark, sf_dir):
    """Crawler-trap detection: hosts h0-h2 manufacture calendar-style
    URLs (every event a distinct path, ONE template), h3-h19 serve 25
    real pages. Expansion = distinct paths per template; two hash
    aggregations, no distinct pass over the corpus."""
    from ..operators.traps import trap_signals

    ev = T(spark, sf_dir, "events")
    urls = ev.select(
        F.concat(F.lit("h"), (F.col("user_id") % 20).cast("string")).alias(
            "host"
        ),
        F.when(
            F.col("user_id") % 20 < 3,
            F.concat(
                F.lit("/cal/"),
                F.col("event_id").cast("string"),
                F.lit("/d"),
                F.col("user_id").cast("string"),
            ),
        )
        .otherwise(
            F.concat(F.lit("/p/"), (F.col("event_id") % 25).cast("string"))
        )
        .alias("path"),
    )
    return trap_signals(urls, expansion_threshold=50.0)


@q(
    "stratified_sample",
    """
    SELECT doc_id, lang FROM documents
    WHERE ('0x' || substr(md5('wss' || doc_id), 1, 8))::BIGINT % 10000
          < CASE lang WHEN 'en' THEN 2500 WHEN 'zh' THEN 7500
                      ELSE 5000 END
    """,
)
def q_stratified_sample(spark, sf_dir):
    """Deterministic hash-stratified down-sampling (per-language rates,
    the CC mixing move): membership is a pure function of (salt, id) —
    reproducible across engines, re-runs, and cluster widths. Zero
    shuffle; the bucket filter sits in the scan projection."""
    from ..operators.sampling import hash_sample

    docs = T(spark, sf_dir, "documents").select("doc_id", "lang")
    return hash_sample(
        docs,
        {"en": 0.25, "zh": 0.75},
        strata_col="lang",
        default_fraction=0.5,
    )


@q(
    "pack_sequences",
    """
    WITH d AS (
      SELECT ('0x' || substr(md5('shard' || doc_id), 1, 8))::BIGINT % 64
               AS shard,
             doc_id, (n_chars % 797)::BIGINT AS n_tokens
      FROM documents
    ),
    c AS (
      SELECT shard, doc_id, n_tokens,
             sum(n_tokens + 1) OVER (
               PARTITION BY shard ORDER BY doc_id
               ROWS UNBOUNDED PRECEDING) AS cum
      FROM d
    )
    SELECT shard, doc_id, n_tokens,
           (cum - n_tokens - 1)::BIGINT AS start_offset,
           floor((cum - n_tokens - 1) / 512)::BIGINT AS window_first,
           floor(greatest(cum - 2, cum - n_tokens - 1) / 512)::BIGINT
             AS window_last
    FROM c
    """,
)
def q_pack_sequences(spark, sf_dir):
    """GPT-style concatenative sequence packing: per-shard running sum
    + integer division lays documents (plus a 1-token separator) into
    512-token context windows, straddling allowed — one window pass,
    no Python. Shards are md5-deterministic so the layout is stable
    under re-runs and any cluster width."""
    from ..operators.sampling import pack_sequences

    docs = T(spark, sf_dir, "documents").select(
        "doc_id", (F.col("n_chars") % 797).cast("long").alias("n_tokens")
    )
    return pack_sequences(docs, max_tokens=512, n_shards=64)


@q(
    "domain_split",
    """
    WITH d AS (
      SELECT doc_id, 'd' || (doc_id % 211) AS domain FROM documents
    ),
    b AS (
      SELECT doc_id, domain,
             ('0x' || substr(md5('split' || domain), 1, 8))::BIGINT % 10000
               AS bucket
      FROM d
    )
    SELECT CASE WHEN bucket < 9600 THEN 'train'
                WHEN bucket < 9800 THEN 'valid'
                ELSE 'test' END AS split,
           count(*)::BIGINT AS n_docs,
           count(DISTINCT domain)::BIGINT AS n_domains
    FROM b GROUP BY 1
    """,
)
def q_domain_split(spark, sf_dir):
    """Beyond-ref: leakage-safe train/valid/test split keyed on the
    content-owner (domain) hash, not the document id — intra-site
    near-duplicates can never straddle the train/eval boundary
    (operators/sampling.py:split_assign). Pure zero-shuffle projection;
    the per-split doc and distinct-domain counts pin both the md5
    bucketing and the cumulative-threshold assignment."""
    from ..operators.sampling import split_assign

    docs = T(spark, sf_dir, "documents").select(
        "doc_id",
        F.concat(F.lit("d"), (F.col("doc_id") % 211).cast("string")).alias(
            "domain"
        ),
    )
    return (
        split_assign(
            docs,
            by_col="domain",
            splits=[("train", 0.96), ("valid", 0.02), ("test", 0.02)],
        )
        .groupBy("split")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.countDistinct("domain").cast("long").alias("n_domains"),
        )
    )
