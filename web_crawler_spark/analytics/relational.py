"""SURVEY.md §2 relational operators re-expressed over the driver test tables.

Every query here is the Spark-first form of a concrete reference operator
(citations per entry), paired with a DuckDB oracle in ``ORACLES``. Shared
conventions for oracle parity:

- every computed column is explicitly aliased identically on both sides;
- timestamps are emitted as formatted strings (engine-neutral hashing);
- double SUM/AVG go through decimal (see common.dsum) so the value is
  independent of reduction order — mandatory on a 1000-executor cluster where
  partial-aggregate order is nondeterministic;
- top-k queries carry a unique total-order tiebreak so LIMIT is a set, not a
  race.

Scale notes are inline: which side broadcasts, where the shuffle lands, and
why the plan survives 100 TB.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .common import dsum, sql_dsum, table

TS_FMT_SPARK = "yyyy-MM-dd HH:mm:ss.SSSSSS"
TS_FMT_DUCK = "%Y-%m-%d %H:%M:%S.%f"


# ---------------------------------------------------------------------------
# Flagship: one crawl scheduling round as a single declarative plan.
# frontier := events (event_id=url, user_id=host, ts=priority);
# seen := event_id % 7 == 0. Anti-join (J5, crawler.py:556) → per-host
# politeness rank (§2.5 generalization of crawler.py:637-638) → global
# admission cap by priority order (crawler.py:619-622).
# Scale: the anti-join shuffles on event_id (AQE handles skew); the per-host
# window shuffles once on user_id; the final cap is a TakeOrdered (no global
# sort materialized).
# ---------------------------------------------------------------------------

def frontier_schedule(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events")
    seen = ev.filter(F.col("event_id") % 7 == 0).select("event_id")
    cand = ev.join(seen, "event_id", "left_anti")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    ranked = cand.withColumn("host_rank", F.row_number().over(w))
    return (
        ranked.filter(F.col("host_rank") <= 3)
        .select(
            "event_id",
            F.col("user_id").alias("host"),
            F.date_format("ts", TS_FMT_SPARK).alias("priority_ts"),
            "host_rank",
        )
        .orderBy("priority_ts", "event_id")
        .limit(1000)
    )


SQL_FRONTIER_SCHEDULE = f"""
WITH cand AS (
  SELECT * FROM events e
  WHERE NOT EXISTS (SELECT 1 FROM events s
                    WHERE s.event_id % 7 = 0 AND s.event_id = e.event_id)
), ranked AS (
  SELECT event_id, user_id AS host,
         strftime(ts, '{TS_FMT_DUCK}') AS priority_ts,
         row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS host_rank
  FROM cand
)
SELECT event_id, host, priority_ts, host_rank
FROM ranked WHERE host_rank <= 3
ORDER BY priority_ts, event_id LIMIT 1000
"""


# --- J5: the seen-set anti-join in isolation (customers with no orders) ----

def seen_antijoin(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = table(spark, sf_dir, "orders")
    l = table(spark, sf_dir, "lineitem")
    return o.join(
        l.select(F.col("l_orderkey").alias("o_orderkey")), "o_orderkey", "left_anti"
    ).select("o_orderkey", "o_custkey", "o_orderstatus")


SQL_SEEN_ANTIJOIN = """
SELECT o_orderkey, o_custkey, o_orderstatus FROM orders o
WHERE NOT EXISTS (SELECT 1 FROM lineitem l WHERE l.l_orderkey = o.o_orderkey)
"""


# --- J1: jobs x users enrich (broadcast the small dimension) ---------------

def enrich_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = table(spark, sf_dir, "orders")
    c = table(spark, sf_dir, "customer")
    # customer is the reference's `users` side (database.py:316-322) but it
    # scales with the dataset: no broadcast hint, AQE broadcasts while small
    return (
        o.join(c, o.o_custkey == c.c_custkey, "inner")
        .filter(F.col("o_orderstatus") == "O")
        .select("o_orderkey", "c_name", "c_mktsegment", "o_totalprice")
    )


SQL_ENRICH_JOIN = """
SELECT o_orderkey, c_name, c_mktsegment, o_totalprice
FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
WHERE o_orderstatus = 'O'
"""


# --- J2/A1: jobs left-join page counts (database.py:331-348) ---------------

def pages_per_job(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = table(spark, sf_dir, "customer")
    o = table(spark, sf_dir, "orders")
    counts = o.groupBy("o_custkey").agg(F.count("*").alias("n_orders"))
    return (
        c.join(counts, c.c_custkey == counts.o_custkey, "left")
        .select(
            "c_custkey",
            "c_name",
            F.coalesce("n_orders", F.lit(0)).alias("n_orders"),
        )
    )


SQL_PAGES_PER_JOB = """
SELECT c.c_custkey, c.c_name, count(o.o_orderkey) AS n_orders
FROM customer c LEFT JOIN orders o ON c.c_custkey = o.o_custkey
GROUP BY c.c_custkey, c.c_name
"""


# --- J4 rewrite/A2: per-page link stats as ONE grouped agg (not N+1) -------

def links_per_page(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = table(spark, sf_dir, "lineitem")
    return l.groupBy("l_orderkey").agg(
        F.count("*").alias("n_links"),
        dsum("l_quantity", "total_qty"),
    )


SQL_LINKS_PER_PAGE = f"""
SELECT l_orderkey, count(*) AS n_links, {sql_dsum('l_quantity', 'total_qty')}
FROM lineitem GROUP BY l_orderkey
"""


# --- A4: export statistics (app.py:431-436) --------------------------------

def export_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = table(spark, sf_dir, "documents")
    return d.agg(
        F.count("*").alias("n_docs"),
        F.sum("n_chars").alias("total_chars"),
        (F.sum("n_chars").cast("double") / F.count("*")).alias("avg_chars"),
    )


SQL_EXPORT_STATS = """
SELECT count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS total_chars,
       CAST(sum(n_chars) AS DOUBLE) / count(*) AS avg_chars
FROM documents
"""


# --- A5: status breakdown with % shares (dashboard/admin_panel) ------------

def status_breakdown(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = table(spark, sf_dir, "orders")
    counts = o.groupBy("o_orderstatus").agg(F.count("*").alias("cnt"))
    # broadcast the 1-row grand total instead of an empty-partition window
    # (Window.partitionBy() collapses the post-agg rows to one task and logs
    # `WindowExec: No Partition Defined`; harmless at 3 rows, wrong pattern)
    total = counts.agg(F.sum("cnt").alias("_total"))
    return counts.crossJoin(F.broadcast(total)).select(
        "o_orderstatus",
        "cnt",
        (F.col("cnt") * 100.0 / F.col("_total")).alias("share_pct"),
    )


SQL_STATUS_BREAKDOWN = """
SELECT o_orderstatus, count(*) AS cnt,
       count(*) * 100.0 / sum(count(*)) OVER () AS share_pct
FROM orders GROUP BY o_orderstatus
"""


# --- O2: top-k most-recent (TakeOrdered; database.py:361-367) --------------

def topk_recent(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events")
    return (
        ev.orderBy(F.desc("ts"), F.desc("event_id"))
        .limit(100)
        .select(
            "event_id",
            "user_id",
            "event_type",
            F.date_format("ts", TS_FMT_SPARK).alias("ts_str"),
        )
    )


SQL_TOPK_RECENT = f"""
SELECT event_id, user_id, event_type, strftime(ts, '{TS_FMT_DUCK}') AS ts_str
FROM events ORDER BY ts DESC, event_id DESC LIMIT 100
"""


# --- J3/O4: the link-graph join with multi-key sort (database.py:540-550) --

def linkgraph_sort(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = table(spark, sf_dir, "lineitem")
    o = table(spark, sf_dir, "orders")
    return (
        l.join(o, l.l_orderkey == o.o_orderkey, "inner")
        .orderBy("o_orderdate", "l_orderkey", "l_linenumber")
        .limit(500)
        .select(
            F.date_format("o_orderdate", TS_FMT_SPARK).alias("order_date"),
            "l_orderkey",
            "l_linenumber",
            "l_partkey",
        )
    )


SQL_LINKGRAPH_SORT = f"""
SELECT strftime(o_orderdate, '{TS_FMT_DUCK}') AS order_date,
       l_orderkey, l_linenumber, l_partkey
FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
ORDER BY o_orderdate, l_orderkey, l_linenumber LIMIT 500
"""


# --- §2.5: the page-cap admission window (crawler.py:619-622) --------------

def admission_cap(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events")
    # cumulative admission rank over the global priority order; <= cap keeps
    # the reference's mid-level truncation semantics. Ranking runs through
    # the engine's two-phase global_rank (range-partition + per-partition
    # row_number + offsets) — never a single-partition window, so the
    # registered query IS the plan you'd run at 100× (the old
    # `Window.orderBy(...)` form emitted `WindowExec: No Partition Defined`
    # and moved every row to one task).
    from ..engine import global_rank

    cand = ev.filter(F.col("event_type") == "view").select("event_id", "ts")
    ranked = global_rank(cand, ["ts", "event_id"], "admission_rank")
    return (
        ranked.filter(F.col("admission_rank") <= 500)
        .select("event_id", F.col("admission_rank").cast("int").alias("admission_rank"))
    )


SQL_ADMISSION_CAP = """
SELECT event_id, admission_rank FROM (
  SELECT event_id, row_number() OVER (ORDER BY ts, event_id) AS admission_rank
  FROM events WHERE event_type = 'view'
) WHERE admission_rank <= 500
"""


# --- J6: first-occurrence dedup (crawler.py:429-430) -----------------------

def first_occurrence(spark: SparkSession, sf_dir: str) -> DataFrame:
    # the crawl round's own first-occurrence rule (engine.first_by); the
    # oracle states it as a row_number window — event_id is unique, so
    # both pick the same row
    from ..engine import first_by

    ev = table(spark, sf_dir, "events")
    return first_by(ev, ["user_id", "event_type"], ["ts", "event_id"]).select(
        "user_id", "event_type", F.col("event_id").alias("first_event_id")
    )


SQL_FIRST_OCCURRENCE = """
SELECT user_id, event_type, event_id AS first_event_id FROM (
  SELECT user_id, event_type, event_id,
         row_number() OVER (PARTITION BY user_id, event_type
                            ORDER BY ts, event_id) AS _rn
  FROM events
) WHERE _rn = 1
"""


# --- F1-F4: the parse-stage string pipeline (crawler.py:352-396,460-462) ---

def content_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = table(spark, sf_dir, "documents")
    norm = F.regexp_replace(F.trim(F.col("text")), r"\s+", " ")
    return d.select(
        "doc_id",
        F.substring(norm, 1, 100).alias("title"),
        F.when(norm == "", 0).otherwise(F.size(F.split(norm, " "))).alias("word_count"),
        F.length("text").alias("char_count"),
        F.length(norm).alias("norm_char_count"),
    )


SQL_CONTENT_STATS = r"""
SELECT doc_id,
       substring(norm, 1, 100) AS title,
       CASE WHEN norm = '' THEN 0 ELSE len(string_split(norm, ' ')) END AS word_count,
       length(text) AS char_count,
       length(norm) AS norm_char_count
FROM (SELECT doc_id, text, regexp_replace(trim(text), '\s+', ' ', 'g') AS norm
      FROM documents)
"""


# --- §2.8 scalar-function surface (dates, math, case-when, JSON edge) ------

def scalar_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = table(spark, sf_dir, "orders")
    attempt = (F.col("o_orderkey") % 6).cast("int")
    return o.select(
        "o_orderkey",
        F.date_format("o_orderdate", "dd.MM HH:mm").alias("date_str"),
        # retry backoff: min(60, 2**(attempt+1)) — crawler.py:161
        F.least(F.lit(60.0), F.pow(F.lit(2.0), (attempt + 1).cast("double"))).alias("backoff_s"),
        # F8 status-class predicate
        F.when(F.col("o_orderstatus") == "F", "success")
        .when(F.col("o_orderstatus") == "O", "warning")
        .otherwise("danger")
        .alias("status_class"),
        # progress clamp: min(90, floor(x)) — crawler.py:498
        F.least(F.lit(90).cast("long"), F.floor(F.col("o_totalprice") / 1000.0)).alias("progress"),
        F.lower("o_orderpriority").alias("prio_lower"),
    )


SQL_SCALAR_FUNCS = """
SELECT o_orderkey,
       strftime(o_orderdate, '%d.%m %H:%M') AS date_str,
       least(60.0, pow(2.0, CAST((o_orderkey % 6) + 1 AS DOUBLE))) AS backoff_s,
       CASE WHEN o_orderstatus = 'F' THEN 'success'
            WHEN o_orderstatus = 'O' THEN 'warning'
            ELSE 'danger' END AS status_class,
       least(CAST(90 AS BIGINT), CAST(floor(o_totalprice / 1000.0) AS BIGINT)) AS progress,
       lower(o_orderpriority) AS prio_lower
FROM orders
"""


# --- JSON document edge (§1.2 JSONB — to_json/from_json only at the edge) --

def json_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events")
    return ev.select(
        "event_id",
        F.get_json_object("props", "$.k").cast("long").alias("prop_k"),
    ).filter(F.col("prop_k") > 50)


SQL_JSON_EXTRACT = """
SELECT event_id, CAST(json_extract_string(props, '$.k') AS BIGINT) AS prop_k
FROM events WHERE CAST(json_extract_string(props, '$.k') AS BIGINT) > 50
"""


# --- streaming-analog: event-time tumbling-window rollup -------------------

def event_totals():
    """Per-group event count and exact value sum — the aggregates of every
    event rollup and its stream (streaming/stream_rollup.py)."""
    return F.count("*").alias("n_events"), dsum("value", "total_value")


def hourly_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events")
    # batch form of the Structured Streaming windowed agg
    # (stream_rollup.rollup_stream groups by window() over readStream)
    return (
        ev.groupBy(F.date_trunc("hour", "ts").alias("hour"), "event_type")
        .agg(*event_totals())
        .select(
            F.date_format("hour", TS_FMT_SPARK).alias("hour_str"),
            "event_type",
            "n_events",
            "total_value",
        )
    )


SQL_HOURLY_ROLLUP = f"""
SELECT strftime(date_trunc('hour', ts), '{TS_FMT_DUCK}') AS hour_str,
       event_type, count(*) AS n_events,
       {sql_dsum('value', 'total_value')}
FROM events GROUP BY date_trunc('hour', ts), event_type
"""


SESSION_GAP = "10 minutes"


def user_sessions(ev: DataFrame) -> DataFrame:
    """(sw, user_id, n_events, total_value) per user session window of
    *ev*: one ``session_window`` plan for ``session_rollup`` and
    ``stream_rollup.session_stream``, which adds only its watermark."""
    return ev.groupBy(F.session_window("ts", SESSION_GAP).alias("sw"), "user_id").agg(
        *event_totals()
    )


def session_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user session windows (SESSION_GAP inactivity gap) over a static
    read. A session merges consecutive events that each arrive strictly
    within the gap of the previous one; its end is last event + gap. The
    DuckDB oracle states the same semantics as gaps-and-islands (lag +
    running sum of session-break flags)."""
    return (
        user_sessions(table(spark, sf_dir, "events"))
        .select(
            "user_id",
            F.date_format(F.col("sw.start"), TS_FMT_SPARK).alias("session_start"),
            F.date_format(F.col("sw.end"), TS_FMT_SPARK).alias("session_end"),
            "n_events",
            "total_value",
        )
    )


SQL_SESSION_ROLLUP = f"""
WITH flagged AS (
  SELECT user_id, ts, event_id, value,
         CASE WHEN lag(ts) OVER w IS NULL
                   OR ts - lag(ts) OVER w >= INTERVAL '{SESSION_GAP}'
              THEN 1 ELSE 0 END AS new_sess
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
), numbered AS (
  -- (ts, event_id) matches the flag window's total order: with ts alone,
  -- same-ts events at a session boundary could be numbered in either order
  SELECT user_id, ts, value,
         SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
                             ROWS UNBOUNDED PRECEDING) AS sess_id
  FROM flagged
)
SELECT user_id,
       strftime(min(ts), '{TS_FMT_DUCK}') AS session_start,
       strftime(max(ts) + INTERVAL '{SESSION_GAP}', '{TS_FMT_DUCK}') AS session_end,
       CAST(count(*) AS BIGINT) AS n_events,
       {sql_dsum('value', 'total_value')}
FROM numbered GROUP BY user_id, sess_id
"""


def attribution_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch twin of the streaming attribution join
    (streaming/stream_join.py): purchases matched to a same-user click
    within 1 hour — an event-time interval self-join. The streaming form
    runs the identical predicate with two-sided watermarks so join state
    stays bounded; here the static read lets Catalyst plan it as a plain
    shuffled join on user_id with the range predicate as a post-filter."""
    from ..streaming.stream_join import attribution_batch

    return attribution_batch(spark, os.path.join(sf_dir, "events.parquet"))


SQL_ATTRIBUTION_JOIN = """
SELECT c.user_id, c.click_id, p.purchase_id, p.purchase_value,
       CAST(floor(epoch(p.purchase_ts)) - floor(epoch(c.click_ts)) AS BIGINT) AS lag_s
FROM (SELECT user_id, event_id AS click_id, ts AS click_ts
      FROM events WHERE event_type = 'click') c
JOIN (SELECT user_id, event_id AS purchase_id, ts AS purchase_ts,
             value AS purchase_value
      FROM events WHERE event_type = 'purchase') p
  ON c.user_id = p.user_id
WHERE p.purchase_ts >= c.click_ts
  AND p.purchase_ts <= c.click_ts + INTERVAL 1 HOUR
"""


def asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join: each purchase matched to the same user's most recent
    click at-or-before it (the time-series enrichment pattern; Spark has no
    native ASOF operator). Expressed as ONE shuffle: union both sides tagged
    by kind, then a per-user running ``last(click, ignorenulls)`` over the
    event-time order — O(n log n) per user partition, no range join, no
    per-row probe. Ties: a click at the purchase's exact ts matches (kind
    orders clicks first); equal-ts clicks resolve to the highest event_id.
    The oracle states the same thing as a lateral top-1 per purchase."""
    ev = table(spark, sf_dir, "events").filter(
        F.col("event_type").isin("click", "purchase")
    )
    tagged = ev.select(
        "user_id",
        "ts",
        "event_id",
        "value",
        F.when(F.col("event_type") == "click", 0).otherwise(1).alias("kind"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "kind", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    click_struct = F.when(
        F.col("kind") == 0, F.struct(F.col("ts").alias("cts"), F.col("event_id").alias("cid"))
    )
    enriched = tagged.withColumn("last_click", F.last(click_struct, ignorenulls=True).over(w))
    return (
        enriched.filter(F.col("kind") == 1)
        .select(
            "user_id",
            F.col("event_id").alias("purchase_id"),
            F.col("value").alias("purchase_value"),
            F.col("last_click.cid").alias("click_id"),
            (
                F.unix_timestamp("ts") - F.unix_timestamp("last_click.cts")
            ).alias("lag_s"),
        )
    )


SQL_ASOF_JOIN = """
SELECT p.user_id, p.event_id AS purchase_id, p.value AS purchase_value,
       c.click_id,
       CAST(floor(epoch(p.ts)) - floor(epoch(c.click_ts)) AS BIGINT) AS lag_s
FROM (SELECT * FROM events WHERE event_type = 'purchase') p
LEFT JOIN LATERAL (
  SELECT event_id AS click_id, ts AS click_ts
  FROM events c
  WHERE c.event_type = 'click' AND c.user_id = p.user_id AND c.ts <= p.ts
  ORDER BY c.ts DESC, c.event_id DESC LIMIT 1
) c ON TRUE
"""


def stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic stratified sampling for training-data curation: keep a
    per-stratum fraction of rows chosen by an md5-hex threshold on the row
    key — reproducible on any cluster / partition layout (no RNG state), and
    bit-identical across engines since both sides compare the same hex
    digest lexicographically. Rates: purchase 100%, click 50%, view 25%,
    everything else ~6.25%."""
    ev = table(spark, sf_dir, "events")
    h = F.substring(F.md5(F.col("event_id").cast("string")), 1, 2)
    thresh = (
        F.when(F.col("event_type") == "purchase", F.lit("ff"))
        .when(F.col("event_type") == "click", F.lit("80"))
        .when(F.col("event_type") == "view", F.lit("40"))
        .otherwise(F.lit("10"))
    )
    return ev.filter(h <= thresh).select(
        "event_id", "user_id", "event_type", F.date_format("ts", TS_FMT_SPARK).alias("ts_str")
    )


SQL_STRATIFIED_SAMPLE = f"""
SELECT event_id, user_id, event_type, strftime(ts, '{TS_FMT_DUCK}') AS ts_str
FROM events
WHERE substr(md5(CAST(event_id AS VARCHAR)), 1, 2) <=
      CASE event_type WHEN 'purchase' THEN 'ff' WHEN 'click' THEN '80'
                      WHEN 'view' THEN '40' ELSE '10' END
"""


# --- F5: the URL-canonicalization pandas UDF (crawler.py:407-427) ----------
# Hrefs are synthesized deterministically from event ids in six known forms,
# so the DuckDB oracle can state the expected canonical URL in closed form —
# exercising the Arrow UDF path (urljoin/unquote/strip/domain-gate) against
# an exact oracle. Full RFC-3986 behavior is unit-tested against urllib in
# tests/test_core_pure.py; the engine uses the same core function.

def url_canonicalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.udfs import make_canonicalize

    ev = table(spark, sf_dir, "events").select("event_id")
    m = F.col("event_id") % 6
    href = (
        F.when(m == 0, F.concat(F.lit("http://site0.test/p/"), "event_id", F.lit("?q=1#frag")))
        .when(m == 1, F.concat(F.lit("/p/"), "event_id", F.lit("?x=2")))
        .when(m == 2, F.concat(F.lit("p/"), "event_id"))
        .when(m == 3, F.concat(F.lit("http://other.test/p/"), "event_id"))
        .when(m == 4, F.concat(F.lit("#sec"), "event_id"))
        .otherwise(F.concat(F.lit("http://docs.site0.test/p%2F"), "event_id"))
    )
    base = F.lit("http://site0.test/a/b")
    canon_udf = F.pandas_udf(make_canonicalize("site0.test"), "string")
    return ev.select(
        "event_id",
        href.alias("href"),
        canon_udf(href, base).alias("canonical"),
    )


SQL_URL_CANONICALIZE = """
SELECT event_id, href,
       CASE m
         WHEN 0 THEN 'http://site0.test/p/' || event_id
         WHEN 1 THEN 'http://site0.test/p/' || event_id
         WHEN 2 THEN 'http://site0.test/a/p/' || event_id
         WHEN 3 THEN NULL
         WHEN 4 THEN NULL
         ELSE 'http://docs.site0.test/p/' || event_id
       END AS canonical
FROM (
  SELECT event_id, event_id % 6 AS m,
         CASE event_id % 6
           WHEN 0 THEN 'http://site0.test/p/' || event_id || '?q=1#frag'
           WHEN 1 THEN '/p/' || event_id || '?x=2'
           WHEN 2 THEN 'p/' || event_id
           WHEN 3 THEN 'http://other.test/p/' || event_id
           WHEN 4 THEN '#sec' || event_id
           ELSE 'http://docs.site0.test/p%2F' || event_id
         END AS href
  FROM events
)
"""


# --- distinct aggregate (beyond reference; standard warehouse surface) -----

def events_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct-count + exact-percentile profile per event_type (merged from
    the former distinct_users + value_percentiles registry entries — same
    grain and group key; one row per event_type keeps the driver's 8 KB
    correctness file under budget without losing either operator's check).

    Exact linear-interpolation percentiles (Spark `percentile` == DuckDB
    `quantile_cont`); the engine's metrics plane uses percentile_approx for
    the same stat at unbounded cardinality."""
    ev = table(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        F.countDistinct("user_id").alias("n_users"),
        F.count("*").alias("n_events"),
        F.expr("percentile(value, 0.5)").alias("p50"),
        F.expr("percentile(value, 0.95)").alias("p95"),
        F.min("value").alias("vmin"),
        F.max("value").alias("vmax"),
    )


SQL_EVENTS_PROFILE = """
SELECT event_type, count(DISTINCT user_id) AS n_users, count(*) AS n_events,
       quantile_cont(value, 0.5) AS p50,
       quantile_cont(value, 0.95) AS p95,
       min(value) AS vmin, max(value) AS vmax
FROM events GROUP BY event_type
"""


# --- rollup / grouping sets -------------------------------------------------

def status_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = table(spark, sf_dir, "orders")
    return (
        o.rollup("o_orderstatus", "o_orderpriority")
        .agg(F.count("*").alias("n"), dsum("o_totalprice", "total"))
        .select(
            F.coalesce("o_orderstatus", F.lit("ALL")).alias("status"),
            F.coalesce("o_orderpriority", F.lit("ALL")).alias("priority"),
            "n",
            "total",
        )
    )


SQL_STATUS_ROLLUP = f"""
SELECT coalesce(o_orderstatus, 'ALL') AS status,
       coalesce(o_orderpriority, 'ALL') AS priority,
       count(*) AS n, {sql_dsum('o_totalprice', 'total')}
FROM orders GROUP BY ROLLUP (o_orderstatus, o_orderpriority)
"""


QUERIES = {
    "frontier_schedule": frontier_schedule,
    "seen_antijoin": seen_antijoin,
    "enrich_join": enrich_join,
    "pages_per_job": pages_per_job,
    "links_per_page": links_per_page,
    "export_stats": export_stats,
    "status_breakdown": status_breakdown,
    "linkgraph_sort": linkgraph_sort,
    "admission_cap": admission_cap,
    "first_occurrence": first_occurrence,
    "content_stats": content_stats,
    "scalar_funcs": scalar_funcs,
    "hourly_rollup": hourly_rollup,
    "session_rollup": session_rollup,
    "attribution_join": attribution_join,
    "asof_join": asof_join,
    "stratified_sample": stratified_sample,
    "url_canonicalize": url_canonicalize,
    "events_profile": events_profile,
}

# status_rollup lives in the local tier: ROLLUP grouping sets are a
# beyond-reference warehouse extra whose aggregation machinery is already
# driver-evidenced (status_breakdown, pages_per_job, events_profile); the
# demotion buys the 8 KiB driver CORRECTNESS file margin against truncation.
# json_extract joined it in round 4: its get_json_object/json_tuple capability
# (SC json scalars) is also driver-evidenced through scalar_funcs +
# content_stats, and the slot funds promoting corpus_pipeline_full +
# embed_semdedup into the driver tier. topk_recent likewise: ordered top-k
# (O1-O8) stays driver-evidenced by linkgraph_sort (multi-key sort+limit) and
# admission_cap (rank cap).
LOCAL_QUERIES = {
    "status_rollup": status_rollup,
    "json_extract": json_extract,
    "topk_recent": topk_recent,
}
LOCAL_ORACLES = {
    "status_rollup": SQL_STATUS_ROLLUP,
    "json_extract": SQL_JSON_EXTRACT,
    "topk_recent": SQL_TOPK_RECENT,
}

ORACLES = {
    "url_canonicalize": SQL_URL_CANONICALIZE,
    "events_profile": SQL_EVENTS_PROFILE,
    "frontier_schedule": SQL_FRONTIER_SCHEDULE,
    "seen_antijoin": SQL_SEEN_ANTIJOIN,
    "enrich_join": SQL_ENRICH_JOIN,
    "pages_per_job": SQL_PAGES_PER_JOB,
    "links_per_page": SQL_LINKS_PER_PAGE,
    "export_stats": SQL_EXPORT_STATS,
    "status_breakdown": SQL_STATUS_BREAKDOWN,
    "linkgraph_sort": SQL_LINKGRAPH_SORT,
    "admission_cap": SQL_ADMISSION_CAP,
    "first_occurrence": SQL_FIRST_OCCURRENCE,
    "content_stats": SQL_CONTENT_STATS,
    "scalar_funcs": SQL_SCALAR_FUNCS,
    "hourly_rollup": SQL_HOURLY_ROLLUP,
    "session_rollup": SQL_SESSION_ROLLUP,
    "attribution_join": SQL_ATTRIBUTION_JOIN,
    "asof_join": SQL_ASOF_JOIN,
    "stratified_sample": SQL_STRATIFIED_SAMPLE,
}
