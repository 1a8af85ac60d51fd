"""Graph + corpus-pipeline operators: fixed-point PageRank over the host
link graph, context-window sequence packing, and integer-exact TF-IDF term
ranking.

These extend the crawl engine's analytics surface with the three workloads a
crawl corpus feeds at 100 TB: link-graph authority scoring (prioritising the
frontier — the reference's FIFO order is the degenerate case, cf.
Crawler/crawler.py:619-622 where admission order is the only priority),
packing deduplicated documents into fixed-size training context windows, and
ranking salient terms per document for retrieval indexes.

Oracle-parity strategy (shared with the rest of the suite): every arithmetic
step is INTEGER — fixed-point damping (17/20 = 0.85), integer floor
division (`DIV` in Spark, `//` in DuckDB, identical for non-negative
operands), and integer sums (associative, so the value is independent of
partition/reduction order on any cluster layout). No float ever enters an
aggregate, which is what makes a 3-iteration PageRank bit-reproducible in
both engines.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .common import table
from .text import SQL_WORDS, _WORDS

# --- host_pagerank ---------------------------------------------------------
# Graph derived deterministically from `events`: 97 host nodes, edge
# src -> dst for every distinct (user_id % 97, event_id % 97) pair. Rank is
# held in integer micro-units (1e6 = 1.0); one iteration is
#   rank'(v) = 150000 + sum_{u->v} (rank(u) * 17) DIV (20 * outdeg(u))
# i.e. damping 0.85 with floor at every edge. Dangling-node mass is dropped
# (deterministically, in both engines).
#
# Scale shape: edges join ranks on src each iteration — the canonical
# distributed PageRank. The join strategy is SIZE-GATED on the counted node
# set: below PR_BROADCAST_MAX_NODES the |nodes|-row rank table is broadcast
# (zero wide exchange per iteration); above it — host-grain graphs on the
# open web reach 10^7-10^8 nodes, past any broadcast budget — rank is
# shuffle-hash-joined against the edge table's standing hash partitioning on
# src (rank is the build side: |nodes| << |edges|, and hinting shuffle_hash
# keeps AQE from "helpfully" broadcasting the small side in tests AND from
# sort-merging at scale, where re-sorting the big edge side every iteration
# would dominate). The edge table keeps ONE hash partitioning across all
# iterations in either mode.

PR_MOD = 97
PR_R0 = 1_000_000
PR_BASE = 150_000  # floor(0.15 * 1e6)
PR_ITERS = 3
# rank rows are two longs (~16 B + row overhead); 10^7 rows ≈ a few hundred
# MB serialized — the edge of what per-executor broadcast maps tolerate
PR_BROADCAST_MAX_NODES = 10_000_000


def host_pagerank(
    spark: SparkSession,
    sf_dir: str,
    broadcast_max_nodes: int = PR_BROADCAST_MAX_NODES,
) -> DataFrame:
    ev = table(spark, sf_dir, "events")
    edges = (
        ev.select(
            (F.col("user_id") % PR_MOD).alias("src"),
            (F.col("event_id") % PR_MOD).alias("dst"),
        )
        .filter(F.col("src") != F.col("dst"))
        .distinct()
    )
    nodes = (
        edges.select(F.col("src").alias("node"))
        .union(edges.select(F.col("dst").alias("node")))
        .distinct()
    )
    outdeg = edges.groupBy("src").agg(F.count("*").alias("outdeg"))
    # one partitioning of the weighted edge list, reused by every iteration
    ew = (
        edges.join(outdeg, "src")
        .repartition("src")
        .localCheckpoint(eager=True)
    )
    # one O(1)-output count gates the per-iteration join strategy (the node
    # set is static across iterations, so this is paid once)
    n_nodes = nodes.count()
    use_broadcast = n_nodes <= broadcast_max_nodes
    rank = nodes.select("node", F.lit(PR_R0).cast("long").alias("rank"))
    for _ in range(PR_ITERS):
        rank_side = F.broadcast(rank) if use_broadcast else rank.hint("shuffle_hash")
        contrib = ew.join(
            rank_side, ew["src"] == rank["node"]
        ).select(
            "dst",
            F.expr("(rank * 17) DIV (20 * outdeg)").alias("c"),
        )
        agg = contrib.groupBy("dst").agg(F.sum("c").alias("s"))
        rank = (
            nodes.join(agg, nodes["node"] == agg["dst"], "left")
            .select(
                "node",
                (F.lit(PR_BASE) + F.coalesce(F.col("s"), F.lit(0)))
                .cast("long")
                .alias("rank"),
            )
        )
    return rank.orderBy(F.desc("rank"), "node")


def _sql_pr_iter(prev: str, out: str) -> str:
    return f"""
{out} AS (
  SELECT n.node,
         CAST(150000 + COALESCE(SUM(c.c), 0) AS BIGINT) AS rank
  FROM nodes n
  LEFT JOIN (
    SELECT e.dst, (r.rank * 17) // (20 * e.outdeg) AS c
    FROM ew e JOIN {prev} r ON e.src = r.node
  ) c ON c.dst = n.node
  GROUP BY n.node
)"""


SQL_HOST_PAGERANK = f"""
WITH edges AS (
  SELECT DISTINCT user_id % {PR_MOD} AS src, event_id % {PR_MOD} AS dst
  FROM events WHERE user_id % {PR_MOD} != event_id % {PR_MOD}
), nodes AS (
  SELECT src AS node FROM edges UNION SELECT dst FROM edges
), outdeg AS (
  SELECT src, count(*) AS outdeg FROM edges GROUP BY src
), ew AS (
  SELECT e.src, e.dst, o.outdeg FROM edges e JOIN outdeg o USING (src)
), r0 AS (
  SELECT node, CAST({PR_R0} AS BIGINT) AS rank FROM nodes
),{_sql_pr_iter("r0", "r1")},{_sql_pr_iter("r1", "r2")},{_sql_pr_iter("r2", "r3")}
SELECT node, rank FROM r3 ORDER BY rank DESC, node
"""


# --- doc_pack --------------------------------------------------------------
# Sequence packing: assign documents (in doc_id order) to fixed-capacity
# training context windows by global token cumsum — bin = floor(tokens
# consumed before this doc / capacity). The contiguous-fill contract is the
# SQL-expressible packing used by large-corpus training pipelines (greedy
# first-fit is order-dependent and not reduction-safe).
#
# Scale shape: the global cumsum is TWO-PHASE (range-partition by doc_id,
# per-partition window cumsum, tiny per-partition totals collect, offset
# add) — the same pattern as engine.global_rank — so no single-partition
# WindowExec appears anywhere and the plan survives a 10^10-document corpus.

PACK_CAP = 1024  # tokens per context window


def _pack_bins(toks: DataFrame, cap: int = PACK_CAP) -> DataFrame:
    """(doc_id, n_tokens) → + (cum_tokens, bin_id) by global doc_id-order
    cumsum, two-phase (see module note). Shared by doc_pack,
    corpus_pipeline and the image tier's byte-budget shard packing
    (multimodal.image_shard_pack, which passes its own *cap*)."""
    part = (
        toks.repartitionByRange("doc_id")
        .sortWithinPartitions("doc_id")
        .withColumn("_pid", F.spark_partition_id())
        .localCheckpoint(eager=True)
    )
    totals = {
        r["_pid"]: r["t"]
        for r in part.groupBy("_pid").agg(F.sum("n_tokens").alias("t")).collect()
    }
    offsets, acc = {}, 0
    for pid in sorted(totals):
        offsets[pid] = acc
        acc += totals[pid]
    if offsets:
        omap = F.create_map(*[F.lit(x) for kv in offsets.items() for x in kv])
        offset_expr = omap[F.col("_pid")]
    else:
        offset_expr = F.lit(0).cast("long")
    w = Window.partitionBy("_pid").orderBy("doc_id")
    return (
        part.withColumn("cum_local", F.sum("n_tokens").over(w))
        .select(
            "doc_id",
            "n_tokens",
            (offset_expr + F.col("cum_local")).cast("long").alias("cum_tokens"),
        )
        .withColumn("bin_id", F.expr(f"(cum_tokens - n_tokens) DIV {cap}"))
    )


def doc_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = table(spark, sf_dir, "documents")
    toks = d.select("doc_id", F.expr(f"size({_WORDS})").cast("long").alias("n_tokens"))
    return _pack_bins(toks).orderBy("doc_id")


SQL_DOC_PACK = f"""
WITH toks AS (
  SELECT doc_id, CAST(len({SQL_WORDS}) AS BIGINT) AS n_tokens FROM documents
), cum AS (
  SELECT doc_id, n_tokens,
         SUM(n_tokens) OVER (ORDER BY doc_id
                             ROWS UNBOUNDED PRECEDING) AS cum_tokens
  FROM toks
)
SELECT doc_id, n_tokens, CAST(cum_tokens AS BIGINT) AS cum_tokens,
       CAST((cum_tokens - n_tokens) // {PACK_CAP} AS BIGINT) AS bin_id
FROM cum ORDER BY doc_id
"""


# --- corpus_pipeline -------------------------------------------------------
# The end-to-end training-data pipeline a reference user runs over a crawled
# corpus, composed from the registered stages: retention verdict
# (near-dup fingerprint + length gate + quality score, text.py) → keep only
# → pack survivors into fixed-capacity context windows → per-window summary.
# Demonstrates that the operators compose as one declarative plan: Catalyst
# sees retention + packing together and prunes columns across the boundary.
#
# Scale shape: retention is one shuffle pair on the fingerprint key; packing
# adds the two-phase cumsum; the final rollup is a map-side-combined groupBy
# on bin_id. No new shuffle class beyond the stages' own.


def corpus_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .text import corpus_retention

    kept = (
        corpus_retention(spark, sf_dir)
        .filter(F.col("keep"))
        .select("doc_id", F.col("n_words").cast("long").alias("n_tokens"))
    )
    return (
        _pack_bins(kept)
        .groupBy("bin_id")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_tokens").alias("bin_tokens"),
            F.min("doc_id").alias("first_doc"),
            F.max("doc_id").alias("last_doc"),
        )
        .orderBy("bin_id")
    )


def _sql_corpus_pipeline() -> str:
    from .text import SQL_CORPUS_RETENTION

    return f"""
WITH verdicts AS ({SQL_CORPUS_RETENTION}),
kept AS (
  SELECT doc_id, CAST(n_words AS BIGINT) AS n_tokens
  FROM verdicts WHERE keep
), cum AS (
  SELECT doc_id, n_tokens,
         SUM(n_tokens) OVER (ORDER BY doc_id
                             ROWS UNBOUNDED PRECEDING) AS cum_tokens
  FROM kept
)
SELECT CAST((cum_tokens - n_tokens) // {PACK_CAP} AS BIGINT) AS bin_id,
       count(*) AS n_docs,
       CAST(SUM(n_tokens) AS BIGINT) AS bin_tokens,
       min(doc_id) AS first_doc,
       max(doc_id) AS last_doc
FROM cum GROUP BY bin_id ORDER BY bin_id
"""


# --- tfidf_topterms --------------------------------------------------------
# Top-3 salient terms per document by an integer-exact tf-idf surrogate:
# score = tf * n_docs * 1000 DIV df (monotone in tf * (N/df); log-free so
# the value is bit-identical cross-engine). Tie-break by term asc makes the
# top-3 a set, not a race.
#
# Scale shape: explode -> two hash aggregations (tf on (doc, term), df on
# term, both map-side partial) -> join tf x df on term -> a per-document
# window (naturally partitioned — no global window). The per-term df table
# grows with the corpus vocabulary, so it carries NO broadcast hint: AQE
# broadcasts it while it is small and falls back to a shuffle join on the
# uniform term key once it is not. Only the 1-row n_docs side is hinted.
# High-df
# boilerplate terms score near 0 and never enter the top-3, so no skew
# pathologies from stopwords.

TFIDF_TOPK = 3


def tfidf_topterms(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = table(spark, sf_dir, "documents")
    words = (
        d.select("doc_id", F.explode(F.expr(_WORDS)).alias("term"))
        .filter(F.col("term") != "")
    )
    tf = words.groupBy("doc_id", "term").agg(F.count("*").alias("tf"))
    df_ = words.groupBy("term").agg(F.countDistinct("doc_id").alias("df"))
    ndocs = d.agg(F.count("*").alias("n_docs"))
    scored = (
        tf.join(df_, "term")
        .crossJoin(F.broadcast(ndocs))
        .withColumn("score", F.expr("(tf * n_docs * 1000) DIV df"))
    )
    w = Window.partitionBy("doc_id").orderBy(F.desc("score"), "term")
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= TFIDF_TOPK)
        .select("doc_id", "term", "tf", "df", "score", "rnk")
        .orderBy("doc_id", "rnk")
    )


SQL_TFIDF_TOPTERMS = f"""
WITH words AS (
  SELECT doc_id, w AS term
  FROM (SELECT doc_id, unnest({SQL_WORDS}) AS w FROM documents)
  WHERE w != ''
), tf AS (
  SELECT doc_id, term, count(*) AS tf FROM words GROUP BY doc_id, term
), dfx AS (
  SELECT term, count(DISTINCT doc_id) AS df FROM words GROUP BY term
), nd AS (
  SELECT count(*) AS n_docs FROM documents
), scored AS (
  SELECT t.doc_id, t.term, t.tf, d.df,
         (t.tf * n.n_docs * 1000) // d.df AS score
  FROM tf t JOIN dfx d USING (term) CROSS JOIN nd n
), ranked AS (
  SELECT *, row_number() OVER (PARTITION BY doc_id
                               ORDER BY score DESC, term) AS rnk
  FROM scored
)
SELECT doc_id, term, tf, df, score, rnk
FROM ranked WHERE rnk <= {TFIDF_TOPK} ORDER BY doc_id, rnk
"""


# --- approx_distinct_kmv ---------------------------------------------------
# K-minimum-values cardinality sketch: hash every key into [0, 2^48), keep
# the k smallest hashes, estimate |distinct| = (k-1) * 2^48 DIV kth_min.
# All-integer (md5-derived hashes + floor division), so the sketch estimate
# is bit-identical cross-engine — unlike HLL, whose harmonic-mean float math
# is not oracle-pairable. The true exact count rides along in the same row
# as the verification baseline.
#
# Scale shape: KMV keeps the k smallest DISTINCT hashes (duplicate keys must
# not occupy sketch slots, or the estimate biases low and the streaming
# twin's set-based state diverges). distinct() is one hash shuffle whose map
# side dedupes (partial aggregate), then orderBy+limit executes as
# TakeOrdered: each partition keeps its local k minima and the driver merges
# k-sized heaps — that IS the KMV merge operator (sketch union = k smallest
# of the concatenation). At 10^10 keys the dedup shuffle is the inherent
# cost of exact distinct semantics; the exact countDistinct baseline
# alongside exists purely to report sketch error.

KMV_K = 64
KMV_SPACE = 1 << 48  # 12 hex digits of md5: (k-1)*2^48 stays far below 2^63


def kmv_hash(key_col: str):
    """The sketch hash of *key_col*: 12 hex digits of its md5 as a 48-bit
    int (``approx_distinct_kmv`` and ``streaming.stream_kmv``)."""
    return F.conv(F.substring(F.md5(F.col(key_col).cast("string")), 1, 12), 16, 10).cast(
        "bigint"
    )


def approx_distinct_kmv(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events")
    hashes = ev.select(kmv_hash("event_id").alias("h"))
    kth = (
        hashes.distinct()
        .orderBy("h")
        .limit(KMV_K)
        .agg(F.max("h").alias("kth_min"), F.count("*").alias("k_seen"))
    )
    exact = ev.agg(F.countDistinct("event_id").alias("true_distinct"))
    return (
        kth.crossJoin(F.broadcast(exact))
        .select(
            F.lit(KMV_K).alias("k"),
            "k_seen",
            "kth_min",
            F.expr(f"({KMV_K} - 1) * {KMV_SPACE}L DIV kth_min").alias("est_distinct"),
            "true_distinct",
        )
    )


SQL_APPROX_DISTINCT_KMV = f"""
WITH hashes AS (
  SELECT CAST(('0x' || substring(md5(CAST(event_id AS VARCHAR)), 1, 12)) AS BIGINT) AS h
  FROM events
), kth AS (
  SELECT max(h) AS kth_min, count(*) AS k_seen
  FROM (SELECT DISTINCT h FROM hashes ORDER BY h LIMIT {KMV_K})
), exact AS (
  SELECT count(DISTINCT event_id) AS true_distinct FROM events
)
SELECT {KMV_K} AS k, k_seen, kth_min,
       ({KMV_K} - 1) * {KMV_SPACE} // kth_min AS est_distinct,
       true_distinct
FROM kth CROSS JOIN exact
"""


QUERIES = {
    "host_pagerank": host_pagerank,
    "doc_pack": doc_pack,
    "corpus_pipeline": corpus_pipeline,
    "tfidf_topterms": tfidf_topterms,
    "approx_distinct_kmv": approx_distinct_kmv,
}

ORACLES = {
    "host_pagerank": SQL_HOST_PAGERANK,
    "doc_pack": SQL_DOC_PACK,
    "corpus_pipeline": _sql_corpus_pipeline(),
    "tfidf_topterms": SQL_TFIDF_TOPTERMS,
    "approx_distinct_kmv": SQL_APPROX_DISTINCT_KMV,
}
