"""Deduplication operators for the training-data pipeline, over `documents`.

Four tiers, each a (Spark plan, DuckDB oracle) pair:

- exact:        md5-fingerprint group-by (hash dedup)
- ngram_jaccard: word-3-gram shingle sets, all-pairs Jaccard via a shingle
                 self-join (the exact baseline the approximate tiers bound)
- minhash_lsh:  one md5 per shingle -> 16 linear-mix minhashes (2-universal
                 (a·h+b) mod 2³¹−1) -> 8 bands x 2 rows -> band-bucket join
                 for candidates -> exact-Jaccard verify
- simhash:      64-bit simhash (token-frequency-weighted md5 bits) stored as
                 4x16-bit blocks; candidates share >=1 block; Hamming filter

All hashing is anchored on md5 (the one hash both engines share) so the
DuckDB oracle reproduces the Spark plan bit-for-bit; permutation variety
comes from integer linear mixes over the md5 prefix, which both engines
compute exactly. Everything stays JVM-side in Spark — no Python UDFs anywhere.

Scale notes: the shingle self-join is the classic quadratic trap; LSH bounds
it (candidates only within band buckets). On 100 TB the band join shuffles on
(band, band_key) — uniform by construction — and the exact-verify join only
touches candidate pairs. Simhash block join is 4 rows/doc, uniformly hashed.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .common import (
    SQL_WORDS, WORDS as _WORDS, sql_components, sql_word_hash32, table, table_version,
    word_hash32,
)

N_HASHES = 16
N_BANDS = 8
ROWS_PER_BAND = 2
JACCARD_T = 0.5
HAMMING_T = 12
# MinHash permutation family: ONE md5 per shingle (60-bit hex prefix →
# bigint), then 16 independent 2-universal mixes h_i = (a_i·h + b_i) mod P,
# P = 2³¹−1. The earlier family hashed md5(f"{i}|{sh}") per permutation —
# 16 digest+concat evaluations per shingle occurrence, which was the whole
# signature-stage cost at sf1. Integer mixes are a handful of codegen'd ALU
# ops, and both engines compute them bit-identically (a·h ≤ 2⁶² < 2⁶³, no
# overflow in Spark's wrapping or DuckDB's checked arithmetic). Constants
# are frozen md5-derived literals — NOT i-scaled multiples, which would make
# the 16 permutations linearly correlated.
MINHASH_P = 2147483647  # 2^31 - 1 (Mersenne)
MINHASH_AB = [
    (1068891943, 413478069),
    (91269520, 15321956),
    (1414341937, 220219746),
    (682647738, 1189979629),
    (868057270, 54622447),
    (1655835461, 795531326),
    (1087312201, 1190882553),
    (524033553, 1866570872),
    (442657709, 603067618),
    (2050705027, 2136323970),
    (750145709, 1877635934),
    (1056767046, 957254510),
    (1769075051, 1916162238),
    (468409398, 1950047633),
    (947226201, 786722141),
    (1444797614, 1092025344),
]
# document-frequency cap for the exact n-gram tier: a shingle present in more
# than this many documents is boilerplate — it contributes candidate pairs
# quadratically (df² rows out of the self-join) but no discrimination. One
# shingle shared by 10⁶ docs would emit a 10¹²-row join partition; dropping
# df>cap shingles bounds the self-join at O(cap · total_shingles) while
# keeping near-identical pairs (their discriminating shingles are rare by
# definition). Mirrored exactly in the DuckDB oracle.
SHINGLE_DF_CAP = 50

# ---------------------------------------------------------------------------
# shared shingle / token fragments
# ---------------------------------------------------------------------------

# 3-gram shingles over the word array `w`, which the caller binds ONCE per
# document (getItem indexing beats re-splitting the text per shingle inside
# the lambda — 10x on the streaming signature stage at sf0.1); guarded for
# <3-word docs (Spark's sequence() DESCENDS when start > stop — the guard is
# semantics, not style). Tokenizer: common.WORDS.
_SHINGLE_ARR = (
    "CASE WHEN size(w) >= 3 THEN "
    "transform(sequence(1, size(w) - 2), i -> concat_ws(' ', w[i-1], w[i], w[i+1])) "
    "ELSE array() END"
)

SQL_SHINGLE_CTE = f"""
shingle AS (
  SELECT doc_id, unnest(list_distinct(
    CASE WHEN len({SQL_WORDS}) >= 3 THEN
      [array_to_string(({SQL_WORDS})[i:i+2], ' ')
       FOR i IN generate_series(1, len({SQL_WORDS}) - 2)]
    ELSE [] END)) AS sh
  FROM documents
),
shcount AS (SELECT doc_id, count(*) AS n_sh FROM shingle GROUP BY doc_id)
"""


# 60-bit md5-prefix of a shingle as bigint — the join/exchange representation.
# Shuffling and joining 8-byte longs beats ~25-byte shingle strings on every
# exchange and every join probe; collisions (n²/2⁶¹ expected pairs over the
# corpus vocabulary) are negligible and, because the DuckDB oracles apply the
# identical CAST('0x'||substr(md5(sh),1,15)) mapping, bit-identically mirrored.
_SH_HASH = "cast(conv(substring(md5(sh), 1, 15), 16, 10) as bigint)"
SQL_SH_HASH = "CAST('0x' || substr(md5(sh), 1, 15) AS BIGINT)"


def _shingle_hashes(docs: DataFrame) -> DataFrame:
    """(doc_id, sh): one 60-bit hash per shingle OCCURRENCE, no per-doc dedup.

    Duplicate-insensitive consumers (the minhash ``min`` aggregation) read
    this directly and skip the dedup exchange entirely: partial aggregation
    collapses the shuffle to one row per doc per map partition, while
    ``dropDuplicates`` would shuffle one row per distinct (doc_id, sh) — the
    largest exchange in the LSH plan at corpus scale.
    """
    return (
        docs.select("doc_id", F.expr(_WORDS).alias("w"))
        .select("doc_id", F.explode(F.expr(_SHINGLE_ARR)).alias("sh"))
        .select("doc_id", F.expr(_SH_HASH).alias("sh"))
    )


def _hashed_shingles_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct (doc_id, sh) with ``sh`` as the 60-bit hash."""
    return _shingle_hashes(table(spark, sf_dir, "documents")).dropDuplicates(["doc_id", "sh"])


SQL_HSHINGLE_CTE = f"""{SQL_SHINGLE_CTE},
hshingle AS (
  SELECT DISTINCT doc_id, {SQL_SH_HASH} AS sh FROM shingle
),
hcount AS (SELECT doc_id, count(*) AS n_sh FROM hshingle GROUP BY doc_id)
"""


def _jaccard_pairs(sh: DataFrame) -> DataFrame:
    """All candidate pairs sharing >=1 shingle with exact Jaccard columns."""
    counts = sh.groupBy("doc_id").agg(F.count("*").alias("n_sh"))
    a = sh.select(F.col("doc_id").alias("doc_a"), "sh")
    b = sh.select(F.col("doc_id").alias("doc_b"), "sh")
    inter = (
        a.join(b, "sh")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count("*").alias("n_inter"))
    )
    return (
        inter.join(counts.select(F.col("doc_id").alias("doc_a"), F.col("n_sh").alias("n_a")), "doc_a")
        .join(counts.select(F.col("doc_id").alias("doc_b"), F.col("n_sh").alias("n_b")), "doc_b")
        .withColumn(
            "jaccard",
            F.col("n_inter").cast("double")
            / (F.col("n_a") + F.col("n_b") - F.col("n_inter")),
        )
    )


# ---------------------------------------------------------------------------
# 1. exact dedup
# ---------------------------------------------------------------------------

def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = table(spark, sf_dir, "documents")
    return (
        d.groupBy(F.md5(F.lower(F.trim("text"))).alias("fingerprint"))
        .agg(F.min("doc_id").alias("keeper_id"), F.count("*").alias("n_copies"))
    )


SQL_DEDUP_EXACT = """
SELECT md5(lower(trim(text))) AS fingerprint,
       min(doc_id) AS keeper_id, count(*) AS n_copies
FROM documents GROUP BY 1
"""


# ---------------------------------------------------------------------------
# 2. exact n-gram Jaccard pairs
# ---------------------------------------------------------------------------

def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    sh = _hashed_shingles_df(spark, sf_dir)
    # drop boilerplate shingles (df > cap) BEFORE the self-join: the hot set
    # is bounded by total_occurrences/cap shingles, but that bound still
    # grows with the corpus, so no broadcast hint — AQE broadcasts the
    # anti-join side while it is small and shuffles on the shingle key once
    # it is not; Jaccard is then over discriminative shingles only,
    # identically on both engines
    hot = (
        sh.groupBy("sh")
        .agg(F.count("*").alias("_df"))
        .filter(F.col("_df") > SHINGLE_DF_CAP)
        .select("sh")
    )
    kept = sh.join(hot, "sh", "left_anti")
    # measured A/B at sf1 (local[32], min-of-2): this self-join 23.8 s vs an
    # inverted-index rewrite (collect_list posting lists + nested-lambda pair
    # expansion) 82.8 s — the higher-order-function expansion runs outside
    # whole-stage codegen and loses 3.5x despite one fewer shuffle, so the
    # join stays
    pairs = _jaccard_pairs(kept)
    return pairs.filter(F.col("jaccard") >= JACCARD_T).select(
        "doc_a", "doc_b", "n_inter", "n_a", "n_b", "jaccard"
    )


SQL_DEDUP_NGRAM_JACCARD = f"""
WITH {SQL_HSHINGLE_CTE},
kept AS (
  SELECT s.doc_id, s.sh FROM hshingle s
  JOIN (SELECT sh FROM hshingle GROUP BY sh
        HAVING count(*) <= {SHINGLE_DF_CAP}) k ON k.sh = s.sh
),
kcount AS (SELECT doc_id, count(*) AS n_sh FROM kept GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_inter
  FROM kept a JOIN kept b ON a.sh = b.sh AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT doc_a, doc_b, n_inter, ca.n_sh AS n_a, cb.n_sh AS n_b,
       CAST(n_inter AS DOUBLE) / (ca.n_sh + cb.n_sh - n_inter) AS jaccard
FROM inter
JOIN kcount ca ON ca.doc_id = doc_a
JOIN kcount cb ON cb.doc_id = doc_b
WHERE CAST(n_inter AS DOUBLE) / (ca.n_sh + cb.n_sh - n_inter) >= {JACCARD_T}
"""


# ---------------------------------------------------------------------------
# 3. MinHash + LSH: the one core behind every text near-dup plan
#
# dedup_minhash_lsh, dedup_incremental, the dedup_clusters/corpus_split
# labels and the streaming twins (stream_neardup, stream_split) share one
# shingle-hash recipe (_SHINGLE_ARR + _SH_HASH), one 16-mix family (_mix), one
# band packing (_band_rows) and one best-match rule (_best_match). Exactly
# two signature/verify plans remain, and batch vs stream picks one:
#
# - batch: signatures are ONE partial-aggregated groupBy over the exploded
#   occurrence stream (_minhash_signatures), and the verify is a shingle
#   self-join restricted to candidate docs. Running the batch queries on the
#   streaming plan's fold signatures or array verify was slower at sf0.1.
# - stream: a stream must not shuffle per arriving row and may run only one
#   aggregation, so signatures are per-row array folds (_fold_signatures —
#   bit-identical: min over occurrences == min over the array) and the
#   verify is a per-row array_intersect against a static corpus index
#   (_arrival_matches).
#
# Cap policy, stated once here. The PAIR GRAPH is uncapped: _lsh_pairs
# verifies with exact Jaccard over every shingle, and its pairs feed
# dedup_minhash_lsh, dedup_clusters, corpus_split and stream_split's corpus
# labels. NEW-vs-CORPUS matching is capped: dedup_incremental and
# _arrival_matches (stream_neardup, stream_split arrivals) drop shingles
# present in more than SHINGLE_DF_CAP documents before the intersection,
# which bounds a boilerplate shingle's fan-out over candidates. So an
# arrival whose similarity to a corpus doc is carried by boilerplate can be
# unmatched at admission yet grouped with that doc by a batch corpus_split
# re-run.
# ---------------------------------------------------------------------------


def _mix(i: int, hp: str) -> str:
    """Permutation *i*'s value for a shingle hash already reduced mod P."""
    a, b = MINHASH_AB[i]
    return f"({hp} * {a} + {b}) % {MINHASH_P}"


def _minhash_signatures(hashed: DataFrame) -> DataFrame:
    """Batch signatures (doc_id, mh0..mh15) from the (doc_id, sh) shingle-hash
    occurrence stream: all 16 mins in ONE grouped pass (partial-aggregated
    columns — a seed crossJoin would multiply the shuffle ×16). min() is
    duplicate-insensitive, so no per-doc dedup exchange; a doc without
    shingles gets no row."""
    return (
        hashed.select("doc_id", (F.col("sh") % MINHASH_P).alias("hp"))
        .groupBy("doc_id")
        .agg(*[F.expr(f"min({_mix(i, 'hp')})").alias(f"mh{i}") for i in range(N_HASHES)])
    )


def _fold_signatures(docs: DataFrame) -> DataFrame:
    """Streaming signatures (doc_id, sh, n_sh, mh0..mh15), every column a
    per-row fold — no shuffle, no state. `sh` is the distinct set of FULL
    60-bit hashes, the verify key (reducing mod P first would
    birthday-collide ~1 per 50k docs and break parity with the batch
    verify); a doc without shingles gets null minhashes."""
    return (
        docs.select("doc_id", F.expr(_WORDS).alias("w"))
        .select("doc_id", F.expr(f"transform({_SHINGLE_ARR}, sh -> {_SH_HASH})").alias("hs"))
        .select(
            "doc_id",
            F.expr("array_distinct(hs)").alias("sh"),
            F.expr("size(array_distinct(hs))").alias("n_sh"),
            *[
                F.expr(f"array_min(transform(hs, x -> {_mix(i, f'(x % {MINHASH_P})')}))").alias(
                    f"mh{i}"
                )
                for i in range(N_HASHES)
            ],
        )
    )


def _band_rows(sigs: DataFrame, *keep: str) -> DataFrame:
    """(doc_id, *keep, band, band_key): 8 rows per doc. The band key packs
    the band's two 31-bit minhashes into ONE bigint (hi·2³¹ + lo ≤ 2⁶²−1) —
    the candidate join hashes and compares an 8-byte long, not a string."""
    return sigs.select(
        "doc_id",
        *keep,
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        (
                            F.col(f"mh{b * ROWS_PER_BAND}") * F.lit(2147483648)
                            + F.col(f"mh{b * ROWS_PER_BAND + 1}")
                        ).alias("band_key"),
                    )
                    for b in range(N_BANDS)
                ]
            )
        ).alias("bk"),
    ).select("doc_id", *keep, "bk.band", "bk.band_key")


def _lsh_pairs(docs: DataFrame) -> DataFrame:
    """The batch pair plan over a documents DataFrame: exact-verified
    (doc_a < doc_b, jaccard ≥ JACCARD_T) pairs, uncapped (see the cap
    policy above)."""
    # ONE md5 per shingle occurrence, reused by both halves of the query:
    # the 60-bit value feeds the signature mixes (reduced mod P) AND, after
    # the candidate semi-join, serves as the verify join key
    hashed = _shingle_hashes(docs)
    bands = _band_rows(_minhash_signatures(hashed))
    cand = (
        bands.select(F.col("doc_id").alias("doc_a"), "band", "band_key")
        .join(bands.select(F.col("doc_id").alias("doc_b"), "band", "band_key"), ["band", "band_key"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b")
        .distinct()
    )
    # exact-Jaccard verify over CANDIDATE docs only — the entire point of
    # LSH: the quadratic shingle self-join runs on the (tiny) candidate doc
    # set, not the corpus
    cand_docs = cand.select(F.explode(F.array("doc_a", "doc_b")).alias("doc_id")).distinct()
    # dedup AFTER the semi-join restriction: the exchange now carries only
    # candidate docs' hashed shingles (8-byte longs), not the corpus's text
    sh_cand = hashed.join(cand_docs, "doc_id", "left_semi").dropDuplicates(["doc_id", "sh"])
    exact = _jaccard_pairs(sh_cand).select("doc_a", "doc_b", "jaccard")
    return (
        cand.join(exact, ["doc_a", "doc_b"])
        .filter(F.col("jaccard") >= JACCARD_T)
        .select("doc_a", "doc_b", "jaccard")
    )


def _arrival_matches(
    docs: DataFrame, band_index: DataFrame, shingle_sets: DataFrame, hot_row: DataFrame
) -> DataFrame:
    """The capped candidate → verify plan for arriving *docs* against a
    static corpus index (``stream_neardup.build_index``): per-row
    signatures, band probe, exact Jaccard over discriminative shingles only
    (`hot_row`'s df > SHINGLE_DF_CAP hashes excluded on both sides).
    Returns (doc_id, dup_of, jaccard ≥ JACCARD_T), one row per band hit;
    multi-band duplicates are absorbed by `_best_match` — no
    streaming-hostile dropDuplicates."""
    cand = (
        _band_rows(_fold_signatures(docs), "sh")
        .join(band_index, ["band", "band_key"])
        .crossJoin(F.broadcast(hot_row))
        .withColumn("sh", F.expr("array_except(sh, hot)"))
        .withColumn("n_sh", F.expr("size(sh)"))
    )
    return (
        cand.join(shingle_sets, "dup_of")
        .withColumn("n_inter", F.expr("size(array_intersect(sh, sh_old))"))
        .withColumn(
            "jaccard",
            F.col("n_inter").cast("double")
            / (F.col("n_sh") + F.col("n_old") - F.col("n_inter")),
        )
        .filter(F.col("jaccard") >= JACCARD_T)
        .select("doc_id", "dup_of", "jaccard")
    )


def _best_match(scored: DataFrame) -> DataFrame:
    """Best (doc_id, dup_of, jaccard) row per doc_id as a map-side
    max(struct) — no window sort; struct order = (jaccard desc via max, then
    smallest dup_of via -dup_of)."""
    best = scored.groupBy("doc_id").agg(
        F.max(F.struct(F.col("jaccard"), (-F.col("dup_of")).alias("nd"))).alias("b")
    )
    return best.select(
        "doc_id", (-F.col("b.nd")).alias("dup_of"), F.col("b.jaccard").alias("jaccard")
    )


def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall contract (BENCH.md §3b, scripts/text_pair_recall.py): the
    r=2/b=8 band rule admits a pair with probability 1 − (1 − s²)⁸ — 0.89
    at the s=0.5 threshold, 0.9996 at s=0.8; measured pair recall vs the
    exact dedup_ngram_jaccard baseline is 1.000 on the test corpora (all
    true pairs ≥ 0.9). Precision is 1 by construction: candidates are
    verified with exact Jaccard."""
    return _lsh_pairs(table(spark, sf_dir, "documents"))


_SEED_ROWS = ", ".join(f"({i}, {a}, {b})" for i, (a, b) in enumerate(MINHASH_AB))

# The band-key packing in the DuckDB oracles below (SQL_DEDUP_MINHASH_LSH
# and SQL_DEDUP_INCREMENTAL) hardcodes the r=2 layout: `CASE WHEN i % 2 = 0
# THEN mh * 2147483648 ELSE mh END` sums exactly one shifted + one unshifted
# minhash per band. ROWS_PER_BAND is interpolated elsewhere in the same
# statements, so changing it would silently desynchronize the oracle band
# keys from Spark's instead of failing. Pin the coupling at import time.
assert ROWS_PER_BAND == 2, (
    "oracle band-key SQL hardcodes the r=2 hi*2^31+lo packing; rewrite the "
    "bands CTEs before changing ROWS_PER_BAND"
)

SQL_DEDUP_MINHASH_LSH = f"""
WITH {SQL_HSHINGLE_CTE},
mh AS (
  SELECT doc_id, i, min((a * (sh % {MINHASH_P}) + b) % {MINHASH_P}) AS mh
  FROM hshingle, (VALUES {_SEED_ROWS}) AS seeds(i, a, b)
  GROUP BY doc_id, i
),
bands AS (
  SELECT doc_id, CAST(i // {ROWS_PER_BAND} AS INT) AS band,
         CAST(SUM(CASE WHEN i % 2 = 0 THEN mh * 2147483648 ELSE mh END) AS BIGINT)
           AS band_key
  FROM mh GROUP BY doc_id, 2
),
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM bands a JOIN bands b
    ON a.band = b.band AND a.band_key = b.band_key AND a.doc_id < b.doc_id
),
inter AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_inter
  FROM hshingle a JOIN hshingle b ON a.sh = b.sh AND a.doc_id < b.doc_id
  GROUP BY 1, 2
),
exact AS (
  SELECT doc_a, doc_b,
         CAST(n_inter AS DOUBLE) / (ca.n_sh + cb.n_sh - n_inter) AS jaccard
  FROM inter
  JOIN hcount ca ON ca.doc_id = doc_a
  JOIN hcount cb ON cb.doc_id = doc_b
)
SELECT c.doc_a, c.doc_b, e.jaccard
FROM cand c JOIN exact e ON c.doc_a = e.doc_a AND c.doc_b = e.doc_b
WHERE e.jaccard >= {JACCARD_T}
"""


# ---------------------------------------------------------------------------
# 4. SimHash fingerprints + near-dup pairs
# ---------------------------------------------------------------------------

def _simhash_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Flat-column formulation: 16 hex-digit columns -> 64 per-bit weighted
    # sums as plain aggregate expressions -> 4 block ints. Everything stays
    # inside whole-stage codegen (higher-order array folds are interpreted
    # in Spark and were ~30x slower here); one shuffle total (the groupBy).
    d = table(spark, sf_dir, "documents")
    toks = (
        d.select("doc_id", F.explode(F.expr(_WORDS)).alias("tok"))
        .groupBy("doc_id", "tok")
        .agg(F.count("*").alias("cnt"))
        .withColumn("h", F.md5("tok"))
    )
    # every multi-term expression is ONE parsed SQL string: building these as
    # chained Column ops costs O(n^2) Py4J round-trips at plan-build time
    # (11.3 s driver-side for the 64 aggregates + 4 16-term block chains at
    # sf0.1; ~1 s as parsed strings — same cliff as similarity._flat_dot)
    toks = toks.selectExpr(
        "doc_id",
        "cnt",
        *[
            f"cast(conv(substring(h, {c + 1}, 1), 16, 10) as int) as hv{c}"
            for c in range(16)
        ],
    )
    # bit_j = (hv[j//4] >> (3 - j%4)) & 1; s_j = sum(cnt * (2*bit_j - 1))
    sig = toks.groupBy("doc_id").agg(
        *[
            F.expr(
                f"sum(cnt * (2 * (shiftright(hv{j // 4}, {3 - j % 4}) & 1) - 1)) as s{j}"
            )
            for j in range(64)
        ]
    )
    block = lambda k: (
        "cast(("
        + " + ".join(
            f"(case when s{16 * k + j} > 0 then {1 << (15 - j)} else 0 end)"
            for j in range(16)
        )
        + f") as bigint) as b{k}"
    )
    return sig.selectExpr("doc_id", block(0), block(1), block(2), block(3))


SQL_SIMHASH_CTE = rf"""
toks AS (
  SELECT doc_id, tok, count(*) AS cnt, md5(tok) AS h
  FROM (SELECT doc_id, unnest({SQL_WORDS}) AS tok FROM documents)
  GROUP BY doc_id, tok
),
bitsum AS (
  SELECT doc_id, j,
         SUM(cnt * (2 * ((CAST(('0x' || substring(h, CAST(j // 4 AS INT) + 1, 1)) AS BIGINT)
                          // (CAST(1 AS BIGINT) << CAST(3 - (j % 4) AS INT))) % 2) - 1)) AS s
  FROM toks, (SELECT unnest(generate_series(0, 63)) AS j)
  GROUP BY doc_id, j
),
blocks AS (
  SELECT doc_id, CAST(j // 16 AS INT) AS k,
         CAST(SUM((CASE WHEN s > 0 THEN 1 ELSE 0 END)
                  * (CAST(1 AS BIGINT) << CAST(15 - (j % 16) AS INT))) AS BIGINT) AS blk
  FROM bitsum GROUP BY doc_id, 2
),
simhash AS (
  SELECT doc_id,
         max(CASE WHEN k = 0 THEN blk END) AS b0,
         max(CASE WHEN k = 1 THEN blk END) AS b1,
         max(CASE WHEN k = 2 THEN blk END) AS b2,
         max(CASE WHEN k = 3 THEN blk END) AS b3
  FROM blocks GROUP BY doc_id
)
"""


def text_fingerprint_sig(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document fingerprint surface, one row per doc: the winnowing-style
    min fingerprint (text.text_fingerprint) joined with the 4x16-bit simhash
    signature blocks (former separate text_simhash entry — same grain, merged
    to keep the driver's 8 KB correctness file under budget). Both signals are
    single-pass projections; the join is doc_id == doc_id on two branches of
    the same scan, which AQE plans as a local shuffle at any scale."""
    from .text import text_fingerprint as _fp

    return _fp(spark, sf_dir).join(_simhash_df(spark, sf_dir), "doc_id")


def _sql_text_fingerprint_sig() -> str:
    from .text import SQL_TEXT_FINGERPRINT

    return (
        f"WITH {SQL_SIMHASH_CTE}, fp AS ({SQL_TEXT_FINGERPRINT}) "
        "SELECT fp.doc_id, fp.fingerprint, fp.n_distinct_windows, "
        "s.b0, s.b1, s.b2, s.b3 FROM fp JOIN simhash s USING (doc_id)"
    )


def dedup_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Output contract: pairs (doc_a < doc_b, hamming <= HAMMING_T) whose
    simhashes share at least one of the 4 16-bit blocks. The block-share
    candidate rule is COMPLETE only for hamming <= 3 (pigeonhole); above
    that it is a recall-bounded LSH band — same trade as MinHash banding —
    so pairs at distance 4..HAMMING_T that differ in all four blocks are
    (deterministically, in both engines) not reported. For a complete rule
    at a wider threshold see the 28 byte-pair multi-index used by
    image_phash_neardup (multimodal.py)."""
    # the signature plan feeds the candidate join AND both pair sides: eager
    # localCheckpoint materializes it once and its blocks are freed on GC
    # (a bare .persist() here accumulated cached blocks across calls in a
    # long-lived session)
    sig = _simhash_df(spark, sf_dir).localCheckpoint(eager=True)
    blocks = sig.select(
        "doc_id",
        F.explode(
            F.array(
                F.struct(F.lit(0).alias("k"), F.col("b0").alias("blk")),
                F.struct(F.lit(1).alias("k"), F.col("b1").alias("blk")),
                F.struct(F.lit(2).alias("k"), F.col("b2").alias("blk")),
                F.struct(F.lit(3).alias("k"), F.col("b3").alias("blk")),
            )
        ).alias("kb"),
    ).select("doc_id", F.col("kb.k").alias("k"), F.col("kb.blk").alias("blk"))
    cand = (
        blocks.select(F.col("doc_id").alias("doc_a"), "k", "blk")
        .join(blocks.select(F.col("doc_id").alias("doc_b"), "k", "blk"), ["k", "blk"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b")
        .distinct()
    )
    sa = sig.select(*[F.col(c).alias(c + "_a") for c in sig.columns])
    sb = sig.select(*[F.col(c).alias(c + "_b") for c in sig.columns])
    hamming = sum(
        F.bit_count(F.col(f"b{k}_a").bitwiseXOR(F.col(f"b{k}_b"))) for k in range(4)
    )
    return (
        cand.join(sa, cand.doc_a == sa.doc_id_a)
        .join(sb, cand.doc_b == sb.doc_id_b)
        .withColumn("hamming", hamming.cast("int"))
        .filter(F.col("hamming") <= HAMMING_T)
        .select("doc_a", "doc_b", "hamming")
    )


SQL_DEDUP_SIMHASH_PAIRS = f"""
WITH {SQL_SIMHASH_CTE},
blk AS (
  SELECT doc_id, k, CASE k WHEN 0 THEN b0 WHEN 1 THEN b1 WHEN 2 THEN b2 ELSE b3 END AS blk
  FROM simhash, (SELECT unnest(generate_series(0, 3)) AS k)
),
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM blk a JOIN blk b ON a.k = b.k AND a.blk = b.blk AND a.doc_id < b.doc_id
)
SELECT c.doc_a, c.doc_b,
       CAST(bit_count(xor(sa.b0, sb.b0)) + bit_count(xor(sa.b1, sb.b1))
          + bit_count(xor(sa.b2, sb.b2)) + bit_count(xor(sa.b3, sb.b3)) AS INT) AS hamming
FROM cand c
JOIN simhash sa ON sa.doc_id = c.doc_a
JOIN simhash sb ON sb.doc_id = c.doc_b
WHERE bit_count(xor(sa.b0, sb.b0)) + bit_count(xor(sa.b1, sb.b1))
    + bit_count(xor(sa.b2, sb.b2)) + bit_count(xor(sa.b3, sb.b3)) <= {HAMMING_T}
"""


# ---------------------------------------------------------------------------
# 5. duplicate clusters: connected components over the near-dup pair graph
# ---------------------------------------------------------------------------

def _star_labels(edges: DataFrame) -> DataFrame:
    """Connected-component labels via large-star/small-star alternation
    (Kiveris et al., "Connected Components in MapReduce and Beyond",
    SoCC'14): converges in O(log n) rounds independent of component
    DIAMETER, where plain min-label propagation needs O(diameter) rounds —
    the difference between 3 and 40 shuffles on the long chains transitive
    near-dup graphs produce at corpus scale.

    `edges` is the undirected pair set as (doc_a, doc_b) rows, one row per
    pair in either orientation. Returns (doc, label) with label = the
    lexicographic minimum of each component. Each half-round is one
    hash-shuffle on the grouping node plus a distinct; convergence is
    detected by an order-insensitive (count, xxhash64-sum) checksum of the
    canonicalized edge set — a single cheap aggregate, no edge-vs-edge
    anti-join per round.
    """
    # materialize the (possibly expensive) upstream pair pipeline ONCE;
    # nodes and the canonical edge set both derive from this checkpoint
    edges = edges.localCheckpoint(eager=True)
    nodes = (
        edges.select(F.col("doc_a").alias("doc"))
        .unionByName(edges.select(F.col("doc_b").alias("doc")))
        .distinct()
        .localCheckpoint(eager=True)
    )
    # canonical directed form: u = max endpoint, v = min endpoint
    e = (
        edges.select(
            F.greatest("doc_a", "doc_b").alias("u"), F.least("doc_a", "doc_b").alias("v")
        )
        .filter(F.col("u") != F.col("v"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    prev_sig = None
    for _ in range(64):  # backstop far above the O(log n) bound
        # bit_xor: order-insensitive and overflow-free (edges are distinct,
        # so xor-cancellation of duplicates can't occur)
        sig_row = e.agg(
            F.count("*").alias("n"), F.expr("bit_xor(xxhash64(u, v))").alias("h")
        ).collect()[0]
        sig = (sig_row["n"], sig_row["h"])
        if sig == prev_sig or sig[0] == 0:
            break
        prev_sig = sig
        # large-star: group the symmetrized graph by u; m = min(N(u) ∪ {u});
        # re-link every strictly larger neighbor to m
        und = e.unionByName(e.select(F.col("v").alias("u"), F.col("u").alias("v")))
        mins = und.groupBy("u").agg(F.min(F.least("v", "u")).alias("m"))
        lg = (
            und.join(mins, "u")
            .filter(F.col("v") > F.col("u"))
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
        )
        # small-star: group by the larger endpoint; m = min neighbor; re-link
        # the smaller neighbors and u itself to m
        cano = lg.filter(F.col("u") != F.col("v")).distinct()
        smins = cano.groupBy("u").agg(F.min("v").alias("m"))
        sm = (
            cano.join(smins, "u")
            .select(F.col("v").alias("n"), "m")
            .unionByName(smins.select(F.col("u").alias("n"), "m"))
            .filter(F.col("n") != F.col("m"))
            .select(F.col("n").alias("u"), F.col("m").alias("v"))
            .distinct()
            .localCheckpoint(eager=True)
        )
        e = sm
    # fixpoint is a star per component: (node -> component min); minima have
    # no outgoing edge, so they label themselves
    stars = e.groupBy(F.col("u").alias("doc")).agg(F.min("v").alias("star"))
    return nodes.join(stars, "doc", "left").select(
        "doc", F.coalesce("star", "doc").alias("label")
    )


# Session-scoped snapshot of the near-dup component labels: the LSH pair
# detection + large-star/small-star labeling is the most expensive stage in
# this module, and BOTH dedup_clusters and corpus_split consume exactly the
# same label table — at 100 TB running it twice doubles the dominant cost.
# The first consumer materializes the labels once (eager localCheckpoint:
# the star loop has already executed its rounds; this pins the final join
# too); every later consumer in the same session reads the checkpointed
# blocks. Keyed by `table_version` of documents.parquet (applicationId,
# sf_dir, mtime_ns, size), so a new session, a different corpus or a
# rewritten corpus rebuilds.
# Stale sessions' entries and older versions of the same corpus are evicted
# on access (a dead session's checkpoint blocks are unreadable anyway), and
# at most _LABELS_MEMO_MAX entries stay, oldest evicted first, since each
# pins its checkpoint blocks.
_LABELS_MEMO: dict[tuple, DataFrame] = {}
_LABELS_MEMO_MAX = 4


def _component_labels(spark: SparkSession, sf_dir: str) -> DataFrame:
    key = table_version(spark, sf_dir, "documents")
    if key not in _LABELS_MEMO:
        for k in [k for k in _LABELS_MEMO if k[0] != key[0] or k[1] == sf_dir]:
            del _LABELS_MEMO[k]
        while len(_LABELS_MEMO) >= _LABELS_MEMO_MAX:
            del _LABELS_MEMO[next(iter(_LABELS_MEMO))]
        pairs = dedup_minhash_lsh(spark, sf_dir).select("doc_a", "doc_b")
        _LABELS_MEMO[key] = _star_labels(pairs).localCheckpoint(eager=True)
    return _LABELS_MEMO[key]


def dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Group near-duplicates into clusters (one keeper per component): the
    step a real dedup pipeline runs after pair detection.

    Components come from large-star/small-star alternation (`_star_labels`),
    the O(log n)-round MapReduce connected-components — replacing the earlier
    min-label propagation whose round count grew with component diameter.
    The DuckDB oracle is a recursive CTE over the same pair set. Labels are
    read from the shared `_component_labels` snapshot, so running this and
    `corpus_split` in one session pays for pair detection + labeling once.
    """
    labels = _component_labels(spark, sf_dir)
    sizes = labels.groupBy("label").agg(F.count("*").alias("cluster_size"))
    return (
        labels.join(sizes, "label")
        .select(F.col("doc").alias("doc_id"), F.col("label").alias("cluster_id"), "cluster_size")
    )


SQL_DEDUP_CLUSTERS = f"""
SELECT doc AS doc_id, label AS cluster_id,
       CAST(count(*) OVER (PARTITION BY label) AS BIGINT) AS cluster_size
FROM {sql_components(SQL_DEDUP_MINHASH_LSH, "doc_a", "doc_b")}
"""


# ---------------------------------------------------------------------------
# 6. benchmark decontamination: flag training documents that share n-grams
# with a held-out benchmark set — the standard pre-training decontamination
# pass. Benchmark stand-in: doc_id % 20 == 0 (deterministic, both engines).
#
# Scale shape: the benchmark side is tiny relative to the corpus (broadcast
# at real scale); benchmark shingles present in more than SHINGLE_DF_CAP
# benchmark docs are dropped as boilerplate BEFORE the join (they bound the
# per-shingle fanout and carry no contamination signal), so the probe is
# O(train shingles) with bounded fanout — never a quadratic blowup. One
# shuffle pair: the shingle join + the per-doc aggregate.
# ---------------------------------------------------------------------------

DECON_MOD = 20        # doc_id % DECON_MOD == 0 -> benchmark set
DECON_MIN_SHARED = 2  # contaminated iff >= this many distinct shared shingles


def corpus_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    sh = _hashed_shingles_df(spark, sf_dir)
    bench = sh.filter(F.col("doc_id") % DECON_MOD == 0).select(
        F.col("doc_id").alias("bench_id"), "sh"
    )
    bench_ok = bench.join(
        bench.groupBy("sh")
        .agg(F.countDistinct("bench_id").alias("bdf"))
        .filter(F.col("bdf") <= SHINGLE_DF_CAP)
        .select("sh"),
        "sh",
    )
    train = sh.filter(F.col("doc_id") % DECON_MOD != 0)
    return (
        train.join(bench_ok, "sh")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_hit_pairs"),
            F.countDistinct("sh").alias("n_shared"),
            F.min("bench_id").alias("first_bench"),
        )
        .filter(F.col("n_shared") >= DECON_MIN_SHARED)
        .orderBy("doc_id")
    )


SQL_CORPUS_DECONTAMINATE = f"""
WITH {SQL_HSHINGLE_CTE},
bench AS (
  SELECT doc_id AS bench_id, sh FROM hshingle WHERE doc_id % {DECON_MOD} = 0
),
bench_ok AS (
  SELECT b.bench_id, b.sh FROM bench b
  JOIN (SELECT sh FROM bench GROUP BY sh
        HAVING count(DISTINCT bench_id) <= {SHINGLE_DF_CAP}) o ON o.sh = b.sh
),
train AS (
  SELECT doc_id, sh FROM hshingle WHERE doc_id % {DECON_MOD} != 0
)
SELECT t.doc_id,
       count(*) AS n_hit_pairs,
       count(DISTINCT t.sh) AS n_shared,
       min(b.bench_id) AS first_bench
FROM train t JOIN bench_ok b USING (sh)
GROUP BY t.doc_id
HAVING count(DISTINCT t.sh) >= {DECON_MIN_SHARED}
ORDER BY t.doc_id
"""


# ---------------------------------------------------------------------------
# exact-substring span dedup: cross-document duplicated passages
# ---------------------------------------------------------------------------
#
# The tier the shingle/minhash/simhash family can't express: a document may
# be globally unique yet contain a long passage copied verbatim from another
# document (boilerplate, licenses, quoted articles). Suffix-array substring
# dedup (Lee et al. 2022, "Deduplicating Training Data Makes Language Models
# Better") finds those passages exactly; a distributed approximation replaces
# the suffix array with fixed-length G-token rolling gram hashes: a G-gram
# appearing in >= 2 distinct documents marks its G-token span as duplicated,
# and overlapping/adjacent marked spans merge per document (gaps-and-islands)
# into maximal duplicated passages. Any duplicated passage of length >= G is
# found in full; passages shorter than G are missed by construction (the
# usual Lee-et-al. threshold is 50 tokens — G is the knob).
#
# Scale shape (the 100 TB path): explode is O(total tokens); the gram
# GROUP BY shuffles 8-byte hashed keys with map-side partial aggregation;
# the semi-join back restricts to duplicated grams only; the interval merge
# shuffles (doc_id)-partitioned span rows through one window — no driver
# collect, no quadratic stage anywhere (unlike the pair-emitting tiers, the
# output here is per-document, so a boilerplate gram shared by 10^6 docs
# costs 10^6 span rows, not 10^12 pairs).

SPAN_G = 8            # gram length in tokens = minimum detectable passage
SPAN_DUP_RATIO_T = 0.5  # keep iff <= this fraction of tokens is duplicated
# The gram key is ~60 bits, packed from TWO independent 30-bit linear mixes,
# each over its own 32-bit word-hash stream (md5 hex chars 1-8 and 9-16 —
# common.word_hash32(1|9)). A false duplicated span therefore needs a
# simultaneous collision in both halves: expected collisions over a corpus
# with N distinct grams ≈ N²/2^61 (≈2e-7 at 10^9 grams — negligible at the
# 100 TB target), and a word-level collision needs both 32-bit prefixes to
# agree (64-bit birthday). Round 3 keyed on ONE 30-bit mix, whose birthday
# floor (~3e4 grams) would mark false duplicated spans at corpus scale.
# Arithmetic bounds (both engines stay in exact int64): word hash < 2^32,
# coefficient <= 89 → term < 2^39, 8-term sum < 2^42; each mix mod a <2^30
# prime; pack = mix1·2^30 + mix2 < 2^60.
_SPAN_P1 = 1073741789  # largest prime < 2^30
_SPAN_P2 = 1073741783
_SPAN_COEF1 = [53, 47, 43, 41, 37, 31, 29, 23]
_SPAN_COEF2 = [59, 61, 67, 71, 73, 79, 83, 89]


def _span_mix(arr: str, coef: list[int], prime: int, base: int) -> str:
    """Linear mix of the G word hashes starting at 1-based position i.
    *base* is the index offset (*arr*[i + base + j]): 0-based Spark [] needs
    -1, 1-based DuckDB needs 0."""
    terms = " + ".join(f"{arr}[i + {base + j}] * {c}" for j, c in enumerate(coef))
    return f"(({terms}) % {prime})"


_SPAN_GH = (
    f"{_span_mix('h1', _SPAN_COEF1, _SPAN_P1, -1)} * 1073741824 "
    f"+ {_span_mix('h2', _SPAN_COEF2, _SPAN_P2, -1)}"
)


def gram_spans(docs: DataFrame) -> DataFrame:
    """(doc_id, n_words, pos, gh): one row per G-gram with its 1-based start
    position (``span_dedup`` and ``streaming.stream_spans``). A document
    shorter than G keeps one row with null pos and gh (explode_outer), so
    an arriving document always gets a verdict."""
    grams = (
        f"CASE WHEN size(h1) >= {SPAN_G} THEN "
        f"transform(sequence(1, size(h1) - {SPAN_G - 1}), i -> struct(i as pos, {_SPAN_GH} as gh)) "
        "ELSE array() END"
    )
    return (
        docs.select(
            "doc_id",
            F.expr(f"size({_WORDS})").alias("n_words"),
            F.expr(word_hash32(1)).alias("h1"),
            F.expr(word_hash32(9)).alias("h2"),
        )
        .select("doc_id", "n_words", F.explode_outer(F.expr(grams)).alias("g"))
        .select("doc_id", "n_words", F.col("g.pos").alias("pos"), F.col("g.gh").alias("gh"))
    )


def span_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document duplicated-passage verdict: which spans of >= SPAN_G
    consecutive tokens also appear verbatim in ANOTHER document, how many
    tokens they cover once overlaps merge, and the keep/drop decision at
    SPAN_DUP_RATIO_T.

    Reference analogue: the reference crawler stores full page text with no
    passage-level dedup (Crawler/crawler.py stores content verbatim); this is
    the corpus-hygiene stage a training pipeline adds on top.
    """
    d = table(spark, sf_dir, "documents")
    grams = gram_spans(d).filter(F.col("pos").isNotNull())
    # grams duplicated ACROSS documents (partial-agg'd count-distinct shuffle)
    dup_gh = (
        grams.groupBy("gh")
        .agg(F.countDistinct("doc_id").alias("nd"))
        .filter(F.col("nd") >= 2)
        .select("gh")
    )
    spans = grams.join(dup_gh, "gh", "left_semi").select(
        "doc_id", "pos", (F.col("pos") + (SPAN_G - 1)).alias("e")
    )
    # gaps-and-islands: a span starts a new island iff it begins past the
    # running max end + 1 (adjacent spans merge — same contiguous passage)
    w_ord = Window.partitionBy("doc_id").orderBy("pos")
    prev_e = F.max("e").over(w_ord.rowsBetween(Window.unboundedPreceding, -1))
    flagged = spans.withColumn(
        "flag",
        F.when(prev_e.isNull() | (F.col("pos") > prev_e + 1), F.lit(1)).otherwise(F.lit(0)),
    ).withColumn(
        "island",
        F.sum("flag").over(w_ord.rowsBetween(Window.unboundedPreceding, 0)),
    )
    merged = flagged.groupBy("doc_id", "island").agg(
        F.min("pos").alias("span_start"), F.max("e").alias("span_end")
    )
    perdoc = merged.groupBy("doc_id").agg(
        F.count("*").alias("n_spans"),
        F.sum(F.col("span_end") - F.col("span_start") + 1).alias("dup_tokens"),
    )
    base = d.select("doc_id", F.expr(f"size({_WORDS})").alias("n_words"))
    ratio = F.coalesce(F.col("dup_tokens"), F.lit(0)).cast("double") / F.col("n_words")
    return base.join(perdoc, "doc_id", "left").select(
        "doc_id",
        "n_words",
        F.coalesce(F.col("n_spans"), F.lit(0).cast("bigint")).alias("n_spans"),
        F.coalesce(F.col("dup_tokens"), F.lit(0).cast("bigint")).alias("dup_tokens"),
        ratio.alias("dup_ratio"),
        (ratio <= SPAN_DUP_RATIO_T).alias("keep"),
    )


_SQL_SPAN_GH = (
    f"{_span_mix('h1', _SPAN_COEF1, _SPAN_P1, 0)} * 1073741824 "
    f"+ {_span_mix('h2', _SPAN_COEF2, _SPAN_P2, 0)}"
)

SQL_SPAN_DEDUP = f"""
WITH toks AS (
  SELECT doc_id,
         {sql_word_hash32(1)} AS h1,
         {sql_word_hash32(9)} AS h2
  FROM documents
),
grams AS (
  SELECT doc_id,
         unnest(generate_series(1, len(h1) - {SPAN_G - 1})) AS pos,
         unnest([{_SQL_SPAN_GH}
                 FOR i IN generate_series(1, len(h1) - {SPAN_G - 1})]) AS gh
  FROM toks WHERE len(h1) >= {SPAN_G}
),
dup AS (SELECT gh FROM grams GROUP BY gh HAVING count(DISTINCT doc_id) >= 2),
spans AS (
  SELECT g.doc_id, g.pos, g.pos + {SPAN_G - 1} AS e FROM grams g JOIN dup USING (gh)
),
isl AS (
  SELECT doc_id, pos, e,
         CASE WHEN max(e) OVER w IS NULL OR pos > max(e) OVER w + 1
              THEN 1 ELSE 0 END AS flag
  FROM spans
  WINDOW w AS (PARTITION BY doc_id ORDER BY pos
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
),
isl2 AS (
  SELECT doc_id, pos, e,
         SUM(flag) OVER (PARTITION BY doc_id ORDER BY pos
                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island
  FROM isl
),
merged AS (
  SELECT doc_id, island, min(pos) AS span_start, max(e) AS span_end
  FROM isl2 GROUP BY doc_id, island
),
perdoc AS (
  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_spans,
         CAST(SUM(span_end - span_start + 1) AS BIGINT) AS dup_tokens
  FROM merged GROUP BY doc_id
),
base AS (SELECT doc_id, len({SQL_WORDS}) AS n_words FROM documents)
SELECT b.doc_id, b.n_words,
       COALESCE(p.n_spans, 0) AS n_spans,
       COALESCE(p.dup_tokens, 0) AS dup_tokens,
       CAST(COALESCE(p.dup_tokens, 0) AS DOUBLE) / b.n_words AS dup_ratio,
       (CAST(COALESCE(p.dup_tokens, 0) AS DOUBLE) / b.n_words) <= {SPAN_DUP_RATIO_T} AS keep
FROM base b LEFT JOIN perdoc p USING (doc_id)
"""


# ---------------------------------------------------------------------------
# 8. incremental dedup: new ingest batch vs the EXISTING corpus
#
# The production shape at 100 TB: the corpus is already deduplicated and its
# MinHash band signatures live in a signature table; each new crawl/ingest
# batch must be checked against that corpus WITHOUT re-pairing old x old
# (which re-runs the quadratic work on data that cannot have changed). The
# plan below derives both signature sides from `documents` (batch stand-in:
# doc_id % INCR_MOD == INCR_MOD-1, deterministic on both engines) but the
# band join is strictly new JOIN old — no new x new, no old x old — so at
# scale the old side is a stored-signature scan and total work is
# O(batch shingles + candidate verifies), independent of corpus history.
# Verify restricts the exact-Jaccard shingle join to candidate docs via
# semi-joins AND drops boilerplate shingles (df > SHINGLE_DF_CAP) before the
# intersection, like dedup_ngram_jaccard — candidate restriction alone still
# fans out quadratically on a licence shingle shared by most candidates.
# Output: per new doc, the best
# existing match (max jaccard, ties to the smallest corpus doc_id) — the
# drop list an incremental ingest applies before appending.
# ---------------------------------------------------------------------------

INCR_MOD = 3  # doc_id % INCR_MOD == INCR_MOD-1 -> new ingest batch (~1/3)


def dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall contract: inherits dedup_minhash_lsh's band rule
    (1 − (1 − s²)⁸ per pair); measured doc-level coverage vs the exact
    cross-batch reference is 1.000 with zero spurious flags
    (scripts/text_pair_recall.py, BENCH.md §3b)."""
    is_new = F.col("doc_id") % INCR_MOD == INCR_MOD - 1
    hashed = _shingle_hashes(table(spark, sf_dir, "documents"))
    # one signature pass over the union; in production the old half of this
    # is a signature-table scan, and everything from `bands` down is the
    # identical plan
    bands = _band_rows(_minhash_signatures(hashed))
    # new JOIN old only: the asymmetric band join is what makes this
    # incremental — candidate count is bounded by batch-side bucket hits
    cand = (
        bands.filter(is_new)
        .join(
            bands.filter(~is_new).select(
                F.col("doc_id").alias("dup_of"), "band", "band_key"
            ),
            ["band", "band_key"],
        )
        .select("doc_id", "dup_of")
        .distinct()
    )
    # verify tier over DISCRIMINATIVE shingles only, like dedup_ngram_jaccard:
    # a licence-boilerplate shingle shared by most candidate docs would fan
    # the sh-join out quadratically in candidate count even though both sides
    # are candidate-restricted, so shingles in more than SHINGLE_DF_CAP docs
    # are dropped BEFORE the intersection join and the per-doc counts (one
    # dedup exchange builds `kept`; counts and both verify sides reuse it —
    # the uncapped plan paid the same exchange for counts alone). At 100 TB
    # the old side's df table is precomputed index metadata, not a rescan.
    # count_distinct over the raw stream, NOT count over the deduped
    # relation: the dedup exchange partitions by (doc_id, sh) and cannot
    # serve a groupBy(sh), so the deduped formulation pays dedup-shuffle +
    # sh-shuffle where this pays one sh-shuffle with per-partition distinct
    # partials (A/B'd at sf1: 7.4 s here vs 9.2 s deduped-then-count)
    hot = (
        hashed.groupBy("sh")
        .agg(F.count_distinct("doc_id").alias("_df"))
        .filter(F.col("_df") > SHINGLE_DF_CAP)
        .select("sh")
    )
    kept = hashed.dropDuplicates(["doc_id", "sh"]).join(hot, "sh", "left_anti")
    counts = kept.groupBy("doc_id").agg(F.count("*").alias("n_sh"))
    new_docs = cand.select("doc_id").distinct()
    old_docs = cand.select(F.col("dup_of").alias("doc_id")).distinct()
    sh_new = kept.join(new_docs, "doc_id", "left_semi")
    sh_old = kept.join(old_docs, "doc_id", "left_semi").select(
        F.col("doc_id").alias("dup_of"), "sh"
    )
    inter = (
        sh_new.join(sh_old, "sh")
        .groupBy("doc_id", "dup_of")
        .agg(F.count("*").alias("n_inter"))
    )
    scored = (
        cand.join(inter, ["doc_id", "dup_of"])
        .join(counts, "doc_id")
        .join(
            counts.select(F.col("doc_id").alias("dup_of"), F.col("n_sh").alias("n_old")),
            "dup_of",
        )
        .withColumn(
            "jaccard",
            F.col("n_inter").cast("double")
            / (F.col("n_sh") + F.col("n_old") - F.col("n_inter")),
        )
        .filter(F.col("jaccard") >= JACCARD_T)
    )
    return _best_match(scored)


SQL_DEDUP_INCREMENTAL = f"""
WITH {SQL_HSHINGLE_CTE},
mh AS (
  SELECT doc_id, i, min((a * (sh % {MINHASH_P}) + b) % {MINHASH_P}) AS mh
  FROM hshingle, (VALUES {_SEED_ROWS}) AS seeds(i, a, b)
  GROUP BY doc_id, i
),
bands AS (
  SELECT doc_id, CAST(i // {ROWS_PER_BAND} AS INT) AS band,
         CAST(SUM(CASE WHEN i % 2 = 0 THEN mh * 2147483648 ELSE mh END) AS BIGINT)
           AS band_key
  FROM mh GROUP BY doc_id, 2
),
cand AS (
  SELECT DISTINCT n.doc_id AS doc_id, o.doc_id AS dup_of
  FROM bands n JOIN bands o ON n.band = o.band AND n.band_key = o.band_key
  WHERE n.doc_id % {INCR_MOD} = {INCR_MOD - 1}
    AND o.doc_id % {INCR_MOD} <> {INCR_MOD - 1}
),
kept AS (
  SELECT s.doc_id, s.sh FROM hshingle s
  JOIN (SELECT sh FROM hshingle GROUP BY sh
        HAVING count(*) <= {SHINGLE_DF_CAP}) k ON k.sh = s.sh
),
kcount AS (SELECT doc_id, count(*) AS n_sh FROM kept GROUP BY doc_id),
inter AS (
  SELECT n.doc_id AS doc_id, o.doc_id AS dup_of, count(*) AS n_inter
  FROM kept n JOIN kept o ON n.sh = o.sh
  WHERE n.doc_id % {INCR_MOD} = {INCR_MOD - 1}
    AND o.doc_id % {INCR_MOD} <> {INCR_MOD - 1}
  GROUP BY 1, 2
),
scored AS (
  SELECT c.doc_id, c.dup_of,
         CAST(i.n_inter AS DOUBLE) / (cn.n_sh + co.n_sh - i.n_inter) AS jaccard
  FROM cand c
  JOIN inter i ON i.doc_id = c.doc_id AND i.dup_of = c.dup_of
  JOIN kcount cn ON cn.doc_id = c.doc_id
  JOIN kcount co ON co.doc_id = c.dup_of
  WHERE CAST(i.n_inter AS DOUBLE) / (cn.n_sh + co.n_sh - i.n_inter) >= {JACCARD_T}
)
SELECT doc_id, dup_of, jaccard FROM (
  SELECT *, row_number() OVER (PARTITION BY doc_id
                               ORDER BY jaccard DESC, dup_of) AS rn
  FROM scored
) WHERE rn = 1
"""


# ---------------------------------------------------------------------------
# 9. cluster-coherent train/valid/test split
#
# Splitting a corpus uniformly at random leaks near-duplicates across the
# train/valid boundary — the eval set then contains paraphrases of training
# documents and overstates generalization. The standard fix: assign splits
# at near-dup-CLUSTER granularity. Groups come from the same
# large-star/small-star components as dedup_clusters (singleton docs label
# themselves); the split is a deterministic md5 hash of the group label
# reduced mod 100 (train < 90, valid < 95, else test), so re-running the
# pipeline — or adding new docs that join an existing cluster WITHOUT
# merging previously separate clusters — reproduces the same assignment.
# (A bridging doc that merges two clusters relabels the union to the
# smaller component-min, intentionally reassigning the merged group as one
# unit: the alternative — keeping both old labels — would leave a
# near-dup pair straddling the split boundary, the exact leak this query
# exists to prevent.) Labels come from the `_component_labels` session
# snapshot shared with dedup_clusters — the LSH + star-labeling pipeline
# runs ONCE per (session, corpus), not once per consumer.
# One label join + map-only hash math on top of the
# component labels; no extra shuffles beyond dedup_clusters itself.
# ---------------------------------------------------------------------------

SPLIT_TRAIN_PCT = 90
SPLIT_VALID_PCT = 95  # [train, valid) = [0,90), [90,95); test = [95,100)


def split_of_group():
    """The `split` column of a frame with a `group_id` column: its md5
    bucket mod 100 against the split percentages (``corpus_split`` and
    ``streaming.stream_split``)."""
    bucket = F.expr(
        "cast(conv(substring(md5(cast(group_id as string)), 1, 15), 16, 10) as bigint) % 100"
    )
    return (
        F.when(bucket < SPLIT_TRAIN_PCT, F.lit("train"))
        .when(bucket < SPLIT_VALID_PCT, F.lit("valid"))
        .otherwise(F.lit("test"))
        .alias("split")
    )


def corpus_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    labels = _component_labels(spark, sf_dir)
    d = table(spark, sf_dir, "documents").select("doc_id")
    out = d.join(labels.withColumnRenamed("doc", "doc_id"), "doc_id", "left").select(
        "doc_id", F.coalesce("label", "doc_id").alias("group_id")
    )
    return out.select("doc_id", "group_id", split_of_group())


SQL_CORPUS_SPLIT = f"""
WITH labels AS {sql_components(SQL_DEDUP_MINHASH_LSH, "doc_a", "doc_b")},
grouped AS (
  SELECT d.doc_id, COALESCE(l.label, d.doc_id) AS group_id
  FROM documents d LEFT JOIN labels l ON l.doc = d.doc_id
)
SELECT doc_id, group_id,
       CASE WHEN bucket < {SPLIT_TRAIN_PCT} THEN 'train'
            WHEN bucket < {SPLIT_VALID_PCT} THEN 'valid'
            ELSE 'test' END AS split
FROM (
  SELECT doc_id, group_id,
         CAST('0x' || substr(md5(CAST(group_id AS VARCHAR)), 1, 15) AS BIGINT)
           % 100 AS bucket
  FROM grouped
)
"""


QUERIES = {
    "dedup_exact": dedup_exact,
    "corpus_decontaminate": corpus_decontaminate,
    "dedup_ngram_jaccard": dedup_ngram_jaccard,
    "dedup_minhash_lsh": dedup_minhash_lsh,
    "text_fingerprint": text_fingerprint_sig,
    "dedup_simhash_pairs": dedup_simhash_pairs,
    "dedup_clusters": dedup_clusters,
    # promoted in round 5 (slots freed by demoting the TPC-H showcase
    # queries — see relational.py): the incremental-ingest and
    # exact-substring-span flagships had only local-tier evidence
    "dedup_incremental": dedup_incremental,
    "span_dedup": span_dedup,
}

ORACLES = {
    "dedup_clusters": SQL_DEDUP_CLUSTERS,
    "corpus_decontaminate": SQL_CORPUS_DECONTAMINATE,
    "dedup_exact": SQL_DEDUP_EXACT,
    "dedup_ngram_jaccard": SQL_DEDUP_NGRAM_JACCARD,
    "dedup_minhash_lsh": SQL_DEDUP_MINHASH_LSH,
    "text_fingerprint": _sql_text_fingerprint_sig(),
    "dedup_simhash_pairs": SQL_DEDUP_SIMHASH_PAIRS,
    "dedup_incremental": SQL_DEDUP_INCREMENTAL,
    "span_dedup": SQL_SPAN_DEDUP,
}

# local tier: oracle-paired and pytest/check_parity-verified, kept off the
# driver registry for its 8 KiB CORRECTNESS budget (see analytics/__init__.py)
LOCAL_QUERIES = {
    "corpus_split": corpus_split,
}

LOCAL_ORACLES = {
    "corpus_split": SQL_CORPUS_SPLIT,
}
