"""Text-analysis operators for the training-data pipeline, over `documents`.

- lang-ID: stopword-hit n-gram heuristic with a deterministic argmax
- quality scoring: length / punctuation / stopword / casing ratios
- token counting: whitespace tokens + a BPE-ish regex tokenizer
- document fingerprinting: md5 word hashes -> 3-gram polynomial window
  hashes -> winnowing-style min fingerprint

All JVM-side column expressions (no Python UDFs); every ratio is a single
double division so the value is reduction-order independent.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .common import SQL_WORDS, WORDS as _WORDS, sql_word_hash32, table, word_hash32

STOPWORDS = {
    "en": ["the", "a", "of", "and", "to", "in", "is"],
    "de": ["der", "die", "das", "und", "ist", "ein"],
    "fr": ["le", "la", "les", "et", "est", "un"],
    "es": ["el", "la", "los", "y", "es", "un"],
    "zh": ["de", "shi", "le", "zai", "he"],
}
LANGS = sorted(STOPWORDS)  # deterministic argmax tie-break order

BPE_RE = "[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]"


# each language's stopwords as one quoted list literal, shared by both engines
_STOPS = {lang: ", ".join(f"'{w}'" for w in ws) for lang, ws in STOPWORDS.items()}


def _hits(lang: str, words: str = _WORDS) -> str:
    return f"size(filter({words}, w -> array_contains(array({_STOPS[lang]}), w)))"


def _sql_hits(lang: str) -> str:
    return f"len(list_filter({SQL_WORDS}, w -> list_contains([{_STOPS[lang]}], w)))"


def text_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = table(spark, sf_dir, "documents")
    scored = d.select(
        "doc_id", "lang", *[F.expr(_hits(l)).alias(f"s_{l}") for l in LANGS]
    )
    # deterministic argmax: first language (alphabetical) with the max score
    pred = F.lit(None).cast("string")
    best = F.greatest(*[F.col(f"s_{l}") for l in LANGS])
    for l in reversed(LANGS):
        pred = F.when(F.col(f"s_{l}") == best, F.lit(l)).otherwise(pred)
    return scored.select(
        "doc_id",
        pred.alias("lang_pred"),
        "lang",
        (pred == F.col("lang")).alias("is_match"),
    )


_SQL_BEST = "greatest(" + ", ".join(f"s_{l}" for l in LANGS) + ")"
_SQL_PRED = (
    "CASE "
    + " ".join(f"WHEN s_{l} = {_SQL_BEST} THEN '{l}'" for l in LANGS)
    + " END"
)
SQL_TEXT_LANGID = f"""
SELECT doc_id, {_SQL_PRED} AS lang_pred, lang,
       ({_SQL_PRED} = lang) AS is_match
FROM (SELECT doc_id, lang,
             {', '.join(f'{_sql_hits(l)} AS s_{l}' for l in LANGS)}
      FROM documents)
"""


def _quality_signals(words: str = _WORDS) -> list:
    """The per-document text-quality counts over the `text` column, with
    *words* the words-array expression (``text_quality``,
    ``corpus_retention`` and ``stream_curate``)."""
    return [
        F.expr(f"size({words})").alias("n_words"),
        F.length("text").alias("n_chars"),
        F.expr("regexp_count(text, '[.,;:!?]')").alias("n_punct"),
        F.expr("regexp_count(text, '[A-Z]')").alias("n_upper"),
        F.expr(_hits("en", words)).alias("n_stop"),
        # token counting folded in (former text_tokens entry; same grain):
        # whitespace tokens == n_words, BPE-ish regex tokens below
        F.regexp_count(F.col("text"), F.lit(BPE_RE)).alias("bpe_tokens"),
    ]


def _with_quality(df: DataFrame) -> DataFrame:
    """The ratios and the `quality` score over the ``_quality_signals``."""
    return (
        df.withColumn("avg_word_len", F.col("n_chars").cast("double") / F.col("n_words"))
        .withColumn("punct_ratio", F.col("n_punct").cast("double") / F.col("n_chars"))
        .withColumn("stopword_ratio", F.col("n_stop").cast("double") / F.col("n_words"))
        .withColumn("upper_ratio", F.col("n_upper").cast("double") / F.col("n_chars"))
        .withColumn(
            "quality",
            (F.col("stopword_ratio") * 2.0 + F.col("punct_ratio") * 1.0)
            - F.col("upper_ratio") * 0.5,
        )
    )


def text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = table(spark, sf_dir, "documents")
    return _with_quality(d.select("doc_id", *_quality_signals()))


def _sql_quality(keep: str, src: str) -> str:
    """DuckDB twin of ``_with_quality`` over ``_quality_signals``: the
    *keep* columns of *src* (which has a `text` column), then the signals,
    the ratios and `quality`."""
    return rf"""
SELECT *,
       (stopword_ratio * 2.0 + punct_ratio * 1.0) - upper_ratio * 0.5 AS quality
FROM (
  SELECT *,
         CAST(n_chars AS DOUBLE) / n_words AS avg_word_len,
         CAST(n_punct AS DOUBLE) / n_chars AS punct_ratio,
         CAST(n_stop AS DOUBLE) / n_words AS stopword_ratio,
         CAST(n_upper AS DOUBLE) / n_chars AS upper_ratio
  FROM (
    SELECT {keep},
           len({SQL_WORDS}) AS n_words,
           length(text) AS n_chars,
           len(regexp_extract_all(text, '[.,;:!?]')) AS n_punct,
           len(regexp_extract_all(text, '[A-Z]')) AS n_upper,
           {_sql_hits('en')} AS n_stop,
           len(regexp_extract_all(text, '{BPE_RE}')) AS bpe_tokens
    FROM {src}
  )
)
"""


SQL_TEXT_QUALITY = _sql_quality("doc_id", "documents")


# word hash: first 8 md5 hex chars as int64 (engine-portable; one shared
# definition for all gram operators — common.word_hash32)
_WHASH = word_hash32()
# 3-word polynomial window hashes mod a prime, winnowing-style min
_WINDOWS = (
    f"CASE WHEN size({_WORDS}) >= 3 THEN "
    f"transform(sequence(1, size({_WORDS}) - 2), i -> "
    f"(element_at(hs, i) * 31 + element_at(hs, i + 1) * 17 + element_at(hs, i + 2)) % 1000003) "
    "ELSE array(cast(0 as bigint)) END"
)
_SQL_WINDOWS = """CASE WHEN len(hs) >= 3 THEN
  [(hs[i] * 31 + hs[i + 1] * 17 + hs[i + 2]) % 1000003
   FOR i IN generate_series(1, len(hs) - 2)]
ELSE [CAST(0 AS BIGINT)] END"""


def text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = table(spark, sf_dir, "documents")
    return (
        d.withColumn("hs", F.expr(_WHASH))
        .withColumn("wh", F.expr(_WINDOWS))
        .select(
            "doc_id",
            F.array_min("wh").alias("fingerprint"),
            F.size(F.array_distinct("wh")).alias("n_distinct_windows"),
        )
    )


SQL_TEXT_FINGERPRINT = f"""
SELECT doc_id, list_min(wh) AS fingerprint,
       len(list_distinct(wh)) AS n_distinct_windows
FROM (
  SELECT doc_id, {_SQL_WINDOWS} AS wh
  FROM (
    SELECT doc_id,
           {sql_word_hash32()} AS hs
    FROM documents
  )
)
"""


# ---------------------------------------------------------------------------
# corpus retention: the keep/drop decision stage a training-data pipeline
# runs before tokenization — composes the near-dup fingerprint, length gate
# and quality score into one verdict per document with a reason.
# ---------------------------------------------------------------------------

MIN_WORDS = 15     # drop docs shorter than this many whitespace tokens
QUALITY_T = 0.05   # drop docs scoring below this on the quality heuristic
# drop-reason precedence: a near-duplicate is dropped as such even if it is
# also short/low-quality (dedup runs first in a real pipeline)


def corpus_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document keep/drop verdict. Plan at scale: one projection computes
    every signal (words/quality/fingerprint), then ONE shuffle on the
    high-cardinality fingerprint key with `min(doc_id) over (partition by
    fingerprint)` to pick each group's keeper. The earlier groupBy+join-back
    formulation re-evaluated the computed-array fingerprint expressions
    through the self-join (the interpreted-lambda inlining cliff): 115 s at
    sf0.1 vs 1.2 s for this single-pass window — the window partitions on a
    hash-valued key (never a global window) and evaluates every signal
    exactly once before the exchange."""
    d = table(spark, sf_dir, "documents")
    base = _with_quality(
        d.withColumn("hs", F.expr(_WHASH))
        .withColumn("wh", F.expr(_WINDOWS))
        .select("doc_id", "lang", F.array_min("wh").alias("fingerprint"), *_quality_signals())
    )
    reason = (
        F.when(F.col("doc_id") != F.col("keeper_id"), F.lit("near_duplicate"))
        .when(F.col("n_words") < MIN_WORDS, F.lit("too_short"))
        .when(F.col("quality") < QUALITY_T, F.lit("low_quality"))
        .otherwise(F.lit("kept"))
    )
    w = Window.partitionBy("fingerprint")
    return (
        base.withColumn("keeper_id", F.min("doc_id").over(w))
        .withColumn("drop_reason", reason)
        .select(
            "doc_id", "lang", "fingerprint", "keeper_id", "n_words", "quality",
            (F.col("drop_reason") == "kept").alias("keep"), "drop_reason",
        )
    )


_SQL_RET_SRC = f"""(
  SELECT doc_id, lang, text, {_SQL_WINDOWS} AS wh
  FROM (SELECT doc_id, lang, text, {sql_word_hash32()} AS hs FROM documents)
)"""
SQL_CORPUS_RETENTION = f"""
WITH base AS (
  SELECT doc_id, lang, fingerprint, n_words, quality
  FROM ({_sql_quality("doc_id, lang, list_min(wh) AS fingerprint", _SQL_RET_SRC)})
),
keepers AS (
  SELECT fingerprint, min(doc_id) AS keeper_id FROM base GROUP BY fingerprint
),
verdict AS (
  SELECT b.doc_id, b.lang, b.fingerprint, k.keeper_id, b.n_words, b.quality,
         CASE WHEN b.doc_id != k.keeper_id THEN 'near_duplicate'
              WHEN b.n_words < {MIN_WORDS} THEN 'too_short'
              WHEN b.quality < {QUALITY_T} THEN 'low_quality'
              ELSE 'kept' END AS drop_reason
  FROM base b JOIN keepers k USING (fingerprint)
)
SELECT doc_id, lang, fingerprint, keeper_id, n_words, quality,
       (drop_reason = 'kept') AS keep, drop_reason
FROM verdict
"""


# ---------------------------------------------------------------------------
# Gopher-style repetition quality filter (Rae et al. 2021 §A1.1 signals,
# adapted to the synthetic word-soup corpus): per document, the share of the
# most frequent word, the share of the most frequent word 2-gram, and the
# fraction of 3-gram occurrences that are duplicated within the document.
# A training pipeline drops documents dominated by repeated boilerplate.
#
# Scale shape: ONE explode of a tagged (n, gram) array covers all three gram
# sizes, then two hash aggregations — (doc_id, n, gram) counts with map-side
# partial agg, then a conditional-agg rollup to one row per document. Both
# shuffles key on doc_id(+gram): naturally partitioned, no global window,
# no data-scaling broadcast. Fractions are single double divisions of exact
# bigints, so the verdict is bit-identical cross-engine.
#
# Grams travel as 60-bit md5-prefix longs, never strings (the dedup-module
# representation): counting is collision-tolerant (n²/2⁶¹, mirrored exactly
# by the oracle's identical CAST) and the A/B at sf1 measured the hashed
# exchange at 1.6 s vs 8.9 s for string gram keys (min-of-2, canary 0.94).
# ---------------------------------------------------------------------------

REP_TOP1_T = 0.12  # max share of the most common word
REP_TOP2_T = 0.06  # max share of the most common 2-gram
REP_DUP3_T = 0.05  # max fraction of 3-gram occurrences that repeat in-doc

_G60 = "cast(conv(substring(md5({0}), 1, 15), 16, 10) as bigint)"

# built over a pre-bound `ws` column so the text is split exactly once
_GRAMS = f"""
concat(
  transform(ws, x -> struct(1 as n, {_G60.format('x')} as gram)),
  CASE WHEN size(ws) >= 2 THEN
    transform(sequence(1, size(ws) - 1), i -> struct(
      2 as n, {_G60.format("concat_ws(' ', element_at(ws, i), element_at(ws, i + 1))")} as gram))
  ELSE array() END,
  CASE WHEN size(ws) >= 3 THEN
    transform(sequence(1, size(ws) - 2), i -> struct(
      3 as n, {_G60.format("concat_ws(' ', element_at(ws, i), element_at(ws, i + 1), element_at(ws, i + 2))")} as gram))
  ELSE array() END
)
"""


def text_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = table(spark, sf_dir, "documents")
    grams = (
        d.select("doc_id", F.expr(_WORDS).alias("ws"))
        .select("doc_id", F.explode(F.expr(_GRAMS)).alias("g"))
        .select("doc_id", F.col("g.n").alias("n"), F.col("g.gram").alias("gram"))
    )
    cnt = grams.groupBy("doc_id", "n", "gram").agg(F.count("*").alias("c"))
    per = cnt.groupBy("doc_id", "n").agg(
        F.sum("c").alias("total"),
        F.max("c").alias("top_cnt"),
        F.coalesce(F.sum(F.when(F.col("c") > 1, F.col("c"))), F.lit(0)).alias("dup_cnt"),
    )

    def _n(col: str, n: int):
        return F.max(F.when(F.col("n") == n, F.col(col)))

    return (
        per.groupBy("doc_id")
        .agg(
            _n("total", 1).alias("n_words"),
            (_n("top_cnt", 1).cast("double") / _n("total", 1)).alias("top1_frac"),
            F.coalesce(_n("top_cnt", 2).cast("double") / _n("total", 2), F.lit(0.0)).alias("top2_frac"),
            F.coalesce(_n("dup_cnt", 3).cast("double") / _n("total", 3), F.lit(0.0)).alias("dup3_frac"),
        )
        .withColumn(
            "rep_ok",
            (F.col("top1_frac") <= REP_TOP1_T)
            & (F.col("top2_frac") <= REP_TOP2_T)
            & (F.col("dup3_frac") <= REP_DUP3_T),
        )
    )


SQL_TEXT_REPETITION = f"""
WITH w AS (SELECT doc_id, {SQL_WORDS} AS ws FROM documents),
grams AS (
  SELECT doc_id, 1 AS n,
         unnest([CAST('0x' || substr(md5(x), 1, 15) AS BIGINT) FOR x IN ws]) AS gram
  FROM w
  UNION ALL
  SELECT doc_id, 2 AS n,
         unnest([CAST('0x' || substr(md5(ws[i] || ' ' || ws[i+1]), 1, 15) AS BIGINT)
                 FOR i IN generate_series(1, len(ws) - 1)]) AS gram
  FROM w WHERE len(ws) >= 2
  UNION ALL
  SELECT doc_id, 3 AS n,
         unnest([CAST('0x' || substr(md5(ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]), 1, 15) AS BIGINT)
                 FOR i IN generate_series(1, len(ws) - 2)]) AS gram
  FROM w WHERE len(ws) >= 3
),
cnt AS (SELECT doc_id, n, gram, count(*) AS c FROM grams GROUP BY 1, 2, 3),
per AS (SELECT doc_id, n, CAST(sum(c) AS BIGINT) AS total, max(c) AS top_cnt,
               CAST(coalesce(sum(c) FILTER (WHERE c > 1), 0) AS BIGINT) AS dup_cnt
        FROM cnt GROUP BY 1, 2),
rep AS (
  SELECT doc_id,
         max(CASE WHEN n = 1 THEN total END) AS n_words,
         CAST(max(CASE WHEN n = 1 THEN top_cnt END) AS DOUBLE)
           / max(CASE WHEN n = 1 THEN total END) AS top1_frac,
         coalesce(CAST(max(CASE WHEN n = 2 THEN top_cnt END) AS DOUBLE)
           / max(CASE WHEN n = 2 THEN total END), 0.0) AS top2_frac,
         coalesce(CAST(max(CASE WHEN n = 3 THEN dup_cnt END) AS DOUBLE)
           / max(CASE WHEN n = 3 THEN total END), 0.0) AS dup3_frac
  FROM per GROUP BY doc_id
)
SELECT *, (top1_frac <= {REP_TOP1_T} AND top2_frac <= {REP_TOP2_T}
           AND dup3_frac <= {REP_DUP3_T}) AS rep_ok
FROM rep
"""


# ---------------------------------------------------------------------------
# Line-level global dedup (CCNet / RefinedWeb style): hash each fixed-size
# text segment ("line" — the synthetic corpus has no newlines, so the line
# unit is a non-overlapping 10-word window), count how many documents share
# each segment corpus-wide, and drop documents whose content is mostly
# boilerplate segments seen elsewhere.
#
# Scale shape: within-doc dedup is a LOCAL array_distinct before the explode
# (no shuffle — the doc's segments are already one array), then ONE shuffle
# on the 60-bit segment hash (count per hash via a hash-partitioned window —
# high-cardinality key, never global) and ONE shuffle back on doc_id for the
# rollup. Segments travel as 8-byte longs, not strings.
# ---------------------------------------------------------------------------

SEG_WORDS = 10        # words per segment
SEG_SHARED_T = 0.5    # drop a doc when >= this fraction of segments is shared

# built over a pre-bound `ws` column so the text is split exactly once;
# hashes each non-overlapping SEG_WORDS-word segment and dedups within the doc
_SEG_HASHES = (
    "array_distinct(transform("
    f"sequence(0, cast(ceil(size(ws) / {float(SEG_WORDS)}) as int) - 1), "
    f"i -> cast(conv(substring(md5(concat_ws(' ', slice(ws, i * {SEG_WORDS} + 1, {SEG_WORDS}))), 1, 15), 16, 10)"
    " as bigint)))"
)


def line_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = table(spark, sf_dir, "documents")
    segs = (
        d.select("doc_id", F.expr(_WORDS).alias("ws"))
        .select("doc_id", F.explode(F.expr(_SEG_HASHES)).alias("h"))
    )
    seg_df = Window.partitionBy("h")
    return (
        segs.withColumn("df", F.count("*").over(seg_df))
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_segs"),
            F.coalesce(F.sum(F.when(F.col("df") > 1, 1)), F.lit(0)).alias("n_shared"),
            (
                F.coalesce(F.sum(F.when(F.col("df") > 1, 1)), F.lit(0)).cast("double")
                / F.count("*")
            ).alias("shared_frac"),
        )
        .withColumn("keep", F.col("shared_frac") < SEG_SHARED_T)
    )


SQL_LINE_DEDUP = f"""
WITH w AS (SELECT doc_id, {SQL_WORDS} AS ws FROM documents),
segs AS (
  SELECT doc_id,
         unnest(list_distinct([CAST('0x' || substr(md5(array_to_string(ws[(i*{SEG_WORDS}+1):(i*{SEG_WORDS}+{SEG_WORDS})], ' ')), 1, 15) AS BIGINT)
                               FOR i IN generate_series(0, CAST(ceil(len(ws) / {float(SEG_WORDS)}) AS INT) - 1)])) AS h
  FROM w
),
seg_df AS (SELECT h, count(*) AS df FROM segs GROUP BY h)
SELECT s.doc_id, count(*) AS n_segs,
       CAST(coalesce(sum(CASE WHEN d.df > 1 THEN 1 END), 0) AS BIGINT) AS n_shared,
       CAST(coalesce(sum(CASE WHEN d.df > 1 THEN 1 END), 0) AS DOUBLE) / count(*) AS shared_frac,
       (CAST(coalesce(sum(CASE WHEN d.df > 1 THEN 1 END), 0) AS DOUBLE) / count(*)
        < {SEG_SHARED_T}) AS keep
FROM segs s JOIN seg_df d USING (h) GROUP BY s.doc_id
"""


# ---------------------------------------------------------------------------
# Domain-temperature resampling (GPT-3 / Pile style): flatten the per-source
# document distribution with a sqrt temperature, derive a per-source accept
# rate targeting half the corpus, and take a deterministic md5-threshold
# sample — the same doc set on every engine and every run.
#
# Determinism: weights use integer sqrt (floor(sqrt(n))) summed exactly as
# bigints; each rate is ONE double division of two exact bigint products, so
# the accept threshold floor(rate * 2^48) is bit-identical cross-engine.
# Scale shape: per-source counts (map-side partial agg), a 1-row total
# (true-constant broadcast), a rates dim joined back on source — AQE
# broadcasts it while small, shuffles if the domain count ever isn't.
# ---------------------------------------------------------------------------

_RESAMPLE_SCALE = 281474976710656  # 2^48, the md5-prefix hash space


# deterministic per-doc accept test: 48-bit md5 prefix of the doc id vs the
# rate threshold (shared by the batch query and the ingest-time stream twin)
SAMPLE_HASH = "cast(conv(substring(md5(cast(doc_id as string)), 1, 12), 16, 10) as bigint)"


def source_rates(docs: DataFrame) -> DataFrame:
    """(source, n_src, rate) — sqrt-temperature accept rates targeting half
    of *docs*. Shared by `domain_resample` and the curation stream's static
    rates index."""
    cnt = docs.groupBy("source").agg(F.count("*").alias("n_src"))
    tot = cnt.agg(
        F.sum("n_src").alias("n_total"),
        F.sum(F.floor(F.sqrt("n_src")).cast("bigint")).alias("sum_isqrt"),
    )
    return cnt.crossJoin(F.broadcast(tot)).select(
        "source",
        "n_src",
        F.least(
            F.lit(1.0),
            (F.floor(F.sqrt("n_src")).cast("bigint") * F.expr("n_total div 2")).cast("double")
            / (F.col("sum_isqrt") * F.col("n_src")),
        ).alias("rate"),
    )


def domain_resample(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = table(spark, sf_dir, "documents").select("doc_id", "source")
    rates = source_rates(d)
    thresh = F.floor(F.col("rate") * F.lit(float(_RESAMPLE_SCALE))).cast("bigint")
    return d.join(rates, "source").select(
        "doc_id", "source", "n_src", "rate", (F.expr(SAMPLE_HASH) < thresh).alias("sampled")
    )


SQL_DOMAIN_RESAMPLE = f"""
WITH cnt AS (SELECT source, count(*) AS n_src FROM documents GROUP BY source),
tot AS (SELECT CAST(sum(n_src) AS BIGINT) AS n_total,
               CAST(sum(CAST(floor(sqrt(n_src)) AS BIGINT)) AS BIGINT) AS sum_isqrt
        FROM cnt),
rates AS (
  SELECT c.source, c.n_src,
         least(1.0, CAST(CAST(floor(sqrt(c.n_src)) AS BIGINT)
                         * CAST(t.n_total // 2 AS BIGINT) AS DOUBLE)
                    / (t.sum_isqrt * c.n_src)) AS rate
  FROM cnt c, tot t
)
SELECT d.doc_id, d.source, r.n_src, r.rate,
       (CAST('0x' || substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 12) AS BIGINT)
        < CAST(floor(r.rate * {_RESAMPLE_SCALE}.0) AS BIGINT)) AS sampled
FROM documents d JOIN rates r USING (source)
"""


# ---------------------------------------------------------------------------
# corpus_pipeline_full: the end-to-end curation verdict a training-data
# pipeline runs per document, composing every text-side stage in this module
# into ONE declarative plan — retention (near-dup fingerprint + length +
# quality), Gopher repetition gate, line-level boilerplate gate,
# model-based classifier gate (text_classify_quality; 'model_filtered'),
# and domain-temperature resampling — with drop-reason precedence matching
# the order a real pipeline applies them (heuristics → dedup/boilerplate →
# learned filter → sampling).
#
# Scale shape: each stage keeps its own bounded shuffle topology (documented
# at its definition); composition adds four equi-joins on doc_id, which
# all hash-partition on the same key — Catalyst prunes every stage to the
# columns the verdict needs and AQE coalesces the co-keyed exchanges (the
# classifier stage itself is shuffle-free).
# ---------------------------------------------------------------------------


def corpus_pipeline_full(spark: SparkSession, sf_dir: str) -> DataFrame:
    ret = corpus_retention(spark, sf_dir).select(
        "doc_id", F.col("drop_reason").alias("ret_reason")
    )
    rep = text_repetition(spark, sf_dir).select("doc_id", "rep_ok")
    seg = line_dedup(spark, sf_dir).select("doc_id", F.col("keep").alias("seg_keep"))
    clf = text_classify_quality(spark, sf_dir).select(
        "doc_id", F.col("keep").alias("clf_keep")
    )
    smp = domain_resample(spark, sf_dir).select("doc_id", "sampled")
    reason = (
        F.when(F.col("ret_reason") != "kept", F.col("ret_reason"))
        .when(~F.col("rep_ok"), F.lit("repetitive"))
        .when(~F.col("seg_keep"), F.lit("boilerplate"))
        .when(~F.col("clf_keep"), F.lit("model_filtered"))
        .when(~F.col("sampled"), F.lit("downsampled"))
        .otherwise(F.lit("kept"))
    )
    return (
        ret.join(rep, "doc_id")
        .join(seg, "doc_id")
        .join(clf, "doc_id")
        .join(smp, "doc_id")
        .withColumn("drop_reason", reason)
        .select(
            "doc_id", "drop_reason", (F.col("drop_reason") == "kept").alias("keep")
        )
    )


SQL_CORPUS_PIPELINE_FULL = f"""
WITH ret AS ({SQL_CORPUS_RETENTION}),
rep AS ({{sql_rep}}),
seg AS ({{sql_seg}}),
clf AS ({{sql_clf}}),
smp AS ({{sql_smp}}),
v AS (
  SELECT r.doc_id,
         CASE WHEN r.drop_reason != 'kept' THEN r.drop_reason
              WHEN NOT p.rep_ok THEN 'repetitive'
              WHEN NOT s.keep THEN 'boilerplate'
              WHEN NOT c.keep THEN 'model_filtered'
              WHEN NOT m.sampled THEN 'downsampled'
              ELSE 'kept' END AS drop_reason
  FROM ret r JOIN rep p USING (doc_id) JOIN seg s USING (doc_id)
       JOIN clf c USING (doc_id) JOIN smp m USING (doc_id)
)
SELECT doc_id, drop_reason, (drop_reason = 'kept') AS keep FROM v
"""


# --- text_pii_redact --------------------------------------------------------
# PII detection + redaction — the standard curation step (emails / IPv4 /
# phone numbers) every published web-corpus pipeline runs before training.
# The synthetic documents are word salad with no natural PII, so ground
# truth is PLANTED deterministically from doc_id (the image_caption_align
# pattern): ~4/7 of docs gain one or two PII spans with known positions, so
# the expected counts are checkable and the redaction fingerprint is exact.
# Detection/redaction are JVM-side regexps (no Python in the plan); patterns
# stay inside the RE2 ∩ java.util.regex common dialect so Spark and the
# DuckDB oracle match byte-for-byte. Scale: narrow per-row projection, zero
# shuffles — embarrassingly parallel at 100 TB.
PII_EMAIL = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
PII_IP = r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b"
PII_PHONE = r"\b\d{3}-\d{3}-\d{4}\b"

# planted spans, one expression per engine dialect (CAST STRING vs VARCHAR)
def _pii_plant(cast_str: str) -> str:
    did = f"CAST(doc_id AS {cast_str})"
    email = f"' contact user' || {did} || '@example.com now'"
    ip = f"' node at 10.' || CAST(doc_id % 256 AS {cast_str}) || '.0.' || CAST((doc_id * 7) % 256 AS {cast_str}) || ' up'"
    phone = (
        f"' call 555-' || lpad(CAST(doc_id % 1000 AS {cast_str}), 3, '0')"
        f" || '-' || lpad(CAST((doc_id * 3) % 10000 AS {cast_str}), 4, '0') || ' today'"
    )
    return (
        "CASE doc_id % 7 "
        f"WHEN 0 THEN {email} "
        f"WHEN 2 THEN {ip} "
        f"WHEN 4 THEN {phone} "
        f"WHEN 6 THEN {email} || {ip} "
        "ELSE '' END"
    )


def text_pii_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = table(spark, sf_dir, "documents").select("doc_id", "text")
    txt = F.expr(f"text || {_pii_plant('STRING')}")
    d = d.withColumn("_t", txt)
    n = lambda pat: F.size(F.regexp_extract_all(F.col("_t"), F.lit(pat), F.lit(0)))
    red = F.regexp_replace(
        F.regexp_replace(
            F.regexp_replace(F.col("_t"), PII_EMAIL, "<EMAIL>"), PII_IP, "<IP>"
        ),
        PII_PHONE,
        "<PHONE>",
    )
    return d.select(
        "doc_id",
        n(PII_EMAIL).alias("n_emails"),
        n(PII_IP).alias("n_ips"),
        n(PII_PHONE).alias("n_phones"),
        (n(PII_EMAIL) + n(PII_IP) + n(PII_PHONE) > 0).alias("has_pii"),
        F.md5(red).alias("redacted_fp"),
    )


SQL_TEXT_PII_REDACT = f"""
WITH planted AS (
  SELECT doc_id, text || {_pii_plant('VARCHAR')} AS _t FROM documents
)
SELECT doc_id,
       CAST(len(regexp_extract_all(_t, '{PII_EMAIL}')) AS INT) AS n_emails,
       CAST(len(regexp_extract_all(_t, '{PII_IP}')) AS INT) AS n_ips,
       CAST(len(regexp_extract_all(_t, '{PII_PHONE}')) AS INT) AS n_phones,
       (len(regexp_extract_all(_t, '{PII_EMAIL}'))
        + len(regexp_extract_all(_t, '{PII_IP}'))
        + len(regexp_extract_all(_t, '{PII_PHONE}'))) > 0 AS has_pii,
       md5(regexp_replace(regexp_replace(regexp_replace(_t,
             '{PII_EMAIL}', '<EMAIL>', 'g'),
             '{PII_IP}', '<IP>', 'g'),
             '{PII_PHONE}', '<PHONE>', 'g')) AS redacted_fp
FROM planted
"""


# --- text_classify_quality ---------------------------------------------------
# Model-based quality filtering — the classifier stage (fastText wiki-ref /
# DCLM-style) modern pipelines run AFTER the heuristic gates (text_quality).
# The container has no trained model, so the stand-in is a hashing-trick
# LINEAR classifier with weights derived deterministically from each
# feature's own md5 (the stand-in-codec pattern: swapping in real fastText
# weights changes only the weight expression, not the plan): every word
# hashes to a 60-bit feature id whose weight is (h % 2001) - 1000, except
# English stopwords which carry a planted +boost — so stopword-dense
# documents score measurably above sparse ones (the density proxy real
# quality classifiers learn), giving the verdict a per-doc checkable
# signal. The logit is an INTEGER sum folded inside
# aggregate() over the words array (associative-exact, bit-equal in DuckDB's
# list_sum twin); the per-token score is the single double division. Scale:
# map-only projection, zero shuffles — embarrassingly parallel at 100 TB,
# and the weight "table" is an expression, so there is nothing to broadcast.
CLF_WMOD = 2001  # hash weights span [-1000, 1000]
CLF_STOP_BOOST = 500  # planted stopword weight (the learned-signal stand-in)


def _clf_logit_over(arr: str) -> str:
    """The integer logit fold over any words-array expression (reused by
    stream_curate over its pre-bound `ws` column)."""
    return (
        f"aggregate({arr}, cast(0 as bigint), (acc, w) -> acc + ("
        f"CASE WHEN array_contains(array({_STOPS['en']}), w) THEN {CLF_STOP_BOOST} "
        f"ELSE cast(conv(substring(md5(w), 1, 15), 16, 10) as bigint) % {CLF_WMOD} - {(CLF_WMOD - 1) // 2} END))"
    )


_CLF_LOGIT = _clf_logit_over(_WORDS)
_SQL_CLF_LOGIT = (
    f"CAST(list_sum(list_transform({SQL_WORDS}, w -> "
    f"CASE WHEN list_contains([{_STOPS['en']}], w) THEN {CLF_STOP_BOOST} "
    f"ELSE CAST('0x' || substr(md5(w), 1, 15) AS BIGINT) % {CLF_WMOD} - {(CLF_WMOD - 1) // 2} END"
    f")) AS BIGINT)"
)


def text_classify_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = table(spark, sf_dir, "documents").select("doc_id", "text")
    return d.select(
        "doc_id",
        F.expr(f"cast(size({_WORDS}) as bigint)").alias("n_tok"),
        F.expr(_CLF_LOGIT).alias("logit_sum"),
    ).select(
        "doc_id",
        "n_tok",
        "logit_sum",
        (F.col("logit_sum").cast("double") / F.col("n_tok")).alias("clf_score"),
        (F.col("logit_sum") >= 0).alias("keep"),  # integer compare, no float
    )


SQL_TEXT_CLASSIFY_QUALITY = f"""
WITH scored AS (
  SELECT doc_id,
         CAST(len({SQL_WORDS}) AS BIGINT) AS n_tok,
         {_SQL_CLF_LOGIT} AS logit_sum
  FROM documents
)
SELECT doc_id, n_tok, logit_sum,
       CAST(logit_sum AS DOUBLE) / n_tok AS clf_score,
       logit_sum >= 0 AS keep
FROM scored
"""


# ---------------------------------------------------------------------------
# n-gram language-model score: CCNet-style typicality signal
# ---------------------------------------------------------------------------
#
# CCNet ranks CommonCrawl documents by a 5-gram KenLM perplexity; the
# distributed self-trained analogue: train a bigram LM over the corpus
# itself (add-one smoothing) and score each document by its mean in-model
# bigram probability. Atypical token sequences — mojibake, boilerplate,
# wrong-language fragments, keyword stuffing — score low; text whose
# transitions the corpus has seen often scores high.
#
# Determinism: probabilities are held in integer fixed-point the whole way —
# q = (1e9·(c2+1)) // (c1+V) is exact BIGINT arithmetic in both engines, the
# per-doc sum is an integer sum (associative-exact), and only the final mean
# is ONE double division. No log(), no float accumulation, no ULP drift
# (the round-2 lesson behind _QSCALE in similarity.py). 1e9·(c2+1) needs
# c2 < 9.2e9 before int64 overflow — at larger corpus scale switch the
# quantizer to (1e6·(c2+1)) // ((c1+V) // 1000) or hash-bucket the counts.
#
# Scale shape: two partial-agg'd count shuffles (bigram key, prefix key),
# two hash-joins keyed on 60-bit/32-bit integer hashes — the count tables
# scale with corpus vocabulary, so they are deliberately NOT broadcast
# (the tfidf_topterms lesson); AQE may still broadcast them when small.

LM_Q = 1_000_000_000  # fixed-point scale for smoothed bigram probabilities
LM_SCORE_T = 0.0005   # keep iff mean in-model probability >= this
# Largest bigram count whose fixed-point product LM_Q·(c2+1) stays in int64.
# Stopword bigrams WILL exceed this at the 100 TB corpus scale this module
# targets; Spark (non-ANSI) would wrap silently and corrupt every score that
# shares the plan, so the q expression asserts the bound per row — scale-up
# fails loudly (DuckDB already errors on BIGINT overflow on its own). The
# remedy at that scale is lowering LM_Q (score granularity), not removing
# the guard.
LM_MAX_C2 = (2**63 - 1) // LM_Q - 1

# the assert_true is fused INTO the numerator (an unused guard column would
# be pruned by the optimizer); it codegens to one comparison per row
_LM_Q_EXPR = (
    f"cast({LM_Q} as bigint) * (if(assert_true(c2 <= {LM_MAX_C2}, "
    f"'text_lm_score: bigram count exceeds the int64 fixed-point bound "
    f"{LM_MAX_C2}; lower LM_Q') is null, c2 + 1, null)) div (c1 + v)"
)

# bigram occurrences as PAIRS of 32-bit md5 word hashes (the fingerprint
# family's word hash): one md5 per word — never per bigram string — and the
# bigram key is the two-column pair itself, so there is no combined-hash
# collision and no string concat/digest in the hot explode (a first cut
# md5'd a concatenated string per occurrence ×3 consumer re-evaluations:
# 26.3 s at sf0.1; this form runs the same suite slot in ~2 s)
_BIGRAM_PAIRS = (
    "CASE WHEN size(hs) >= 2 THEN "
    "transform(sequence(1, size(hs) - 1), i -> struct(hs[i - 1] as w1_h, hs[i] as w2_h)) "
    "ELSE array() END"
)


def text_lm_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document mean smoothed bigram probability under a LM trained on
    the corpus itself, as integer fixed-point: q = (LM_Q·(c2+1)) // (c1+V)
    per bigram occurrence, summed exactly, one double division at the end.

    Columns: doc_id, n_bigrams, sum_q (exact), lm_score (mean probability),
    keep (lm_score >= LM_SCORE_T; docs with <2 words keep=false).
    """
    d = table(spark, sf_dir, "documents")
    occ = (
        d.select("doc_id", F.expr(_WHASH).alias("hs"))
        .select("doc_id", F.explode(F.expr(_BIGRAM_PAIRS)).alias("g"))
        .select("doc_id", F.col("g.w1_h").alias("w1_h"), F.col("g.w2_h").alias("w2_h"))
    )
    c2 = occ.groupBy("w1_h", "w2_h").agg(F.count("*").alias("c2"))
    c1 = occ.groupBy("w1_h").agg(F.count("*").alias("c1"))
    # vocabulary size: distinct words across the corpus (1-row broadcast)
    vocab = (
        d.select(F.explode(F.expr(_WORDS)).alias("w"))
        .agg(F.countDistinct("w").alias("v"))
    )
    q = F.expr(_LM_Q_EXPR)
    perdoc = (
        occ.join(c2, ["w1_h", "w2_h"])
        .join(c1, "w1_h")
        .crossJoin(F.broadcast(vocab))
        .groupBy("doc_id")
        .agg(F.count("*").alias("n_bigrams"), F.sum(q).alias("sum_q"))
    )
    base = d.select("doc_id")
    score = F.col("sum_q").cast("double") / (
        F.col("n_bigrams").cast("double") * float(LM_Q)
    )
    return base.join(perdoc, "doc_id", "left").select(
        "doc_id",
        F.coalesce(F.col("n_bigrams"), F.lit(0).cast("bigint")).alias("n_bigrams"),
        F.coalesce(F.col("sum_q"), F.lit(0).cast("bigint")).alias("sum_q"),
        score.alias("lm_score"),
        F.coalesce(score >= LM_SCORE_T, F.lit(False)).alias("keep"),
    )


SQL_TEXT_LM_SCORE = f"""
WITH toks AS (
  SELECT doc_id,
         {sql_word_hash32()} AS hs
  FROM documents
),
occ AS (
  SELECT doc_id,
         unnest(CASE WHEN len(hs) >= 2 THEN hs[1:len(hs) - 1] ELSE [] END) AS w1_h,
         unnest(CASE WHEN len(hs) >= 2 THEN hs[2:len(hs)] ELSE [] END) AS w2_h
  FROM toks
),
c2 AS (SELECT w1_h, w2_h, CAST(count(*) AS BIGINT) AS c2 FROM occ GROUP BY w1_h, w2_h),
c1 AS (SELECT w1_h, CAST(count(*) AS BIGINT) AS c1 FROM occ GROUP BY w1_h),
vocab AS (
  SELECT CAST(count(DISTINCT w) AS BIGINT) AS v
  FROM (SELECT unnest({SQL_WORDS}) AS w FROM documents)
),
perdoc AS (
  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
         CAST(SUM(CAST({LM_Q} AS BIGINT) * (c2 + 1) // (c1 + v)) AS BIGINT) AS sum_q
  FROM occ JOIN c2 USING (w1_h, w2_h) JOIN c1 USING (w1_h) CROSS JOIN vocab
  GROUP BY doc_id
)
SELECT d.doc_id,
       COALESCE(p.n_bigrams, 0) AS n_bigrams,
       COALESCE(p.sum_q, 0) AS sum_q,
       CAST(p.sum_q AS DOUBLE) / (CAST(p.n_bigrams AS DOUBLE) * {float(LM_Q)}) AS lm_score,
       COALESCE(CAST(p.sum_q AS DOUBLE) / (CAST(p.n_bigrams AS DOUBLE) * {float(LM_Q)})
                >= {LM_SCORE_T}, false) AS keep
FROM documents d LEFT JOIN perdoc p USING (doc_id)
"""


# ---------------------------------------------------------------------------
# corpus data card: the per-source/per-language reporting pass a dataset
# release ships (docs, token and char volume, length distribution), with
# ROLLUP totals so the card carries source-level and corpus-level rows in
# the same result. One scan + one partial-aggregated ROLLUP shuffle; the
# percentiles are exact (Spark `percentile` == DuckDB `quantile_cont`) —
# at the 100 TB grain the drop-in swap is percentile_approx, the same
# documented trade as events_profile's metrics-plane twin.
# ---------------------------------------------------------------------------

def corpus_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = table(spark, sf_dir, "documents")
    base = d.select(
        "source", "lang", F.expr(f"size({_WORDS})").alias("nw"), "n_chars"
    )
    return base.rollup("source", "lang").agg(
        F.count("*").alias("n_docs"),
        F.sum("nw").cast("bigint").alias("n_tokens"),
        (F.sum("nw") / F.count("*")).alias("avg_tokens"),
        F.expr("percentile(n_chars, 0.5)").alias("p50_chars"),
        F.expr("percentile(n_chars, 0.95)").alias("p95_chars"),
    )


SQL_CORPUS_STATS = f"""
SELECT source, lang,
       count(*) AS n_docs,
       CAST(sum(len({SQL_WORDS})) AS BIGINT) AS n_tokens,
       CAST(sum(len({SQL_WORDS})) AS DOUBLE) / count(*) AS avg_tokens,
       quantile_cont(n_chars, 0.5) AS p50_chars,
       quantile_cont(n_chars, 0.95) AS p95_chars
FROM documents GROUP BY ROLLUP (source, lang)
"""


QUERIES = {
    "text_langid": text_langid,
    "text_quality": text_quality,
    "corpus_retention": corpus_retention,
    # promoted to the driver tier in round 4 (registry rotation): the full
    # five-gate curation verdict is the text tier's flagship composition
    "corpus_pipeline_full": corpus_pipeline_full,
    # promoted in round 5: the model-based quality filter is the curation
    # stage with the least prior driver evidence (slot freed by demoting the
    # TPC-H showcase queries — see relational.py's local-tier note)
    "text_classify_quality": text_classify_quality,
}

ORACLES = {
    "text_langid": SQL_TEXT_LANGID,
    "text_quality": SQL_TEXT_QUALITY,
    "corpus_retention": SQL_CORPUS_RETENTION,
    "corpus_pipeline_full": SQL_CORPUS_PIPELINE_FULL.format(
        sql_rep=SQL_TEXT_REPETITION, sql_seg=SQL_LINE_DEDUP,
        sql_clf=SQL_TEXT_CLASSIFY_QUALITY, sql_smp=SQL_DOMAIN_RESAMPLE,
    ),
    "text_classify_quality": SQL_TEXT_CLASSIFY_QUALITY,
}

# local tier: oracle-paired and pytest/check_parity-verified, kept off the
# driver registry for its 8 KiB CORRECTNESS budget (see analytics/__init__.py)
LOCAL_QUERIES = {
    "corpus_stats": corpus_stats,
    "text_repetition": text_repetition,
    "line_dedup": line_dedup,
    "domain_resample": domain_resample,
    "text_pii_redact": text_pii_redact,
    "text_lm_score": text_lm_score,
}

LOCAL_ORACLES = {
    "corpus_stats": SQL_CORPUS_STATS,
    "text_lm_score": SQL_TEXT_LM_SCORE,
    "text_repetition": SQL_TEXT_REPETITION,
    "line_dedup": SQL_LINE_DEDUP,
    "domain_resample": SQL_DOMAIN_RESAMPLE,
    "text_pii_redact": SQL_TEXT_PII_REDACT,
}
