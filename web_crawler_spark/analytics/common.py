"""Shared helpers for the analytics query layer."""

from __future__ import annotations

import os
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T


# JIT-able generated code
# -----------------------
# Spark only abandons a whole-stage-codegen method when its compiled size
# exceeds spark.sql.codegen.hugeMethodLimit (default 65535 B) — but HotSpot
# refuses to JIT any method over 8000 B of bytecode (-XX:-DontCompileHugeMethods
# is never set on real clusters), so a fused method between those two limits
# runs as INTERPRETED BYTECODE forever.  The 64-term _flat_dot expressions
# (similarity.py) cross that line once they are fused into a join stage:
# measured at sf0.1, the semdedup cell-join sim projection ran 4.5 s over
# 250k pairs with the default limit and 0.04 s with the limit at 8000
# (Spark then splits the stage into per-operator projections, each small
# enough to JIT) — a 100x cliff invisible to `.explain`, which shows the
# same WholeStageCodegen plan either way.  Results are bit-identical: only
# the execution strategy changes, never the expression tree.
_HUGE_METHOD_LIMIT = "8000"


def ensure_jitable_codegen(spark: SparkSession) -> None:
    """Cap codegen method size at HotSpot's JIT ceiling (idempotent)."""
    try:
        cur = spark.conf.get("spark.sql.codegen.hugeMethodLimit")
    except Exception:
        cur = None
    if cur != _HUGE_METHOD_LIMIT:
        spark.conf.set("spark.sql.codegen.hugeMethodLimit", _HUGE_METHOD_LIMIT)


def table_version(spark: SparkSession, sf_dir: str, name: str) -> tuple:
    """`(applicationId, sf_dir, name, st_mtime_ns, st_size)` of the table's
    `.parquet` file or directory: the key of every per-session, per-table-
    version memo (`_TABLE_META` here, `dedup._LABELS_MEMO`). Rewriting the
    table changes its stat, so a memo never serves an older version."""
    st = os.stat(f"{sf_dir}/{name}.parquet")
    return (spark.sparkContext.applicationId, sf_dir, name, st.st_mtime_ns, st.st_size)


@dataclass
class _TableMeta:
    schema: T.StructType
    rows: int | None = None  # filled on first `table_rows`


_TABLE_META: dict[tuple, _TableMeta] = {}


def _table_meta(spark: SparkSession, sf_dir: str, name: str) -> _TableMeta:
    key = table_version(spark, sf_dir, name)
    meta = _TABLE_META.get(key)
    if meta is None:
        for k in [k for k in _TABLE_META if k[0] != key[0] or k[1:3] == key[1:3]]:
            del _TABLE_META[k]
        schema = spark.read.parquet(f"{sf_dir}/{name}.parquet").schema
        meta = _TABLE_META[key] = _TableMeta(schema)
    return meta


def table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one driver-generated parquet table (TESTDATA.md).

    `spark.read.parquet` with no schema runs one Spark job per call to infer
    it (~0.1 s warm at sf0.01, most of a small query's fixed cost). So the
    schema Spark infers is cached per `table_version` key (session, path,
    mtime, size) and passed to `.schema(...)`, which runs no job. A rewrite
    of the table, or a new session, infers again."""
    ensure_jitable_codegen(spark)
    schema = _table_meta(spark, sf_dir, name).schema
    return spark.read.schema(schema).parquet(f"{sf_dir}/{name}.parquet")


def table_rows(spark: SparkSession, sf_dir: str, name: str) -> int:
    """Row count of one table version, summed from its parquet footers on
    the driver (no Spark job) and cached beside its schema."""
    meta = _table_meta(spark, sf_dir, name)
    if meta.rows is None:
        import pyarrow.dataset as ds

        meta.rows = ds.dataset(f"{sf_dir}/{name}.parquet", format="parquet").count_rows()
    return meta.rows


def sql_components(pairs_sql: str, a: str, b: str) -> str:
    """DuckDB connected-components oracle, the twin of `dedup._star_labels`:
    a parenthesized `(doc, label)` subquery over the undirected pair graph
    (`a`, `b`) of *pairs_sql*, label = the minimum id reachable from doc by
    a recursive CTE. Only ids that appear in some pair get a row. `pairs`
    is MATERIALIZED: DuckDB otherwise inlines it and re-evaluates the pair
    source in every recursion step."""
    return f"""(
  SELECT doc, min(r) AS label FROM (
    WITH RECURSIVE
    pairs AS MATERIALIZED (SELECT {a} AS a, {b} AS b FROM ({pairs_sql.replace(chr(10), ' ')}) p),
    bi AS (SELECT a, b FROM pairs UNION ALL SELECT b, a FROM pairs),
    reach(doc, r) AS (
      SELECT DISTINCT a, a FROM bi
      UNION
      SELECT bi.b, reach.r FROM reach JOIN bi ON bi.a = reach.doc
    )
    SELECT doc, r FROM reach
  ) GROUP BY doc
)"""


# Canonical tokenizer + per-word hash
# -----------------------------------
# ONE definition of the whitespace tokenizer and the md5-prefix word hash,
# shared by every gram/bigram/span/fingerprint operator (dedup.py, text.py).
# Three drifting copies of this recipe existed through round 3; if the
# tokenizer or hash ever changes, every operator must move together or
# cross-operator joins on word hashes silently stop matching.

WORDS = r"split(lower(trim(text)), '\\s+')"
SQL_WORDS = r"regexp_split_to_array(lower(trim(text)), '\s+')"


def word_hash32(offset: int = 1) -> str:
    """Spark expr: array<bigint> of per-word 32-bit hashes — md5 hex chars
    [offset, offset+8) as int64. *offset* selects an independent 32-bit
    stream from the same digest (offset=1 and offset=9 are independent),
    letting composite keys reach 64 bits of word-level entropy with one md5
    evaluation recipe."""
    return (
        f"transform({WORDS}, w -> "
        f"cast(conv(substring(md5(w), {offset}, 8), 16, 10) as bigint))"
    )


def sql_word_hash32(offset: int = 1) -> str:
    """DuckDB twin of :func:`word_hash32` (bit-identical values)."""
    return (
        f"[CAST(('0x' || substring(md5(w), {offset}, 8)) AS BIGINT) "
        f"FOR w IN {SQL_WORDS}]"
    )


# Order-independent SUM over doubles
# ----------------------------------
# A plain double SUM is reduction-order-dependent (float addition is not
# associative), so its low bits vary with partition layout and break the
# value-hash parity check against the DuckDB oracle.  Rounds 1-2 fixed this by
# summing through decimal(38,10) — exact and associative, but precision 38
# exceeds Spark's 18-digit long-backed Decimal, so every partial sum runs on
# Java BigDecimal: measured 3-4x slower than the whole rest of the TPC-H-Q1
# aggregation at sf1 (24 s -> 8 s on the same window when switched off).
# Decimal(18,6) does not help: Spark widens SUM buffers to decimal(28,6),
# which is BigDecimal-backed again.
#
# Round 3 replaces it with long fixed-point: round each value to an integer
# number of 10^-6 units, SUM the longs (whole-stage-codegen fast path,
# associative-exact), divide back at the end.  Bit-parity with DuckDB holds
# because ROUND on a positive-or-negative double is half-away-from-zero in
# both engines (Spark's HALF_UP via BigDecimal.valueOf agrees with DuckDB's
# std::round at integer granularity: every shortest-repr .5 below 2^52 is an
# exact binary .5), and a sum of identical longs converts to double
# identically.
#
# Overflow bound: |group sum| must stay below 2^63/10^_DSUM_SCALE — 9.2e12
# at scale 6.  sf1 group sums here are ~1e10.  At a 100 TB corpus lower
# _DSUM_SCALE to 2 (cent precision, bound 9.2e16) or pre-aggregate per
# partition; both helpers read the one constant, so Spark and the oracle
# move together.

_DSUM_SCALE = 6
_DSUM_UNIT = float(10 ** _DSUM_SCALE)


def dsum(col, alias: str):
    """Order-independent SUM of a double column via long fixed-point."""
    fx = F.round(F.col(col) * F.lit(_DSUM_UNIT), 0).cast("long")
    return (F.sum(fx).cast("double") / F.lit(_DSUM_UNIT)).alias(alias)


def sql_dsum(expr: str, alias: str) -> str:
    """DuckDB-side twin of :func:`dsum` (same fixed-point units)."""
    return (
        f"CAST(SUM(CAST(ROUND(({expr}) * {_DSUM_UNIT!r}, 0) AS BIGINT)) AS DOUBLE)"
        f" / {_DSUM_UNIT!r} AS {alias}"
    )
