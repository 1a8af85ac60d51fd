"""Similarity search and embedding-space curation over the `embeddings`
table (vec_id, embedding array<float> of dim 64, label).

Queries (`QUERIES` first, then `LOCAL_QUERIES`):
- embed_cosine_topk:    brute-force cosine top-k (the exactness baseline)
- embed_lsh_ann:        multi-table sign-LSH, Hamming-1 multiprobe, exact
                        top-k on bucket-collision candidates
- embed_ivf_ann:        IVF-flat ANN over a trained coarse quantizer
- embed_semdedup:       cell-bounded semantic dedup (keep/drop per vector)
- embed_index_stats:    cell-occupancy health card of the corpus quantizer
- embed_neardup:        all-pairs cosine >= NEARDUP_T (guarded baseline)
- embed_neardup_lsh:    the same pairs from LSH probes (corpus-scale source)
- embed_dedup_clusters: keeper-per-cluster verdict over embed_neardup
- embed_decontaminate:  training vectors too close to the benchmark split

One cosine core serves every query, its DuckDB oracle, the ingest streams
(`streaming.stream_decontaminate`, `streaming.stream_curate_image`) and
`multimodal.image_caption_align`, with one definition per engine of each
rule:
- similarity: `_cos` / `_sql_cos`, round(a·b / (‖a‖·‖b‖), 6) over norms
  from `_with_norm` / `_SQL_NORMED`. Dot products are an explicit
  left-to-right sum over index order in BOTH engines (a flat codegen term
  chain in Spark, `_flat_dot`; an indexed list comprehension + list_sum in
  DuckDB, `_sql_dot`), so the floating sums are order-identical and the
  rounded sims bit-equal;
- top-k: `_top_k` / `_sql_top_k`, ties broken by (sim DESC, neighbor_id);
- LSH candidates: `_probe_pairs` / `_sql_probe_pairs`, the one-sided
  Hamming-1 multiprobe join over `_signature_buckets` / `_SQL_TABLE_BUCKETS`;
- quantizer cells: one numpy kernel (`_quantize` → `_cell_sims`,
  integer-exact) in the training pass and in `_ranked_cells`, the twin of
  the oracles' `ranked` CTE (`_sql_ivf_cells`).

Pair joins, verify and top-k are JVM-side expressions; the LSH signature,
quantizer training and cell ranking are Arrow/numpy mapInPandas passes
(integer matmuls — see `_signature_buckets` for why they beat every codegen
formulation tried).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .common import sql_components, table, table_rows

DIM = 64
_QSCALE = 1024  # fixed-point scale: integer sums are associative-exact in both engines
N_QUERIES = 32
TOP_K = 5
NEARDUP_T = 0.35
N_PLANES = 10  # bits per LSH table (see N_TABLES below for the L×B tradeoff)

# The brute-force entries are EXACTNESS BASELINES, not scale paths: their
# plans contain a cartesian product, which is O(n²) pairs. Refuse to run them
# above this input cardinality so the registered query can never emit a
# 10²⁰-pair plan against a production corpus — callers at scale must use
# embed_lsh_ann / embed_ivf_ann (bucketed) instead.
BRUTE_FORCE_CAP = 100_000


def _guard_brute_force(
    spark: SparkSession, sf_dir: str, name: str, query: str, cap: int = BRUTE_FORCE_CAP
) -> None:
    n = table_rows(spark, sf_dir, name)  # parquet footers, no Spark job
    if n > cap:
        raise ValueError(
            f"{query} is the O(n²) exactness baseline and refuses inputs over "
            f"{cap} vectors (got {n}); use embed_lsh_ann or embed_ivf_ann for "
            "corpus-scale similarity search"
        )


# ---------------------------------------------------------------------------
# the cosine core: similarity, norms, top-k
# ---------------------------------------------------------------------------

def _flat_dot(a: str, b: str):
    """Whole-stage-codegen dot product: an explicit left-to-right sum of
    a[i]*b[i] terms. Bit-identical to an interpreted aggregate/zip_with fold
    (0 + v1 == v1, then the same partial-sum sequence) and to the DuckDB
    oracle's indexed-comprehension list_sum — but ~20-30x faster, because
    Spark evaluates higher-order array functions interpreted, one closure call
    per element (the simhash flattening found the same cliff). At 10^10 rows
    this is the difference between a codegen pipeline and a Python-speed
    fold.

    Built as ONE parsed SQL string, not 64 chained Column ops: each chained
    `acc + term` is a Py4J round-trip carrying an ever-deeper tree, so the
    chained form cost ~6 s of driver time PER INVOCATION (O(DIM²) tree
    serialization); `F.expr` parses the same left-associative tree JVM-side
    in milliseconds. Measured: 5.8 s → 1.8 s plan build, 8.1 s → 4.6 s warm
    end-to-end per embed query at sf0.01."""
    return F.expr(
        "(" + " + ".join(
            f"CAST({a}[{i}] AS DOUBLE) * CAST({b}[{i}] AS DOUBLE)" for i in range(DIM)
        ) + ")"
    )


def _sql_dot(a: str, b: str) -> str:
    return (
        f"list_sum([CAST({a}[i] AS DOUBLE) * CAST({b}[i] AS DOUBLE) "
        f"FOR i IN generate_series(1, {DIM})])"
    )


def _with_norm(df: DataFrame, id_as: str | None, v: str, *cols) -> DataFrame:
    """One side of a cosine pairing: `vec_id` as `id_as` (dropped when None),
    the embedding as `v` and its norm as `{v}_nrm` — the columns `_cos`
    reads — plus *cols*. Norms are computed once per vector, never per pair."""
    ids = [F.col("vec_id").alias(id_as)] if id_as else []
    return df.select(
        *ids, F.col("embedding").alias(v),
        F.sqrt(_flat_dot("embedding", "embedding")).alias(f"{v}_nrm"), *cols,
    )


def _cos(u: str, v: str):
    """The similarity rule: round(u·v / (‖u‖·‖v‖), 6) of two `_with_norm`
    sides. Rounding before every rank or threshold makes both engines'
    outputs integer-exact."""
    return F.round(_flat_dot(u, v) / (F.col(f"{u}_nrm") * F.col(f"{v}_nrm")), 6)


_SQL_NORMED = f"""normed AS (
  SELECT *, sqrt({_sql_dot('embedding', 'embedding')}) AS nrm FROM embeddings
)"""


def _sql_cos(a: str, b: str) -> str:
    """DuckDB twin of `_cos` over two `normed` rows aliased *a* and *b*."""
    return f"round({_sql_dot(f'{a}.embedding', f'{b}.embedding')} / ({a}.nrm * {b}.nrm), 6)"


def _top_k(pairs: DataFrame, k: int = TOP_K, rank: str = "rank") -> DataFrame:
    """Each query's *k* best (query_id, neighbor_id, sim) rows, ranked by
    (sim DESC, neighbor_id) into column *rank*."""
    w = Window.partitionBy("query_id").orderBy(F.desc("sim"), "neighbor_id")
    return (
        pairs.withColumn(rank, F.row_number().over(w))
        .filter(F.col(rank) <= k)
        .select("query_id", "neighbor_id", rank, "sim")
    )


def _sql_top_k(pairs: str, k: int = TOP_K, rank: str = "rank") -> str:
    """DuckDB twin of `_top_k` over the relation *pairs*."""
    return f"""SELECT query_id, neighbor_id, {rank}, sim FROM (
  SELECT *, row_number() OVER (PARTITION BY query_id
                               ORDER BY sim DESC, neighbor_id) AS {rank}
  FROM {pairs}
) WHERE {rank} <= {k}"""


# ---------------------------------------------------------------------------
# brute force
# ---------------------------------------------------------------------------

def embed_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    _guard_brute_force(spark, sf_dir, "embeddings", "embed_cosine_topk")
    e = table(spark, sf_dir, "embeddings")
    q = _with_norm(e.filter(F.col("vec_id") < N_QUERIES), "query_id", "qv")
    # broadcast the N_QUERIES-row query side and stream the candidates: BNLJ
    # parallelism equals the stream side's partition count, and the
    # candidate scan is 1 file -> 1 partition, so it is repartitioned to an
    # explicit count (AQE never coalesces a user-fixed count). Without the
    # hint the planner builds the repartitioned side and streams the
    # 1-partition query scan, so one task runs every dot product.
    c = _with_norm(e, "neighbor_id", "cv").repartition(
        int(spark.conf.get("spark.sql.shuffle.partitions"))
    )
    return _top_k(
        F.broadcast(q).crossJoin(c)
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .withColumn("sim", _cos("qv", "cv"))
    )


SQL_EMBED_COSINE_TOPK = f"""
WITH {_SQL_NORMED},
pairs AS (
  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id, {_sql_cos('q', 'c')} AS sim
  FROM normed q JOIN normed c ON q.vec_id != c.vec_id
  WHERE q.vec_id < {N_QUERIES}
)
{_sql_top_k('pairs')}
"""


def embed_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    _guard_brute_force(spark, sf_dir, "embeddings", "embed_neardup")
    e = table(spark, sf_dir, "embeddings")
    a = _with_norm(e, "vec_a", "va", F.col("label").alias("label_a"))
    b = _with_norm(e, "vec_b", "vb", F.col("label").alias("label_b"))
    # spread the pair evaluation: the embeddings scan is often ONE file/
    # partition, and a BroadcastNestedLoopJoin's parallelism equals its
    # stream-side partition count — without this repartition a single task
    # evaluated all O(n²) dot products (47 s → 4 s at sf0.1, 32 cores)
    a = a.repartition(int(spark.conf.get("spark.sql.shuffle.partitions")))
    return (
        a.crossJoin(b)
        .filter(F.col("vec_a") < F.col("vec_b"))
        .withColumn("sim", _cos("va", "vb"))
        .filter(F.col("sim") >= NEARDUP_T)
        .select("vec_a", "vec_b", "sim", "label_a", "label_b")
    )


SQL_EMBED_NEARDUP = f"""
WITH {_SQL_NORMED}
SELECT * FROM (
  SELECT a.vec_id AS vec_a, b.vec_id AS vec_b, {_sql_cos('a', 'b')} AS sim,
         a.label AS label_a, b.label AS label_b
  FROM normed a JOIN normed b ON a.vec_id < b.vec_id
) WHERE sim >= {NEARDUP_T}
"""


# ---------------------------------------------------------------------------
# sign-LSH: signatures and the one Hamming-1 multiprobe join
# ---------------------------------------------------------------------------

# deterministic pseudo-random hyperplane component, plane g (global id) x i
# (1-based dim): first 8 md5 hex chars centered on 2^31. Computed driver-side
# (hashlib) into plain literals: the previous formulation evaluated this md5
# INSIDE the per-row expression — n_vectors x n_planes x DIM md5 calls plus an
# interpreted fold (51M md5s at 20k vectors); as literals the signature stage
# is a flat codegen projection. int(hex,16) < 2^32 is exact in a double, so
# the literal equals Spark's conv()-cast and DuckDB's CAST('0x'||..) exactly.
def _plane_const(g: int, i: int) -> int:
    import hashlib

    return int(hashlib.md5(f"{g}|{i}".encode()).hexdigest()[:8], 16) - 2147483648

N_TABLES = 8  # multi-table LSH: L independent tables of N_PLANES bits each.
# A single B-bit table only surfaces neighbors agreeing on ALL B bits —
# P[collide] = (1-θ/π)^B, which measured out at recall@5 ≈ 0.03 for one
# 8-bit table on this corpus. The union of L smaller tables gives
# 1-(1-(1-θ/π)^B)^L while staying strictly bucketed: candidates are pairs
# sharing a bucket in ANY table — the same band trick as MinHash-LSH.
# Shipped config B=10,L=8 with Hamming-1 multiprobe (see _PROBE_MASKS):
# longer signatures push non-neighbor collisions down to ~(B+1)/2^B per
# table while the probes buy neighbor recall back. Measured (BENCH.md):
# clustered corpus (sim≥0.83 neighbors — the realistic near-dup regime)
# recall@5 = 1.00; adversarial driver corpus (true top-5 sims only
# 0.25-0.49, sign-LSH's worst case) recall@5 0.36-0.50 touching ~9% of the
# corpus per query — vs 0.55-0.61 at ~23% for the old single-probe 8×5.


def _signature_buckets(spark: SparkSession, e: DataFrame) -> DataFrame:
    """(vec_id, t, bkt) bucket assignments for all N_TABLES LSH tables.

    One Arrow-batched mapInPandas over the embeddings scan: the signature is
    an INTEGER matrix product XQ (n×DIM, `_quantize`d components) @ C
    (DIM×L·B plane constants) followed by sign-bit packing — all int64, so
    the result is associative-exact and bit-equal to any per-term sum order
    (|term| < 2^42, DIM terms, far inside int64), including the DuckDB
    oracle's list_sum fold.

    History, so nobody walks back down this path: (1) per-row md5() inside
    the expression — n·planes·DIM md5 calls in an interpreted fold, minutes
    at 20k vectors; (2) flat literal term chains — N_TABLES·N_PLANES·DIM ≈
    5120 terms overflows Janino's 64 KB method limit and drops the whole
    stage to interpreted eval; (3) posexplode ⋈ broadcast(constants) →
    partial-agg — correct and linear, but pushes n·DIM·L·B multiply rows
    (10^8 at sf1 once multiprobe widened L·B to 80) through two shuffles at
    row-pipeline speed. The matmul does the identical integer arithmetic at
    SIMD speed with zero shuffles: the only movement is the Arrow transfer
    of each scan partition. At 10^10 vectors this stays embarrassingly
    parallel — per-partition compute, output n·L rows."""
    import numpy as np

    n_planes_total = N_TABLES * N_PLANES
    C = np.array(
        [[_plane_const(g, i + 1) for g in range(n_planes_total)] for i in range(DIM)],
        dtype=np.int64,
    )
    POW = np.array([1 << (g % N_PLANES) for g in range(n_planes_total)], dtype=np.int64)
    bc = spark.sparkContext.broadcast((C, POW))

    def gen(batches):
        import pandas as pd

        Cm, Pw = bc.value
        tcol = np.arange(N_TABLES, dtype=np.int32)
        for pdf in batches:
            if len(pdf) == 0:
                continue
            bits = np.where(_quantize(pdf["embedding"]) @ Cm > 0, Pw, 0)
            bkts = bits.reshape(len(pdf), N_TABLES, N_PLANES).sum(axis=2).astype(np.int32)
            yield pd.DataFrame(
                {
                    "vec_id": np.repeat(pdf["vec_id"].to_numpy(), N_TABLES),
                    "t": np.tile(tcol, len(pdf)),
                    "bkt": bkts.reshape(-1),
                }
            )

    return e.select("vec_id", "embedding").mapInPandas(gen, "vec_id bigint, t int, bkt int")


def _sql_bucket_expr(t: int) -> str:
    bits = []
    for p in range(N_PLANES):
        g = t * N_PLANES + p
        comp = (
            f"(CAST(('0x' || substring(md5('{g}' || '|' || CAST(i AS VARCHAR)), 1, 8)) AS BIGINT)"
            " - 2147483648)"
        )
        dot = (
            f"list_sum([CAST(floor(CAST(embedding[i] AS DOUBLE) * {_QSCALE}) AS BIGINT)"
            f" * {comp} FOR i IN generate_series(1, {DIM})])"
        )
        bits.append(f"(CASE WHEN ({dot}) > 0 THEN {1 << p} ELSE 0 END)")
    return " + ".join(bits)


_SQL_TABLE_BUCKETS = " UNION ALL ".join(
    f"SELECT vec_id, {t} AS t, CAST({_sql_bucket_expr(t)} AS INT) AS bkt FROM embeddings"
    for t in range(N_TABLES)
)

# multiprobe: each probing vector also probes the N_PLANES buckets at
# Hamming distance 1 in every table (probe side only — the indexed side
# stays one bucket per (vec, table), so the index is unchanged and the
# probe fan-out is a constant L·(B+1) keys per vector, independent of
# corpus size). Raises per-table collision probability from (1-θ/π)^B to
# (1-θ/π)^B + B·(θ/π)(1-θ/π)^(B-1), which is what lets B stretch to 10
# bits (non-neighbor collisions ~(B+1)/2^B) without giving up neighbor
# recall — measured numbers at the N_TABLES comment above and in BENCH.md.
_PROBE_MASKS = [0] + [1 << p for p in range(N_PLANES)]


def _probe_pairs(probe: DataFrame, index: DataFrame) -> DataFrame:
    """(vec_p, vec_i) candidate pairs of the one-sided Hamming-1 multiprobe:
    every `probe` bucket row (vec_id, t, bkt) expands to its bucket and each
    1-bit flip and equi-joins the `index` buckets on (t, bkt), so a pair is
    a candidate iff its two signatures are within Hamming distance 1 in ANY
    table. XOR is symmetric, so probing from every vector and canonicalizing
    with least/greatest covers the unordered pair set. Self-pairs are
    dropped; a pair repeats once per matching (table, probe)."""
    probes = (
        probe.select(
            F.col("vec_id").alias("vec_p"),
            "t",
            F.explode(F.array(*[F.lit(m) for m in _PROBE_MASKS])).alias("_m"),
            "bkt",
        )
        .withColumn("bkt", F.expr("bkt ^ _m"))
        .drop("_m")
    )
    return (
        probes.join(index.select(F.col("vec_id").alias("vec_i"), "t", "bkt"), ["t", "bkt"])
        .filter(F.col("vec_p") != F.col("vec_i"))
    )


def _sql_probe_pairs(probe_where: str) -> str:
    """DuckDB twin of `_probe_pairs`: CTEs `buckets` and `probe_pairs`
    (vec_p, vec_i), probing from the bucket rows that satisfy *probe_where*."""
    return f"""buckets AS ({_SQL_TABLE_BUCKETS}),
probe_pairs AS (
  SELECT a.vec_id AS vec_p, b.vec_id AS vec_i
  FROM (SELECT vec_id, t, xor(bkt, m.m) AS bkt
        FROM buckets, (SELECT unnest({_PROBE_MASKS}) AS m) m
        WHERE {probe_where}) a
  JOIN buckets b ON a.t = b.t AND a.bkt = b.bkt
  WHERE a.vec_id != b.vec_id
)"""


def embed_lsh_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sign-LSH ANN, multi-table with Hamming-1 multiprobe: candidates share
    a bucket in any of N_TABLES hash tables with any 1-bit probe of the
    query's signature; exact cosine + top-k run on candidates only. At
    10^10 vectors the candidate join shuffles on (table, bucket) — L·n rows
    on the indexed side, L·(B+1)·q on the probe side — never all pairs —
    and the verify joins shuffle on vec_id."""
    e = table(spark, sf_dir, "embeddings")
    b = _signature_buckets(spark, e)
    cand = (
        _probe_pairs(b.filter(F.col("vec_id") < N_QUERIES), b)
        .select(F.col("vec_p").alias("query_id"), F.col("vec_i").alias("neighbor_id"))
        .distinct()
    )
    return _top_k(
        cand.join(_with_norm(e, "query_id", "qv"), "query_id")
        .join(_with_norm(e, "neighbor_id", "cv"), "neighbor_id")
        .withColumn("sim", _cos("qv", "cv"))
    )


SQL_EMBED_LSH_ANN = f"""
WITH {_SQL_NORMED},
{_sql_probe_pairs(f"vec_id < {N_QUERIES}")},
pairs AS (
  SELECT cand.query_id, cand.neighbor_id, {_sql_cos('q', 'c')} AS sim
  FROM (SELECT DISTINCT vec_p AS query_id, vec_i AS neighbor_id FROM probe_pairs) cand
  JOIN normed q ON q.vec_id = cand.query_id
  JOIN normed c ON c.vec_id = cand.neighbor_id
)
{_sql_top_k('pairs')}
"""


# ---------------------------------------------------------------------------
# trained coarse quantizer: one cell-ranking kernel for training, IVF probes
# and cell assignment
# ---------------------------------------------------------------------------

N_CENTROIDS = 8  # coarse-quantizer cells
NPROBE = 2       # cells searched per query (recall/cost knob)


def _quantize(vectors):
    """Fixed-point quantization of a sequence of embeddings into an int64
    matrix: float32 → float64 cast is exact, ×_QSCALE (a power of two) is
    exact, floor then int64 — bit-equal to the oracles' `_SQL_QARR`."""
    import numpy as np

    return np.floor(np.stack(vectors).astype(np.float64) * _QSCALE).astype(np.int64)


def _qnorm(XQ):
    """sqrt of each quantized row's exact int64 squared norm."""
    import numpy as np

    return np.sqrt((XQ * XQ).sum(axis=1).astype(np.float64))


def _cell_sims(XQ, CT, cn):
    """The cell-ranking kernel: cosine of each quantized row against each
    cell (rows of CT, norms cn) as an int64 matmul numerator (associative-
    exact; overflow only past ~10^11 vectors per cell) over one IEEE
    multiply of two sqrt's. numpy and the DuckDB oracle agree bit-for-bit
    with NO rounding step; rank ties go to the lower cell index."""
    import numpy as np

    return (XQ @ CT.T).astype(np.float64) / (_qnorm(XQ)[:, None] * cn[None, :])


def _ltr_sq_norm(row) -> float:
    """Left-to-right float64 sum of squares, matching the DuckDB oracle's
    list_sum fold order term by term (one rounding per multiply, one per
    add, in index order). Used on the k trained centroids only."""
    acc = 0.0
    for x in row:
        acc += float(x) * float(x)
    return acc


def _train_quantizer(spark: SparkSession, e_scan: DataFrame, k: int = N_CENTROIDS):
    """One deterministic k-means refinement, shared by embed_ivf_ann and
    the corpus quantizer: seed cells = nearest of the first k vectors;
    each refined centroid is the per-component SUM of its members'
    fixed-point-quantized components (floor(x·1024) as int64). Integer sums
    are associative-exact, so the trained centroids are bit-identical
    regardless of partition/reduction order — the property a float mean
    can't give on a 1000-executor cluster — and cosine against a sum equals
    cosine against the mean (the member count cancels in the normalization).

    Seed assignment runs the `_cell_sims` kernel inside mapInPandas (first
    argmax == ORDER BY sim DESC, cent_id). Training reduces O(P·k)
    per-partition partial-sum rows on the driver (bounded like the graph.py
    partition totals); the trained centroids ride back in a broadcast of
    (CT int64[k×DIM], cent_ids int64[k], ct_cn float64[k])."""
    import numpy as np

    # seeds: the first k vectors, quantized driver-side (O(k) rows)
    seed_rows = sorted(
        e_scan.filter(F.col("vec_id") < k).collect(),
        key=lambda r: r.vec_id,
    )
    SQ = _quantize([r.embedding for r in seed_rows])
    bc_seed = spark.sparkContext.broadcast((SQ, _qnorm(SQ)))

    def gen_train(batches):
        import pandas as pd

        SQm, scn = bc_seed.value
        S = np.zeros((k, DIM), dtype=np.int64)
        cnt = np.zeros(k, dtype=np.int64)
        for pdf in batches:
            if len(pdf) == 0:
                continue
            XQ = _quantize(pdf["embedding"])
            cell0 = np.argmax(_cell_sims(XQ, SQm, scn), axis=1)
            np.add.at(S, cell0, XQ)
            cnt += np.bincount(cell0, minlength=k)
        yield pd.DataFrame(
            {"cell": np.arange(k, dtype=np.int64), "cnt": cnt,
             "s": [row.tolist() for row in S]}
        )

    parts = e_scan.mapInPandas(
        gen_train, "cell bigint, cnt bigint, s array<bigint>"
    ).collect()  # O(P·k) rows — bounded by partition count, not data size
    S = np.zeros((k, DIM), dtype=np.int64)
    cnt = np.zeros(k, dtype=np.int64)
    for r in parts:
        S[r.cell] += np.array(r.s, dtype=np.int64)
        cnt[r.cell] += r.cnt
    live = np.nonzero(cnt > 0)[0]
    CT = S[live]
    cent_ids = live.astype(np.int64)
    ct_cn = np.array([np.sqrt(_ltr_sq_norm(row)) for row in CT])
    return spark.sparkContext.broadcast((CT, cent_ids, ct_cn))


def _ranked_cells(e_scan: DataFrame, bc_cent) -> DataFrame:
    """(vec_id, rnk, cell, embedding): each vector's trained cells ranked by
    the `_cell_sims` kernel (ties: lower cent_id) — NPROBE rows per query id
    (vec_id < N_QUERIES), one for every other vector. The twin of the
    oracles' `ranked` CTE, in ONE zero-shuffle Arrow pass: the row_number
    windows it replaced partitioned the n·k crossed rows BY VEC_ID, a
    full-corpus shuffle just to pick each row's best cells."""

    def gen(batches):
        import numpy as np
        import pandas as pd

        CT, cids, ccn = bc_cent.value
        nprobe = min(NPROBE, len(cids))
        for pdf in batches:
            n = len(pdf)
            if n == 0:
                continue
            sims = _cell_sims(_quantize(pdf["embedding"]), CT, ccn)
            order = np.argsort(-sims, axis=1, kind="stable")  # ties: lower cent_id
            vids = pdf["vec_id"].to_numpy()
            reps = np.where(vids < N_QUERIES, nprobe, 1)
            idx = np.repeat(np.arange(n), reps)
            rnk = np.arange(len(idx)) - np.repeat(np.cumsum(reps) - reps, reps)
            yield pd.DataFrame(
                {
                    "vec_id": vids[idx],
                    "rnk": (rnk + 1).astype(np.int32),
                    "cell": cids[order[idx, rnk]],
                    "embedding": pdf["embedding"].take(idx).to_numpy(),
                }
            )

    return e_scan.mapInPandas(
        gen, "vec_id bigint, rnk int, cell bigint, embedding array<float>"
    )


def _assign_cells(e_scan: DataFrame, bc_cent) -> DataFrame:
    """(vec_id, cell, embedding): every vector's nearest trained cell, the
    `rnk = 1` rows of `_ranked_cells`."""
    return _ranked_cells(e_scan, bc_cent).filter(F.col("rnk") == 1).drop("rnk")


_SQL_QARR = (
    f"[CAST(floor(CAST(embedding[i] AS DOUBLE) * {_QSCALE}) AS BIGINT) "
    f"FOR i IN generate_series(1, {DIM})]"
)


def _sql_idot(a: str, b: str) -> str:
    """Integer dot of two quantized BIGINT lists — associative-exact, so it
    equals numpy's int64 matmul regardless of summation order."""
    return f"list_sum([{a}[i] * {b}[i] FOR i IN generate_series(1, {DIM})])"


# Shared WITH-prefix (quantize → seed-assign → train → rank cells per vec →
# nearest cell) for every trained-quantizer oracle: embed_ivf_ann
# (k = N_CENTROIDS) and the corpus quantizer's queries (k scales with the
# corpus — pass a scalar-subquery k_expr). The cell sims mirror
# `_cell_sims` bit-for-bit; `ranked` and `assigned` are the twins of
# `_ranked_cells` and `_assign_cells`.
def _sql_ivf_cells(k_expr: str) -> str:
    return f"""{_SQL_NORMED},
quant AS (
  SELECT *, CAST({_sql_idot('qarr', 'qarr')} AS BIGINT) AS na
  FROM (SELECT *, {_SQL_QARR} AS qarr FROM normed)
),
cents0 AS (SELECT vec_id AS cent_id, qarr AS sq, na AS sna
           FROM quant WHERE vec_id < {k_expr}),
assigned0 AS (
  SELECT vec_id, qarr, cent_id AS cell0 FROM (
    SELECT n.vec_id, n.qarr, c.cent_id,
           row_number() OVER (
             PARTITION BY n.vec_id
             ORDER BY CAST({_sql_idot('n.qarr', 'c.sq')} AS DOUBLE)
                      / (sqrt(CAST(n.na AS DOUBLE)) * sqrt(CAST(c.sna AS DOUBLE))) DESC,
                      c.cent_id) AS _cr
    FROM quant n CROSS JOIN cents0 c
  ) WHERE _cr = 1
),
csum AS (
  SELECT cell0 AS cent_id, i, CAST(SUM(qarr[i]) AS BIGINT) AS s
  FROM assigned0, (SELECT unnest(generate_series(1, {DIM})) AS i)
  GROUP BY cell0, i
),
cents_raw AS (
  SELECT cent_id, list(s ORDER BY i) AS cv FROM csum GROUP BY cent_id
),
cents AS (
  SELECT cent_id, cv, sqrt({_sql_dot('cv', 'cv')}) AS cn FROM cents_raw
),
ranked AS (
  SELECT n.vec_id, n.embedding, n.nrm, c.cent_id AS cell,
         row_number() OVER (
           PARTITION BY n.vec_id
           ORDER BY CAST({_sql_idot('n.qarr', 'c.cv')} AS DOUBLE)
                    / (sqrt(CAST(n.na AS DOUBLE)) * c.cn) DESC,
                    c.cent_id) AS _cr
  FROM quant n CROSS JOIN cents c
),
assigned AS (SELECT vec_id, embedding, nrm, cell FROM ranked WHERE _cr = 1)"""


def embed_ivf_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-flat ANN with a TRAINED coarse quantizer and nprobe cells/query
    (training numerics: see _train_quantizer). Queries take their NPROBE
    `_ranked_cells` rows, candidates their nearest cell; at 10^10 vectors
    the only wide exchange is the candidate join on cell id, then an exact
    re-rank on the raw embeddings."""
    e_scan = table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    bc_cent = _train_quantizer(spark, e_scan)
    ranked = _ranked_cells(e_scan, bc_cent)
    q = _with_norm(ranked.filter(F.col("vec_id") < N_QUERIES), "query_id", "qv", "cell")
    c = _with_norm(_assign_cells(e_scan, bc_cent), "neighbor_id", "cv", "cell")
    return _top_k(
        q.join(c, "cell")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .withColumn("sim", _cos("qv", "cv"))
    )


SQL_EMBED_IVF_ANN = f"""
WITH {_sql_ivf_cells(str(N_CENTROIDS))},
pairs AS (
  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id, {_sql_cos('q', 'c')} AS sim
  FROM ranked q JOIN assigned c ON q.cell = c.cell AND q.vec_id != c.vec_id
  WHERE q.vec_id < {N_QUERIES} AND q._cr <= {NPROBE}
)
{_sql_top_k('pairs')}
"""


QUERIES = {
    "embed_cosine_topk": embed_cosine_topk,
    "embed_lsh_ann": embed_lsh_ann,
    "embed_ivf_ann": embed_ivf_ann,
}

ORACLES = {
    "embed_cosine_topk": SQL_EMBED_COSINE_TOPK,
    "embed_lsh_ann": SQL_EMBED_LSH_ANN,
    "embed_ivf_ann": SQL_EMBED_IVF_ANN,
}

def embed_neardup_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bucketed all-pairs embedding near-dup — the CORPUS-SCALE pair source
    (`embed_neardup` is the O(n²) exactness baseline behind a cardinality
    guard; this is what actually runs at 10^10 vectors): candidate pairs
    come from `_probe_pairs` probing from every vector, canonicalized with
    least/greatest; exact cosine >= {NEARDUP_T} is verified on candidates
    only. Recall is bounded by the L×B collision probability IDENTICALLY
    in both engines (same signature arithmetic, bit-for-bit), so the
    oracle sees the same pair set. Shuffles on (table, bucket) then
    vec_id — probe fanout (B+1)·L·n rows, never all pairs.

    RECALL CONTRACT (scripts/pair_recall.py, BENCH.md §3b): precision = 1.0
    by construction (exact verify on candidates); pair recall vs the exact
    baseline rises with pair similarity — with the Hamming-1 multiprobe,
    0.9942 for sim>=0.80 pairs and 0.9555 overall on the clustered corpus
    (single-probe was 0.76 high-band). On the adversarial test corpus
    (sf0.01: all 271 true pairs at similarity 0.35-0.49, just above the
    near-orthogonal threshold; cos 0.35 ≈ 69°) recall is only 0.428
    (single-probe was 0.07). Cost of the probes: candidate pairs grow
    4.8× (clustered) / 9.5× (adversarial) against the theoretical (B+1)=11×
    probe-row fanout — the verify tier stays candidate-bounded."""
    e = table(spark, sf_dir, "embeddings")
    b = _signature_buckets(spark, e)
    cand = (
        _probe_pairs(b, b)
        .select(
            F.least("vec_p", "vec_i").alias("vec_a"),
            F.greatest("vec_p", "vec_i").alias("vec_b"),
        )
        .distinct()
    )
    return (
        cand.join(_with_norm(e, "vec_a", "va"), "vec_a")
        .join(_with_norm(e, "vec_b", "vb"), "vec_b")
        .withColumn("sim", _cos("va", "vb"))
        .filter(F.col("sim") >= NEARDUP_T)
        .select("vec_a", "vec_b", "sim")
    )


SQL_EMBED_NEARDUP_LSH = f"""
WITH {_SQL_NORMED},
{_sql_probe_pairs("TRUE")},
cand AS (
  SELECT DISTINCT least(vec_p, vec_i) AS vec_a, greatest(vec_p, vec_i) AS vec_b
  FROM probe_pairs
)
SELECT * FROM (
  SELECT c.vec_a, c.vec_b, {_sql_cos('x', 'y')} AS sim
  FROM cand c
  JOIN normed x ON x.vec_id = c.vec_a
  JOIN normed y ON y.vec_id = c.vec_b
) WHERE sim >= {NEARDUP_T}
"""


def embed_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semantic-dedup VERDICT: connected components over the embedding
    near-dup pair graph, one keeper per cluster — completing the
    keeper-per-cluster verdict across all three modalities (text:
    `dedup_clusters`, image: `image_dedup_clusters`, embeddings: here).

    Components via the shared large-star/small-star labeling over
    `embed_neardup`'s cosine >= {NEARDUP_T} pairs; keeper = minimum vec_id.
    Inherits the brute-force cardinality guard — at corpus scale the pair
    source swaps for `embed_neardup_lsh`, leaving this grouping stage
    unchanged."""
    from .dedup import _star_labels

    pairs = embed_neardup(spark, sf_dir).select(
        F.col("vec_a").alias("doc_a"), F.col("vec_b").alias("doc_b")
    )
    labels = _star_labels(pairs)
    return (
        labels.groupBy(F.col("label").alias("keeper_id"))
        .agg(F.count("*").alias("n_vectors"), F.max("doc").alias("last_member"))
    )


SQL_EMBED_DEDUP_CLUSTERS = f"""
SELECT label AS keeper_id, CAST(count(*) AS BIGINT) AS n_vectors,
       max(doc) AS last_member
FROM {sql_components(SQL_EMBED_NEARDUP, "vec_a", "vec_b")}
GROUP BY label
"""


SEMDEDUP_T = NEARDUP_T  # cosine threshold for "semantic duplicate"
SEMDEDUP_CELL_TARGET = 256  # k = max(N_CENTROIDS, n // target): cells stay bounded


def _corpus_quantizer(spark: SparkSession, e_scan: DataFrame, n: int):
    """Train the corpus-scaled quantizer over the *n* vectors of *e_scan*
    (k = max(N_CENTROIDS, n // SEMDEDUP_CELL_TARGET), see _train_quantizer)
    and return its broadcast — reused by the ingest-time stream
    (stream_decontaminate), which assigns ARRIVING vectors with the same
    centroids."""
    return _train_quantizer(spark, e_scan, max(N_CENTROIDS, n // SEMDEDUP_CELL_TARGET))


def _corpus_cells(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(vec_id, cell, embedding) of every vector in the corpus quantizer:
    the assignment embed_semdedup, embed_decontaminate and
    embed_index_stats share. The row count comes from the parquet footers,
    so building it runs only the quantizer's two training jobs."""
    e_scan = table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    n = table_rows(spark, sf_dir, "embeddings")
    return _assign_cells(e_scan, _corpus_quantizer(spark, e_scan, n))


def embed_semdedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup (Abbas et al. 2023, arXiv:2303.09540): CLUSTER-BOUNDED
    semantic dedup — the curation step LAION-scale image pipelines run over
    CLIP embeddings. Assign every vector to its nearest trained-quantizer
    cell (the embed_ivf_ann coarse quantizer, shared via _train_quantizer);
    within each cell only, mark a vector a duplicate if some LOWER-id cell
    mate has cosine >= SEMDEDUP_T (greedy keep-first representative per
    ε-ball, no transitive closure); emit a keep/drop verdict per vector.

    Scale story vs the other dedup paths: embed_neardup is O(n²) behind a
    cardinality guard; embed_neardup_lsh bounds pairs by LSH-bucket
    collisions. SemDeDup bounds them by QUANTIZER CELL: the plan is one
    zero-shuffle matmul assignment pass, one equi-join shuffle on cell id,
    and the verdict join on vec_id. k SCALES WITH THE CORPUS —
    k = max(N_CENTROIDS, n // SEMDEDUP_CELL_TARGET) — so pairwise work is
    ~n·target/2 (LINEAR in n) and the cell join fans out over k keys, not
    N_CENTROIDS. A fixed k=8 measured 86 s at sf1 (20k vectors): n²/k pairs
    over 8 join keys left 24 of 32 cores idle; dynamic k (78 cells) does
    10× fewer dot products across 10× more keys. At 10^10 vectors
    k≈4×10^7 cells of ~256; a real deployment samples the seed set instead
    of taking the first k ids (documented, not needed at test scale).
    Assignment is integer-exact (see _cell_sims), pair sims round to
    6 dp — bit-equal to the DuckDB oracle.

    RECALL CONTRACT (scripts/pair_recall.py, BENCH.md §3b): drops are a
    subset of the exact drop set (precision 1.0, asserted); drop recall vs
    exact greedy dedup is 0.97 on the clustered corpus (misses only vectors
    whose lower-id duplicate fell in a different cell) and 0.42-0.53 on the
    adversarial near-threshold driver corpus — the floor, not the operating
    point."""
    assigned = _corpus_cells(spark, sf_dir)
    dropped = (
        _with_norm(assigned, "vec_a", "va", "cell")
        .join(_with_norm(assigned, "vec_b", "vb", "cell"), "cell")
        .filter(F.col("vec_a") < F.col("vec_b"))
        .withColumn("sim", _cos("va", "vb"))
        .filter(F.col("sim") >= SEMDEDUP_T)
        .select(F.col("vec_b").alias("vec_id"))
        .distinct()
        .withColumn("_dup", F.lit(True))
    )
    return (
        assigned.select("vec_id", "cell")
        .join(dropped, "vec_id", "left")
        .select("vec_id", "cell", F.col("_dup").isNull().alias("keep"))
    )


_SQL_SEMDEDUP_K = (
    f"(SELECT greatest({N_CENTROIDS}, count(*) // {SEMDEDUP_CELL_TARGET}) FROM embeddings)"
)

SQL_EMBED_SEMDEDUP = f"""
WITH {_sql_ivf_cells(_SQL_SEMDEDUP_K)},
dropped AS (
  SELECT DISTINCT b.vec_id
  FROM assigned a JOIN assigned b ON a.cell = b.cell AND a.vec_id < b.vec_id
  WHERE {_sql_cos('a', 'b')} >= {SEMDEDUP_T}
)
SELECT a.vec_id, a.cell, (d.vec_id IS NULL) AS keep
FROM assigned a LEFT JOIN dropped d ON d.vec_id = a.vec_id
"""


EMBED_DECON_T = NEARDUP_T  # cosine threshold for "semantically contaminated"
EMBED_DECON_MOD = 20  # vec_id % MOD == 0 -> benchmark split (matches dedup.DECON_MOD)


def embed_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-space benchmark decontamination — the third leg of the
    decontamination family (text n-gram `corpus_decontaminate`, image phash
    `image_decontaminate`): flag a TRAINING vector as contaminated when some
    held-out BENCHMARK vector (vec_id % 20 == 0, the same deterministic
    split convention as the other two legs) has cosine >= EMBED_DECON_T.
    This is the semantic pass a pretraining pipeline runs when paraphrased
    or re-encoded benchmark rows slip past exact n-gram matching.

    Scale shape: identical to embed_semdedup — both sides assigned to the
    shared corpus-scaled quantizer's cells (one zero-shuffle Arrow matmul),
    candidates bounded per CELL (train ⋈ benchmark on cell id, never
    all-pairs), verdict left-join on vec_id. The benchmark side is tiny
    relative to the corpus at real scale, so the cell join's per-key
    fan-out is |cell ∩ bench| — near-free; cell blocking is recall-bounded
    (a contaminated pair split across cells is missed, identically in both
    engines — the same trade IVF makes, stated here as the contract).
    Assignment is integer-exact, sims round to 6 dp — bit-equal to the
    DuckDB oracle. The assignment is eagerly checkpointed once for its
    three readers (train side, benchmark side, verdict): at sf0.1 that beat
    three Arrow passes in 10 of 10 alternating pairs (embed_semdedup, whose
    pair stage dominates, won only 5 of 10 and keeps its three passes)."""
    assigned = _corpus_cells(spark, sf_dir).localCheckpoint(eager=True)
    is_bench = F.col("vec_id") % EMBED_DECON_MOD == 0
    train = _with_norm(assigned.filter(~is_bench), "vec_id", "vt", "cell")
    bench = _with_norm(assigned.filter(is_bench), None, "vb", "cell")
    hits = (
        train.join(bench, "cell")
        .withColumn("sim", _cos("vt", "vb"))
        .filter(F.col("sim") >= EMBED_DECON_T)
        .select("vec_id")
        .distinct()
        .withColumn("_hit", F.lit(True))
    )
    return (
        train.select("vec_id", "cell")
        .join(hits, "vec_id", "left")
        .select("vec_id", "cell", F.col("_hit").isNotNull().alias("contaminated"))
    )


SQL_EMBED_DECONTAMINATE = f"""
WITH {_sql_ivf_cells(_SQL_SEMDEDUP_K)},
hits AS (
  SELECT DISTINCT t.vec_id
  FROM assigned t JOIN assigned b ON t.cell = b.cell
  WHERE t.vec_id % {EMBED_DECON_MOD} != 0 AND b.vec_id % {EMBED_DECON_MOD} = 0
    AND {_sql_cos('t', 'b')} >= {EMBED_DECON_T}
)
SELECT t.vec_id, t.cell, (h.vec_id IS NOT NULL) AS contaminated
FROM assigned t LEFT JOIN hits h ON h.vec_id = t.vec_id
WHERE t.vec_id % {EMBED_DECON_MOD} != 0
"""


def embed_index_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN-index health card: cell-occupancy distribution of the shared
    corpus-scaled quantizer — the skew report an operator reads BEFORE
    putting an IVF/SemDeDup partitioning in production. Every cell-bounded
    operator here (embed_ivf_ann probes, embed_semdedup pairwise blocks,
    embed_decontaminate fan-out) does per-cell work proportional to
    occupancy, so `max_occ`/`skew` bound the straggler task directly: a
    skew of s means the hottest cell's task runs s× the average — the
    number that tells you to re-train with larger k or split hot cells
    BEFORE the 100 TB run, not after it stalls.

    Plan: the zero-shuffle matmul assignment, ONE partial-aggregated
    groupBy(cell) shuffle of 8-byte pairs, then a single-row summary agg
    (exact percentiles; at unbounded cell counts percentile_approx is the
    documented swap, as in events_profile). Every ratio is one double
    division of exact bigints, so the DuckDB oracle is bit-equal."""
    occ = _corpus_cells(spark, sf_dir).groupBy("cell").agg(F.count("*").alias("n"))
    return occ.agg(
        F.count("*").alias("n_cells"),
        F.sum("n").cast("bigint").alias("n_vecs"),
        F.max("n").alias("max_occ"),
        F.min("n").alias("min_occ"),
        (F.sum("n").cast("double") / F.count("*")).alias("mean_occ"),
        F.expr("percentile(n, 0.5)").alias("p50_occ"),
        F.expr("percentile(n, 0.95)").alias("p95_occ"),
        ((F.max("n") * F.count("*")).cast("double") / F.sum("n")).alias("skew"),
    )


SQL_EMBED_INDEX_STATS = f"""
WITH {_sql_ivf_cells(_SQL_SEMDEDUP_K)},
occ AS (SELECT cell, count(*) AS n FROM assigned GROUP BY cell)
SELECT CAST(count(*) AS BIGINT) AS n_cells,
       CAST(sum(n) AS BIGINT) AS n_vecs,
       CAST(max(n) AS BIGINT) AS max_occ,
       CAST(min(n) AS BIGINT) AS min_occ,
       CAST(sum(n) AS DOUBLE) / count(*) AS mean_occ,
       quantile_cont(n, 0.5) AS p50_occ,
       quantile_cont(n, 0.95) AS p95_occ,
       CAST(max(n) * count(*) AS DOUBLE) / sum(n) AS skew
FROM occ
"""


# Local-only (scripts/check_parity.py + pytest, not the driver registry):
# embed_neardup drives the identical brute-force path as embed_cosine_topk
# (same cosine core / guard / repartition) and is the all-pairs form the
# cardinality guard forbids at scale anyway; embed_dedup_clusters composes
# it with the shared star labeling. Demoted to keep the driver's 8 KB
# correctness file at its 50-row budget. embed_semdedup (the corpus-linear
# semantic dedup flagship) was rotated INTO the driver tier in round 4.
QUERIES["embed_semdedup"] = embed_semdedup
ORACLES["embed_semdedup"] = SQL_EMBED_SEMDEDUP
LOCAL_QUERIES = {
    "embed_index_stats": embed_index_stats,
    "embed_neardup": embed_neardup,
    "embed_neardup_lsh": embed_neardup_lsh,
    "embed_dedup_clusters": embed_dedup_clusters,
    "embed_decontaminate": embed_decontaminate,
}
LOCAL_ORACLES = {
    "embed_index_stats": SQL_EMBED_INDEX_STATS,
    "embed_neardup": SQL_EMBED_NEARDUP,
    "embed_neardup_lsh": SQL_EMBED_NEARDUP_LSH,
    "embed_dedup_clusters": SQL_EMBED_DEDUP_CLUSTERS,
    "embed_decontaminate": SQL_EMBED_DECONTAMINATE,
}
