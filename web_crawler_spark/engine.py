"""The distributed crawl engine: FIFO-BFS as batch DataFrame scheduling rounds.

The reference's sequential loop (``Crawler/crawler.py:619-645``) becomes, per
round (SURVEY.md §3.1):

    pending frontier → politeness-budget selection (FIFO chunk / per-host
    quota) → ONE fused Python stage (robots gate → fetch → parse, mapInPandas
    over the synthetic web; url_hash-spread partitions) committed as the round's
    stage snapshot → explode children → within-batch first-occurrence dedup
    (``first_by``) → exact anti-join seen → global rank in
    (parent_seq, link_idx) order → page-cap admission → assign seq → commit
    admissions; frontier/seen/crawl_log/links/outcomes/metrics are
    metadata-only projections of those two physical tables.

Every admission gets a dense global ``seq`` equal to the reference's FIFO
enqueue order, so output ordered by ``seq`` reproduces the reference crawl
ordering exactly (golden-tested against core/oracle.py). The page cap binds at
admission (``len(visited) < max_pages`` at enqueue, crawler.py:556-557), the
robots gate fires after scheduling (crawler.py:502-504), and failed fetches
stay in the seen set — all reference quirks preserved.

Scale design (the 10^10-frontier story):
- TWO physical tables per round — ``stage`` (gate+fetch+parse output) and
  ``admissions`` (ranked new frontier rows) — each written exactly once.
  crawl_log / links / outcomes / metrics / seen / frontier are *snapshot
  references + projections* (Iceberg-style metadata-only commits): zero extra
  Spark jobs and zero data duplication per round. In this sandbox each extra
  job costs seconds of fixed overhead; on a real cluster the same discipline
  is what keeps a 30-round crawl from paying 30× the commit latency.
- partition counts adapt to the tracked pending-frontier size (small rounds
  → 1 task; large rounds → per-row url_hash spread, capped at
  ``spark.sql.shuffle.partitions``), so per-task overhead never dominates.
- the only global-order operation is admission ranking; small rounds rank
  in one partition inside the admissions write itself, large rounds take the
  two-phase range rank (``global_rank``) — never a single partition at scale.
- no round runs a count job: the stage write observes (``DataFrame.observe``)
  its row count and its candidate-link count, and the admissions write its
  row count. A round with no candidate links skips admission. A small round
  is two writes plus their shuffle/broadcast jobs.
- the URL-seen test is one exact ``left_anti`` join against the seen
  projection — the only membership path.
- NO mode writes a physical frontier: global/FIFO modes derive pending from
  a single seq watermark; per_host derives it from the ``host_wm`` snapshot
  table (one appended (host, max consumed seq) row per active host per round;
  per-host consumption is a contiguous per-host seq prefix by construction).
  The driver holds zero per-host state — watermark maintenance is a
  distributed agg + append, and the pending filter joins the aggregated
  table (broadcast below tuning.wm_broadcast_max_hosts, AQE-planned above).
- politeness is a virtual-clock budget (the reference sleeps ``delay`` seconds
  between requests, crawler.py:637-638 ⇒ ≤ ROUND_SECONDS/delay fetches per
  round), so ordering is timing-independent and reproducible.
"""

from __future__ import annotations

import os
from dataclasses import dataclass
from typing import Optional

from pyspark.sql import DataFrame, Observation, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .catalog import RunState, SnapshotTable
from .config import DEFAULT_TUNING, EngineTuning, JobConfig
from .core.robots import RulesByHost
from .core.webgen import WebConfig
from .functions import udfs
from .schemas import FRONTIER_SCHEMA, N_HOST_BUCKETS

PHYSICAL_TABLES = ("stage", "admissions", "host_wm")

STAGE_SCHEMA = T.StructType(
    list(udfs.FETCHED_SCHEMA.fields) + [T.StructField("round", T.IntegerType(), False)]
)

# per_host politeness watermarks live in this snapshot table (host, wm):
# one appended row per (active host, round), read back as groupBy(host).max(wm).
# The driver carries ZERO per-host state — at 10^8 hosts the old dict +
# per-round collect() was the one remaining O(hosts) driver structure.
HOST_WM_SCHEMA = T.StructType(
    [
        T.StructField("host", T.StringType(), False),
        T.StructField("wm", T.LongType(), False),
    ]
)
# All sizing knobs (fetch-task rows, small-rank cutover, watermark broadcast
# gate) live in config.EngineTuning — one derived place, overridable per job
# via ``crawl(tuning=...)``.


@dataclass
class CrawlRun:
    job: JobConfig
    storage_dir: str
    tables: dict[str, SnapshotTable]
    state: RunState
    rounds: int = 0

    def read(
        self, spark: SparkSession, name: str, as_of_round: Optional[int] = None
    ) -> Optional[DataFrame]:
        """Read a physical table or a derived (metadata-only) projection.

        *as_of_round* is Iceberg-style time travel: the state as committed at
        the end of that round (snapshot manifest filter — no data rewrite, no
        extra I/O beyond the snapshots that existed then). Supported for the
        physical tables and every derived projection; the live ``frontier``
        view is current-state-only (its watermarks live in run state, which
        is not versioned per round).
        """
        jid = self.job.job_id
        if name == "frontier":
            if as_of_round is not None:
                raise ValueError("frontier view does not support time travel")
            st = self.state.load()
            adm = self.tables["admissions"].read(spark, schema=FRONTIER_SCHEMA)
            if st is None or adm is None:
                return None
            if st["frontier"] == "derived":
                return adm.filter(F.col("seq") >= st["next_seq"] - st["pending_count"])
            wm_agg = _host_wm_agg(spark, self.tables["host_wm"])
            return _apply_host_wm(adm, wm_agg, st["seen_count"])
        if name in PHYSICAL_TABLES:
            schema = (
                STAGE_SCHEMA if name == "stage"
                else HOST_WM_SCHEMA if name == "host_wm"
                else FRONTIER_SCHEMA
            )
            return self.tables[name].read(spark, as_of_round=as_of_round, schema=schema)
        if name == "seen":
            # admissions-only projection: never touches the stage table (the
            # two tables compact independently, so their expiry horizons —
            # and therefore their time-travel ranges — can differ)
            adm = self.tables["admissions"].read(
                spark, as_of_round=as_of_round, schema=FRONTIER_SCHEMA
            )
            if adm is None:
                return None
            return adm.select(
                "job_id", "url_hash", "url", "seq", "round_added"
            )
        stage = self.tables["stage"].read(
            spark, as_of_round=as_of_round, schema=STAGE_SCHEMA
        )
        if stage is None:
            return None
        if name == "outcomes":
            return stage.select(
                F.lit(jid).alias("job_id"), "round", "seq", "url", "depth",
                "outcome", "status_code", "attempts", "fetch_latency_ms",
            )
        if name == "crawl_log":
            return stage.filter(F.col("outcome") == "parsed").select(
                F.lit(jid).alias("job_id"), "round",
                F.col("seq").alias("schedule_rank"), F.col("page_url").alias("url"),
                "depth", "status_code", "title", "metadata", "headings", "content",
                F.struct(F.col("image_id"), F.col("caption")).alias("payload"),
            )
        if name == "links":
            return _links_of(stage, jid).select(
                "job_id", "from_url", "to_url", "link_text", "link_idx", "from_depth"
            )
        if name == "metrics":
            # per-(round, partition, host_bucket) lineage per north_rule.
            # robots-disallowed rows never hit the network (attempts=0,
            # latency=0): keep them out so rows_in / latency percentiles /
            # histogram keep the reference's post-gate fetch semantics
            return (
                stage.filter(F.col("outcome") != "disallowed")
                .groupBy("round", "partition_id", "host_bucket")
                .agg(
                    F.count("*").alias("rows_in"),
                    F.sum(F.when(F.col("outcome") == "parsed", 1).otherwise(0)).alias("rows_out"),
                    F.percentile_approx("fetch_latency_ms", 0.5).alias("latency_p50_ms"),
                    F.percentile_approx("fetch_latency_ms", 0.95).alias("latency_p95_ms"),
                    F.collect_list(F.floor(F.col("fetch_latency_ms") / 100)).alias("_bk"),
                )
                .select(
                    F.lit(jid).alias("job_id"), "round", "partition_id", "host_bucket",
                    "rows_in", "rows_out", "latency_p50_ms", "latency_p95_ms",
                    F.transform(
                        F.sequence(F.lit(0), F.lit(9)),
                        lambda b: F.size(F.filter(F.col("_bk"), lambda x: x == b.cast("bigint"))).cast("bigint"),
                    ).alias("latency_hist"),
                )
            )
        raise KeyError(name)


def _tables(storage_dir: str) -> dict[str, SnapshotTable]:
    return {t: SnapshotTable(storage_dir, t) for t in PHYSICAL_TABLES}


def _links_of(stage: DataFrame, job_id: int) -> DataFrame:
    return (
        stage.filter(F.col("outcome") == "parsed")
        .select(
            F.lit(job_id).alias("job_id"), F.col("page_url").alias("from_url"),
            F.col("depth").alias("from_depth"), F.col("seq").alias("parent_seq"),
            F.explode("links").alias("l"),
        )
        .select(
            "job_id", "from_url", F.col("l.to_url").alias("to_url"),
            F.coalesce(F.col("l.link_text"), F.lit("")).alias("link_text"),
            F.col("l.link_idx").alias("link_idx"), "from_depth", "parent_seq",
        )
    )


def first_by(
    df: DataFrame, keys: list[str], order: list[str], carry: tuple[str, ...] = ()
) -> DataFrame:
    """One row per *keys*: the first row in *order* — the frontier's
    first-occurrence rule (crawler.py:429-430), shared by the crawl round
    and the J6 query. Columns: keys, *carry*, then *order*.

    min(struct) instead of a row_number window: structs compare
    lexicographically, so the winner is the same when *order* is unique per
    key — but it partial-aggregates map-side, shuffling one row per key and
    map partition. (A struct buffer is not fixed-width, so Spark plans it as
    a SortAggregate: each map partition still sorts its rows by key.)"""
    return df.groupBy(*keys).agg(F.min(F.struct(*order, *carry)).alias("_m")).select(
        *keys, *[F.col(f"_m.{c}").alias(c) for c in [*carry, *order]]
    )


def global_rank(df: DataFrame, order_cols: list[str], rank_col: str) -> DataFrame:
    """Dense 1-based global rank in (order_cols) order — scalably.

    Two-phase: range-partition + sort by the order columns, freeze the
    partitioning (eager localCheckpoint — materializes once, truncates
    lineage, and its blocks are released on GC instead of accumulating like
    an unpersisted cache), compute per-partition sizes (tiny collect), then
    rank = partition offset + intra-partition row_number. No single-partition
    window anywhere, so this survives a 10^10-row candidate set; ties are
    impossible because (parent_seq, link_idx) is unique by construction.
    """
    part = (
        df.repartitionByRange(*order_cols)
        .sortWithinPartitions(*order_cols)
        .withColumn("_pid", F.spark_partition_id())
        .localCheckpoint(eager=True)
    )
    sizes = {r["_pid"]: r["cnt"] for r in part.groupBy("_pid").agg(F.count("*").alias("cnt")).collect()}
    offsets = {}
    acc = 0
    for pid in sorted(sizes):
        offsets[pid] = acc
        acc += sizes[pid]
    if offsets:
        omap = F.create_map(*[F.lit(x) for kv in offsets.items() for x in kv])
        offset_expr = omap[F.col("_pid")]
    else:  # empty input — rank column is never read but must typecheck
        offset_expr = F.lit(0).cast("long")
    w = Window.partitionBy("_pid").orderBy(*order_cols)
    return (
        part.withColumn(rank_col, F.row_number().over(w) + offset_expr)
        .drop("_pid")
    )


def _frontier_row_cols(df: DataFrame, round_added: int) -> DataFrame:
    """Attach partitioning/bookkeeping columns to (url, seq, depth, parent_seq,
    link_idx) rows → full FRONTIER_SCHEMA."""
    return (
        df.withColumn("host", F.parse_url(F.col("url"), F.lit("HOST")))
        .withColumn("host", F.coalesce("host", F.lit("")))
        .withColumn("url_hash", F.xxhash64("url"))
        .withColumn("host_bucket", F.pmod(F.xxhash64("host"), F.lit(N_HOST_BUCKETS)).cast("int"))
        .withColumn("round_added", F.lit(round_added))
        .select([f.name for f in FRONTIER_SCHEMA.fields])
    )


def _host_wm_agg(spark: SparkSession, table: SnapshotTable) -> Optional[DataFrame]:
    """Current per-host consumed watermark as a DataFrame: groupBy(host).max
    over the append-only host_wm snapshot table (one row per active host per
    round; partial-aggregates map-side). Returns None when no host has
    consumed anything yet."""
    wm = table.read(spark, schema=HOST_WM_SCHEMA)
    if wm is not None:
        return wm.groupBy("host").agg(F.max("wm").alias("_wm"))
    return None


def _apply_host_wm(
    adm: DataFrame,
    wm_agg: Optional[DataFrame],
    approx_hosts: int,
    tuning: EngineTuning = DEFAULT_TUNING,
) -> DataFrame:
    """Per-host pending derivation: pending = admissions rows whose seq lies
    beyond their host's consumed watermark. Within a host, scheduling always
    consumes the lowest pending seqs first, so the consumed set is a contiguous
    per-host seq prefix and one long per host describes it exactly. The
    watermark side is O(active hosts) and lives in the host_wm snapshot table
    — NOT on the driver; below ``tuning.wm_broadcast_max_hosts`` (gated on
    the seen count, an upper bound on distinct hosts) it is broadcast, above
    that the join is un-hinted and AQE picks the exchange. Frontier I/O stays
    zero — admissions are append-only and the filter is parquet-stat-prunable
    on seq."""
    if wm_agg is None:
        return adm
    right = F.broadcast(wm_agg) if approx_hosts <= tuning.wm_broadcast_max_hosts else wm_agg
    return (
        adm.join(right, "host", "left")
        .filter(F.col("seq") > F.coalesce(F.col("_wm"), F.lit(-1)))
        .drop("_wm")
    )


# virtual-clock length of one scheduling round
ROUND_SECONDS = 60.0


def politeness_budget(job: JobConfig) -> Optional[int]:
    """Virtual-clock budget: fetches allowed per scheduling round.

    The reference enforces one global ``sleep(delay)`` between requests
    (crawler.py:637-638) ⇒ at most ROUND_SECONDS/delay fetches per round.
    delay == 0 ⇒ unbounded (None).
    """
    if job.delay <= 0:
        return None
    return max(1, int(ROUND_SECONDS / job.delay))


def crawl(
    spark: SparkSession,
    job: JobConfig,
    cfg: WebConfig,
    rules: RulesByHost,
    storage_dir: str,
    budget: Optional[int] = None,
    politeness_mode: str = "global",  # 'global' (reference-exact) | 'per_host'
    resume: bool = False,
    max_rounds: int = 10_000,
    compact_every: Optional[int] = None,
    tuning: EngineTuning = DEFAULT_TUNING,
) -> CrawlRun:
    """Run (or resume) a crawl job to fixpoint. See module docstring."""
    job.validate()
    os.makedirs(storage_dir, exist_ok=True)
    tables = _tables(storage_dir)
    state_store = RunState(storage_dir)
    run = CrawlRun(job=job, storage_dir=storage_dir, tables=tables, state=state_store)

    P_max = int(spark.conf.get("spark.sql.shuffle.partitions"))

    # NO mode writes a physical frontier — the pending set is always derived
    # from the append-only admissions table (Iceberg-style metadata-only
    # frontier). global/None: pending = `seq >= next_seq - pending_count`
    # (FIFO invariant: admissions append at the top, scheduling consumes the
    # contiguous bottom). per_host: per-host consumption is still a contiguous
    # per-host seq prefix, so pending = `seq > host_watermark[host]` with the
    # watermark map kept in the host_wm snapshot table (O(active hosts) rows,
    # never on the driver). At 10^10-frontier scale this removes every
    # per-round O(frontier) write AND every O(hosts) driver structure:
    # scheduling is a parquet-stat-pruned filter over the admissions table.
    frontier_mode = (
        "derived_per_host" if (budget is not None and politeness_mode == "per_host") else "derived"
    )

    if resume and (state := state_store.load()):
        # also rejects foreign states and ones without a derived frontier
        if state.get("frontier") != frontier_mode:
            raise ValueError(
                f"cannot resume: run state frontier is {state.get('frontier')!r}, "
                f"this crawl needs {frontier_mode!r}"
            )
        # roll back any table snapshot committed after the last full round
        for t in tables.values():
            t.rollback_to_round(state["round"])
        rnd, next_seq, seen_count = state["round"], state["next_seq"], state["seen_count"]
        # every state save writes pending_count — a missing key means a
        # foreign/corrupt state file, not a valid resume point
        pending_count = state["pending_count"]
    else:
        if resume:
            # resume requested but no run state exists: the crash happened
            # before the FIRST state commit (the state file is the commit
            # point), so nothing durable was ever committed — clear any
            # debris of the crashed seeding (orphan parquet dirs / a
            # committed-but-unstated round-0 snapshot) and restart from
            # scratch. Without this, re-seeding hits errorifexists on the
            # orphan (found by SIGKILLing a spark-submit run during the
            # round-0 seed write).
            for t in tables.values():
                t.rollback_to_round(-1)
        # round 0: seed the frontier and the seen set (crawler.py:611-612 —
        # the start URL is admitted as-is, uncanonicalized)
        seed = spark.createDataFrame(
            [(job.job_id, 0, job.start_url, 0, -1, -1)],
            "job_id int, seq long, url string, depth int, parent_seq long, link_idx int",
        )
        tables["admissions"].write(_frontier_row_cols(seed, 0), 0)
        rnd, next_seq, seen_count, pending_count = 0, 1, 1, 1
        st0 = {"round": 0, "next_seq": 1, "seen_count": 1,
               "pending_count": 1, "frontier": frontier_mode}
        state_store.save(st0)

    fetch_fn = udfs.make_fetch_parse(cfg, job, rules)

    while rnd < max_rounds and pending_count > 0:
        rnd += 1
        adm = tables["admissions"].read(spark, schema=FRONTIER_SCHEMA)
        if adm is None:
            break
        if frontier_mode == "derived":
            lo = next_seq - pending_count
            pending = adm.filter(F.col("seq") >= lo)
        else:
            wm_agg = _host_wm_agg(spark, tables["host_wm"])
            pending = _apply_host_wm(adm, wm_agg, seen_count, tuning)
        # size the fetch stage on what will actually be SCHEDULED this round,
        # not the whole pending frontier (with a small budget the two differ
        # by orders of magnitude)
        est = pending_count
        if budget is not None and politeness_mode == "global":
            est = min(pending_count, budget)
        rpp = tuning.rows_per_partition
        P = min(P_max, max(1, (est + rpp - 1) // rpp))

        # ---- politeness selection (FIFO chunk or per-host quota) ----------
        if budget is None:
            scheduled = pending
            n_sched = pending_count
        elif politeness_mode == "global":
            # budget chunk = pure parallel range filter on the contiguous
            # pending seq interval: no global sort, no single-reducer
            # TakeOrdered, no anti-join (those serialized every round and
            # capped scaling efficiency at ~0.4 before this)
            lim = (next_seq - pending_count) + budget
            scheduled = pending.filter(F.col("seq") < lim)
            n_sched = min(budget, pending_count)
        else:  # per_host: window rank within host by priority (seq)
            w = Window.partitionBy("host").orderBy("seq")
            ranked = pending.withColumn("_hr", F.row_number().over(w))
            scheduled = ranked.filter(F.col("_hr") <= budget).drop("_hr")
            n_sched = None  # the stage write's observed row count

        # ---- fused gate+fetch+parse stage; ONE write, everything downstream
        # is a projection ---------------------------------------------------
        # per-row url_hash spread defeats hot-host skew: it is uniform per
        # row, so the slowest fetch task tracks the mean.
        # One partition needs no shuffle, so it coalesces instead.
        spread = scheduled.coalesce(1) if P == 1 else scheduled.repartition(P, "url_hash")
        # the write's own job also counts the rows and the candidate links
        # (links of parsed pages shallower than max_depth): no count job
        stage_obs = Observation()
        stage_df = (
            spread.mapInPandas(fetch_fn, udfs.FETCHED_SCHEMA)
            .withColumn("round", F.lit(rnd))
            .observe(
                stage_obs,
                F.count(F.lit(1)).alias("rows"),
                F.sum(
                    F.when(
                        (F.col("outcome") == "parsed") & (F.col("depth") < job.max_depth),
                        F.size("links"),
                    )
                ).alias("candidates"),
            )
        )
        snap = tables["stage"].write(stage_df, rnd)
        stage = spark.read.schema(STAGE_SCHEMA).parquet(snap.path)
        observed = stage_obs.get
        n_candidates = observed["candidates"] or 0  # sum over no rows is null
        if n_sched is None:
            # per_host: one tiny distributed agg over THIS round's just-written
            # stage parquet (O(scheduled) rows, O(active hosts) output)
            # advances each host's watermark — APPENDED to the host_wm
            # snapshot table, never collected to the driver (the read-time
            # groupBy(host).max(wm) folds rounds together). The driver
            # carries zero per-host state.
            wm_delta = stage.groupBy("host").agg(F.max("seq").alias("wm"))
            tables["host_wm"].write(wm_delta, rnd)
            n_sched = observed["rows"]

        # ---- candidate children → dedup → anti-join seen → admission -------
        n_admit_room = job.max_pages - seen_count
        admitted_count = 0
        if n_admit_room > 0 and n_candidates > 0:
            candidates = (
                _links_of(stage, job.job_id)
                .filter(F.col("from_depth") < job.max_depth)
                .select(
                    F.col("to_url").alias("url"),
                    (F.col("from_depth") + 1).alias("depth"),
                    "parent_seq", "link_idx",
                )
            )
            # within-batch first-occurrence dedup (crawler.py:429-430 analog
            # across pages: the earliest (parent_seq, link_idx) wins the slot)
            fresh = first_by(candidates, ["url"], ["parent_seq", "link_idx"], ("depth",))

            seen_df = run.read(spark, "seen")
            new_urls = fresh.join(
                seen_df.select(F.col("url").alias("_su")),
                F.col("url") == F.col("_su"), "left_anti",
            )

            thr = tuning.small_rank_threshold
            if n_candidates <= thr and seen_count <= thr:
                # small round: the anti-join, a single-partition sort and the
                # ids all run inside the admissions write (ids in one
                # partition are 0..n-1 by definition). The candidate count
                # bounds the new URLs, so one partition holds them all;
                # bounding the seen side too keeps that one task from
                # sorting a large seen set when the join is not a broadcast.
                ranked = (
                    new_urls.coalesce(1)
                    .sortWithinPartitions("parent_seq", "link_idx")
                    .withColumn("_adm", F.monotonically_increasing_id() + 1)
                )
            else:
                # eager local checkpoint: materializes once and TRUNCATES the
                # candidate lineage, so the range rank and the write can never
                # silently recompute the explode+anti-join pipeline (a plain
                # persist can be evicted and did, catastrophically, on large
                # rounds)
                ranked = global_rank(
                    new_urls.localCheckpoint(eager=True), ["parent_seq", "link_idx"], "_adm"
                )
            admitted = (
                ranked.filter(F.col("_adm") <= n_admit_room)
                .withColumn("seq", F.lit(next_seq) + F.col("_adm") - 1)
                .drop("_adm")
                .withColumn("job_id", F.lit(job.job_id))
            )
            adm_obs = Observation()
            admitted_f = _frontier_row_cols(
                admitted.select("job_id", "seq", "url", "depth", "parent_seq", "link_idx"),
                rnd,
            ).observe(adm_obs, F.count(F.lit(1)).alias("rows"))
            # a round whose candidates are all seen commits an empty snapshot
            tables["admissions"].write(admitted_f, rnd)
            admitted_count = adm_obs.get["rows"]

        # ---- next pending frontier: nothing to write in ANY mode — the
        # (global or per-host) watermark in the round state IS the frontier
        # update; admissions stay append-only
        pending_count = (pending_count - n_sched) + admitted_count

        # ---- commit round state (the resume point) -------------------------
        next_seq += admitted_count
        seen_count += admitted_count
        st = {
            "round": rnd, "next_seq": next_seq, "seen_count": seen_count,
            "pending_count": pending_count, "frontier": frontier_mode,
        }
        state_store.save(st)
        run.rounds = rnd
        if compact_every and rnd % compact_every == 0:
            # maintenance (Iceberg rewrite_data_files): bound live file count
            # of the append-per-round tables. Runs AFTER the state save, so
            # every merged round is completed — crash-resume's
            # rollback_to_round(saved round) can never drop merged data.
            tables["stage"].compact(
                spark, up_to_round=rnd, schema=STAGE_SCHEMA, cluster_by=["round", "seq"]
            )
            tables["admissions"].compact(
                spark, up_to_round=rnd, schema=FRONTIER_SCHEMA, cluster_by=["seq"]
            )
            if tables["host_wm"].exists():
                # host-clustered so the read-time groupBy(host).max(wm)
                # partial-aggregates within row groups
                tables["host_wm"].compact(
                    spark, up_to_round=rnd, schema=HOST_WM_SCHEMA, cluster_by=["host"]
                )

    return run
