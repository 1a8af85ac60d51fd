"""The workloads. Each has ``prepare`` (build the inputs and the oracle),
``warmup`` (a first, checked, untimed operation) and ``op`` (one timed unit
of work, a crawl or one pass over the queries, checked outside its timing).
"""

from __future__ import annotations

import collections
import hashlib
import json
import os
import shutil
import statistics
import time
from dataclasses import dataclass, field

from spans import (
    Span,
    StageLog,
    Tracer,
    covered,
    dir_bytes,
    round_intervals,
    spark_totals,
    within,
)

HERE = os.path.dirname(os.path.abspath(__file__))
SF_DIR = os.path.join(HERE, "data", "sf0.01")

# The reference crawls one registrable domain with its subdomains, so every
# page of the synthetic web lives under site0.test (1,636 pages; dangling
# relative links add 404 URLs beyond them).
SUBDOMAINS = ("", "docs.", "app.", "blog.", "shop.", "wiki.", "img.", "dev.")
BASE_PAGES = 375

# One pass of the curate workload: every analytics module is represented.
# corpus_split reads a session-scoped near-dup label snapshot that its first
# run builds (~30x its later cost); the checked warm-up pass pays that once and
# reports it, so every timed pass measures the same snapshot-read regime.
CURATE_QUERIES = (
    "frontier_schedule", "hourly_rollup", "first_occurrence",
    "dedup_exact", "corpus_split",
    "text_quality", "text_pii_redact",
    "approx_distinct_kmv",
    "embed_cosine_topk",
    "image_exact_dedup",
)
ANALYTICS_MODULES = ("relational", "dedup", "text", "graph", "similarity", "multimodal")
PASSES = 3  # per operation; a query's time is the median of its executions


@dataclass
class Op:
    wall_s: float
    steps: list[float]  # round walls (crawl) or query walls (curate)
    items: int  # URLs scheduled and fetched, or queries run
    attempted: int = 1
    failed: int = 0
    layers: dict = field(default_factory=dict)
    detail: dict = field(default_factory=dict)


class Crawl:
    """A crawl of the single-site synthetic web, seeded by the workload seed,
    checked against ``core.oracle.simulate`` for the same config."""

    def __init__(self, max_pages: int, mean_outlinks: int, rounds: int, warm_rounds: int,
                 budget=None, compact_every=None, stop_after=None):
        self.max_pages = max_pages
        self.mean_outlinks = mean_outlinks
        self.rounds = rounds
        self.warm_rounds = warm_rounds  # rounds crawled by the warm-up
        self.budget = budget
        self.compact_every = compact_every
        self.stop_after = stop_after  # crawl this many rounds, then resume

    def prepare(self, seed: int) -> None:
        """Build the web and its oracle crawl. Webs differ in how the crawl
        unfolds (some strand it at the start page), so the web seed is the
        first of 64 candidates derived from *seed* whose crawl fills the page
        cap in exactly ``rounds`` engine rounds, most of them admitting URLs:
        every seed then asks for the same amount and kind of work."""
        from web_crawler_spark.config import JobConfig
        from web_crawler_spark.core import oracle, webgen
        from web_crawler_spark.core.robots import generate_rules, rules_by_host

        self.job = JobConfig(job_id=99, start_url="http://site0.test/p/0",
                             max_pages=self.max_pages, max_depth=30, delay=0.0)
        for web_seed in range(seed * 64, seed * 64 + 64):
            self.cfg = webgen.make_config(
                n_sites=1, subdomains=SUBDOMAINS, base_pages=BASE_PAGES, skew=0.5,
                mean_outlinks=self.mean_outlinks, seed=web_seed,
            )
            self.rules = rules_by_host(generate_rules(self.cfg))
            self.oracle = oracle.simulate(self.job, self.cfg, self.rules)
            if len(self.oracle.admissions) < self.max_pages:
                continue
            admitting = self.admitting_rounds()
            if len(admitting) == self.rounds and 2 * sum(admitting) > self.rounds:
                self.web_seed = web_seed
                return
        raise RuntimeError(f"no usable web among the candidates of seed {seed}")

    def admitting_rounds(self) -> list[bool]:
        """Per engine round of the oracle crawl, whether it admits new URLs:
        each round schedules the next ``budget`` pending URLs in FIFO order
        (all of them without a budget) and admits their new links."""
        children = collections.Counter(a["parent_seq"] for a in self.oracle.admissions)
        out, next_seq, pending = [], 1, 1
        while pending:
            lo = next_seq - pending
            n = pending if self.budget is None else min(self.budget, pending)
            new = sum(children[s] for s in range(lo, lo + n))
            out.append(new > 0)
            pending += new - n
            next_seq += new
        return out

    def _crawl(self, spark, run_dir: str, max_rounds=None):
        from web_crawler_spark import engine

        kw = dict(budget=self.budget, compact_every=self.compact_every)
        if max_rounds is not None:
            return engine.crawl(spark, self.job, self.cfg, self.rules, run_dir,
                                max_rounds=max_rounds, **kw)
        if self.stop_after is None:
            return engine.crawl(spark, self.job, self.cfg, self.rules, run_dir, **kw)
        engine.crawl(spark, self.job, self.cfg, self.rules, run_dir,
                     max_rounds=self.stop_after, **kw)
        return engine.crawl(spark, self.job, self.cfg, self.rules, run_dir,
                            resume=True, **kw)

    def _check(self, spark, run, prefix: bool):
        """(seen rows in seq order, outcome counts, problems). A *prefix* run
        stopped early: its seen set must be a prefix of the oracle order."""
        seen = sorted((r["seq"], r["url"]) for r in run.read(spark, "seen").collect())
        outcomes = {r["outcome"]: r["count"]
                    for r in run.read(spark, "outcomes").groupBy("outcome").count().collect()}
        order = [u for _, u in seen]
        expected = self.oracle.crawl_order()
        problems = []
        if [s for s, _ in seen] != list(range(len(seen))):
            problems.append("seen seq values are not dense from 0")
        if order != (expected[:len(order)] if prefix else expected):
            problems.append("seen ordered by seq differs from the oracle crawl order")
        if not prefix:
            stats = self.oracle.stats
            if set(order) != self.oracle.visited:
                problems.append("seen set differs from the oracle visited set")
            if (outcomes.get("parsed", 0), outcomes.get("failed", 0)) != (
                    stats["pages_successful"], stats["pages_failed"]):
                problems.append(f"outcome counts {outcomes} differ from oracle stats {stats}")
        return seen, outcomes, problems

    def warmup(self, spark, work_dir: str) -> Op:
        """The first rounds of the crawl (JIT, Python workers, first plans),
        checked as a prefix of the oracle order."""
        run_dir = os.path.join(work_dir, "warmup")
        t0 = time.perf_counter()
        run = self._crawl(spark, run_dir, max_rounds=self.warm_rounds)
        wall = time.perf_counter() - t0
        seen, outcomes, problems = self._check(spark, run, prefix=True)
        shutil.rmtree(run_dir, ignore_errors=True)
        return Op(wall, [], sum(outcomes.values()), failed=int(bool(problems)),
                  detail={"rounds": run.rounds, "problems": problems})

    def op(self, spark, work_dir: str, traced: bool) -> Op:
        from pyspark.sql import functions as F

        run_dir = os.path.join(work_dir, "crawl")
        shutil.rmtree(run_dir, ignore_errors=True)
        tracer = Tracer(full=traced)
        stage_log = StageLog(spark) if traced else None
        with tracer.installed():
            t0 = time.perf_counter()
            run = self._crawl(spark, run_dir)
            wall = time.perf_counter() - t0
        rounds = [b - a for a, b in round_intervals(tracer.spans)]
        if traced:
            n_jobs, stages = stage_log.stages_since_mark()
        seen, outcomes, problems = self._check(spark, run, prefix=False)
        n_sched = sum(outcomes.values())
        res = Op(wall, rounds, n_sched, failed=int(bool(problems)),
                 detail={"rounds": len(rounds), "problems": problems,
                         "storage_bytes_per_url": dir_bytes(run_dir) / len(seen)})
        if traced:
            n_links = run.read(spark, "links").filter(
                F.col("from_depth") < self.job.max_depth).count()
            res.layers = self._layers(tracer.spans, n_jobs, stages, stage_log, run,
                                      run_dir, outcomes, len(seen), n_links, spark)
        shutil.rmtree(run_dir, ignore_errors=True)
        return res

    @staticmethod
    def _layers(spans, n_jobs, stages, stage_log, run, run_dir, outcomes,
                n_seen, n_links, spark) -> dict:
        nproc = spark.sparkContext.defaultParallelism
        by = lambda name, table=None: [  # noqa: E731
            s for s in spans
            if s.name == name and (table is None or s.attrs.get("table") == table)
        ]
        rounds = round_intervals(spans)
        stage_writes = by("catalog.write", "stage")
        rank = by("engine.global_rank")
        cat = [s for s in spans if s.name.startswith("catalog.")] + rank
        fetch_stages = within(stages, stage_writes)
        fetch_exec = sum(s.executor_s for s in fetch_stages)
        stage_s = sum(s.dur for s in stage_writes)
        n_sched = sum(outcomes.values())
        admitted = n_seen - 1
        live_files = 0
        for t in run.tables.values():
            for p in t.live_paths():
                live_files += sum(f.endswith(".parquet") for f in os.listdir(p))
        out = {
            "engine.rounds": len(rounds),
            "engine.round_s": statistics.median(b - a for a, b in rounds) if rounds else 0.0,
            "engine.fresh_s": sum((b - a) - covered((a, b), [(s.t0, s.t1) for s in cat])
                                  for a, b in rounds),
            "engine.rank_s": sum(s.dur for s in rank),
            "engine.urls_scheduled": n_sched,
            "engine.pages_parsed": outcomes.get("parsed", 0),
            "engine.pages_failed": outcomes.get("failed", 0),
            "engine.pages_disallowed": outcomes.get("disallowed", 0),
            "engine.candidate_links": n_links,
            "engine.admitted": admitted,
            "engine.admit_ratio": admitted / n_links if n_links else 0.0,
            "fetch.stage_s": stage_s,
            "fetch.executor_s": fetch_exec,
            "fetch.core_util": fetch_exec / (stage_s * nproc) if stage_s else 0.0,
            "fetch.task_skew": stage_log.task_skew(max(fetch_stages, key=lambda s: s.executor_s))
            if fetch_stages else 0.0,
            "fetch.us_per_url": fetch_exec * 1e6 / n_sched if n_sched else 0.0,
            "catalog.write_s.stage": stage_s,
            "catalog.write_s.admissions": sum(s.dur for s in by("catalog.write", "admissions")),
            "catalog.read_s": sum(s.dur for s in by("catalog.read")),
            "catalog.compact_s": sum(s.dur for s in by("catalog.compact")),
            "catalog.state_save_s": sum(s.dur for s in by("catalog.state_save")),
            "catalog.commits": len(by("catalog.write")) + len(by("catalog.compact"))
            + len(by("catalog.state_save")),
            "catalog.bytes_written": sum(s.attrs["bytes"] for s in by("catalog.write"))
            + sum(s.attrs["bytes"] for s in by("catalog.compact")),
            "catalog.live_files": live_files,
            "catalog.bytes_per_url": dir_bytes(run_dir) / n_seen,
        }
        out.update(spark_totals(n_jobs, stages))
        return out

    def core_pass(self, n: int) -> dict:
        """Pure-Python pass over the first *n* scheduled URLs of the oracle
        crawl: the same per-URL calls the fused fetch stage makes, timed one
        layer at a time in this process (one thread)."""
        from web_crawler_spark.core import htmlgen, htmlparse, robots, urlnorm, webgen

        urls = self.oracle.crawl_order()[:n]
        domain, ua = self.job.domain, self.job.user_agent
        calls = {"canon": 0, "fallback": 0}
        canon_s = [0.0]
        orig_canon = urlnorm.canonicalize
        orig_fallback = getattr(urlnorm, "_canonicalize_urllib", None)

        def canon(*a):
            calls["canon"] += 1
            t = time.perf_counter()
            out = orig_canon(*a)
            canon_s[0] += time.perf_counter() - t
            return out

        def fallback(*a):
            calls["fallback"] += 1
            return orig_fallback(*a)

        t_robots = t_net = t_parse = 0.0
        pages = 0
        urlnorm.canonicalize = canon
        if orig_fallback is not None:
            urlnorm._canonicalize_urllib = fallback
        try:
            for url in urls:
                t = time.perf_counter()
                ok = robots.allowed(url, ua, self.rules)
                t_robots += time.perf_counter() - t
                if not ok:
                    continue
                t = time.perf_counter()
                html = None
                if webgen.status_of(url, self.cfg) == 200:
                    html = htmlgen.render_html(webgen.page_spec(url, self.cfg))
                t_net += time.perf_counter() - t
                if html is None:
                    continue
                pages += 1
                t = time.perf_counter()
                htmlparse.parse_page(html, url, domain)
                htmlparse.parse_payload(html)
                t_parse += time.perf_counter() - t
        finally:
            urlnorm.canonicalize = orig_canon
            if orig_fallback is not None:
                urlnorm._canonicalize_urllib = orig_fallback
        per_page = lambda x: x * 1e6 / pages if pages else 0.0  # noqa: E731
        return {
            "fetch.network_us_per_page": per_page(t_net),
            "fetch.robots_us_per_url": t_robots * 1e6 / len(urls),
            "fetch.parse_us_per_page": per_page(t_parse),
            "fetch.canonicalize_us_per_page": per_page(canon_s[0]),
            "fetch.canonicalize_calls": calls["canon"],
            "fetch.canonicalize_fallback_ratio":
                calls["fallback"] / calls["canon"] if calls["canon"] else 0.0,
            "core.us_per_url": (t_robots + t_net + t_parse) * 1e6 / len(urls),
        }


class Curate:
    """The analytics queries over the fixed sf0.01 tables, each executed to a
    noop sink; checked once per process against the DuckDB oracles."""

    def __init__(self, cache_dir: str):
        self.cache_path = os.path.join(cache_dir, "curate_oracles.json")

    def prepare(self, seed: int) -> None:
        from web_crawler_spark import analytics

        registry = {**analytics.QUERIES, **analytics.LOCAL_QUERIES}
        self.fns = {n: registry[n] for n in CURATE_QUERIES}
        self.module = {n: fn.__module__.rsplit(".", 1)[-1] for n, fn in self.fns.items()}
        self.expected = self._oracle_results()

    def _oracle_results(self) -> dict:
        """Oracle value hash and row count per query. They depend only on the
        fixed tables and the program source, so they are cached in the work
        directory keyed by both (building the oracle SQL alone takes seconds)."""
        import web_crawler_spark
        from check_parity import TABLES, value_hash

        h = hashlib.sha256()
        for f in sorted(os.listdir(SF_DIR)):
            h.update(f"{f}:{os.path.getsize(os.path.join(SF_DIR, f))}\n".encode())
        pkg = os.path.dirname(web_crawler_spark.__file__)
        for base, _, files in sorted(os.walk(pkg)):
            for f in sorted(files):
                if f.endswith(".py"):
                    with open(os.path.join(base, f), "rb") as fh:
                        h.update(fh.read())
        key = h.hexdigest()
        try:
            with open(self.cache_path) as f:
                cache = json.load(f)
        except (FileNotFoundError, json.JSONDecodeError):
            cache = {}
        con = oracles = None
        out = {}
        for name in CURATE_QUERIES:
            if cache.get(name, {}).get("key") != key:
                if oracles is None:
                    from web_crawler_spark import analytics

                    oracles = {**analytics.ORACLES, **analytics.LOCAL_ORACLES}
                sql = oracles.get(name)
                entry = {"key": key, "hash": None, "rows": None}
                if sql is not None:
                    if con is None:
                        import duckdb

                        con = duckdb.connect()
                        for t in TABLES:
                            con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                                        f"read_parquet('{SF_DIR}/{t}.parquet')")
                    df = con.execute(sql).fetchdf()
                    entry.update(hash=value_hash(df), rows=len(df))
                cache[name] = entry
            out[name] = cache[name]
        if con is not None:
            con.close()
        self.cache = cache
        self._save()
        return out

    def _save(self) -> None:
        tmp = self.cache_path + ".tmp"
        with open(tmp, "w") as f:
            json.dump(self.cache, f)
        os.replace(tmp, self.cache_path)

    def warmup(self, spark, work_dir: str) -> Op:
        """Collect every query once and compare it with its oracle (or, for a
        query without one, with the row count recorded by an earlier run)."""
        from check_parity import value_hash

        walls, problems = {}, []
        for name, fn in self.fns.items():
            t0 = time.perf_counter()
            try:
                pdf = fn(spark, SF_DIR).toPandas()
            except Exception as e:  # a failing query is counted, not fatal
                problems.append(f"{name}: raised {type(e).__name__}: {str(e)[:200]}")
                continue
            walls[name] = time.perf_counter() - t0
            exp = self.expected[name]
            if exp["hash"] is not None:
                got = value_hash(pdf)
                if got != exp["hash"] or len(pdf) != exp["rows"]:
                    problems.append(f"{name}: value hash {got} vs oracle {exp['hash']}")
            elif exp["rows"] is None:
                exp["rows"] = len(pdf)
                self._save()
            elif len(pdf) != exp["rows"]:
                problems.append(f"{name}: {len(pdf)} rows vs {exp['rows']} before")
        return Op(sum(walls.values()), list(walls.values()), len(walls),
                  attempted=len(self.fns), failed=len(problems),
                  detail={"problems": problems, "query_s": walls,
                          "corpus_split_cold_first_s": walls.get("corpus_split")})

    def op(self, spark, work_dir: str, traced: bool) -> Op:
        """PASSES passes over the queries; each query reports the median of
        its executions, and the operation wall is the sum of those medians."""
        spark.catalog.clearCache()  # no plan or data cached by an earlier operation
        stage_log = StageLog(spark) if traced else None
        spans: dict[str, list[Span]] = {name: [] for name in self.fns}
        failed = 0
        for _ in range(PASSES):
            for name, fn in self.fns.items():
                t0 = time.time()
                try:
                    fn(spark, SF_DIR).write.mode("overwrite").format("noop").save()
                except Exception:  # a failing query is counted, not fatal
                    failed += 1
                    continue
                spans[name].append(
                    Span(f"analytics.{self.module[name]}", t0, time.time(), {"query": name}))
        query_s = {n: statistics.median(s.dur for s in ss) for n, ss in spans.items() if ss}
        res = Op(sum(query_s.values()), list(query_s.values()), len(query_s),
                 attempted=PASSES * len(self.fns), failed=failed, detail={"query_s": query_s})
        if traced:
            n_jobs, stages = stage_log.stages_since_mark()
            res.layers, res.detail["queries"] = self._layers(spans, n_jobs, stages)
        return res

    @staticmethod
    def _layers(spans: dict[str, list[Span]], n_jobs: int, stages) -> tuple[dict, list]:
        """Per-module sums of the per-query medians, and the per-query rows."""
        fields = ("s", "executor_s", "shuffle_bytes", "fixed_s")
        out = {f"analytics.{m}.{k}": 0.0 for m in ANALYTICS_MODULES for k in fields}
        rows = []
        for name, ss in spans.items():
            per_exec = []
            for s in ss:
                mine = within(stages, [s])
                per_exec.append({
                    "s": s.dur,
                    "executor_s": sum(st.executor_s for st in mine),
                    "shuffle_bytes": sum(st.shuffle_read + st.shuffle_write for st in mine),
                    "fixed_s": s.dur - covered((s.t0, s.t1), [(st.t0, st.t1) for st in mine]),
                    "stages": len(mine),
                })
            if not per_exec:
                continue
            row = {k: statistics.median(e[k] for e in per_exec) for k in per_exec[0]}
            rows.append({"query": name, **row})
            for k in fields:
                key = f"{ss[0].name}.{k}"
                if key in out:
                    out[key] += row[k]
        out.update(spark_totals(n_jobs, stages))
        return out, rows
