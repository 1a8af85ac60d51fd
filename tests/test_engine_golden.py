"""THE correctness gate: the distributed engine must reproduce the pure-Python
reference-semantics oracle exactly — crawl ordering, seen set, crawl log,
links — per BASELINE.json's north_rule ("matching the reference's crawl
ordering and URL-seen set under the same seed list + politeness budget")."""

import json

import pytest

from web_crawler_spark import engine
from web_crawler_spark.config import JobConfig
from web_crawler_spark.core import oracle, webgen
from web_crawler_spark.core.robots import generate_rules, rules_by_host

CFG = webgen.t1_config()
RULES = rules_by_host(generate_rules(CFG))
JOB = JobConfig(job_id=1, start_url="http://site0.test/p/0", max_pages=60, max_depth=3, delay=0.0)


@pytest.fixture(scope="module")
def golden():
    return oracle.simulate(JOB, CFG, RULES)


def run_engine(spark, tmp_path, job=JOB, **kw):
    return engine.crawl(spark, job, CFG, RULES, str(tmp_path / "run"), **kw)


def assert_matches_oracle(spark, run, res):
    # 1. crawl ordering: seen table ordered by seq == oracle admission order
    seen = run.read(spark, "seen").orderBy("seq").select("seq", "url").collect()
    engine_order = [r["url"] for r in seen]
    assert engine_order == res.crawl_order()
    assert [r["seq"] for r in seen] == list(range(len(engine_order)))

    # 2. final URL-seen set — exact equality
    assert set(engine_order) == res.visited

    # 3. crawl_log: same pages, same global order, same parsed fields
    log = run.read(spark, "crawl_log").orderBy("schedule_rank").collect()
    assert [r["url"] for r in log] == [p["url"] for p in res.crawl_log]
    assert [r["schedule_rank"] for r in log] == [p["seq"] for p in res.crawl_log]
    for row, exp in zip(log, res.crawl_log):
        assert row["depth"] == exp["depth"]
        assert row["status_code"] == exp["status_code"]
        assert row["title"] == exp["title"]
        assert row["metadata"].asDict() == exp["metadata"]
        assert {k: list(v) for k, v in row["headings"].items()} == exp["headings"]
        assert row["content"].asDict() == exp["content"]
        assert row["payload"]["image_id"] == exp["image_id"]
        assert row["payload"]["caption"] == exp["caption"]

    # 4. links: identical multiset of rows with per-page order + "" coalescing
    links = run.read(spark, "links").select(
        "from_url", "to_url", "link_text", "link_idx", "from_depth"
    ).collect()
    got = sorted(tuple(r) for r in links)
    exp = sorted(
        (l["from_url"], l["to_url"], l["link_text"], l["link_idx"], l["from_depth"])
        for l in res.links
    )
    assert got == exp

    # 5. outcome stats equal the reference's run counters
    from pyspark.sql import functions as F

    oc = {
        r["outcome"]: r["cnt"]
        for r in run.read(spark, "outcomes").groupBy("outcome").agg(F.count("*").alias("cnt")).collect()
    }
    assert oc.get("parsed", 0) == res.stats["pages_successful"]
    assert oc.get("failed", 0) == res.stats["pages_failed"]


def test_engine_matches_oracle_level_bfs(spark, tmp_path, golden):
    """budget=None → level-synchronous BFS rounds."""
    run = run_engine(spark, tmp_path)
    assert_matches_oracle(spark, run, golden)


def test_engine_matches_oracle_with_politeness_budget(spark, tmp_path, golden):
    """A finite FIFO budget chunks rounds differently but MUST leave the crawl
    ordering and seen set identical (the virtual-clock politeness contract)."""
    run = run_engine(spark, tmp_path, budget=7)
    assert run.rounds > 3  # budget actually split the levels
    assert_matches_oracle(spark, run, golden)


def test_engine_tuning_alternate_branches_change_nothing(spark, tmp_path, golden):
    """Force every tuning-gated scale branch the defaults never hit at test
    size — two-phase range rank (small_rank_threshold=0), non-broadcast
    AQE-planned watermark join (wm_broadcast_max_hosts=0) and 8-row fetch
    tasks — and require bit-identical results. Sizing knobs may only ever
    cost time, never change the crawl (config.EngineTuning)."""
    from web_crawler_spark.config import EngineTuning

    t = EngineTuning(rows_per_partition=8, small_rank_threshold=0,
                     wm_broadcast_max_hosts=0)
    run = run_engine(spark, tmp_path, tuning=t)
    assert_matches_oracle(spark, run, golden)
    job = JobConfig(job_id=4, start_url="http://site0.test/p/0",
                    max_pages=40, max_depth=3, delay=0.0)
    ph = engine.crawl(spark, job, CFG, RULES, str(tmp_path / "ph"),
                      budget=3, politeness_mode="per_host", tuning=t)
    ref = engine.crawl(spark, job, CFG, RULES, str(tmp_path / "ref"),
                       budget=3, politeness_mode="per_host")
    a = [(r["seq"], r["url"]) for r in ph.read(spark, "seen").orderBy("seq").collect()]
    b = [(r["seq"], r["url"]) for r in ref.read(spark, "seen").orderBy("seq").collect()]
    assert a == b and a


def test_engine_page_cap_exact(spark, tmp_path):
    job = JobConfig(job_id=2, start_url="http://site0.test/p/0", max_pages=5, max_depth=4, delay=0.0)
    res = oracle.simulate(job, CFG, RULES)
    run = engine.crawl(spark, job, CFG, RULES, str(tmp_path / "cap"))
    seen = run.read(spark, "seen").orderBy("seq").select("url").collect()
    assert [r["url"] for r in seen] == res.crawl_order()
    assert len(seen) == 5


def _assert_per_host_invariants(spark, run):
    from pyspark.sql import functions as F

    outc = run.read(spark, "outcomes")
    per = outc.groupBy("round", F.parse_url("url", F.lit("HOST")).alias("host")).count()
    assert per.agg(F.max("count")).first()[0] <= 3
    # within a host, processing round order must follow seq order (FIFO per host)
    rows = outc.select("url", "round", "seq").collect()
    by_host = {}
    for r in rows:
        from urllib.parse import urlparse

        by_host.setdefault(urlparse(r["url"]).netloc, []).append((r["seq"], r["round"]))
    for host, pairs in by_host.items():
        pairs.sort()
        rounds = [rd for _, rd in pairs]
        assert rounds == sorted(rounds), host


def test_engine_per_host_politeness_invariants(spark, tmp_path):
    """per_host mode is the scale generalization (north_star: host-bucketed
    priority queue). It must respect the per-host per-round quota and stay
    deterministic; order within a host must remain FIFO."""
    job = JobConfig(job_id=3, start_url="http://site0.test/p/0", max_pages=40, max_depth=3, delay=0.0)
    run = engine.crawl(spark, job, CFG, RULES, str(tmp_path / "ph"),
                       budget=3, politeness_mode="per_host")
    _assert_per_host_invariants(spark, run)


def test_engine_per_host_with_compaction(spark, tmp_path):
    """Snapshot compaction must be invisible to per-host scheduling: quotas,
    per-host FIFO order, and the watermark-derived frontier all read through
    the merged snapshots."""
    job = JobConfig(job_id=3, start_url="http://site0.test/p/0", max_pages=40, max_depth=3, delay=0.0)
    run = engine.crawl(spark, job, CFG, RULES, str(tmp_path / "phc"),
                       budget=3, politeness_mode="per_host", compact_every=2)
    _assert_per_host_invariants(spark, run)
    snaps = run.tables["stage"]._load()
    assert any("compacted_through" in s for s in snaps)  # compaction happened


def test_engine_per_host_watermarks_table_backed(spark, tmp_path):
    """Per-host watermarks live in the host_wm snapshot table — the driver and
    the state file carry ZERO per-host state (the O(hosts) dict + per-round
    collect() was the last O(hosts) driver structure). A resumed run must
    reconstruct scheduling purely from the table and finish identically to an
    uninterrupted run."""
    from pyspark.sql import functions as F

    job = JobConfig(job_id=3, start_url="http://site0.test/p/0", max_pages=40, max_depth=3, delay=0.0)
    full = engine.crawl(spark, job, CFG, RULES, str(tmp_path / "full"),
                        budget=3, politeness_mode="per_host")
    part = engine.crawl(spark, job, CFG, RULES, str(tmp_path / "res"),
                        budget=3, politeness_mode="per_host", max_rounds=2)
    assert part.rounds == 2
    st = part.state.load()
    # no per-host driver state persisted: the state is five scalars
    assert set(st) == {"round", "next_seq", "seen_count", "pending_count", "frontier"}
    assert part.tables["host_wm"].exists()
    res = engine.crawl(spark, job, CFG, RULES, str(tmp_path / "res"),
                       budget=3, politeness_mode="per_host", resume=True)
    _assert_per_host_invariants(spark, res)
    a = [(r["seq"], r["url"]) for r in full.read(spark, "seen").orderBy("seq").collect()]
    b = [(r["seq"], r["url"]) for r in res.read(spark, "seen").orderBy("seq").collect()]
    assert a == b and a
    # the aggregated table equals the per-host max consumed seq of the stage
    wm = {r["host"]: r["_wm"]
          for r in engine._host_wm_agg(spark, res.tables["host_wm"]).collect()}
    stage_max = {r["host"]: r["mx"]
                 for r in res.read(spark, "stage").groupBy("host")
                 .agg(F.max("seq").alias("mx")).collect()}
    assert wm == stage_max


def test_engine_resume_from_snapshot(spark, tmp_path, golden):
    """Kill after round k, resume → byte-identical final tables (SURVEY §5.7)."""
    path = str(tmp_path / "resume")
    run1 = engine.crawl(spark, JOB, CFG, RULES, path, budget=10, max_rounds=3)
    assert run1.rounds == 3  # stopped mid-crawl
    run2 = engine.crawl(spark, JOB, CFG, RULES, path, budget=10, resume=True)
    assert_matches_oracle(spark, run2, golden)


@pytest.mark.parametrize("frontier,budget,mode", [
    ("derived_per_host", 3, "global"),  # per_host state resumed in global mode
    ("physical", None, "global"),  # not a derived frontier at all
])
def test_engine_resume_rejects_mismatched_state(spark, tmp_path, frontier, budget, mode):
    """Resume refuses any run state whose frontier kind differs from the one
    this crawl derives — before any snapshot is rolled back or read."""
    from web_crawler_spark.catalog import RunState

    path = tmp_path / "mismatch"
    path.mkdir()
    RunState(str(path)).save({"round": 2, "next_seq": 9, "seen_count": 9,
                              "pending_count": 4, "frontier": frontier})
    with pytest.raises(ValueError, match="cannot resume"):
        engine.crawl(spark, JOB, CFG, RULES, str(path), budget=budget,
                     politeness_mode=mode, resume=True)


def test_engine_resume_discards_partial_round(spark, tmp_path, golden):
    """Crash simulation: snapshots committed AFTER the last round-state save
    (a round that died mid-commit) must be rolled back on resume, and the
    final tables must still match the oracle exactly."""
    path = str(tmp_path / "crash")
    run1 = engine.crawl(spark, JOB, CFG, RULES, path, budget=10, max_rounds=3)
    assert run1.rounds == 3

    # fake a partial round 4: stage + admissions snapshots exist but the
    # round state was never committed (crash between commit and state save)
    stage_t = run1.tables["stage"]
    adm_t = run1.tables["admissions"]
    stage_t.write(run1.read(spark, "stage").limit(5), 4)
    adm_t.write(run1.read(spark, "admissions").limit(3), 4)

    run2 = engine.crawl(spark, JOB, CFG, RULES, path, budget=10, resume=True)
    # rollback dropped the partial commits: every round appears at most once
    # per table (the resumed run re-wrote round 4 cleanly, reusing the id)
    for t in (run2.tables["stage"], run2.tables["admissions"]):
        rounds = [s["round"] for s in t._load()]
        assert len(rounds) == len(set(rounds)), rounds
    # and — the real guarantee — results are exactly the oracle's (surviving
    # partial data would duplicate crawl_log rows and fail here)
    assert_matches_oracle(spark, run2, golden)


def test_engine_resume_sweeps_orphan_snapshot(spark, tmp_path, golden):
    """Crash simulation, harder variant (found by SIGKILLing a spark-submit
    run mid-round): the parquet snapshot dir was written but the process
    died BEFORE the manifest commit, so the dir is an orphan the manifest
    never references. Resume's rollback must sweep it, or the re-crawled
    round reuses its snapshot id and dies on errorifexists."""
    import os

    path = str(tmp_path / "orphan")
    run1 = engine.crawl(spark, JOB, CFG, RULES, path, budget=10, max_rounds=3)
    assert run1.rounds == 3

    adm_t = run1.tables["admissions"]
    next_sid = max(s["snapshot_id"] for s in adm_t._load()) + 1
    orphan = os.path.join(adm_t.dir, f"snap-{next_sid:06d}")
    run1.read(spark, "admissions").limit(3).write.parquet(orphan)
    # also a half-written manifest temp of the crashed commit
    with open(os.path.join(adm_t.dir, "_manifest_tmp_crash"), "w") as f:
        f.write("{")

    run2 = engine.crawl(spark, JOB, CFG, RULES, path, budget=10, resume=True)
    assert not os.path.exists(os.path.join(adm_t.dir, "_manifest_tmp_crash"))
    assert_matches_oracle(spark, run2, golden)


def test_engine_resume_before_first_state_commit(spark, tmp_path, golden):
    """Crash during the round-0 seed write, BEFORE the first run-state save:
    no state file exists (the state file is the commit point), so resume
    must treat the storage as never-started — clearing seed debris (an
    orphan parquet dir, or a committed round-0 snapshot whose state save
    never landed) instead of dying on errorifexists or duplicating the
    seed."""
    import os

    path = str(tmp_path / "prestate")
    # orphan case: parquet dir exists, manifest and state never written
    adm_dir = os.path.join(path, "admissions")
    os.makedirs(os.path.join(adm_dir, "snap-000001", "_temporary"))
    run = engine.crawl(spark, JOB, CFG, RULES, path, budget=10, resume=True)
    assert_matches_oracle(spark, run, golden)

    # committed-but-unstated case: round-0 snapshot in the manifest, state
    # file removed (crash between manifest commit and state save)
    path2 = str(tmp_path / "prestate2")
    run1 = engine.crawl(spark, JOB, CFG, RULES, path2, budget=10, max_rounds=1)
    os.unlink(os.path.join(path2, "_run_state.json"))
    run2 = engine.crawl(spark, JOB, CFG, RULES, path2, budget=10, resume=True)
    # exactly one round-0 admissions snapshot: the seed was not duplicated
    r0 = [s for s in run2.tables["admissions"]._load() if s["round"] == 0]
    assert len(r0) == 1, r0
    assert_matches_oracle(spark, run2, golden)


def test_engine_time_travel_read(spark, tmp_path, golden):
    """Iceberg-style time travel: reading a table `as_of_round=r` must equal
    the final state filtered to rounds <= r — i.e. the manifest filter
    reconstructs exactly the state that was committed at that round boundary,
    with no partial or later data visible."""
    run = engine.crawl(spark, JOB, CFG, RULES, str(tmp_path / "tt"), budget=10)
    assert run.rounds >= 3
    final_seen = run.read(spark, "seen").collect()
    final_log = run.read(spark, "crawl_log").collect()
    for r in (1, run.rounds - 1):
        seen_r = {(x["seq"], x["url"]) for x in run.read(spark, "seen", as_of_round=r).collect()}
        exp_seen = {(x["seq"], x["url"]) for x in final_seen if x["round_added"] <= r}
        assert seen_r == exp_seen and seen_r  # non-empty prefix state
        log_r = {(x["schedule_rank"], x["url"]) for x in run.read(spark, "crawl_log", as_of_round=r).collect()}
        exp_log = {(x["schedule_rank"], x["url"]) for x in final_log if x["round"] <= r}
        assert log_r == exp_log
    # as-of the final round == current state
    assert {(x["seq"], x["url"]) for x in run.read(spark, "seen", as_of_round=run.rounds).collect()} == {
        (x["seq"], x["url"]) for x in final_seen
    }
    with pytest.raises(ValueError):
        run.read(spark, "frontier", as_of_round=1)


def test_engine_compaction_golden(spark, tmp_path, golden):
    """Snapshot compaction (Iceberg rewrite_data_files + expire_snapshots):
    merging completed-round snapshots must not change any result, must shrink
    the manifest, and must keep time travel working at/after the horizon
    while raising for expired rounds."""
    run = engine.crawl(
        spark, JOB, CFG, RULES, str(tmp_path / "cp"), budget=10, compact_every=2
    )
    assert run.rounds >= 4
    assert_matches_oracle(spark, run, golden)
    snaps = run.tables["admissions"]._load()
    assert len(snaps) < run.rounds  # rounds merged away
    horizon = max(s.get("compacted_through", -1) for s in snaps)
    assert horizon >= 2
    # at/after the horizon: exact prefix state, same as the uncompacted run
    seen_h = run.read(spark, "seen", as_of_round=horizon)
    final = run.read(spark, "seen").collect()
    assert {(x["seq"], x["url"]) for x in seen_h.collect()} == {
        (x["seq"], x["url"]) for x in final if x["round_added"] <= horizon
    }
    # before the horizon: expired — explicit error, never silent empty state
    with pytest.raises(ValueError, match="compacted/expired"):
        run.read(spark, "seen", as_of_round=horizon - 1)


def test_engine_resume_after_compaction(spark, tmp_path, golden):
    """Crash-resume across a compaction boundary: the merged snapshot carries
    only completed rounds, so rollback-on-resume never drops merged data and
    the finished crawl still matches the oracle exactly."""
    path = str(tmp_path / "cpres")
    run1 = engine.crawl(
        spark, JOB, CFG, RULES, path, budget=10, max_rounds=3, compact_every=2
    )
    assert run1.rounds == 3
    run2 = engine.crawl(spark, JOB, CFG, RULES, path, budget=10, resume=True)
    assert_matches_oracle(spark, run2, golden)


# Varied-shape golden equality: the fixed t1 web above pins one topology; these
# re-derive web + robots + oracle from scratch at other seeds, fanouts, skews,
# and job limits, so the north-rule gate (ordering + seen set) is not
# overfitted to a single fixture. Each web is tiny (~100-300 URLs) to keep the
# four engine runs test-suite cheap.
VARIED = [
    (dict(n_sites=1, subdomains=("",), base_pages=40, skew=0.0, mean_outlinks=5, seed=7),
     dict(max_pages=30, max_depth=4)),
    (dict(n_sites=3, subdomains=("", "docs."), base_pages=48, skew=0.6, mean_outlinks=12, seed=101),
     dict(max_pages=80, max_depth=2)),
    (dict(n_sites=2, subdomains=("", "docs."), base_pages=32, skew=0.3, mean_outlinks=3, seed=999),
     dict(max_pages=50, max_depth=6)),
    (dict(n_sites=1, subdomains=("", "docs."), base_pages=90, skew=0.9, mean_outlinks=20, seed=5),
     dict(max_pages=60, max_depth=3)),
]


@pytest.mark.parametrize("web_kw,job_kw", VARIED)
def test_engine_matches_oracle_varied_webs(spark, tmp_path, web_kw, job_kw):
    cfg = webgen.make_config(**web_kw)
    rules = rules_by_host(generate_rules(cfg))
    job = JobConfig(job_id=9, start_url="http://site0.test/p/0", delay=0.0, **job_kw)
    res = oracle.simulate(job, cfg, rules)
    run = engine.crawl(spark, job, cfg, rules, str(tmp_path / "run"))
    assert_matches_oracle(spark, run, res)


def test_engine_all_seen_round_commits_empty_admissions(spark, tmp_path):
    """A round whose candidate links are all already seen (0 new URLs, >0
    candidates) still commits its admissions snapshot, empty. Crawl order
    and seen set stay the oracle's, time travel reads across that round,
    and compaction merges over it."""
    from pyspark.sql import functions as F

    from web_crawler_spark.schemas import FRONTIER_SCHEMA

    cfg = webgen.make_config(n_sites=1, subdomains=("",), base_pages=40, skew=0.0,
                             mean_outlinks=5, seed=7)
    rules = rules_by_host(generate_rules(cfg))
    job = JobConfig(job_id=9, start_url="http://site0.test/p/0", max_pages=60,
                    max_depth=4, delay=0.0)
    res = oracle.simulate(job, cfg, rules)
    run = engine.crawl(spark, job, cfg, rules, str(tmp_path / "run"), budget=4)
    assert_matches_oracle(spark, run, res)

    adm = run.tables["admissions"]
    rows = {s["round"]: spark.read.schema(FRONTIER_SCHEMA).parquet(s["path"]).count()
            for s in adm._load()}
    empty = [r for r, n in rows.items() if n == 0]
    assert empty, rows
    r = empty[0]
    assert r + 1 in rows and rows[r + 1] > 0  # the crawl admits again afterwards
    # round r really had candidates: links of its parsed pages below max_depth
    cands = (run.read(spark, "links").join(
        run.read(spark, "stage").filter(F.col("round") == r)
        .select(F.col("page_url").alias("from_url")), "from_url")
        .filter(F.col("from_depth") < job.max_depth).select("to_url").collect())
    assert cands

    def seen_as_of(k):
        return {(x["seq"], x["url"]) for x in run.read(spark, "seen", as_of_round=k).collect()}

    before, at, after = seen_as_of(r - 1), seen_as_of(r), seen_as_of(r + 1)
    assert before and at == before and after > at
    assert {u for (_, u) in at} >= {c["to_url"] for c in cands}

    assert adm.compact(spark, up_to_round=r, schema=FRONTIER_SCHEMA, cluster_by=["seq"])
    assert seen_as_of(r) == at and seen_as_of(r + 1) == after
    with pytest.raises(ValueError, match="compacted/expired"):
        run.read(spark, "seen", as_of_round=r - 1)
    assert_matches_oracle(spark, run, res)
