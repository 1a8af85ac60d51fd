"""Analytics-layer tests: Spark↔DuckDB oracle parity on a representative
query subset (the driver's correctness gate, replicated at sf0.001), plus
multimodal invariants that SQL can't express."""

import os
import sys

import duckdb
import pytest

sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "scripts"))

from check_parity import TABLES, value_hash  # noqa: E402

from web_crawler_spark.analytics import (  # noqa: E402
    LOCAL_ORACLES,
    LOCAL_QUERIES,
    ORACLES,
    QUERIES,
)

# tests exercise both tiers; the split only matters to the driver's 8 KiB file
QUERIES = {**QUERIES, **LOCAL_QUERIES}
ORACLES = {**ORACLES, **LOCAL_ORACLES}

SF_DIR = "/root/testdata/sf0.001"

# one per operator family — full parity over every query runs via
# scripts/check_parity.py at sf0.01 (and by the external driver)
PARITY_SUBSET = [
    "frontier_schedule",
    "links_per_page",
    "pages_per_job",
    "admission_cap",
    "dedup_exact",
    "dedup_minhash_lsh",
    "dedup_simhash_pairs",
    "text_fingerprint",
    "text_langid",
    "embed_cosine_topk",
    "embed_lsh_ann",
    "embed_ivf_ann",
    "embed_neardup_lsh",
    "host_pagerank",
    "doc_pack",
    "tfidf_topterms",
]


def ltr_cos(a, b):
    """round(a·b / (‖a‖·‖b‖), 6) with every dot summed left to right in
    float64: bit-equal to `similarity._cos` and its DuckDB twin."""
    import numpy as np

    def dot(x, y):
        acc = 0.0
        for p, q in zip(x, y):
            acc += p * q
        return acc

    return round(dot(a, b) / (np.sqrt(dot(a, a)) * np.sqrt(dot(b, b))), 6)


@pytest.fixture(scope="module")
def duck():
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'")
    yield con


@pytest.mark.parametrize("name", PARITY_SUBSET)
def test_oracle_parity(spark, duck, name):
    sdf = QUERIES[name](spark, SF_DIR).toPandas()
    odf = duck.execute(ORACLES[name]).fetchdf()
    assert len(sdf) == len(odf), f"{name}: rowcount {len(sdf)} vs {len(odf)}"
    assert sorted(sdf.columns) == sorted(odf.columns)
    assert value_hash(sdf) == value_hash(odf), f"{name}: value mismatch"


def test_every_query_has_registry_consistency():
    # every oracle key must have a query, and every query an oracle:
    # since crawl_bfs gained its simulator-derived VALUES oracle, the
    # rows-only set is empty — every registered query is oracle-paired
    assert set(ORACLES) <= set(QUERIES)
    rows_only = set(QUERIES) - set(ORACLES)
    assert rows_only == set()


def test_driver_correctness_file_budget():
    """The external driver truncates its CORRECTNESS JSON at 8192 bytes
    (r02 silently dropped 4 of 54 rows). Guard the registry against ever
    projecting past that cap again."""
    import subprocess

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    r = subprocess.run(
        [sys.executable, os.path.join(repo, "scripts", "registry_budget.py")],
        capture_output=True, text=True,
    )
    assert r.returncode == 0, r.stdout + r.stderr


def test_codegen_methods_stay_jitable(spark):
    """Guard the round-4 JIT-cliff fix (BENCH.md §3c): a fused codegen
    method between HotSpot's 8,000 B JIT ceiling and Spark's 65,535 B
    default hugeMethodLimit runs as interpreted bytecode forever — measured
    100x on the 64-term embedding dots — with no visible plan difference.
    Both the session factory and the defensive table()-path re-assert must
    keep the limit at the JIT ceiling."""
    assert spark.conf.get("spark.sql.codegen.hugeMethodLimit") == "8000"
    # externally-built session path: table() re-asserts on a session that
    # lost the setting (the grading driver builds its own session)
    from web_crawler_spark.analytics.common import ensure_jitable_codegen

    spark.conf.set("spark.sql.codegen.hugeMethodLimit", "65535")
    ensure_jitable_codegen(spark)
    assert spark.conf.get("spark.sql.codegen.hugeMethodLimit") == "8000"


def test_analytics_import_builds_no_oracles():
    """Guard the round-4 lazy-oracle fix (BENCH.md §3c): oracle VALUES
    tables cost ~2 s of driver-side payload simulation, and every fresh
    python worker imports this package to unpickle analytics UDFs — Spark's
    round-robin idle-worker pool re-paid an eager import once per pooled
    worker. Importing the package must not build any oracle map; first
    attribute access must."""
    from web_crawler_spark.analytics import crawlq, multimodal

    # the test session has long since touched ORACLES, so assert on the
    # mechanism instead: the maps are lazy cached builders, absent from the
    # modules' eager namespaces
    assert "ORACLES" not in vars(multimodal)
    assert "LOCAL_ORACLES" not in vars(multimodal)
    assert "ORACLES" not in vars(crawlq)
    assert multimodal._oracle_map() is multimodal._oracle_map()  # cached
    # and a subprocess proves the import itself stays payload-free: the
    # expected-metric caches must be untouched after a bare import
    import subprocess

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    r = subprocess.run(
        [sys.executable, "-c",
         "import web_crawler_spark.analytics as A;"
         "from web_crawler_spark.analytics import multimodal as M;"
         "assert M._expected_image_metrics.cache_info().currsize == 0;"
         "assert M._expected_afps.cache_info().currsize == 0;"
         "_ = A.ORACLES;"
         "assert M._expected_image_metrics.cache_info().currsize == 1"],
        capture_output=True, text=True, cwd=repo,
    )
    assert r.returncode == 0, r.stdout + r.stderr


def test_multimodal_image_invariants(spark):
    """input_hint per-row invariant: decode ok, pixels allclose/PSNR>=40 for
    lossy, phash match, caption equality — for every synthesized image —
    plus decoded-feature ranges (merged validate+features surface)."""
    rows = QUERIES["multimodal_image"](spark, SF_DIR).collect()
    assert {r["fmt"] for r in rows} == {"png", "jpeg", "webp"}
    total = sum(r["n_images"] for r in rows)
    decoded = sum(r["n_decoded"] for r in rows)
    assert total == decoded > 0
    for r in rows:
        assert r["n_images"] > 0
        assert r["decode_pass"] == r["n_images"]
        assert r["pixels_pass"] == r["n_images"]
        assert r["phash_pass"] == r["n_images"]
        assert r["caption_pass"] == r["n_images"]
        assert r["min_psnr_db"] >= 40.0
        assert 16 <= r["min_w"] <= r["max_w"] <= 64
        assert 16 <= r["min_h"] <= r["max_h"] <= 64


def test_entry_contract(spark):
    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    import __spark_entry__ as E

    df = E.entry(spark)
    assert df.count() > 0
    q, o = E.queries(), E.oracle_sql()
    assert set(o) <= set(q)
    assert len(q) >= 25


def test_star_labels_long_chain(spark):
    """Large-star/small-star connected components on the shapes plain
    min-label propagation handles worst: a 64-node chain (diameter 63 —
    O(diameter) algorithms need 63 rounds; the star alternation must stay
    within its O(log n) bound), plus a triangle, a pair, and an isolated
    self-pair."""
    from web_crawler_spark.analytics.dedup import _star_labels

    chain = [(f"c{i:03d}", f"c{i + 1:03d}") for i in range(63)]
    extra = [("t1", "t2"), ("t2", "t3"), ("t1", "t3"), ("p8", "p9"), ("z5", "z5")]
    edges = spark.createDataFrame(chain + extra, ["doc_a", "doc_b"])
    got = {r["doc"]: r["label"] for r in _star_labels(edges).collect()}

    assert len(got) == 64 + 3 + 2 + 1
    assert all(got[f"c{i:03d}"] == "c000" for i in range(64))
    assert got["t1"] == got["t2"] == got["t3"] == "t1"
    assert got["p8"] == got["p9"] == "p8"
    assert got["z5"] == "z5"  # self-pair: own singleton component


def test_image_dedup_clusters_verdict(spark):
    """The image-dedup verdict: every reported cluster is a genuine near-dup
    group (>= 2 members), the keeper is the lexicographic component minimum,
    and the planted `img-N-v` variants co-cluster with a base image."""
    rows = QUERIES["image_dedup_clusters"](spark, SF_DIR).collect()
    assert rows  # planted variants guarantee near-dup structure exists
    for r in rows:
        assert r["n_images"] >= 2
        assert r["keeper_id"] < r["last_member"]  # keeper = component min
    assert any(r["last_member"].endswith("-v") for r in rows)


def test_embed_dedup_clusters_verdict(spark):
    """Semantic-dedup verdict parity + invariants: clusters >= 2 members,
    keeper is the numeric component minimum."""
    from web_crawler_spark.analytics import LOCAL_QUERIES

    rows = LOCAL_QUERIES["embed_dedup_clusters"](spark, SF_DIR).collect()
    assert rows
    for r in rows:
        assert r["n_vectors"] >= 2
        assert r["keeper_id"] < r["last_member"]


def test_embed_semdedup_verdict(spark):
    """SemDeDup: one verdict per vector, and the keep/drop rule re-derived
    by a third engine (numpy exact cosine over the query's own cell
    assignment): a vector is dropped iff some LOWER-id cell mate has
    round(cosine, 6) >= SEMDEDUP_T — so the lowest id in every cell is
    always kept."""
    import numpy as np

    from web_crawler_spark.analytics import LOCAL_QUERIES
    from web_crawler_spark.analytics.similarity import SEMDEDUP_T

    rows = QUERIES["embed_semdedup"](spark, SF_DIR).collect()
    emb = {
        r["vec_id"]: [float(np.float64(x)) for x in r["embedding"]]
        for r in spark.read.parquet(f"{SF_DIR}/embeddings.parquet").collect()
    }
    assert len(rows) == len(emb)  # exactly one verdict per vector
    cells = {}
    for r in rows:
        cells.setdefault(r["cell"], []).append((r["vec_id"], r["keep"]))
    n_dropped = 0
    for members in cells.values():
        members.sort()
        assert members[0][1]  # lowest id per cell always kept
        for i, (vid, keep) in enumerate(members):
            dup = any(
                ltr_cos(emb[uid], emb[vid]) >= SEMDEDUP_T for uid, _ in members[:i]
            )
            assert keep == (not dup)
            n_dropped += int(dup)
    assert 0 < n_dropped < len(emb)  # the threshold actually discriminates


def test_embed_decontaminate_verdict(spark):
    """Third-engine check of the semantic-decontamination contract: a
    TRAINING vector (vec_id % 20 != 0) is contaminated iff some BENCHMARK
    vector (vec_id % 20 == 0) in the SAME quantizer cell has
    round(cosine, 6) >= EMBED_DECON_T, recomputed in pure Python from the
    query's own cell assignment."""
    import numpy as np

    from web_crawler_spark.analytics import LOCAL_QUERIES
    from web_crawler_spark.analytics.similarity import (
        EMBED_DECON_MOD,
        EMBED_DECON_T,
        _corpus_cells,
    )

    rows = LOCAL_QUERIES["embed_decontaminate"](spark, SF_DIR).collect()
    cell_of, emb = {}, {}
    for r in _corpus_cells(spark, SF_DIR).collect():
        cell_of[r["vec_id"]] = r["cell"]
        emb[r["vec_id"]] = [float(np.float64(x)) for x in r["embedding"]]
    bench_by_cell = {}
    for vid, c in cell_of.items():
        if vid % EMBED_DECON_MOD == 0:
            bench_by_cell.setdefault(c, []).append(vid)
    n_train = sum(1 for vid in emb if vid % EMBED_DECON_MOD != 0)
    assert len(rows) == n_train  # one verdict per TRAINING vector only
    n_hits = 0
    for r in rows:
        vid = r["vec_id"]
        assert vid % EMBED_DECON_MOD != 0
        assert r["cell"] == cell_of[vid]
        expect = any(
            ltr_cos(emb[b], emb[vid]) >= EMBED_DECON_T
            for b in bench_by_cell.get(r["cell"], [])
        )
        assert r["contaminated"] == expect
        n_hits += int(expect)
    assert 0 < n_hits < n_train  # the planted ground truth is exercised


def test_corpus_multimodal_pipeline_verdict(spark):
    """Cross-modal verdict semantics: redundant images and misaligned
    captions sink otherwise-kept docs, docs without images pass on the text
    verdict alone, and statuses partition the image-bearing prefix."""
    from web_crawler_spark.analytics import LOCAL_QUERIES
    from web_crawler_spark.analytics.multimodal import N_MISCAP

    rows = LOCAL_QUERIES["corpus_multimodal_pipeline"](spark, SF_DIR).collect()
    assert len(rows) == 500  # one verdict per document
    by_status = {}
    n_misaligned = 0
    for r in rows:
        by_status.setdefault(r["image_status"], 0)
        by_status[r["image_status"]] += 1
        if r["image_status"] == "none":
            assert r["caption_status"] == "none"
            assert r["keep"] == r["text_keep"]
            continue
        # image-bearing prefix: alignment status follows the planted rule
        planted = r["doc_id"] % N_MISCAP == 0
        assert r["caption_status"] == ("misaligned" if planted else "aligned")
        n_misaligned += planted
        if r["image_status"] == "redundant" or planted:
            assert not r["keep"]
        else:
            assert r["keep"] == r["text_keep"]
    assert n_misaligned == 16  # doc_ids 0, 13, ..., 195
    # the image-bearing prefix (first 200 docs): every 4th base image has a
    # planted `-v` variant, and the base is always the lexicographic cluster
    # minimum — so doc-attached images are 'keeper' (50) or 'unique' (150),
    # and 'redundant' can only appear when two DIFFERENT docs' images
    # near-dup each other (which this synthetic corpus never plants)
    assert by_status.get("none", 0) == 300
    assert by_status.get("keeper", 0) == 50
    assert by_status.get("unique", 0) == 150
    assert by_status.get("redundant", 0) == 0


def test_text_repetition_verdict(spark):
    """Gopher-style repetition signals: fractions bounded and consistent
    (top1 >= 1/n_words, top2/dup3 in [0,1]), verdict matches the three
    thresholds, and the corpus splits into both verdict classes."""
    from web_crawler_spark.analytics.text import REP_DUP3_T, REP_TOP1_T, REP_TOP2_T

    rows = LOCAL_QUERIES["text_repetition"](spark, SF_DIR).collect()
    assert len(rows) == 500
    n_ok = 0
    for r in rows:
        assert r["top1_frac"] >= 1.0 / r["n_words"]
        assert 0.0 <= r["top2_frac"] <= 1.0 and 0.0 <= r["dup3_frac"] <= 1.0
        want = (
            r["top1_frac"] <= REP_TOP1_T
            and r["top2_frac"] <= REP_TOP2_T
            and r["dup3_frac"] <= REP_DUP3_T
        )
        assert r["rep_ok"] == want
        n_ok += int(r["rep_ok"])
    assert 0 < n_ok < 500  # thresholds actually discriminate


def test_line_dedup_verdict(spark):
    """Segment-level dedup: per-doc segment count matches ceil(words/10),
    shared_frac = n_shared/n_segs, and keep applies the 0.5 threshold."""
    import math

    from web_crawler_spark.analytics.text import SEG_SHARED_T

    rows = {r["doc_id"]: r for r in LOCAL_QUERIES["line_dedup"](spark, SF_DIR).collect()}
    assert len(rows) == 500
    words = {
        r["doc_id"]: len(r["text"].strip().lower().split())
        for r in spark.read.parquet(f"{SF_DIR}/documents.parquet").collect()
    }
    for doc_id, r in rows.items():
        assert r["n_segs"] <= math.ceil(words[doc_id] / 10)  # <= : distinct segs
        assert 0 <= r["n_shared"] <= r["n_segs"]
        assert r["shared_frac"] == r["n_shared"] / r["n_segs"]
        assert r["keep"] == (r["shared_frac"] < SEG_SHARED_T)


def test_domain_resample_verdict(spark):
    """Temperature resampling: rates in (0,1], uniform sources flatten to a
    single rate, and the md5-threshold sample is reproducible and lands
    near rate*n (the hash is uniform; tolerance is generous)."""
    rows = LOCAL_QUERIES["domain_resample"](spark, SF_DIR).collect()
    assert len(rows) == 500
    rates = {r["source"]: r["rate"] for r in rows}
    assert all(0.0 < v <= 1.0 for v in rates.values())
    # sf0.001 documents: 20 sources x 25 docs -> every rate = 0.5 exactly
    assert set(rates.values()) == {0.5}
    n_sampled = sum(r["sampled"] for r in rows)
    assert abs(n_sampled - 250) < 60
    again = {r["doc_id"]: r["sampled"] for r in LOCAL_QUERIES["domain_resample"](spark, SF_DIR).collect()}
    assert all(again[r["doc_id"]] == r["sampled"] for r in rows)


def test_text_pii_redact_verdict(spark):
    """PII redaction: per-row counts equal the planted ground truth
    (doc_id % 7 decides which spans were planted), and the redaction
    fingerprint matches an independent third engine (Python `re` applying
    the same patterns to the same planted text) — so the md5 provably
    covers a text with every detected span replaced."""
    import hashlib
    import re

    from web_crawler_spark.analytics.text import PII_EMAIL, PII_IP, PII_PHONE

    rows = {r["doc_id"]: r for r in LOCAL_QUERIES["text_pii_redact"](spark, SF_DIR).collect()}
    assert len(rows) == 500
    texts = {
        r["doc_id"]: r["text"]
        for r in spark.read.parquet(f"{SF_DIR}/documents.parquet").collect()
    }
    expected = {0: (1, 0, 0), 2: (0, 1, 0), 4: (0, 0, 1), 6: (1, 1, 0)}
    n_pii = 0
    for doc_id, r in rows.items():
        exp = expected.get(doc_id % 7, (0, 0, 0))
        assert (r["n_emails"], r["n_ips"], r["n_phones"]) == exp
        assert r["has_pii"] == (sum(exp) > 0)
        n_pii += int(r["has_pii"])
        # rebuild the planted text and redact with Python re (third engine)
        email = f" contact user{doc_id}@example.com now"
        ip = f" node at 10.{doc_id % 256}.0.{(doc_id * 7) % 256} up"
        phone = f" call 555-{doc_id % 1000:03d}-{(doc_id * 3) % 10000:04d} today"
        plant = {0: email, 2: ip, 4: phone, 6: email + ip}.get(doc_id % 7, "")
        red = re.sub(PII_EMAIL, "<EMAIL>", texts[doc_id] + plant)
        red = re.sub(PII_IP, "<IP>", red)
        red = re.sub(PII_PHONE, "<PHONE>", red)
        assert r["redacted_fp"] == hashlib.md5(red.encode()).hexdigest()
    assert 0 < n_pii < 500


def test_text_classify_quality_verdict(spark):
    """Third-engine check of the hashing-trick classifier: every doc's
    integer logit equals a pure-Python recompute (md5-derived weights +
    stopword boost over the same whitespace tokens), the score is exactly
    logit/n_tok, and removing the boost shifts stopword-bearing docs down —
    the planted signal is live, not decorative."""
    import hashlib

    from web_crawler_spark.analytics.text import (
        CLF_STOP_BOOST,
        CLF_WMOD,
        STOPWORDS,
    )

    half = (CLF_WMOD - 1) // 2
    stops = set(STOPWORDS["en"])

    def weight(w: str) -> int:
        h = int(hashlib.md5(w.encode()).hexdigest()[:15], 16)
        return CLF_STOP_BOOST if w in stops else h % CLF_WMOD - half

    rows = {r["doc_id"]: r for r in QUERIES["text_classify_quality"](spark, SF_DIR).collect()}
    assert len(rows) == 500
    texts = {
        r["doc_id"]: r["text"]
        for r in spark.read.parquet(f"{SF_DIR}/documents.parquet").collect()
    }
    import re as _re

    n_boosted = 0
    for doc_id, r in rows.items():
        words = _re.split(r"\s+", texts[doc_id].strip().lower())
        assert r["n_tok"] == len(words)
        logit = sum(weight(w) for w in words)
        assert r["logit_sum"] == logit
        assert r["clf_score"] == logit / len(words)
        assert r["keep"] == (logit >= 0)
        n_boosted += int(any(w in stops for w in words))
    assert 0 < n_boosted  # the boost path is exercised on this corpus
    assert 0 < sum(int(r["keep"]) for r in rows.values()) < 500  # both verdicts occur


def test_corpus_pipeline_full_verdict(spark):
    """End-to-end curation verdict: reason precedence (retention reasons
    first, then repetitive, boilerplate, model_filtered, downsampled)
    matches the component verdicts, and each gate actually fires on this
    corpus."""
    comp = {r["doc_id"]: r for r in QUERIES["corpus_pipeline_full"](spark, SF_DIR).collect()}
    assert len(comp) == 500
    ret = {r["doc_id"]: r["drop_reason"] for r in QUERIES["corpus_retention"](spark, SF_DIR).collect()}
    rep = {r["doc_id"]: r["rep_ok"] for r in LOCAL_QUERIES["text_repetition"](spark, SF_DIR).collect()}
    seg = {r["doc_id"]: r["keep"] for r in LOCAL_QUERIES["line_dedup"](spark, SF_DIR).collect()}
    clf = {r["doc_id"]: r["keep"] for r in QUERIES["text_classify_quality"](spark, SF_DIR).collect()}
    smp = {r["doc_id"]: r["sampled"] for r in LOCAL_QUERIES["domain_resample"](spark, SF_DIR).collect()}
    seen_reasons = set()
    for doc_id, r in comp.items():
        if ret[doc_id] != "kept":
            want = ret[doc_id]
        elif not rep[doc_id]:
            want = "repetitive"
        elif not seg[doc_id]:
            want = "boilerplate"
        elif not clf[doc_id]:
            want = "model_filtered"
        elif not smp[doc_id]:
            want = "downsampled"
        else:
            want = "kept"
        assert r["drop_reason"] == want
        assert r["keep"] == (want == "kept")
        seen_reasons.add(want)
    assert {"repetitive", "boilerplate", "model_filtered", "downsampled", "kept"} <= seen_reasons


def test_brute_force_guard_refuses_large_inputs(spark, tmp_path):
    """The O(n²) exactness baselines must REFUSE oversized inputs — the
    contract that stops a registered all-pairs query from ever emitting a
    10²⁰-pair plan against a production corpus."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    import pytest as _pytest

    from web_crawler_spark.analytics.similarity import _guard_brute_force

    pq.write_table(pa.table({"vec_id": pa.array(range(10), pa.int64())}),
                   tmp_path / "embeddings.parquet")
    _guard_brute_force(spark, str(tmp_path), "embeddings", "q", cap=100)  # under: no raise
    with _pytest.raises(ValueError, match="refuses inputs over"):
        _guard_brute_force(spark, str(tmp_path), "embeddings", "q", cap=5)


def _jobs_run(spark, fn) -> int:
    """Spark jobs submitted while *fn()* runs, read from the status store."""
    sc = spark.sparkContext

    def newest() -> int:
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        return max(sc.statusTracker().getJobIdsForGroup(None), default=-1)

    before = newest()
    fn()
    return newest() - before


def _executed_plan(df) -> str:
    """The plan *df* ran with: collected first, so AQE's final plan."""
    df.collect()
    return df._sc._jvm.PythonSQLUtils.explainString(df._jdf.queryExecution(), "simple")


def test_table_warm_read_runs_no_job(spark):
    """`table()` infers a table's schema once per session and table
    version: a warm read, its schema and the brute-force guard's row count
    submit no Spark job."""
    from web_crawler_spark.analytics.common import table, table_rows

    table(spark, SF_DIR, "embeddings")
    table_rows(spark, SF_DIR, "embeddings")
    assert _jobs_run(spark, lambda: table(spark, SF_DIR, "embeddings").schema) == 0
    assert _jobs_run(spark, lambda: table_rows(spark, SF_DIR, "embeddings")) == 0


def test_table_schema_follows_rewrite(spark, tmp_path):
    """The schema cache is keyed on the table's file, not only its path: a
    rewrite with an extra column shows that column on the next read, and
    the older version's entry is evicted."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from web_crawler_spark.analytics import common

    path = tmp_path / "t.parquet"
    pq.write_table(pa.table({"a": [1, 2, 3]}), path)
    assert common.table(spark, str(tmp_path), "t").columns == ["a"]
    pq.write_table(pa.table({"a": [1, 2, 3], "b": ["x", "y", "z"]}), path)
    assert common.table(spark, str(tmp_path), "t").columns == ["a", "b"]
    assert _jobs_run(spark, lambda: common.table(spark, str(tmp_path), "t").schema) == 0
    assert sum(k[1:3] == (str(tmp_path), "t") for k in common._TABLE_META) == 1


def test_embed_cosine_topk_broadcasts_query_side(spark):
    """The N_QUERIES-row query side is the broadcast (build) side, so the
    repartitioned candidates stream through the nested-loop join in
    parallel tasks."""
    plan = _executed_plan(QUERIES["embed_cosine_topk"](spark, SF_DIR))
    assert "BroadcastNestedLoopJoin BuildLeft" in plan, plan


def test_embed_index_stats_builds_with_two_jobs(spark):
    """Building a corpus-quantizer query runs only the quantizer's seed and
    training jobs: the corpus row count comes from the parquet footers."""
    from web_crawler_spark.analytics.similarity import embed_index_stats

    embed_index_stats(spark, SF_DIR)  # warm the table's schema and row count
    assert _jobs_run(spark, lambda: embed_index_stats(spark, SF_DIR)) == 2


def test_image_curate_generates_images_once(spark):
    """image_curate's pair graph and its gates read one checkpointed image
    table: no generator pass is left in the executed plan."""
    plan = _executed_plan(LOCAL_QUERIES["image_curate"](spark, SF_DIR))
    assert "MapInPandas" not in plan, plan


def test_image_shard_pack_verdict(spark):
    """Third-engine check of the byte-budget shard packing: every row's
    (n_bytes, cum_bytes, shard_id) equals a pure-Python recompute from the
    codec's own payload sizes, shards fill contiguously in image order, and
    the budget actually splits the corpus into multiple shards."""
    from web_crawler_spark.analytics.multimodal import (
        N_IMAGES,
        SHARD_BYTES,
        LOCAL_QUERIES as MM_LOCAL,
    )
    from web_crawler_spark.core import imagecodec

    rows = {r["image_id"]: r for r in MM_LOCAL["image_shard_pack"](spark, SF_DIR).collect()}
    assert len(rows) == N_IMAGES
    cum = 0
    last_shard = 0
    shards = set()
    for i in range(N_IMAGES):
        iid = f"img-{i}"
        n = len(imagecodec.image_row(iid, seed=42)["bytes"]) + len(
            f"caption for img-{i}".encode()
        )
        r = rows[iid]
        assert r["n_bytes"] == n
        shard = cum // SHARD_BYTES
        cum += n
        assert r["cum_bytes"] == cum
        assert r["shard_id"] == shard
        assert shard >= last_shard  # contiguous fill, never back-assigned
        last_shard = shard
        shards.add(shard)
    assert len(shards) > 1  # the budget actually splits the corpus


def test_image_thumbnail_roundtrip(spark):
    """The resize transform emits REAL binaries: decode every emitted
    thumbnail, check dims = ceil(src/4), and check pixels equal the
    pure-Python block-mean resize of the source image's decoded pixels."""
    import numpy as np

    from web_crawler_spark.analytics.multimodal import N_IMAGES, _thumbnails
    from web_crawler_spark.core import imagecodec

    rows = _thumbnails(spark, SF_DIR).collect()
    assert len(rows) == N_IMAGES
    for r in rows:
        assert r["tw"] == -(-r["w"] // imagecodec.THUMB_FACTOR)
        assert r["th"] == -(-r["h"] // imagecodec.THUMB_FACTOR)
        px, tw, th, fmt = imagecodec.decode(bytes(r["thumb"]))
        assert (tw, th, fmt) == (r["tw"], r["th"], "png")
        src, _, _, _ = imagecodec.decode(imagecodec.image_row(r["image_id"], seed=42)["bytes"])
        assert np.array_equal(px, imagecodec.resize_block_mean(src))


def test_image_caption_align_gate(spark):
    """Matched (image, caption) pairs score exactly 1.0 and pass the gate;
    every planted miscaptioned image scores far below it and gates out."""
    from web_crawler_spark.analytics.multimodal import ALIGN_T, N_IMAGES, N_MISCAP

    rows = LOCAL_QUERIES["image_caption_align"](spark, SF_DIR).collect()
    assert len(rows) == N_IMAGES
    for r in rows:
        planted = int(r["image_id"][4:]) % N_MISCAP == 0
        assert r["keep"] == (not planted)
        if planted:
            assert abs(r["align_sim"]) < ALIGN_T / 2
        else:
            assert r["align_sim"] == 1.0


def test_image_curate_verdict(spark):
    """LAION-style image curation: planted variants drop as near-duplicates
    (base is the cluster keeper), metadata gates match the w/h columns with
    the documented precedence, and every gate fires on this corpus."""
    from web_crawler_spark.analytics.multimodal import IMG_MAX_ASPECT, IMG_MIN_SIDE

    rows = {r["image_id"]: r for r in LOCAL_QUERIES["image_curate"](spark, SF_DIR).collect()}
    assert len(rows) == 250  # 200 bases + 50 variants
    seen = set()
    for iid, r in rows.items():
        if r["drop_reason"] == "near_duplicate":
            pass  # cluster membership asserted via the variant check below
        elif min(r["w"], r["h"]) < IMG_MIN_SIDE:
            assert r["drop_reason"] == "too_small"
        elif max(r["w"], r["h"]) > IMG_MAX_ASPECT * min(r["w"], r["h"]):
            assert r["drop_reason"] == "bad_aspect"
        else:
            assert r["drop_reason"] == "kept"
        assert r["keep"] == (r["drop_reason"] == "kept")
        seen.add(r["drop_reason"])
    # every planted variant sorts after its base -> never the keeper
    assert all(rows[i]["drop_reason"] == "near_duplicate" for i in rows if i.endswith("-v"))
    assert {"near_duplicate", "too_small", "bad_aspect", "kept"} <= seen


def test_audio_video_curate_verdicts(spark):
    """Composed audio/video curation verdicts (the image_curate twins):
    every drop_reason equals a pure-Python third-engine recompute of the same
    gates with the same precedence, and every content gate fires on this
    corpus."""
    import numpy as np

    from web_crawler_spark.analytics.multimodal import (
        AUDIO_CLIP_FRAC_T, AUDIO_MIN_S, AUDIO_RMS_MIN,
        N_AUDIO, N_VIDEO, VIDEO_MIN_FPS, VIDEO_MIN_S, VIDEO_MOTION_MIN,
    )
    from web_crawler_spark.core import audiocodec, videocodec

    got_a = {r["audio_id"]: r for r in LOCAL_QUERIES["audio_curate"](spark, SF_DIR).collect()}
    assert len(got_a) == N_AUDIO
    seen_a = set()
    for i in range(N_AUDIO):
        aid = f"aud-{i}"
        row = audiocodec.audio_row(aid, seed=42)
        s, sr, fmt = audiocodec.decode(row["bytes"])
        f = audiocodec.features(s, sr)
        ref = audiocodec.reference_samples(aid, len(s))
        ok = (audiocodec.snr_db(ref, s) >= audiocodec.SNR_OK_DB
              if fmt in audiocodec.LOSSY_FMTS else bool(np.array_equal(s, ref)))
        dec = sr == row["sr"] and len(s) == row["n_samples"] and fmt == row["fmt"]
        if not dec:
            exp = "decode_failed"
        elif not ok:
            exp = "samples_mismatch"
        elif f["duration_s"] < AUDIO_MIN_S:
            exp = "too_short"
        elif f["n_clipped"] / len(s) > AUDIO_CLIP_FRAC_T:
            exp = "clipped"
        elif f["rms"] < AUDIO_RMS_MIN:
            exp = "quiet"
        else:
            exp = "kept"
        assert got_a[aid]["drop_reason"] == exp, aid
        assert got_a[aid]["keep"] == (exp == "kept")
        seen_a.add(exp)
    assert {"too_short", "clipped", "quiet", "kept"} <= seen_a

    got_v = {r["video_id"]: r for r in LOCAL_QUERIES["video_curate"](spark, SF_DIR).collect()}
    assert len(got_v) == N_VIDEO
    seen_v = set()
    for i in range(N_VIDEO):
        vid = f"vid-{i}"
        row = videocodec.video_row(vid, seed=42)
        f = videocodec.features(vid, row["bytes"])
        dec = (f["fmt"] == row["fmt"] and f["fps"] == row["fps"]
               and f["n_frames"] == row["n_frames"]
               and f["w"] == row["w"] and f["h"] == row["h"])
        if not dec:
            exp = "decode_failed"
        elif not videocodec.frames_ok(vid, row["bytes"]):
            exp = "frames_mismatch"
        elif f["duration_s"] < VIDEO_MIN_S:
            exp = "too_short"
        elif f["fps"] < VIDEO_MIN_FPS:
            exp = "low_fps"
        elif f["motion"] < VIDEO_MOTION_MIN:
            exp = "static"
        else:
            exp = "kept"
        assert got_v[vid]["drop_reason"] == exp, vid
        assert got_v[vid]["keep"] == (exp == "kept")
        seen_v.add(exp)
    assert {"too_short", "low_fps", "static", "kept"} <= seen_v


def test_image_exact_dedup_verdict(spark):
    """Third-engine check of byte-level payload dedup: each digest row's
    (n_copies, keeper) equals a pure-Python hashlib recompute from the codec
    bytes, planted copies collapse onto their base, and no two distinct
    images collide."""
    import hashlib

    from web_crawler_spark.analytics.multimodal import COPY_EVERY, N_IMAGES
    from web_crawler_spark.core import imagecodec

    rows = {r["digest"]: r for r in LOCAL_QUERIES["image_exact_dedup"](spark, SF_DIR).collect()}
    assert len(rows) == N_IMAGES  # every copy collapsed, no digest collisions
    for i in range(N_IMAGES):
        iid = f"img-{i}"
        d = hashlib.md5(imagecodec.image_row(iid, seed=42)["bytes"]).hexdigest()
        r = rows[d]
        assert r["keeper"] == iid  # base sorts before its '-c' copy
        assert r["n_copies"] == (2 if i % COPY_EVERY == 0 else 1)


def test_image_res_bucket_assignment(spark):
    """Third-engine check of aspect-ratio bucketing: every image's bucket
    equals a pure-Python argmin over the same ladder, and the corpus
    actually spreads over several buckets."""
    from web_crawler_spark.analytics.multimodal import N_IMAGES, _bucket_ladder
    from web_crawler_spark.core import imagecodec

    ladder = _bucket_ladder()
    assert len(ladder) >= 5  # a real ladder, not a degenerate pair
    rows = {r["image_id"]: r for r in LOCAL_QUERIES["image_res_bucket"](spark, SF_DIR).collect()}
    assert len(rows) == N_IMAGES
    used = set()
    for i in range(N_IMAGES):
        iid = f"img-{i}"
        base = imagecodec.image_row(iid, seed=42)
        w, h = base["w"], base["h"]
        best = min((abs(w * bh - h * bw) / (bw * bh), bi) for bi, bw, bh in ladder)
        r = rows[iid]
        assert (r["bucket_id"], r["w"], r["h"]) == (best[1], w, h)
        assert (r["bucket_w"], r["bucket_h"]) == ladder[best[1]][1:]
        used.add(best[1])
    assert len(used) >= 4  # wide-aspect corpus spreads across the ladder


def test_image_shard_roundtrip(spark):
    """The shard writer emits REAL containers: reading every blob back
    yields exactly the source (image_id, bytes, caption) rows, in image
    order within each shard, with the shard assignment of image_shard_pack;
    a corrupted blob raises."""
    import pytest as _pytest

    from web_crawler_spark.analytics.multimodal import (
        N_IMAGES,
        SHARD_BYTES,
        _shard_blobs,
        read_shard,
        read_shards,
    )
    from web_crawler_spark.core import imagecodec

    blobs = _shard_blobs(spark, SF_DIR).collect()
    back = read_shards(_shard_blobs(spark, SF_DIR)).collect()
    assert sum(r["n_records"] for r in blobs) == N_IMAGES
    assert len(back) == N_IMAGES
    cum, expect_sid = 0, {}
    for i in range(N_IMAGES):
        data = imagecodec.image_row(f"img-{i}", seed=42)["bytes"]
        expect_sid[f"img-{i}"] = cum // SHARD_BYTES
        cum += len(data) + len(f"caption for img-{i}".encode())
    for r in back:
        assert r["shard_id"] == expect_sid[r["image_id"]]
        src = imagecodec.image_row(r["image_id"], seed=42)
        assert bytes(r["bytes"]) == src["bytes"]
        assert r["caption"] == f"caption for {r['image_id']}"
    # framing is checked, not assumed
    blob = bytes(blobs[0]["blob"])
    with _pytest.raises(ValueError):
        read_shard(blob[:-1])
    with _pytest.raises(ValueError):
        read_shard(b"XXXX" + blob[4:])


def test_vlm_pack_budget(spark):
    """Third-engine check of VLM sequence packing: every image's token cost
    equals the pure-Python patch-grid + caption recompute, the global cumsum
    is exact, every window respects the budget (single oversized examples
    excepted, as in doc_pack), and windows are contiguous from 0."""
    from web_crawler_spark.analytics.multimodal import N_IMAGES, VLM_CTX, VLM_PATCH, vlm_pack
    from web_crawler_spark.core import imagecodec

    rows = {r["image_id"]: r for r in vlm_pack(spark, SF_DIR).collect()}
    assert len(rows) == N_IMAGES
    cum = 0
    for i in range(N_IMAGES):
        iid = f"img-{i}"
        r0 = imagecodec.image_row(iid, seed=42)
        w, h = r0["w"], r0["h"]
        p = VLM_PATCH
        n = ((w + p - 1) // p) * ((h + p - 1) // p) + len(f"caption for {iid}".split())
        r = rows[iid]
        assert (r["n_tokens"], r["window_id"]) == (n, cum // VLM_CTX)
        cum += n
        assert r["cum_tokens"] == cum
    wins = sorted({r["window_id"] for r in rows.values()})
    assert wins == list(range(len(wins))) and len(wins) >= 3


def test_image_bucket_sample_deterministic(spark):
    """Third-engine check of balanced bucket sampling: the kept set equals a
    pure-Python md5-threshold recompute over the same ladder assignment, and
    dominant buckets are actually capped near the target."""
    import hashlib

    from web_crawler_spark.analytics.multimodal import (
        N_IMAGES,
        SAMPLE_PER_BUCKET,
        _bucket_ladder,
        image_bucket_sample,
    )
    from web_crawler_spark.core import imagecodec

    ladder = _bucket_ladder()
    asg, counts = {}, {}
    for i in range(N_IMAGES):
        iid = f"img-{i}"
        r = imagecodec.image_row(iid, seed=42)
        w, h = r["w"], r["h"]
        bid = min((abs(w * bh - h * bw) / (bw * bh), b) for b, bw, bh in ladder)[1]
        asg[iid] = bid
        counts[bid] = counts.get(bid, 0) + 1
    expect = set()
    for iid, bid in asg.items():
        thr = min((1 << 48) - 1, SAMPLE_PER_BUCKET * (1 << 48) // counts[bid])
        if hashlib.md5(iid.encode()).hexdigest()[:12] <= f"{thr:012x}":
            expect.add(iid)
    rows = image_bucket_sample(spark, SF_DIR).collect()
    assert {r["image_id"] for r in rows} == expect
    for r in rows:
        assert (r["bucket_id"], r["n_bucket"]) == (asg[r["image_id"]], counts[asg[r["image_id"]]])
    # a bucket bigger than the target is genuinely downsampled
    big = [b for b, c in counts.items() if c >= 2 * SAMPLE_PER_BUCKET]
    assert big, "corpus too uniform for the cap to bind — raise N_IMAGES"
    for b in big:
        kept = sum(1 for iid in expect if asg[iid] == b)
        assert kept < counts[b]  # cap bound
        assert abs(kept - SAMPLE_PER_BUCKET) <= 3 * SAMPLE_PER_BUCKET**0.5 + 1


def test_image_classify_aesthetic_verdict(spark):
    """Third-engine check of the image classifier gate: every image's logit
    equals the pure-Python decode+features recompute through the identical
    floor-quantized head, and the threshold splits the corpus nontrivially."""
    import math

    from web_crawler_spark.analytics.multimodal import (
        AESTH_THRESH,
        N_IMAGES,
        image_classify_aesthetic,
    )
    from web_crawler_spark.core import imagecodec

    rows = {r["image_id"]: r for r in image_classify_aesthetic(spark, SF_DIR).collect()}
    assert len(rows) == N_IMAGES
    kept = 0
    for i in range(N_IMAGES):
        iid = f"img-{i}"
        px, _, _, _ = imagecodec.decode(imagecodec.image_row(iid, seed=42)["bytes"])
        f = imagecodec.features(px)
        logit = math.floor(f["thumb_var"] * 16) - abs(math.floor(f["brightness"] * 16) - 2048)
        r = rows[iid]
        assert (r["logit"], r["keep"]) == (logit, logit >= AESTH_THRESH)
        kept += r["keep"]
    assert 0.3 <= kept / N_IMAGES <= 0.9  # the gate actually separates


def test_image_ocr_extract_planted(spark):
    """Every scan with a planted text band extracts it verbatim (band
    survives encode→Arrow→decode); every 7th scan is textless and reports
    the miss path; token counts come from the JVM split."""
    from web_crawler_spark.analytics.multimodal import N_SCANS, SCAN_TEXTLESS_EVERY

    rows = LOCAL_QUERIES["image_ocr_extract"](spark, SF_DIR).collect()
    assert len(rows) == N_SCANS
    for r in rows:
        i = int(r["image_id"][5:])
        planted = i % SCAN_TEXTLESS_EVERY != 0
        assert r["has_text"] == planted
        assert r["matches_caption"] == planted
        if planted:
            assert r["extracted"] == f"alt text for scan-{i}"
            assert r["n_tokens"] == 4
        else:
            assert (r["extracted"], r["n_chars"], r["n_tokens"]) == ("", 0, 0)


def test_image_pii_redact_planted(spark):
    """Planted-region counts come back exactly (2/1/0 on the 9/3/rest
    split), masked areas bound by the planted square sizes, and every row
    emits a real re-encoded binary (pinned exactly vs the oracle's crc in
    parity; here length > header)."""
    from web_crawler_spark.analytics.multimodal import N_PHOTOS, _pii_planted

    rows = LOCAL_QUERIES["image_pii_redact"](spark, SF_DIR).collect()
    assert len(rows) == N_PHOTOS
    seen_counts = set()
    for r in rows:
        i = int(r["image_id"][4:])
        n = _pii_planted(i)
        assert r["n_regions"] == n
        assert n * 16 <= r["area_px"] <= n * 49
        assert r["red_len"] > 13  # WCSI header is 13 bytes
        seen_counts.add(n)
    assert seen_counts == {0, 1, 2}  # every branch of the split occurs


def test_span_dedup_matches_pure_python_oracle(spark):
    """Full independent re-derivation: exact gram TUPLES (no hashing) +
    interval merge in plain Python must reproduce every per-doc span count,
    duplicated-token count and verdict (a hash collision in the Spark plan
    would break this — mod 1e9+7 over ~25k grams makes that ~1e-5 and the
    inputs are deterministic)."""
    import collections
    import re

    from web_crawler_spark.analytics.dedup import SPAN_DUP_RATIO_T, SPAN_G

    span = {r["doc_id"]: r for r in QUERIES["span_dedup"](spark, SF_DIR).collect()}
    texts = duckdb.sql(f"SELECT doc_id, text FROM '{SF_DIR}/documents.parquet'").fetchall()
    gram_docs = collections.defaultdict(set)
    doc_grams = {}
    for did, t in texts:
        ws = re.split(r"\s+", t.strip().lower())
        gs = [tuple(ws[i : i + SPAN_G]) for i in range(len(ws) - SPAN_G + 1)]
        doc_grams[did] = (len(ws), gs)
        for g in gs:
            gram_docs[g].add(did)
    n_flagged = 0
    for did, (n_words, gs) in doc_grams.items():
        merged = []  # interval merge of duplicated gram spans
        for i, g in enumerate(gs):
            if len(gram_docs[g]) >= 2:
                s, e = i + 1, i + SPAN_G
                if merged and s <= merged[-1][1] + 1:
                    merged[-1][1] = max(merged[-1][1], e)
                else:
                    merged.append([s, e])
        dup_tokens = sum(e - s + 1 for s, e in merged)
        r = span[did]
        assert r["n_words"] == n_words
        assert r["n_spans"] == len(merged), (did, merged, r)
        assert r["dup_tokens"] == dup_tokens
        assert r["keep"] == (dup_tokens / n_words <= SPAN_DUP_RATIO_T)
        n_flagged += bool(merged)
    assert n_flagged >= 10  # the generator's near-dups share real passages


def test_text_lm_score_matches_pure_python_oracle(spark):
    """Independent re-derivation with raw string bigrams (no hashing): the
    integer fixed-point q-sums and verdicts must reproduce exactly."""
    import collections
    import re

    from web_crawler_spark.analytics.text import LM_Q, LM_SCORE_T

    got = {r["doc_id"]: r for r in LOCAL_QUERIES["text_lm_score"](spark, SF_DIR).collect()}
    texts = duckdb.sql(f"SELECT doc_id, text FROM '{SF_DIR}/documents.parquet'").fetchall()
    c2 = collections.Counter()
    c1 = collections.Counter()
    vocab = set()
    doc_bgs = {}
    for did, t in texts:
        ws = re.split(r"\s+", t.strip().lower())
        vocab.update(ws)
        bgs = list(zip(ws, ws[1:]))
        doc_bgs[did] = bgs
        for bg in bgs:
            c2[bg] += 1
            c1[bg[0]] += 1
    v = len(vocab)
    for did, bgs in doc_bgs.items():
        sum_q = sum(LM_Q * (c2[bg] + 1) // (c1[bg[0]] + v) for bg in bgs)
        r = got[did]
        assert r["n_bigrams"] == len(bgs)
        assert r["sum_q"] == sum_q, (did, r["sum_q"], sum_q)
        if bgs:
            score = sum_q / (len(bgs) * LM_Q)
            assert abs(r["lm_score"] - score) < 1e-15
            assert r["keep"] == (score >= LM_SCORE_T)
    # the verdict separates: some docs keep, scores span a real range
    scores = [r["lm_score"] for r in got.values() if r["lm_score"] is not None]
    assert max(scores) > min(scores) > 0


def test_caption_hard_negatives_excludes_positives(spark):
    """Mining invariants: exactly HN_K negatives per ANN query, sims
    non-increasing with rank, and the pair's CLAIMED positive ref (shifted
    for planted miscaptions) never leaks in as a negative."""
    import collections

    from web_crawler_spark.analytics.multimodal import (
        HN_K,
        MISCAP_SHIFT,
        N_IMAGES,
        N_MISCAP,
    )
    from web_crawler_spark.analytics.similarity import N_QUERIES

    rows = LOCAL_QUERIES["caption_hard_negatives"](spark, SF_DIR).collect()
    per_img = collections.defaultdict(list)
    for r in rows:
        per_img[r["image_id"]].append(r)
    assert len(per_img) == N_QUERIES
    for image_id, rs in per_img.items():
        q = int(image_id[4:])
        claimed = (q + MISCAP_SHIFT) % N_IMAGES if q % N_MISCAP == 0 else q
        rs.sort(key=lambda r: r["hn_rank"])
        assert [r["hn_rank"] for r in rs] == list(range(1, HN_K + 1))
        assert all(r["neg_ref"] != claimed and r["neg_ref"] != q for r in rs)
        sims = [r["sim"] for r in rs]
        assert sims == sorted(sims, reverse=True)


def test_lm_score_overflow_guard_trips(spark):
    """The fixed-point numerator LM_Q*(c2+1) must fail LOUDLY past the int64
    bound (Spark non-ANSI would otherwise wrap silently); below the bound the
    guarded expression equals the plain arithmetic."""
    from pyspark.sql import functions as F
    from pyspark.sql.utils import PythonException  # noqa: F401

    from web_crawler_spark.analytics.text import _LM_Q_EXPR, LM_MAX_C2, LM_Q

    ok = spark.createDataFrame(
        [(LM_MAX_C2, LM_MAX_C2 + 100, 7)], "c2 long, c1 long, v long"
    )
    got = ok.select(F.expr(_LM_Q_EXPR).alias("q")).collect()[0]["q"]
    assert got == LM_Q * (LM_MAX_C2 + 1) // (LM_MAX_C2 + 100 + 7)

    bad = spark.createDataFrame(
        [(LM_MAX_C2 + 1, LM_MAX_C2 + 100, 7)], "c2 long, c1 long, v long"
    )
    with pytest.raises(Exception, match="int64 fixed-point bound"):
        bad.select(F.expr(_LM_Q_EXPR).alias("q")).collect()


def test_word_hash32_streams_independent(spark):
    """common.word_hash32(1) and (9) read disjoint md5 hex ranges: same
    values as hashlib on both streams, and the streams differ per word —
    the composite span-gram key really carries 64 bits of word entropy."""
    import hashlib

    from pyspark.sql import functions as F

    from web_crawler_spark.analytics.common import word_hash32

    words = ["alpha", "beta", "gamma", "Mixed Case  spaced"]
    df = spark.createDataFrame([(w,) for w in words], "text string")
    rows = df.select(
        "text",
        F.expr(word_hash32(1)).alias("h1"),
        F.expr(word_hash32(9)).alias("h2"),
    ).collect()
    for r in rows:
        toks = r["text"].strip().lower().split()
        exp1 = [int(hashlib.md5(t.encode()).hexdigest()[0:8], 16) for t in toks]
        exp2 = [int(hashlib.md5(t.encode()).hexdigest()[8:16], 16) for t in toks]
        assert list(r["h1"]) == exp1 and list(r["h2"]) == exp2
        assert list(r["h1"]) != list(r["h2"])


def test_pagerank_copartitioned_path_above_broadcast_gate(spark):
    """host_pagerank's rank-side join is size-gated: above the node-count
    gate the plan must carry NO broadcast of the O(nodes) rank table
    (shuffle-hash against the standing edge partitioning instead) and still
    produce bit-identical ranks."""
    from web_crawler_spark.analytics.graph import host_pagerank

    from web_crawler_spark.analytics.graph import PR_ITERS

    base = host_pagerank(spark, SF_DIR)
    gated = host_pagerank(spark, SF_DIR, broadcast_max_nodes=0)

    def plan_of(df):
        # simple mode prints each operator once (formatted repeats it in the
        # per-operator detail section, doubling naive counts)
        return df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "simple"
        )

    p_base, p_gated = plan_of(base), plan_of(gated)
    # each iteration's rank-side join swaps broadcast -> shuffle-hash; the
    # un-hinted nodes-agg left joins stay AQE-decided in both plans (their
    # static estimates scale with the data, so they pose no 10^8-node hazard)
    assert p_gated.count("ShuffledHashJoin") >= PR_ITERS
    assert (
        p_base.count("BroadcastHashJoin") - p_gated.count("BroadcastHashJoin")
        == PR_ITERS
    )

    assert [tuple(r) for r in base.collect()] == [tuple(r) for r in gated.collect()]


def test_dedup_incremental_is_strictly_cross_batch(spark):
    """Incremental dedup must never pair old x old or new x new: every output
    doc_id is in the new ingest batch, every dup_of in the existing corpus,
    and each new doc appears at most once (its single best match)."""
    from web_crawler_spark.analytics.dedup import (
        INCR_MOD,
        JACCARD_T,
        dedup_incremental,
        dedup_minhash_lsh,
    )

    rows = dedup_incremental(spark, SF_DIR).collect()
    assert rows, "sf0.001 corpus is seeded with cross-batch near-dups"
    assert len({r["doc_id"] for r in rows}) == len(rows)
    for r in rows:
        assert r["doc_id"] % INCR_MOD == INCR_MOD - 1
        assert r["dup_of"] % INCR_MOD != INCR_MOD - 1
        assert r["jaccard"] >= JACCARD_T
    # consistency with the symmetric detector: every cross-batch pair the
    # full LSH pass finds must be covered by an incremental verdict for its
    # new-side doc (the incremental band join sees the same buckets)
    full = dedup_minhash_lsh(spark, SF_DIR).collect()
    flagged = {r["doc_id"] for r in rows}
    for p in full:
        new_side = [
            d for d in (p["doc_a"], p["doc_b"]) if d % INCR_MOD == INCR_MOD - 1
        ]
        old_side = [
            d for d in (p["doc_a"], p["doc_b"]) if d % INCR_MOD != INCR_MOD - 1
        ]
        if len(new_side) == 1 and len(old_side) == 1:
            assert new_side[0] in flagged


def test_dedup_incremental_caps_boilerplate_shingles(spark, tmp_path):
    """Planted licence-boilerplate regression: a shingle present in more than
    SHINGLE_DF_CAP docs must be dropped from the verify tier, so (a) a pair
    that shares ONLY boilerplate is never flagged (its uncapped jaccard would
    be ~0.82), and (b) a true near-dup pair is still flagged with jaccard
    computed over discriminative shingles only."""
    from web_crawler_spark.analytics.dedup import (
        INCR_MOD,
        SHINGLE_DF_CAP,
        dedup_incremental,
    )

    boiler = " ".join(f"boiler{i}" for i in range(30))  # 28 boiler shingles
    n_docs = SHINGLE_DF_CAP + 10  # boilerplate shingle df > cap
    rows = []
    for i in range(n_docs):
        tail = f"uniq{i}a uniq{i}b uniq{i}c"
        if i == 2:  # new batch (2 % 3 == INCR_MOD - 1), true dup of doc 3
            tail = "shared tail tokens"
        if i == 3:  # old corpus twin of doc 2
            tail = "shared tail tokens"
        rows.append((i, f"{boiler} {tail}"))
    assert 2 % INCR_MOD == INCR_MOD - 1 and 3 % INCR_MOD != INCR_MOD - 1
    assert 5 % INCR_MOD == INCR_MOD - 1
    sf = str(tmp_path)
    spark.createDataFrame(rows, ["doc_id", "text"]).coalesce(1).write.parquet(
        f"{sf}/documents.parquet"
    )
    out = {r["doc_id"]: r for r in dedup_incremental(spark, sf).collect()}
    # (a) every boilerplate-only new doc stays unflagged
    assert 5 not in out
    assert set(out) == {2}
    # (b) the true pair survives; its discriminative shingles are identical,
    # so capped jaccard is exactly 1.0 (uncapped it would be diluted < 1)
    assert out[2]["dup_of"] == 3
    assert out[2]["jaccard"] == 1.0


def test_corpus_split_is_cluster_coherent(spark):
    """No near-dup pair may straddle the train/valid/test boundary, every doc
    gets exactly one assignment, and the assignment is deterministic."""
    from web_crawler_spark.analytics.dedup import corpus_split, dedup_minhash_lsh

    out = {r["doc_id"]: (r["group_id"], r["split"]) for r in corpus_split(spark, SF_DIR).collect()}
    n_docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").count()
    assert len(out) == n_docs
    splits = {s for _, s in out.values()}
    assert splits <= {"train", "valid", "test"}
    # train must dominate under the 90/5/5 hash split
    n_train = sum(1 for _, s in out.values() if s == "train")
    assert n_train > 0.7 * n_docs
    for p in dedup_minhash_lsh(spark, SF_DIR).collect():
        ga, sa = out[p["doc_a"]]
        gb, sb = out[p["doc_b"]]
        assert ga == gb, f"pair ({p['doc_a']},{p['doc_b']}) split across groups"
        assert sa == sb, f"pair ({p['doc_a']},{p['doc_b']}) split across sets"


def test_cluster_labels_shared_between_split_and_clusters(spark):
    """corpus_split and dedup_clusters must consume ONE component-label
    snapshot per (session, corpus): the LSH + star-labeling pipeline is the
    dominant cost at scale and must not run once per consumer. Pins both the
    memo identity and the semantic agreement (group_id == cluster_id for
    every clustered doc)."""
    from web_crawler_spark.analytics import dedup

    dedup._LABELS_MEMO.clear()
    clusters = {
        r["doc_id"]: r["cluster_id"]
        for r in dedup.dedup_clusters(spark, SF_DIR).collect()
    }
    first = dict(dedup._LABELS_MEMO)
    assert len(first) == 1, "one snapshot per (session, corpus)"
    split = {
        r["doc_id"]: r["group_id"] for r in dedup.corpus_split(spark, SF_DIR).collect()
    }
    assert dedup._LABELS_MEMO == first, "corpus_split rebuilt the labels"
    for doc_id, cid in clusters.items():
        assert split[doc_id] == cid


def test_corpus_stats_rollup_totals(spark):
    """The data card's ROLLUP grand-total row must equal the corpus totals,
    and each source subtotal the sum of its language rows."""
    from web_crawler_spark.analytics.text import corpus_stats

    rows = corpus_stats(spark, SF_DIR).collect()
    n_docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").count()
    grand = [r for r in rows if r["source"] is None and r["lang"] is None]
    assert len(grand) == 1 and grand[0]["n_docs"] == n_docs
    per_src = {r["source"]: r for r in rows if r["source"] is not None and r["lang"] is None}
    leaves = [r for r in rows if r["source"] is not None and r["lang"] is not None]
    for src, sub in per_src.items():
        mine = [r for r in leaves if r["source"] == src]
        assert sub["n_docs"] == sum(r["n_docs"] for r in mine)
        assert sub["n_tokens"] == sum(r["n_tokens"] for r in mine)
    assert grand[0]["n_tokens"] == sum(r["n_tokens"] for r in leaves)


def test_embed_index_stats_consistency(spark):
    """The index health card's single row must be internally consistent and
    agree with an independent recount of the assignment stage."""
    from web_crawler_spark.analytics.similarity import _corpus_cells, embed_index_stats

    r = embed_index_stats(spark, SF_DIR).collect()
    assert len(r) == 1
    r = r[0]
    occ = _corpus_cells(spark, SF_DIR).groupBy("cell").count().collect()
    ns = sorted(c["count"] for c in occ)
    assert r["n_cells"] == len(ns)
    assert r["n_vecs"] == sum(ns)
    assert r["max_occ"] == ns[-1] and r["min_occ"] == ns[0]
    assert abs(r["mean_occ"] - sum(ns) / len(ns)) < 1e-9
    assert abs(r["skew"] - ns[-1] * len(ns) / sum(ns)) < 1e-9
    assert r["min_occ"] <= r["p50_occ"] <= r["p95_occ"] <= r["max_occ"]


def test_cluster_labels_rebuilt_after_corpus_rewrite(spark, tmp_path):
    """The label snapshot is keyed on the corpus file as well as the
    session: rewriting documents.parquet in the same session must yield
    labels of the new corpus, not the memoized ones."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from web_crawler_spark.analytics import dedup

    docs = pq.read_table(f"{SF_DIR}/documents.parquet")
    sf = tmp_path / "sf"
    sf.mkdir()
    pq.write_table(docs, sf / "documents.parquet")
    before = {r["doc_id"]: r["cluster_id"]
              for r in dedup.dedup_clusters(spark, str(sf)).collect()}

    # append an exact copy of the longest doc under a fresh id: a certain pair
    orig = max(range(docs.num_rows), key=lambda i: docs["n_chars"][i].as_py())
    orig_id = docs["doc_id"][orig].as_py()
    new_id = max(docs["doc_id"].to_pylist()) + 1
    dup = docs.slice(orig, 1)
    dup = dup.set_column(dup.schema.get_field_index("doc_id"), "doc_id",
                         pa.array([new_id], pa.int64()))
    pq.write_table(pa.concat_tables([docs, dup]), sf / "documents.parquet")
    after = {r["doc_id"]: r["cluster_id"]
             for r in dedup.dedup_clusters(spark, str(sf)).collect()}

    assert new_id not in before
    assert after[new_id] == after[orig_id]
    assert sum(k[1] == str(sf) for k in dedup._LABELS_MEMO) == 1  # old version evicted
    assert len(dedup._LABELS_MEMO) <= dedup._LABELS_MEMO_MAX
