"""Batch/stream parity: the streaming rollup over a static directory must
produce exactly the batch aggregation (same plan shape, readStream source)."""

import shutil

from pyspark.sql import functions as F

from web_crawler_spark.streaming import stream_rollup

SF_EVENTS = "/root/testdata/sf0.001/events.parquet"


def test_stream_rollup_matches_batch(spark, tmp_path):
    src = tmp_path / "events_stream"
    src.mkdir()
    shutil.copy(SF_EVENTS, src / "part-0.parquet")

    q = stream_rollup.run_to_memory(
        stream_rollup.rollup_stream(spark, str(src), window="1 hour", watermark="2 hours"),
        name="rollup_t",
    )
    try:
        got = {
            (r["window_start"], r["event_type"]): (r["n_events"], r["total_value"])
            for r in spark.table("rollup_t").collect()
        }
    finally:
        q.stop()

    batch = (
        spark.read.parquet(SF_EVENTS)
        .groupBy(F.date_trunc("hour", "ts").alias("window_start"), "event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.sum(F.col("value").cast("decimal(38,10)")).cast("double").alias("total_value"),
        )
    )
    want = {
        (r["window_start"], r["event_type"]): (r["n_events"], r["total_value"])
        for r in batch.collect()
    }
    assert got == want and len(got) > 0


def test_session_stream_matches_batch(spark, tmp_path):
    """Session-window parity: streaming session_window over a static
    directory must equal the batch session_window plan. Complete mode —
    append only emits a session once the watermark passes its end, and a
    bounded availableNow run stops before that flush; complete outputs the
    full (open + closed) session state, which is the batch answer."""
    src = tmp_path / "events_sess"
    src.mkdir()
    shutil.copy(SF_EVENTS, src / "part-0.parquet")

    q = stream_rollup.run_to_memory(
        stream_rollup.session_stream(spark, str(src), gap="10 minutes", watermark="2 hours"),
        name="sess_t",
        mode="complete",
    )
    try:
        got = {
            (r["user_id"], r["session_start"]): (r["session_end"], r["n_events"], r["total_value"])
            for r in spark.table("sess_t").collect()
        }
    finally:
        q.stop()

    batch = (
        spark.read.parquet(SF_EVENTS)
        .groupBy(F.session_window("ts", "10 minutes").alias("sw"), "user_id")
        .agg(
            F.count("*").alias("n_events"),
            F.sum(F.col("value").cast("decimal(38,10)")).cast("double").alias("total_value"),
        )
    )
    want = {
        (r["user_id"], r["sw"]["start"]): (r["sw"]["end"], r["n_events"], r["total_value"])
        for r in batch.collect()
    }
    assert got == want and len(got) > 0


def test_stream_join_matches_batch(spark, tmp_path):
    """Stream-stream interval join parity: the watermarked click→purchase
    attribution join over a static directory must emit exactly the batch
    inner join with the same interval predicate (append mode; inner-join
    rows emit as matches arrive, the watermark only bounds state)."""
    from web_crawler_spark.streaming import stream_join

    src = tmp_path / "events_join"
    src.mkdir()
    shutil.copy(SF_EVENTS, src / "part-0.parquet")

    q = stream_rollup.run_to_memory(
        stream_join.attribution_stream(spark, str(src), watermark="35 days", max_lag="1 hour"),
        name="attrib_t",
        mode="append",
    )
    try:
        got = sorted(
            (r["user_id"], r["click_id"], r["purchase_id"], r["purchase_value"], r["lag_s"])
            for r in spark.table("attrib_t").collect()
        )
    finally:
        q.stop()

    want = sorted(
        (r["user_id"], r["click_id"], r["purchase_id"], r["purchase_value"], r["lag_s"])
        for r in stream_join.attribution_batch(spark, str(src), max_lag="1 hour").collect()
    )
    assert got == want and len(got) > 0


def test_stateful_dedup_stream(spark, tmp_path):
    """applyInPandasWithState URL dedup: cross-microbatch state keeps only
    first occurrences, matching a batch first-occurrence dedup exactly."""
    import pandas as pd

    from web_crawler_spark.streaming import stateful_dedup

    src = tmp_path / "url_events"
    src.mkdir()
    rows1 = [(f"http://h{i % 3}.test/p/{i % 10}", i % 10, i % 3, i) for i in range(30)]
    rows2 = [(f"http://h{i % 3}.test/p/{i % 14}", i % 14, i % 3, 100 + i) for i in range(40)]
    cols = ["url", "url_hash", "host_bucket", "seq"]

    def write(rows, name):
        pdf = pd.DataFrame(rows, columns=cols)
        pdf["host_bucket"] = pdf["host_bucket"].astype("int32")
        pdf.to_parquet(src / name)

    write(rows1, "b1.parquet")
    write(rows2, "b2.parquet")

    q = stateful_dedup.run_to_memory(
        stateful_dedup.dedup_stream(spark, str(src)), name="dedup_t"
    )
    try:
        got = {
            (r["host_bucket"], r["url_hash"]): r["first_seq"]
            for r in spark.table("dedup_t").collect()
        }
    finally:
        q.stop()

    # batch oracle: min seq per (host_bucket, url_hash) — but only when the
    # stream sees files in order; availableNow with maxFilesPerTrigger=1
    # processes b1 then b2, so first_seq is the min seq overall
    import itertools

    want = {}
    for url, h, hb, seq in itertools.chain(rows1, rows2):
        want.setdefault((hb, h), seq)
    assert got == want


def test_stream_kmv_matches_batch(spark, tmp_path):
    """Streaming KMV sketch parity: per-shard k-minima state, fed the events
    table in 3 arbitrary chunks, merges to the EXACT kth_min/est_distinct of
    the batch approx_distinct_kmv query (sketch union == batch TakeOrdered)."""
    from web_crawler_spark.analytics.graph import approx_distinct_kmv
    from web_crawler_spark.streaming import stream_kmv

    ev = spark.read.parquet(SF_EVENTS)
    hashed = stream_kmv.hashed_keys(ev, "event_id")
    src = tmp_path / "kmv_stream"
    # 3 chunk files: cross-batch state merging is what's under test
    hashed.withColumn("_c", F.pmod(F.col("h"), F.lit(3))).repartition(3, "_c").drop(
        "_c"
    ).write.parquet(str(src))

    q = stream_rollup.run_to_memory(
        stream_kmv.kmv_stream(spark, str(src)), name="kmv_t", mode="update"
    )
    try:
        rows = spark.table("kmv_t").collect()
    finally:
        q.stop()
    # live sketch = the row with the max update counter per shard
    latest = {}
    for r in rows:
        if r["shard"] not in latest or r["upd"] > latest[r["shard"]]["upd"]:
            latest[r["shard"]] = r
    merged = stream_kmv.merge_shard_minima([r["minima"] for r in latest.values()])

    batch = approx_distinct_kmv(spark, "/root/testdata/sf0.001").collect()[0]
    assert merged["kth_min"] == batch["kth_min"]
    assert merged["est_distinct"] == batch["est_distinct"]
    assert merged["k_seen"] == batch["k_seen"]


def test_stream_phash_neardup_matches_batch(spark, tmp_path):
    """Ingest-time image near-dup stream (stream-static block join) must
    equal its batch twin: every arriving `img-N-v` variant is flagged
    against its indexed base image, with identical Hamming distances."""
    from web_crawler_spark.analytics.multimodal import _images_with_variants
    from web_crawler_spark.streaming import stream_phash

    all_imgs = _images_with_variants(spark, "/root/testdata/sf0.001")
    src = tmp_path / "img_stream"
    # the arriving stream: every image (bases + variants)
    all_imgs.write.parquet(str(src))
    # the static index: the already-accepted corpus = base images only
    index = (
        spark.read.parquet(str(src))
        .filter(~F.col("image_id").endswith("-v"))
        .select(F.col("image_id").alias("index_id"), "phash")
    )

    q = stream_phash.run_to_memory(
        stream_phash.neardup_stream(spark, str(src), index), name="phash_t"
    )
    try:
        got = {
            (r["image_id"], r["index_id"]): r["hamming"]
            for r in spark.table("phash_t").collect()
        }
    finally:
        q.stop()

    want = {
        (r["image_id"], r["index_id"]): r["hamming"]
        for r in stream_phash.neardup_batch(spark, str(src), index).collect()
    }
    assert got == want and len(got) > 0
    # every planted variant matched its base in the index
    variants = {r["image_id"] for r in spark.read.parquet(str(src)).collect()
                if r["image_id"].endswith("-v")}
    matched = {img for (img, _) in got}
    assert variants <= matched


def test_stream_curate_matches_batch(spark, tmp_path):
    """Ingest-time curation stream: the complete-mode verdict over a static
    source equals its batch twin row-for-row, and each gate's semantics
    match the batch analytics components (text_fingerprint/text_quality/
    text_repetition) plus pure-Python replicas of the segment and sampling
    probes on the same documents."""
    import hashlib
    import math
    import re

    from web_crawler_spark.analytics import LOCAL_QUERIES, QUERIES
    from web_crawler_spark.analytics.text import (
        MIN_WORDS,
        QUALITY_T,
        SEG_SHARED_T,
        _RESAMPLE_SCALE,
    )
    from web_crawler_spark.streaming import stream_curate

    sf_dir = "/root/testdata/sf0.001"
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    corpus = docs.filter(F.col("doc_id") < 250)    # the accepted index side
    arriving = docs.filter(F.col("doc_id") >= 250)   # the stream (same 20 sources)
    src = tmp_path / "doc_stream"
    arriving.write.parquet(str(src))

    fp, segs, rates = stream_curate.build_indexes(spark, corpus)
    fp, segs, rates = fp.cache(), segs.cache(), rates.cache()

    q = stream_curate.run_to_memory(
        stream_curate.curate_stream(spark, str(src), fp, segs, rates), name="curate_t"
    )
    try:
        got = {r["doc_id"]: r["drop_reason"] for r in spark.table("curate_t").collect()}
    finally:
        q.stop()
    want = {
        r["doc_id"]: r["drop_reason"]
        for r in stream_curate.curate_batch(spark, str(src), fp, segs, rates).collect()
    }
    assert got == want and len(got) == 250

    # cross-check each gate against the batch components / python replicas
    fng = {r["doc_id"]: r["fingerprint"] for r in QUERIES["text_fingerprint"](spark, sf_dir).collect()}
    idx_fps = {fng[i] for i in fng if i < 250}
    quality = {r["doc_id"]: (r["quality"], r["n_words"]) for r in QUERIES["text_quality"](spark, sf_dir).collect()}
    rep = {r["doc_id"]: r["rep_ok"] for r in LOCAL_QUERIES["text_repetition"](spark, sf_dir).collect()}
    texts = {r["doc_id"]: r["text"] for r in docs.collect()}
    rate_by_src = {r["source"]: r["rate"] for r in rates.collect()}
    src_of = {r["doc_id"]: r["source"] for r in docs.collect()}

    def seg_hashes(text):
        ws = re.split(r"\s+", text.strip().lower())
        out = []
        for i in range(math.ceil(len(ws) / 10)):
            seg = " ".join(ws[i * 10:i * 10 + 10])
            out.append(int(hashlib.md5(seg.encode()).hexdigest()[:15], 16))
        return list(dict.fromkeys(out))

    from web_crawler_spark.analytics.text import CLF_STOP_BOOST, CLF_WMOD, STOPWORDS

    clf_stops = set(STOPWORDS["en"])

    def clf_logit(text):
        half = (CLF_WMOD - 1) // 2
        total = 0
        for w in re.split(r"\s+", text.strip().lower()):
            if w in clf_stops:
                total += CLF_STOP_BOOST
            else:
                total += int(hashlib.md5(w.encode()).hexdigest()[:15], 16) % CLF_WMOD - half
        return total

    idx_segs = set()
    for i in texts:
        if i < 250:
            idx_segs.update(seg_hashes(texts[i]))

    n_reasons = {}
    for doc_id, reason in got.items():
        qual, n_words = quality[doc_id]
        hs = seg_hashes(texts[doc_id])
        shared = sum(1 for h in hs if h in idx_segs)
        rate = rate_by_src.get(src_of[doc_id], 1.0)
        h48 = int(hashlib.md5(str(doc_id).encode()).hexdigest()[:12], 16)
        if fng[doc_id] in idx_fps:
            exp = "near_duplicate"
        elif n_words < MIN_WORDS:
            exp = "too_short"
        elif qual < QUALITY_T:
            exp = "low_quality"
        elif not rep[doc_id]:
            exp = "repetitive"
        elif shared / len(hs) >= SEG_SHARED_T:
            exp = "boilerplate"
        elif clf_logit(texts[doc_id]) < 0:
            exp = "model_filtered"
        elif h48 >= math.floor(rate * _RESAMPLE_SCALE):
            exp = "downsampled"
        else:
            exp = "kept"
        assert reason == exp, f"doc {doc_id}: {reason} != {exp}"
        n_reasons[reason] = n_reasons.get(reason, 0) + 1
    # the corpus exercises the precedence chain
    assert {"repetitive", "model_filtered", "downsampled", "kept"} <= set(n_reasons)


def test_stream_curate_image_matches_batch(spark, tmp_path):
    """Ingest-time image curation stream: the complete-mode verdict over a
    static source equals its batch twin row-for-row, and every gate fires
    with the expected python-replica semantics — arriving variants of
    INDEXED bases drop as near_duplicate, variants of un-indexed bases fall
    through to the metadata gates, planted miscaptions gate out as
    misaligned, and an unresolvable caption reference defaults to accept."""
    from web_crawler_spark.analytics.multimodal import (
        IMG_MAX_ASPECT,
        IMG_MIN_SIDE,
        _images_with_variants,
    )
    from web_crawler_spark.streaming import stream_curate_image

    sf_dir = "/root/testdata/sf0.001"
    all_imgs = _images_with_variants(spark, sf_dir)
    doc = F.regexp_extract("image_id", r"^img-(\d+)", 1).cast("bigint")
    is_var = F.col("image_id").endswith("-v")
    # accepted corpus/index = bases img-0..99; arriving = img-100..199 + ALL variants
    corpus = all_imgs.filter((doc < 100) & ~is_var)
    miscap = F.concat(F.lit("caption for img-"), ((doc + 7) % 200).cast("string"))
    arriving = (
        all_imgs.filter((doc >= 100) | is_var)
        .withColumn(
            "caption",
            F.when((doc % 13 == 0) & ~is_var, miscap)
            .when(doc == 101, F.lit("caption for img-9999"))  # unresolvable ref
            .otherwise(F.col("caption")),
        )
    )
    src = tmp_path / "img_curate_stream"
    arriving.write.parquet(str(src))

    index = stream_curate_image.build_index(corpus).cache()
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")

    q = stream_curate_image.run_to_memory(
        stream_curate_image.curate_stream(spark, str(src), index, emb), name="img_curate_t"
    )
    try:
        got = {r["image_id"]: (r["drop_reason"], r["keep"])
               for r in spark.table("img_curate_t").collect()}
    finally:
        q.stop()
    want = {
        r["image_id"]: (r["drop_reason"], r["keep"])
        for r in stream_curate_image.curate_batch(spark, str(src), index, emb).collect()
    }
    assert got == want and len(got) == 150  # 100 fresh bases + 50 variants

    dims = {r["image_id"]: (r["w"], r["h"]) for r in arriving.collect()}
    seen = set()
    for iid, (reason, keep) in got.items():
        base_id = int(iid[4:].removesuffix("-v"))
        w, h = dims[iid]
        if iid.endswith("-v") and base_id < 100:
            exp = "near_duplicate"  # base is in the static index
        elif min(w, h) < IMG_MIN_SIDE:
            exp = "too_small"
        elif max(w, h) > IMG_MAX_ASPECT * min(w, h):
            exp = "bad_aspect"
        elif base_id % 13 == 0 and not iid.endswith("-v"):
            exp = "misaligned"  # planted wrong caption, resolvable ref
        else:
            exp = "kept"  # incl. img-101's unresolvable ref -> default accept
        assert reason == exp, f"{iid}: {reason} != {exp}"
        assert keep == (reason == "kept")
        seen.add(reason)
    assert {"near_duplicate", "too_small", "bad_aspect", "misaligned", "kept"} <= seen
    assert got["img-101"][0] in ("kept", "too_small", "bad_aspect")


def test_stream_decontaminate_matches_batch(spark, tmp_path):
    """Ingest-time semantic decontamination: the complete-mode verdict over
    a static source equals its batch twin row-for-row AND, because the
    index is built from the same embeddings table the batch query reads,
    equals embed_decontaminate's own verdicts vector-for-vector (same
    broadcast centroids -> same cells -> same per-cell benchmark probes)."""
    from web_crawler_spark.analytics import LOCAL_QUERIES
    from web_crawler_spark.analytics.similarity import EMBED_DECON_MOD
    from web_crawler_spark.streaming import stream_decontaminate

    sf_dir = "/root/testdata/sf0.001"
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    arriving = emb.filter(F.col("vec_id") % EMBED_DECON_MOD != 0)
    src = tmp_path / "emb_stream"
    arriving.write.parquet(str(src))

    bc_cent, bench = stream_decontaminate.build_index(spark, emb)
    bench = bench.cache()

    q = stream_decontaminate.run_to_memory(
        stream_decontaminate.decontaminate_stream(spark, str(src), bc_cent, bench),
        name="decon_t",
    )
    try:
        got = {r["vec_id"]: (r["cell"], r["contaminated"])
               for r in spark.table("decon_t").collect()}
    finally:
        q.stop()
    want = {
        r["vec_id"]: (r["cell"], r["contaminated"])
        for r in stream_decontaminate.decontaminate_batch(
            spark, str(src), bc_cent, bench
        ).collect()
    }
    assert got == want and len(got) == arriving.count()

    # cross-check against the batch analytics query on the same table
    batch = {
        r["vec_id"]: (r["cell"], r["contaminated"])
        for r in LOCAL_QUERIES["embed_decontaminate"](spark, sf_dir).collect()
    }
    assert got == batch
    n_hits = sum(1 for _, c in got.values() if c)
    assert 0 < n_hits < len(got)  # the benchmark split is actually probed


def test_stream_spans_matches_batch_and_span_dedup(spark, tmp_path):
    """Ingest-time duplicated-passage probe: the complete-mode verdict over
    a static source equals its batch twin row-for-row AND — because the
    index is built from the same documents table and the streamed docs ARE
    that corpus (cross-document self-match rule applies) — equals
    span_dedup's window-plan verdicts doc-for-doc, proving the streaming
    fold formulation of the interval merge against the batch
    gaps-and-islands window."""
    from web_crawler_spark.analytics import QUERIES
    from web_crawler_spark.streaming import stream_spans

    sf_dir = "/root/testdata/sf0.001"
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    src = tmp_path / "doc_stream"
    docs.write.parquet(str(src))

    index = stream_spans.build_index(spark, docs).cache()

    q = stream_spans.run_to_memory(
        stream_spans.spans_stream(spark, str(src), index), name="spans_t"
    )
    def key(r):
        return (r["n_words"], r["n_spans"], r["dup_tokens"], r["dup_ratio"], r["keep"])
    try:
        got = {r["doc_id"]: key(r) for r in spark.table("spans_t").collect()}
    finally:
        q.stop()
    want = {
        r["doc_id"]: key(r)
        for r in stream_spans.spans_batch(spark, str(src), index).collect()
    }
    assert got == want and len(got) == docs.count()

    # cross-check the fold plan against span_dedup's window plan
    batch = {r["doc_id"]: key(r) for r in QUERIES["span_dedup"](spark, sf_dir).collect()}
    assert got == batch
    n_dup = sum(1 for _, _, dt, _, _ in got.values() if dt > 0)
    assert 0 < n_dup < len(got)  # real duplicated passages, not all/none


def test_stream_neardup_matches_batch_and_dedup_incremental(spark, tmp_path):
    """Ingest-time near-dup admission: the complete-mode verdict over a
    static source equals its batch twin row-for-row AND — because the band
    index is built from the corpus split of the same documents table while
    the new-batch split is streamed — equals dedup_incremental's verdicts
    doc-for-doc (per-row array-fold signatures vs the batch tier's
    partial-agg groupBy formulation: two independent plans, same rows)."""
    from web_crawler_spark.analytics.dedup import INCR_MOD, dedup_incremental
    from web_crawler_spark.streaming import stream_neardup

    sf_dir = "/root/testdata/sf0.001"
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    is_new = F.col("doc_id") % INCR_MOD == INCR_MOD - 1
    src = tmp_path / "doc_stream"
    docs.filter(is_new).write.parquet(str(src))

    # df_population = the FULL documents table: dedup_incremental counts
    # boilerplate df over corpus + batch (both derive from `documents`)
    band_index, shingle_sets, hot_row = stream_neardup.build_index(
        spark, docs.filter(~is_new), df_population=docs
    )
    band_index = band_index.cache()
    shingle_sets = shingle_sets.cache()
    hot_row = hot_row.cache()

    q = stream_neardup.run_to_memory(
        stream_neardup.neardup_stream(
            spark, str(src), band_index, shingle_sets, hot_row
        ),
        name="neardup_t",
    )
    try:
        got = {r["doc_id"]: (r["dup_of"], round(r["jaccard"], 9))
               for r in spark.table("neardup_t").collect()}
    finally:
        q.stop()

    want = {
        r["doc_id"]: (r["dup_of"], round(r["jaccard"], 9))
        for r in stream_neardup.neardup_batch(
            spark, str(src), band_index, shingle_sets, hot_row
        ).collect()
    }
    assert got == want

    batch = {
        r["doc_id"]: (r["dup_of"], round(r["jaccard"], 9))
        for r in dedup_incremental(spark, sf_dir).collect()
    }
    assert got == batch
    assert got, "sf0.001 corpus is seeded with cross-batch near-dups"


def test_stream_neardup_signatures_match_pure_python_on_edge_docs(spark):
    """The per-row array-fold minhash formulation must equal an independent
    pure-Python recompute on edge documents the corpus never exercises:
    empty text, <3 words (no shingles -> null minhashes), repeated
    shingles, mixed/tab whitespace, leading/trailing space, non-ASCII."""
    import hashlib
    import re

    from web_crawler_spark.analytics.dedup import MINHASH_AB, MINHASH_P
    from web_crawler_spark.streaming import stream_neardup

    texts = [
        "",
        "one",
        "one two",
        "a b c",
        "a  b\tc  a b c",
        "x y z x y z w",
        "ä ö ü ä ö ü",
        "  lead mid trail  ",
    ]
    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    got = {r["doc_id"]: r for r in stream_neardup._signatures(docs).collect()}

    for i, t in enumerate(texts):
        w = re.split(r"\s+", t.strip().lower())
        shs = (
            [" ".join(w[j : j + 3]) for j in range(len(w) - 2)] if len(w) >= 3 else []
        )
        hs = [int(hashlib.md5(s.encode()).hexdigest()[:15], 16) for s in shs]
        r = got[i]
        assert sorted(r["sh"]) == sorted(set(hs)), f"doc {i} shingle set"
        assert r["n_sh"] == len(set(hs)), f"doc {i} n_sh"
        for k, (a, b) in enumerate(MINHASH_AB):
            want = min(((h % MINHASH_P) * a + b) % MINHASH_P for h in hs) if hs else None
            assert r[f"mh{k}"] == want, f"doc {i} mh{k}"


def test_stream_split_admits_arrivals_into_corpus_clusters(spark, tmp_path):
    """Ingest-time split admission: (1) stream == batch twin row-for-row;
    (2) an arrival that near-dup-matches a corpus doc inherits that doc's
    corpus_split group and split verbatim, unmatched arrivals become
    singleton groups; (3) on this constructed corpus — arrivals join at
    most one cluster each, all arrival ids above the component min — the
    streaming assignment equals a full batch corpus_split re-run
    bit-for-bit, and the re-run leaves every corpus assignment unchanged
    (the regime where stable admission and re-computation agree)."""
    from web_crawler_spark.analytics import dedup
    from web_crawler_spark.streaming import stream_split

    def doc(vocab: str, n: int = 40, extra: str = "") -> str:
        base = " ".join(f"{vocab}{i}" for i in range(n))
        return f"{base} {extra}".strip()

    corpus_rows = [
        (0, doc("alpha")),                 # cluster A...
        (1, doc("alpha", extra="tailA")),  # ...near-copy of 0
        (3, doc("beta")),                  # cluster B...
        (4, doc("beta", extra="tailB")),   # ...near-copy of 3
        (7, doc("gamma")),                 # singleton corpus doc
        (9, doc("delta")),                 # singleton corpus doc
    ]
    arrival_rows = [
        (100, doc("alpha", extra="newA")),   # joins cluster A
        (102, doc("gamma", extra="newG")),   # joins singleton 7's group
        (104, doc("omega")),                 # matches nothing -> own group
    ]
    full_cols = ["doc_id", "text", "lang", "source", "n_chars"]

    def widen(rows):
        return [(i, t, "en", "s0", len(t)) for i, t in rows]

    corpus_dir = tmp_path / "corpus"
    full_dir = tmp_path / "full"
    src = tmp_path / "arrivals"
    corpus = spark.createDataFrame(widen(corpus_rows), full_cols)
    corpus.write.parquet(f"{corpus_dir}/documents.parquet")
    spark.createDataFrame(
        widen(corpus_rows + arrival_rows), full_cols
    ).write.parquet(f"{full_dir}/documents.parquet")
    spark.createDataFrame(widen(arrival_rows), full_cols).write.parquet(str(src))

    state = stream_split.build_split_state(spark, corpus)
    state = tuple(df.cache() for df in state)

    from web_crawler_spark.streaming.stream_neardup import run_to_memory

    q = run_to_memory(
        stream_split.split_stream(spark, str(src), state), name="split_t"
    )
    try:
        got = {
            r["doc_id"]: (r["group_id"], r["matched"], r["split"])
            for r in spark.table("split_t").collect()
        }
    finally:
        q.stop()

    want = {
        r["doc_id"]: (r["group_id"], r["matched"], r["split"])
        for r in stream_split.split_batch(spark, str(src), state).collect()
    }
    assert got == want  # (1) engine parity

    base = {
        r["doc_id"]: (r["group_id"], r["split"])
        for r in dedup.corpus_split(spark, str(corpus_dir)).collect()
    }
    assert got[100] == (base[0][0], True, base[0][1])  # inherits cluster A
    assert got[102] == (base[7][0], True, base[7][1])  # singleton 7's group
    assert got[104] == (104, False, got[104][2])  # new singleton group

    rerun = {
        r["doc_id"]: (r["group_id"], r["split"])
        for r in dedup.corpus_split(spark, str(full_dir)).collect()
    }
    for doc_id, (group_id, _m, split) in got.items():  # (3) re-run agreement
        assert rerun[doc_id] == (group_id, split)
    for doc_id, assignment in base.items():  # corpus rows never moved
        assert rerun[doc_id] == assignment


def test_stream_split_colliding_doc_id_stays_singleton(spark, tmp_path):
    """An unmatched arrival whose doc_id equals a clustered corpus doc's id
    must become its own singleton group, not inherit that corpus doc's
    group through the label lookup — in both the stream and its batch twin."""
    from web_crawler_spark.streaming import stream_split
    from web_crawler_spark.streaming.stream_neardup import run_to_memory

    def doc(vocab: str, extra: str = "") -> str:
        return f"{' '.join(f'{vocab}{i}' for i in range(40))} {extra}".strip()

    def frame(rows):
        return spark.createDataFrame(
            [(i, t, "en", "s0", len(t)) for i, t in rows],
            ["doc_id", "text", "lang", "source", "n_chars"],
        )

    corpus = frame([(0, doc("alpha")), (1, doc("alpha", "tailA")), (7, doc("gamma"))])
    src = str(tmp_path / "arrivals")
    frame([(1, doc("omega"))]).write.parquet(src)  # dissimilar, reuses id 1
    state = tuple(df.cache() for df in stream_split.build_split_state(spark, corpus))

    q = run_to_memory(stream_split.split_stream(spark, src, state), name="split_collide")
    try:
        streamed = [(r["doc_id"], r["group_id"], r["matched"])
                    for r in spark.table("split_collide").collect()]
    finally:
        q.stop()
    batch = [(r["doc_id"], r["group_id"], r["matched"])
             for r in stream_split.split_batch(spark, src, state).collect()]
    assert streamed == [(1, 1, False)]
    assert batch == [(1, 1, False)]
