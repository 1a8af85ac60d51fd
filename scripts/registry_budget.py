"""Driver CORRECTNESS-file budget check.

The external driver writes one JSON entry per registered query and truncates
the file at exactly 8192 bytes (CORRECTNESS_r02.json held 50 of 54 entries,
cut in registry order — three oracle-paired queries silently lost their
rows). This script projects the file size from the CURRENT registry with
realistic row counts and fails if the projection leaves less than the
required safety margin, so a registry addition can never reintroduce the
truncation.

Usage: python scripts/registry_budget.py [--margin 200]
Exit 0 = fits with margin; 1 = over budget (demote/merge an entry into the
LOCAL_QUERIES tier — see web_crawler_spark/analytics/__init__.py).
"""

from __future__ import annotations

import argparse
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

CAP = 8192

# sf0.01 row counts per query (from check_parity.py runs); queries not listed
# are projected at a conservative 5-digit count
KNOWN_ROWS = {
    "doc_pack": 500, "corpus_pipeline": 18, "multimodal_video": 3,
    "image_phash_neardup": 50, "image_decontaminate": 10, "crawl_bfs": 22,
    "corpus_pipeline_full": 500, "embed_semdedup": 500,
    "events_profile": 5, "text_quality": 500, "text_fingerprint": 500,
    "multimodal_image": 3, "frontier_schedule": 450, "seen_antijoin": 257,
    "enrich_join": 4979, "pages_per_job": 1500, "links_per_page": 14743,
    "export_stats": 1, "status_breakdown": 3, "topk_recent": 100,
    "linkgraph_sort": 500, "admission_cap": 500, "first_occurrence": 750,
    "content_stats": 500, "scalar_funcs": 15000, "json_extract": 4970,
    "hourly_rollup": 3385, "session_rollup": 9858, "attribution_join": 33,
    "asof_join": 1981, "stratified_sample": 3771, "url_canonicalize": 10000,
    "dedup_exact": 500, "corpus_decontaminate": 310,
    "dedup_ngram_jaccard": 25, "dedup_minhash_lsh": 25,
    "dedup_simhash_pairs": 868, "dedup_clusters": 47, "text_langid": 500,
    "corpus_retention": 500, "host_pagerank": 97, "tfidf_topterms": 1500,
    "approx_distinct_kmv": 1, "embed_cosine_topk": 160, "embed_lsh_ann": 160,
    "embed_ivf_ann": 160, "multimodal_audio": 2,
    "dedup_incremental": 15, "span_dedup": 500, "text_classify_quality": 500,
}


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--margin", type=int, default=200)
    args = ap.parse_args()

    import __spark_entry__ as e

    names = list(e.queries())
    projected = {
        n: {
            "rows_match": True,
            "schema_match": True,
            "hash_match": True,
            "spark_rows": KNOWN_ROWS.get(n, 99999),
            "oracle_rows": KNOWN_ROWS.get(n, 99999),
            "err": None,
        }
        for n in names
    }
    size = len(json.dumps(projected, indent=2))
    ok = size + args.margin <= CAP
    print(
        f"registry: {len(names)} entries, projected {size} B of {CAP} B cap "
        f"({CAP - size} B slack, {args.margin} B required) -> "
        f"{'OK' if ok else 'OVER BUDGET'}"
    )
    if not ok:
        overflow_at = None
        acc = len("{\n")
        for i, n in enumerate(names):
            entry = json.dumps({n: projected[n]}, indent=2)[2:-2] + ",\n"
            acc += len(entry)
            if acc > CAP - args.margin and overflow_at is None:
                overflow_at = (i, n)
        print(f"first entry past the safe line: index {overflow_at[0]} ({overflow_at[1]})")
        print("demote a redundant entry to LOCAL_QUERIES (analytics/__init__.py)")
    return 0 if ok else 1


if __name__ == "__main__":
    raise SystemExit(main())
