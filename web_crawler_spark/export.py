"""The export query (reference entry point 3, SURVEY.md §3.3).

``GET /job/<id>/export`` assembles a nested JSON document
(``Crawler/app.py:367-487``, doc shape at 409-443) via a full page scan plus
per-page N+1 link queries (``Crawler/database.py:476-481``). The rebuild is
ONE Spark plan: crawl_log ⋈ (links grouped+sorted per page) ordered by
schedule rank, with the A4 statistics as a single aggregation — the canonical
Catalyst-friendly rewrite of the reference's N+1 loop.

Determinism: the reference orders pages by wall-clock ``crawled_at`` and
stamps ``datetime.now()``; here ordering is the deterministic
``(round, schedule_rank)`` and the export stamp is the final round number.
"""

from __future__ import annotations

import json

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from .engine import CrawlRun


def _pages_with_links(spark: SparkSession, run: CrawlRun):
    log = run.read(spark, "crawl_log")
    links = run.read(spark, "links")
    # one grouped agg replaces the reference's per-page link loop
    # (database.py:476-481); ordered arrays make insertion-order explicit
    per_page = links.groupBy("from_url").agg(
        F.array_sort(
            F.collect_list(F.struct("link_idx", "to_url", "link_text"))
        ).alias("_ls")
    ).select(
        "from_url",
        F.transform(
            "_ls", lambda s: F.struct(s["to_url"].alias("url"), s["link_text"].alias("text"))
        ).alias("links"),
    )
    return (
        log.join(per_page, log.url == per_page.from_url, "left")
        .drop("from_url")
        .withColumn("links", F.coalesce("links", F.array()))
    )


def export_job_json(spark: SparkSession, run: CrawlRun) -> dict:
    """Full nested export doc (app.py:409-443 shape)."""
    job = run.job
    stats_row = (
        _pages_with_links(spark, run)
        .agg(
            F.count("*").alias("total_pages"),
            F.sum(F.size("links")).alias("total_links"),
            F.sum(F.col("content.word_count")).alias("total_words"),
            F.round(F.avg(F.col("content.word_count"))).alias("avg_words_per_page"),
        )
        .first()
    )
    pages = (
        _pages_with_links(spark, run)
        .orderBy("schedule_rank")  # deterministic stand-in for crawled_at ASC
        .collect()
    )
    return {
        "export_info": {"format_version": 1, "exported_at_round": run.rounds},
        "job_info": {
            "parameters": {
                "job_id": job.job_id,
                "start_url": job.start_url,
                "max_pages": job.max_pages,
                "max_depth": job.max_depth,
                "delay": job.delay,
            },
            "statistics": {
                "total_pages": stats_row["total_pages"],
                "total_links": int(stats_row["total_links"] or 0),
                "total_words": int(stats_row["total_words"] or 0),
                "avg_words_per_page": int(stats_row["avg_words_per_page"] or 0),
            },
        },
        "crawled_data": {
            "pages": [
                {
                    "url": r["url"],
                    "title": r["title"],
                    "depth": r["depth"],
                    "status_code": r["status_code"],
                    "schedule_rank": r["schedule_rank"],
                    "metadata": r["metadata"].asDict(),
                    "headings": {k: list(v) for k, v in r["headings"].items()},
                    "content": r["content"].asDict(),
                    "links": [{"url": l["url"], "text": l["text"]} for l in r["links"]],
                }
                for r in pages
            ],
        },
    }


def preview_export(spark: SparkSession, run: CrawlRun) -> dict:
    """Export preview: first 3 pages + the reference's size heuristic
    (len(sample_json) * n_pages, app.py:517-526)."""
    pw = _pages_with_links(spark, run)
    n_pages = pw.count()
    sample = pw.orderBy("schedule_rank").limit(3).collect()
    sample_doc = [
        {"url": r["url"], "title": r["title"], "depth": r["depth"]} for r in sample
    ]
    per_page = len(json.dumps(sample_doc[0])) if sample_doc else 0
    return {
        "pages_preview": sample_doc,
        "n_pages": n_pages,
        "estimated_size_bytes": per_page * n_pages,
    }


def export_job_jsonl(spark: SparkSession, run: CrawlRun, path: str) -> str:
    """Engine-scale export: the same per-page nested doc as
    ``export_job_json()["crawled_data"]["pages"]`` written as JSON Lines by
    the executors (``df.write.text``) — no driver collect, so a 10^8-page
    crawl exports at cluster bandwidth instead of OOMing the driver.

    ``export_job_json`` stays as the reference-shaped small export
    (``Crawler/app.py:409-443``, bounded by the reference's max_pages ≤ 1000,
    app.py:206-216); this is the path for crawls the reference could never
    hold in one response. Rows are range-partitioned and sorted by
    schedule_rank, so concatenating part files in order yields the global
    crawl order; each line also carries schedule_rank for re-sorting.
    """
    pw = _pages_with_links(spark, run)
    (
        pw.repartitionByRange("schedule_rank")
        .sortWithinPartitions("schedule_rank")
        .select(
            F.to_json(
                F.struct(
                    "url", "title", "depth", "status_code", "schedule_rank",
                    "metadata", "headings", "content", "links",
                ),
                {"ignoreNullFields": "false"},
            ).alias("value")
        )
        .write.mode("overwrite")
        .text(path)
    )
    return path
