"""spark-submit entrypoint for the crawl engine (north_rule: "launched via
spark-submit --py-files on multi-executor clusters").

Package the library and submit:

    cd /root/repo && zip -qr /tmp/wcs.zip web_crawler_spark
    spark-submit --py-files /tmp/wcs.zip \
        --conf spark.python.daemon.module=web_crawler_spark.worker_daemon \
        scripts/submit_crawl.py \
        --start-url http://site0.test/p/0 --max-pages 100000 \
        --storage /data/crawl_run_1 [--budget 50000] [--per-host] [--resume]

The ``--py-files`` zip must contain ``web_crawler_spark/worker_daemon.py``:
executors import it to start their Python workers, before any task runs (so
before a task could put the zip on ``sys.path``). The zip must therefore be
on the executors' ``PYTHONPATH`` — YARN does this for ``--py-files``;
elsewhere add ``--conf spark.executorEnv.PYTHONPATH=wcs.zip``. A run started
with plain ``python`` gets the daemon conf from ``session.get_spark``.

In local mode (this sandbox) it runs directly:
    python scripts/submit_crawl.py --start-url ... --storage /tmp/run1
"""

from __future__ import annotations

import argparse
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--start-url", required=True)
    ap.add_argument("--storage", required=True)
    ap.add_argument("--job-id", type=int, default=1)
    ap.add_argument("--max-pages", type=int, default=1000)
    ap.add_argument("--max-depth", type=int, default=10)
    ap.add_argument("--delay", type=float, default=0.0)
    ap.add_argument("--budget", type=int, default=None)
    ap.add_argument("--per-host", action="store_true")
    ap.add_argument("--resume", action="store_true")
    ap.add_argument("--compact-every", type=int, default=None,
                    help="merge+expire completed-round snapshots every k rounds")
    ap.add_argument("--web-pages", type=int, default=30_000,
                    help="synthetic-web universe size (stand-in for the network)")
    args = ap.parse_args()

    from pyspark.sql import SparkSession

    from web_crawler_spark import engine
    from web_crawler_spark.config import JobConfig
    from web_crawler_spark.core import webgen
    from web_crawler_spark.core.robots import generate_rules, rules_by_host

    # under spark-submit the session/master comes from the submit conf;
    # standalone it falls back to the tuned local builder
    if os.environ.get("SPARK_ENV_LOADED"):
        spark = SparkSession.builder.getOrCreate()
    else:
        from web_crawler_spark.session import get_spark

        spark = get_spark(app_name="wcs-crawl")

    subs = ("", "docs.", "app.", "blog.", "shop.", "wiki.", "img.", "dev.")
    cfg = webgen.make_config(n_sites=1, subdomains=subs,
                             base_pages=max(64, args.web_pages // len(subs)),
                             skew=0.5, mean_outlinks=12)
    rules = rules_by_host(generate_rules(cfg))
    job = JobConfig(job_id=args.job_id, start_url=args.start_url,
                    max_pages=args.max_pages, max_depth=args.max_depth,
                    delay=args.delay)
    budget = args.budget if args.budget else engine.politeness_budget(job)
    run = engine.crawl(
        spark, job, cfg, rules, args.storage,
        budget=budget,
        politeness_mode="per_host" if args.per_host else "global",
        resume=args.resume,
        compact_every=args.compact_every,
    )
    n = run.read(spark, "outcomes").count()
    print(json.dumps({"job_id": job.job_id, "rounds": run.rounds, "urls": n,
                      "storage": args.storage}))


if __name__ == "__main__":
    main()
