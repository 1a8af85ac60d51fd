"""Benchmark of the web_crawler_spark engine and its analytics queries.

Run from the repository root:

    python3 perfbench/run.py --workload crawl_wide --seed 1 --seconds 8 --trace 0

Workloads (all on ``local[nproc]`` in this one process):

- ``crawl_wide``: reference-exact global FIFO crawl, no politeness budget, a
  few level-synchronous rounds of hundreds to thousands of URLs each.
- ``crawl_narrow``: the same web with a small global politeness budget and
  compaction, stopped after a few rounds and resumed: tens of narrow rounds,
  so per-round fixed cost dominates.
- ``curate_sf01``: analytics queries over the fixed sf0.01 tables in
  ``perfbench/data``, each to a noop sink; the seed does not apply.

A run builds the inputs and the oracle from ``--seed`` (untimed), starts the
Spark session three times (``setup_s`` is the median), runs one checked
warm-up operation, then repeats the operation until ``--seconds`` have
passed. Every crawl is checked against ``core.oracle.simulate``; the curate
queries are checked once per process against their DuckDB oracles.

``--trace 0`` prints the end-to-end metrics of BENCHMARK.json. ``--trace 1``
alternates untraced and traced operations and prints the per-layer metrics,
including the tracing overhead (traced minus untraced operation wall).

The last stdout line is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics``. Details of every run (environment, canary
readings, per-operation and per-query numbers) go to ``perfbench/out/``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import tempfile
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
DRIVER_MEMORY = "2g"
SETUP_REPS = 3
# A run that has used this much wall time stops starting new operations, so
# it ends well inside the 180 s a run may take.
RUN_CAP_S = 120


def make_workload(name: str, cache_dir: str):
    from workloads import Crawl, Curate

    if name == "crawl_wide":
        return Crawl(max_pages=3000, mean_outlinks=30, rounds=5, warm_rounds=3)
    if name == "crawl_narrow":
        # Three outlinks per page keep the page cap from binding until late,
        # so most rounds run the whole admission path (anti-join against the
        # growing seen set, rank, admissions commit); with thirty the cap
        # binds in round 3 and later rounds only fetch.
        return Crawl(max_pages=320, mean_outlinks=3, rounds=9, warm_rounds=2, budget=64,
                     compact_every=3, stop_after=4)
    if name == "curate_sf01":
        return Curate(cache_dir)
    raise SystemExit(f"unknown workload {name!r}")


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def tree_peak_rss_mb() -> tuple[float, dict]:
    """Sum of peak RSS (VmHWM) over this process and all its descendants:
    this Python process, the JVM and the Python workers; and the peak per
    process."""
    children: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(d))
    per_proc, todo = {}, [os.getpid()]
    while todo:
        pid = todo.pop()
        todo.extend(children.get(pid, []))
        try:
            with open(f"/proc/{pid}/status") as f:
                fields = dict(line.split(":", 1) for line in f)
        except OSError:
            continue
        if "VmHWM" in fields:
            per_proc[f"{pid}:{fields['Name'].strip()}"] = int(fields["VmHWM"].split()[0]) / 1024
    return sum(per_proc.values()), per_proc


def pin_environment(work: str, n: int) -> dict:
    """Keep every file the run writes inside *work* and pin the session
    shape, instead of inheriting the package's 32-core defaults."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    tempfile.tempdir = tmp
    os.environ.pop("WCS_TRACE", None)
    os.environ.update(
        TMPDIR=tmp,
        SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"),
        PYTHONPATH=os.pathsep.join([ROOT, os.environ.get("PYTHONPATH", "")]).rstrip(os.pathsep),
        PYSPARK_PYTHON=sys.executable,
        SPARK_GRAFT_CPUS=str(n),
        SPARK_DRIVER_MEMORY=DRIVER_MEMORY,
        SPARK_LAUNCHER_OPTS="-XX:-UsePerfData",  # no JVM perf files under /tmp
    )
    return {
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        # the heap is committed and touched up front, so the JVM's share of
        # peak_rss_mb is the configured heap instead of wherever the
        # collector happened to grow it to
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={tmp} -Xms{DRIVER_MEMORY} -XX:+AlwaysPreTouch -XX:-UsePerfData",
        "spark.driver.memory": DRIVER_MEMORY,
        "spark.ui.showConsoleProgress": "false",
    }


def start_session(n: int, conf: dict):
    """SparkSession start plus one warm-up job; returns (spark, seconds)."""
    from pyspark.sql import functions as F
    from web_crawler_spark.session import get_spark

    t0 = time.perf_counter()
    spark = get_spark(app_name="perfbench", master=f"local[{n}]",
                      shuffle_partitions=n, extra_conf=conf)
    spark.range(0, 100_000, numPartitions=n).groupBy(F.col("id") % 97).count().collect()
    return spark, time.perf_counter() - t0


def stop_session(spark) -> None:
    """Stop Spark and wait for the JVM (and the workers it owns) to exit."""
    from pyspark import SparkContext

    spark.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    gw.shutdown()
    proc = getattr(gw, "proc", None)
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()


def median_layers(layer_dicts: list[dict]) -> dict:
    keys = {k for d in layer_dicts for k in d}
    return {k: statistics.median(d.get(k, 0.0) for d in layer_dicts) for k in sorted(keys)}


def end_to_end(name, setup_times, ops, peak_rss) -> tuple[dict, dict]:
    """The BENCHMARK.json end-to-end metrics, and the same numbers under the
    workload-specific names they have for a user of that workload. The
    median step (round or query) is only in the second set: over a handful
    of unequal steps it spreads more from run to run than any bound allows."""
    steps = sorted(s for op in ops for s in op.steps)
    m = {
        "setup_s": statistics.median(setup_times),
        "op_wall_s": statistics.median(op.wall_s for op in ops),
        "throughput_per_s": statistics.median(op.items / op.wall_s for op in ops),
        "peak_rss_mb": peak_rss,
    }
    if name.startswith("crawl"):
        named = {
            "crawl_urls_per_s": m["throughput_per_s"], "crawl_s": m["op_wall_s"],
            "round_s_p50": statistics.median(steps),
            "storage_bytes_per_url": statistics.median(
                op.detail["storage_bytes_per_url"] for op in ops),
        }
    else:
        q = statistics.quantiles(steps, n=4) if len(steps) > 1 else steps * 3
        named = {"query_suite_s": m["op_wall_s"], "query_s_p50": q[1],
                 "query_s_p75": q[2], "query_samples": len(steps)}
    return m, named


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n", 1)[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if not os.path.isfile(os.path.join(ROOT, "web_crawler_spark", "__init__.py")):
        print("perfbench: run from the repository root (web_crawler_spark/ not found)",
              file=sys.stderr)
        return 2
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    wanted = spec["per_layer"] if args.trace else spec["end_to_end"]

    sys.path[1:1] = [ROOT, os.path.join(ROOT, "scripts")]
    n = nproc()
    cache_dir = os.path.join(HERE, "work", "cache")
    work = os.path.join(HERE, "work", f"run-{os.getpid()}")
    os.makedirs(cache_dir, exist_ok=True)
    conf = pin_environment(work, n)
    t_start = time.perf_counter()
    try:
        return run(args, n, conf, cache_dir, work, wanted, t_start)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def run(args, n, conf, cache_dir, work, wanted, t_start) -> int:
    import pyspark
    from canary import canary_sec

    env = {"nproc": n, "pyspark": pyspark.__version__, "python": sys.version.split()[0],
           "master": f"local[{n}]", "shuffle_partitions": n,
           "driver_memory": DRIVER_MEMORY, "canary_before_s": canary_sec()}

    workload = make_workload(args.workload, cache_dir)
    workload.prepare(args.seed)
    phases = {"prepare_s": time.perf_counter() - t_start}

    setup_times = []
    spark, s = start_session(n, conf)
    setup_times.append(s)
    for _ in range(SETUP_REPS - 1):
        spark.stop()
        spark, s = start_session(n, conf)
        setup_times.append(s)

    attempted = failed = 0
    problems: list[str] = []
    ops, traced_ops = [], []
    try:
        phases["setup_s"] = time.perf_counter() - t_start - phases["prepare_s"]
        warm = workload.warmup(spark, work)
        phases["warmup_s"] = time.perf_counter() - t_start - sum(phases.values())
        attempted += warm.attempted
        failed += warm.failed
        problems += warm.detail.get("problems", [])
        deadline = time.perf_counter() + args.seconds
        i = 0
        while True:
            traced = bool(args.trace) and i % 2 == 1
            i += 1
            try:
                op = workload.op(spark, work, traced=traced)
            except Exception:
                traceback.print_exc()
                attempted += 1
                failed += 1
                problems.append(f"operation {i} raised")
            else:
                attempted += op.attempted
                failed += op.failed
                problems += op.detail.get("problems", [])
                (traced_ops if traced else ops).append(op)
            now = time.perf_counter()
            enough = now >= deadline and (not args.trace or (ops and traced_ops))
            if enough or now - t_start > RUN_CAP_S:
                break
        peak_rss, env["peak_rss_mb_by_process"] = tree_peak_rss_mb()
        phases["window_s"] = time.perf_counter() - t_start - sum(phases.values())
    finally:
        stop_session(spark)
    env["canary_after_s"] = canary_sec()

    metrics, named = {}, {}
    if ops and (traced_ops or not args.trace):
        if args.trace:
            metrics = median_layers([op.layers for op in traced_ops])
            if hasattr(workload, "core_pass"):
                core = workload.core_pass(1000)
                metrics.update(core)
                metrics["fetch.handoff_us_per_url"] = (
                    metrics["fetch.us_per_url"] - core["core.us_per_url"])
            t_walls = statistics.median(op.wall_s for op in traced_ops)
            u_walls = statistics.median(op.wall_s for op in ops)
            metrics["trace.overhead_s"] = t_walls - u_walls
            metrics["trace.overhead_ratio"] = (t_walls - u_walls) / u_walls
        else:
            metrics, named = end_to_end(args.workload, setup_times, ops, peak_rss)
    named["failed_ops_ratio"] = failed / max(attempted, 1)

    detail = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "env": env, "setup_s": setup_times,
        "web_seed": getattr(workload, "web_seed", None),
        "phases": {**phases, "total_s": time.perf_counter() - t_start},
        "warmup": warm.detail, "problems": problems, "named": named,
        "ops": [{"traced": o in traced_ops, "wall_s": o.wall_s, "steps": o.steps,
                 "items": o.items, "layers": o.layers, "detail": o.detail}
                for o in ops + traced_ops],
        "metrics": metrics,
    }
    out_dir = os.path.join(HERE, "out")
    os.makedirs(out_dir, exist_ok=True)
    with open(os.path.join(out_dir, f"{args.workload}-seed{args.seed}-trace{args.trace}.json"),
              "w") as f:
        json.dump(detail, f, indent=1, default=str)

    # a layer the workload does not exercise reads 0; an end-to-end metric
    # must always be measured
    missing = [] if args.trace else [m["name"] for m in wanted if m["name"] not in metrics]
    if missing:
        problems.append(f"metrics not measured: {missing}")
    for p in problems:
        print(f"perfbench: {p}", file=sys.stderr)
    print(json.dumps({"workload": args.workload, "env": env, "named": named}))
    result = {
        "correct": failed == 0 and not missing,
        "attempted": attempted,
        "failed": failed,
        "metrics": {m["name"]: {"value": metrics.get(m["name"], 0.0), "unit": m["unit"]}
                    for m in wanted},
    }
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
