"""Replicates the driver's correctness gate locally: run every queries()
entry on Spark and its oracle_sql() twin on DuckDB at sf0.01, compare
row count, schema width, and an order-insensitive value hash (columns
sorted by name, rows sorted, values stringified with float rounding).

Usage: python scripts/check_parity.py [--sf SF_DIR] [--skip name ...] [query ...]

`--sf /dev/shm/wcs-sf1` re-proves parity at the amortized scale (50k docs /
6M lineitem / 20k vectors); pass `--skip` for the cardinality-guarded
all-pairs baselines whose ORACLES are O(n²) list-dot-products in DuckDB.
"""

from __future__ import annotations

import hashlib
import os
import sys
import time

import duckdb
import pandas as pd

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()


def norm_cell(v):
    if v is None or v is pd.NaT:
        return "NULL"
    if isinstance(v, float):
        if v != v:
            return "NULL"
        return f"{v:.9g}"
    if isinstance(v, bool):
        return str(int(v))
    return str(v)


def value_hash(df: pd.DataFrame) -> str:
    df = df[sorted(df.columns)]
    rows = sorted(
        ",".join(norm_cell(v) for v in rec) for rec in df.itertuples(index=False, name=None)
    )
    h = hashlib.sha256()
    for r in rows:
        h.update(r.encode())
        h.update(b"\n")
    return h.hexdigest()[:16]


def main() -> int:
    args = sys.argv[1:]
    sf_dir = "/root/testdata/sf0.01"
    if "--sf" in args:
        i = args.index("--sf")
        sf_dir = args[i + 1]
        args = args[:i] + args[i + 2:]
    skip: set[str] = set()
    if "--skip" in args:
        i = args.index("--skip")
        skip = set(args[i + 1:])
        args = args[:i]
    only = set(args)

    from web_crawler_spark.analytics import LOCAL_ORACLES, LOCAL_QUERIES, ORACLES, QUERIES

    QUERIES = {**QUERIES, **LOCAL_QUERIES}
    ORACLES = {**ORACLES, **LOCAL_ORACLES}
    from web_crawler_spark.session import get_spark

    # no console progress bar: its `\r` redraws share lines with the OK rows
    spark = get_spark(app_name="selfcheck", master="local[8]", shuffle_partitions=8,
                      extra_conf={"spark.ui.showConsoleProgress": "false"})
    con = duckdb.connect()
    for t in TABLES:
        path = f"{sf_dir}/{t}.parquet"
        # Spark-written tables are directories of part files; single-file
        # parquet (the driver's testdata) stays a plain path
        src = f"{path}/*.parquet" if os.path.isdir(path) else path
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{src}')")

    failures = []
    for name, fn in QUERIES.items():
        if (only and name not in only) or name in skip:
            continue
        t0 = time.time()
        try:
            sdf = fn(spark, sf_dir).toPandas()
        except Exception as e:
            failures.append(name)
            print(f"FAIL  {name}: spark error: {type(e).__name__}: {str(e)[:300]}")
            continue
        t_spark = time.time() - t0
        sql = ORACLES.get(name)
        if sql is None:
            print(f"rows  {name}: {len(sdf)} rows (rows-only, no oracle) [{t_spark:.1f}s]")
            continue
        try:
            odf = con.execute(sql).fetchdf()
        except Exception as e:
            failures.append(name)
            print(f"FAIL  {name}: duckdb error: {type(e).__name__}: {str(e)[:300]}")
            continue
        problems = []
        if len(sdf) != len(odf):
            problems.append(f"rowcount {len(sdf)} vs {len(odf)}")
        if sorted(sdf.columns) != sorted(odf.columns):
            problems.append(f"columns {sorted(sdf.columns)} vs {sorted(odf.columns)}")
        else:
            # int-vs-float dtype splits (e.g. DuckDB HUGEINT -> pandas float64
            # while Spark emits int64) hash differently under the driver's
            # stringifier even when values agree numerically; :.9g used to
            # mask them here. Flag them as hard failures.
            for c in sdf.columns:
                ks, ko = sdf[c].dtype.kind, odf[c].dtype.kind
                if {ks, ko} == {"i", "f"} or {ks, ko} == {"u", "f"}:
                    problems.append(f"dtype split on {c!r}: spark {sdf[c].dtype} vs oracle {odf[c].dtype}")
            hs, ho = value_hash(sdf), value_hash(odf)
            if hs != ho:
                problems.append(f"value hash {hs} vs {ho}")
        if problems:
            failures.append(name)
            print(f"FAIL  {name}: {'; '.join(problems)}")
            if "value hash" in " ".join(problems) or "rowcount" in " ".join(problems):
                merged = _diff(sdf, odf)
                if merged is not None:
                    print(merged)
        else:
            print(f"OK    {name}: {len(sdf)} rows [{t_spark:.1f}s]")
    print(f"\n{len(failures)} failures: {failures}" if failures else "\nall queries match")
    return 1 if failures else 0


def _diff(sdf: pd.DataFrame, odf: pd.DataFrame):
    try:
        cols = sorted(set(sdf.columns) & set(odf.columns))
        a = sdf[cols].map(norm_cell)
        b = odf[cols].map(norm_cell)
        sa = set(map(tuple, a.itertuples(index=False, name=None)))
        sb = set(map(tuple, b.itertuples(index=False, name=None)))
        only_s = list(sa - sb)[:3]
        only_o = list(sb - sa)[:3]
        return f"      spark-only: {only_s}\n      duck-only:  {only_o}"
    except Exception:
        return None


if __name__ == "__main__":
    sys.exit(main())
