"""Interleaved Spark/DuckDB timing of catalog queries.

Timing two engines in separate passes lets host drift land on one side of
the ratio. Here the engines ALTERNATE per query rep inside one process
(spark, duck, spark, duck, ...), so drift hits both engines equally and the
per-query min ratio is robust. Each query also records the `plan_sha` of its
executed Spark plan (bench.plan_fingerprint), so a moved number can be told
apart from a changed plan.

Usage: python tools/ab.py [--queries a,b,...] [--all] [--runs N] [--out F]
  --queries  comma-separated catalog names (default: bench.py's HEADLINE)
  --all      every catalog query with an oracle
Prints one row per query, then the full JSON document (also written to
--out when given).
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--queries", default=None)
    ap.add_argument("--all", action="store_true")
    ap.add_argument("--runs", type=int, default=3)
    ap.add_argument("--out", default=None)
    args = ap.parse_args()

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

    import duckdb

    from bench import HEADLINE, plan_fingerprint
    from tools.check import TABLES
    from zarr_climate_etl_ipfs_spark.plans.queries import REGISTRY
    from zarr_climate_etl_ipfs_spark.session import get_spark

    if args.all:
        names = [k for k, q in REGISTRY.items() if q.oracle]
    elif args.queries:
        names = args.queries.split(",")
        unknown = [k for k in names if k not in REGISTRY or not REGISTRY[k].oracle]
        if unknown:
            ap.error(f"not a catalog query with an oracle: {', '.join(unknown)}")
    else:
        names = [k for k in HEADLINE if k in REGISTRY and REGISTRY[k].oracle]

    spark = get_spark("ab")
    con = duckdb.connect()
    for tname in TABLES:
        p = f"{sf_dir}/{tname}.parquet"
        if Path(p).exists():
            con.execute(f"CREATE VIEW {tname} AS SELECT * FROM read_parquet('{p}')")

    REGISTRY["pricing_summary"].fn(spark, sf_dir).collect()  # warm spark
    con.execute(REGISTRY["pricing_summary"].oracle).fetchall()  # warm duck

    out: dict = {"sf_dir": sf_dir, "runs": args.runs, "interleaved": True, "queries": {}}
    for name in names:
        qd = REGISTRY[name]
        s_times: list[float] = []
        d_times: list[float] = []
        sha = err = None
        for _ in range(args.runs):
            try:
                spark.sparkContext.setJobDescription(f"ab: {name}")
                t0 = time.perf_counter()
                df = qd.fn(spark, sf_dir)
                len(df.collect())
                s_times.append(time.perf_counter() - t0)
                sha = sha or plan_fingerprint(df)
                t0 = time.perf_counter()
                con.execute(qd.oracle).fetchall()
                d_times.append(time.perf_counter() - t0)
            except Exception as exc:  # noqa: BLE001 — record, keep going
                err = f"{type(exc).__name__}: {exc}"[:300]
                break
        row: dict = {}
        if s_times:
            row["spark"] = round(min(s_times), 4)
            row["plan_sha"] = sha
        if d_times:
            row["duckdb"] = round(min(d_times), 4)
            if s_times:
                row["ratio"] = round(min(s_times) / min(d_times), 3)
        if err:
            row["err"] = err
        out["queries"][name] = row
        print(f"{name:36s} {row}", flush=True)
    sp = sum(r["spark"] for r in out["queries"].values() if "spark" in r)
    du = sum(r["duckdb"] for r in out["queries"].values() if "duckdb" in r)
    out["spark_total"] = round(sp, 4)
    out["duckdb_total"] = round(du, 4)
    out["ratio_total"] = round(sp / du, 4) if du else None
    doc = json.dumps(out, indent=1) + "\n"
    if args.out:
        Path(args.out).write_text(doc)
    print(doc, end="")
    spark.stop()


if __name__ == "__main__":
    main()
