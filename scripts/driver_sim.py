#!/usr/bin/env python
"""Full correctness-driver simulation: build a VANILLA SparkSession
(the driver's, not ours — default confs plus an arbitrary 200 shuffle
partitions to catch conf-dependent results), run the first 50
queries of ``registry.ORDER`` (the driver's verification window) at
sf0.01 against their DuckDB oracles, and print a CORRECTNESS-style
per-query report. Exit non-zero on any mismatch.

Usage: python scripts/driver_sim.py [--sf-dir /root/testdata/sf0.01]
                                    [--window 50 | --all]
"""

from __future__ import annotations

import argparse
import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if REPO not in sys.path:
    sys.path.insert(0, REPO)


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf-dir", default="/root/testdata/sf0.01")
    from raft_c_spark.plans.verification import WINDOW

    ap.add_argument("--window", type=int, default=WINDOW)
    ap.add_argument("--all", action="store_true")
    ap.add_argument(
        "--out",
        default=None,
        help="write a JSON artifact of the per-query results; 'auto' "
        "names it DRIVER_SIM_r{N}.json for the upcoming round "
        "(newest CORRECTNESS round + 1) — a standing artifact "
        "recording that the window order was pre-validated, not "
        "just claimed",
    )
    args = ap.parse_args()

    import duckdb
    from pyspark.sql import SparkSession

    import __spark_entry__ as entrymod
    from raft_c_spark.sources.testdata import TABLES
    from tests.harness import df_rows, duck_rows

    # vanilla session: deliberately NOT raft_c_spark.session.get_spark
    spark = (
        SparkSession.builder.master(
            f"local[{os.environ.get('SPARK_GRAFT_CPUS', '32')}]"
        )
        .appName("driver_sim")
        .config("spark.sql.shuffle.partitions", "200")
        .getOrCreate()
    )
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM "
            f"read_parquet('{args.sf_dir}/{t}.parquet')"
        )

    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    names = list(qs.keys())
    if not args.all:
        names = names[: args.window]

    failures = 0
    report: dict[str, dict] = {}
    for i, name in enumerate(names):
        try:
            df = qs[name](spark, args.sf_dir)
            if name not in oracles:
                n = df.count()
                print(f"{i + 1:3d} {name}: rows-only ({n} rows) NO-ORACLE")
                report[name] = {"status": "rows-only", "rows": n}
                continue
            a = df_rows(df)
            b = duck_rows(con, oracles[name])
            if len(a) != len(b):
                failures += 1
                print(f"{i + 1:3d} {name}: ROWS {len(a)} != {len(b)}")
                report[name] = {
                    "status": "rows-mismatch",
                    "spark_rows": len(a),
                    "oracle_rows": len(b),
                }
            elif a != b:
                failures += 1
                bad = next(j for j, (x, y) in enumerate(zip(a, b)) if x != y)
                print(f"{i + 1:3d} {name}: VALUES differ (row {bad}):\n"
                      f"      spark={a[bad]}\n      oracle={b[bad]}")
                report[name] = {"status": "values-mismatch", "rows": len(a)}
            else:
                print(f"{i + 1:3d} {name}: OK ({len(a)} rows)")
                report[name] = {"status": "ok", "rows": len(a)}
        except Exception as e:  # noqa: BLE001 — report and continue
            failures += 1
            print(f"{i + 1:3d} {name}: ERROR {type(e).__name__}: {e}")
            report[name] = {
                "status": "error",
                "error": f"{type(e).__name__}: {e}"[:400],
            }
    spark.stop()
    print(f"\n{len(names) - failures}/{len(names)} pass")
    if args.out:
        import json

        from raft_c_spark.plans.verification import newest_driver_round

        out_path = args.out
        if out_path == "auto":
            out_path = os.path.join(
                REPO, f"DRIVER_SIM_r{newest_driver_round(REPO) + 1:02d}.json"
            )
        artifact = {
            "sf_dir": args.sf_dir,
            "scope": "all" if args.all else f"window:{len(names)}",
            "n_queries": len(names),
            "n_pass": len(names) - failures,
            "n_fail": failures,
            "queries": report,
        }
        with open(out_path, "w") as fh:
            json.dump(artifact, fh, indent=1, sort_keys=True)
        print(f"wrote {out_path}")
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
