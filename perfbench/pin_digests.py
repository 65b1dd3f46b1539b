"""Regenerate perfbench/expected.json: one result digest per (workload, query).

    python3 perfbench/pin_digests.py

Each digest is ``scripts/oracle_check.digest`` of the query's result. Where
the query has oracle SQL and DuckDB's result has the same digest as Spark's,
the digest is sourced from DuckDB; otherwise Spark's digest is pinned and
the reason recorded.
"""

from __future__ import annotations

import json
import os
import shutil
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

from workloads import DATA, ROOT, SETTINGS, TABLES, WORKLOADS  # noqa: E402


def main() -> int:
    run_dir = os.path.join(HERE, ".run", "pin")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(os.path.join(run_dir, "tmp"))
    os.environ["TMPDIR"] = os.path.join(run_dir, "tmp")
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(len(os.sched_getaffinity(0))))
    os.environ.setdefault("SPARK_DRIVER_MEMORY", SETTINGS["SPARK_DRIVER_MEMORY"])
    sys.path[:0] = [ROOT, os.path.join(ROOT, "scripts")]
    import duckdb
    from oracle_check import digest

    from nocouncil_etl_spark.registry import load_all
    from nocouncil_etl_spark.session import get_session

    spark = get_session("perfbench-pin")
    reg = load_all()
    expected: dict[str, dict] = {}
    for wl, spec in WORKLOADS.items():
        alias = os.path.join(run_dir, "pb_pin_" + wl)
        os.makedirs(alias)
        con = duckdb.connect()
        for t in TABLES:
            os.symlink(os.path.join(DATA, f"{t}.parquet"), os.path.join(alias, f"{t}.parquet"))
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{alias}/{t}.parquet')")
        expected[wl] = {}
        for name in spec["queries"]:
            df = reg[name].fn(spark, alias)
            cols, sh = digest(list(df.columns), [tuple(r) for r in df.collect()])
            spark.catalog.clearCache()
            entry = {"digest": sh}
            sql = reg[name].oracle
            if sql is None:
                entry["source"] = "spark"
                entry["reason"] = "no oracle SQL registered"
            else:
                res = con.execute(sql)
                dcols, dh = digest([d[0] for d in res.description], res.fetchall())
                if (dcols, dh) == (cols, sh):
                    entry["source"] = "duckdb"
                else:
                    entry["source"] = "spark"
                    entry["reason"] = f"DuckDB oracle digest {dh} differs"
            expected[wl][name] = entry
            print(wl, name, entry, flush=True)
    with open(os.path.join(HERE, "expected.json"), "w") as fh:
        json.dump(expected, fh, indent=1, sort_keys=True)
        fh.write("\n")
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
