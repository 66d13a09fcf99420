"""Pin the result fingerprints of the query workloads.

    python3 perfbench/pin.py            # check pins.json, change nothing
    python3 perfbench/pin.py --write    # (re)write pins.json

Generates the benchmark's tables, runs every query of ``report_queries``
and ``curation_queries`` twice on Spark and once as its DuckDB oracle
(``plans.queries.ORACLES``), and requires all three fingerprints to
agree before a value is pinned.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PINS = os.path.join(ROOT, "perfbench", "pins.json")


def main(argv=None) -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--write", action="store_true")
    args = ap.parse_args(argv)
    sys.path.insert(0, ROOT)
    work = os.path.join(ROOT, ".perfbench_work", f"pin-{os.getpid()}")
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")

    import duckdb

    from perfbench import gen
    from perfbench.checks import fingerprint, spark_fingerprint
    from perfbench.run import start_session, stop_session
    from perfbench.workloads import CURATION_QUERIES, REPORT_QUERIES
    from py_data_pipeline_app_spark.plans.queries import ORACLES, QUERIES

    tables = os.path.join(work, "tables")
    gen.write_tables(tables)
    con = duckdb.connect()
    for t in gen.TABLE_ROWS.keys() | {"region", "nation"}:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{tables}/{t}.parquet'")
    spark = start_session(work, min(4, os.cpu_count() or 1))
    pins: dict[str, str] = {}
    bad = []
    try:
        for name in REPORT_QUERIES + CURATION_QUERIES:
            runs = [spark_fingerprint(QUERIES[name](spark, tables)) for _ in range(2)]
            if name in ORACLES:
                rel = con.sql(ORACLES[name])
                duck = fingerprint([c.lower() for c in rel.columns], rel.fetchall())
            else:
                duck = "no oracle"
            ok = runs[0] == runs[1] and (duck == runs[0] or duck == "no oracle")
            print(f"{'ok  ' if ok else 'FAIL'} {name}: spark={runs} duckdb={duck}")
            if ok:
                pins[name] = runs[0]
            else:
                bad.append(name)
    finally:
        stop_session(spark)
        shutil.rmtree(work, ignore_errors=True)
    if args.write and not bad:
        with open(PINS, "w") as f:
            json.dump(pins, f, indent=1, sort_keys=True)
            f.write("\n")
        print(f"wrote {len(pins)} pins")
    elif not args.write:
        with open(PINS) as f:
            pinned = json.load(f)
        stale = [n for n in pins if pinned.get(n) != pins[n]]
        print(f"{len(pins) - len(stale)}/{len(pins)} pins current" + (f"; stale: {stale}" if stale else ""))
        bad += stale
    return 1 if bad else 0


if __name__ == "__main__":
    raise SystemExit(main())
