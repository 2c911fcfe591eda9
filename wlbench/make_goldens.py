"""Regenerate the committed goldens, cross-checked against DuckDB.

For every operation of every workload this runs the catalog entry on
Spark and its oracle SQL on DuckDB over the same generated tables, and
writes a golden only when both engines agree on the row count and on
``tools.check_oracle.table_hash``. A golden therefore never merely
records what the program printed on the day it was made.

Usage, from the root of a checkout::

    python3 wlbench/make_goldens.py [--workload NAME ...]

Writes ``wlbench/goldens/records/<op>.json`` (the output of
``sources.write_records``, rows sorted), which runs compare against.
Exits 1 if any operation has no oracle SQL or disagrees with DuckDB; no
golden is written for such an operation.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

from run import isolate, log, shutdown  # noqa: E402
from workloads import GOLDENS, WORKLOADS, inputs  # noqa: E402


def duckdb_for(sf_dir: str):
    import duckdb

    from tada_spark.queries import TABLES

    con = duckdb.connect()
    con.execute("SET TimeZone='UTC'")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")
    return con


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", action="append", choices=sorted(WORKLOADS))
    args = ap.parse_args(argv)
    root = os.getcwd()
    sys.path.insert(0, root)
    os.makedirs(os.path.join(HERE, ".scratch"), exist_ok=True)
    scratch = tempfile.mkdtemp(prefix="goldens-", dir=os.path.join(HERE, ".scratch"))
    isolate(root, scratch)
    from tada_spark import Frame, sources
    from tada_spark.queries import CATALOG
    from tada_spark.session import get_spark
    from tools.check_oracle import table_hash

    spark = get_spark(cpus=len(os.sched_getaffinity(0)))
    spark.sparkContext.setLogLevel("ERROR")
    bad = 0
    try:
        for name in args.workload or sorted(WORKLOADS):
            w = WORKLOADS[name]
            sf_dir = inputs(w.sf)
            con = duckdb_for(sf_dir)
            for op in w.ops:
                fn, sql = CATALOG[op]
                if sql is None:
                    log(f"FAIL {name}/{op}: no oracle SQL to cross-check against")
                    bad += 1
                    continue
                df = fn(spark, sf_dir)
                h, n = table_hash(df.columns, [tuple(r) for r in df.collect()])
                res = con.execute(sql)
                dh, dn = table_hash([d[0] for d in res.description], res.fetchall())
                if (h, n) != (dh, dn):
                    log(f"FAIL {name}/{op}: spark {h}/{n} != duckdb {dh}/{dn}")
                    bad += 1
                    continue
                rec = sources.write_records(Frame(df))
                os.makedirs(os.path.join(GOLDENS, "records"), exist_ok=True)
                with open(os.path.join(GOLDENS, "records", f"{op}.json"), "w") as f:
                    json.dump([rec[0]] + sorted(rec[1:]), f, indent=0)
                    f.write("\n")
                log(f"ok   {name}/{op}: {n} rows {h} (matches DuckDB)")
    finally:
        shutdown(spark)
        shutil.rmtree(scratch, ignore_errors=True)
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main())
