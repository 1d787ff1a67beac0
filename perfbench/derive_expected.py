#!/usr/bin/env python3
"""Derive ``expected/query_hashes.tsv`` for the registry workloads.

    python3 perfbench/derive_expected.py      (from the root of a checkout)

Generates the registry tables, runs every row of the registry workloads' lists once
through the engine (``perfbench.Main mode=dump``), and for each row
compares three hashes: the engine's own (``Canon.scala``), the Python
canonical hash of the engine's written result, and the Python canonical
hash of the row's ``SparkEntry.oracleSql`` run in DuckDB over the same
tables. A row's expected hash is the DuckDB one when all three agree; a
row whose oracle does not run, or disagrees, is reported, and its
expected hash comes from the engine's own output (marked ``head``).
"""
import os
import shutil
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import duckdb     # noqa: E402
import canon      # noqa: E402
import gen        # noqa: E402
import run        # noqa: E402

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def main():
    cp, _ = run.build()
    work = os.path.join(run.BUILD, "derive")
    shutil.rmtree(work, ignore_errors=True)
    data, dump = os.path.join(work, "data"), os.path.join(work, "dump")
    os.makedirs(dump)
    gen.registry_tables(data)
    names = []
    for w in (w for w in run.WORKLOADS if w != "etl_daily"):
        names += [l.strip() for l in open(run.rows_file(w)) if l.strip() and not l.startswith("#")]
    listing = os.path.join(work, "rows.txt")
    with open(listing, "w") as f:
        f.write("\n".join(names) + "\n")
    run.run_jvm(cp, {"mode": "dump", "seed": 0, "trace": 0, "data": data,
                     "work": work, "out": "", "cores": os.cpu_count() or 4,
                     "list": listing, "dump": dump},
                work, os.path.join(run.BUILD, "jvm-derive.log"), time.time() + 3600)
    spark_hash = dict(l.rstrip("\n").split("\t") for l in open(os.path.join(dump, "spark_hashes.tsv")))
    oracle = {}
    for l in open(os.path.join(dump, "oracle_sql.tsv")):
        k, v = l.rstrip("\n").split("\t", 1)
        oracle[k] = v.replace("\\t", "\t").replace("\\n", "\n").replace("\\\\", "\\")
    con = duckdb.connect()
    con.execute("SET TimeZone = 'UTC'")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{data}/{t}.parquet'")
    out, problems = [], []
    for name in names:
        s = con.sql(f"SELECT * FROM '{dump}/{name}/*.parquet'")
        dumped = canon.result_hash(s.columns, s.fetchall())
        try:
            o = con.sql(oracle[name])
            oracle_h = canon.result_hash(o.columns, o.fetchall())
        except Exception as e:   # an oracle that does not run here
            oracle_h = f"error: {str(e).splitlines()[0][:120]}"
        if spark_hash[name] == dumped == oracle_h:
            out.append((name, oracle_h, "oracle"))
        else:
            problems.append(f"{name}: engine={spark_hash[name]} dumped={dumped} oracle={oracle_h}")
            out.append((name, spark_hash[name], "head"))
    with open(os.path.join(HERE, "expected", "query_hashes.tsv"), "w") as f:
        f.write("".join(f"{n}\t{h}\t{src}\n" for n, h, src in sorted(out)))
    print("\n".join(problems))
    print(f"{sum(1 for o in out if o[2] == 'oracle')} of {len(out)} rows match their DuckDB oracle")


if __name__ == "__main__":
    main()
