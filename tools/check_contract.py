"""Local stand-in for the driver's correctness gate: run every
__spark_entry__.queries() entry on Spark and its oracle_sql() on DuckDB at the
given SF, compare row count, column names, and an order-insensitive value hash
(columns sorted by name, rows sorted, values stringified).

Every entry, rows-only ones included, also prints one ``HASH <name> <hex>``
line with the Spark-side table hash, so two trees can be compared with
``diff <(grep ^HASH run_a.txt) <(grep ^HASH run_b.txt)``.

Usage: python tools/check_contract.py [SF_DIR] [entry1,entry2,...]"""

from __future__ import annotations

import hashlib
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def norm_cell(v):
    import datetime
    import math

    if v is None:
        return "NULL"
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return repr(round(v, 9))
    if isinstance(v, datetime.datetime):
        return v.strftime("%Y-%m-%d %H:%M:%S")
    return str(v)


def table_hash(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    lines = sorted("\x01".join(norm_cell(r[i]) for i in order) for r in rows)
    h = hashlib.sha256()
    for ln in lines:
        h.update(ln.encode())
        h.update(b"\n")
    return h.hexdigest()


def main(sf_dir: str, only: list[str] | None = None):
    import duckdb

    import __spark_entry__ as entry_mod
    from knowledge_graph_studio_spark.session import get_spark

    spark = get_spark("contract-check", cores=8)
    spark.sparkContext.setLogLevel("ERROR")
    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"create view {t} as select * from '{sf_dir}/{t}.parquet'")

    qs = entry_mod.queries()
    oracles = entry_mod.oracle_sql()
    failures = []
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            df = fn(spark, sf_dir)
            cols = df.columns
            rows = [tuple(r) for r in df.collect()]
        except Exception as e:
            failures.append(name)
            print(f"FAIL  {name}: spark error {type(e).__name__}: {e}")
            continue
        scols = [c.lower() for c in cols]
        h_s = table_hash(scols, rows)
        print(f"HASH {name} {h_s}")
        if name not in oracles:
            print(f"rows-only  {name}: {len(rows)} rows  cols={cols} "
                  f"({time.time()-t0:.1f}s)")
            if len(rows) == 0 and name != "simhash":
                print(f"  WARNING: 0 rows")
            continue
        try:
            res = con.sql(oracles[name])
            ocols = [c.lower() for c in res.columns]
            orows = res.fetchall()
        except Exception as e:
            failures.append(name)
            print(f"FAIL  {name}: duckdb error {e}")
            continue
        ok_cols = sorted(scols) == sorted(ocols)
        ok_count = len(rows) == len(orows)
        h_o = table_hash(ocols, orows)
        ok_hash = h_s == h_o
        status = "OK   " if (ok_cols and ok_count and ok_hash) else "FAIL "
        if status.startswith("FAIL"):
            failures.append(name)
        print(f"{status} {name}: rows {len(rows)}/{len(orows)} "
              f"cols={'=' if ok_cols else f'{scols} vs {ocols}'} "
              f"hash={'=' if ok_hash else 'MISMATCH'} ({time.time()-t0:.1f}s)")
        if not ok_hash and ok_cols and ok_count:
            order = sorted(range(len(scols)), key=lambda i: scols[i])
            s_set = sorted("|".join(norm_cell(r[i]) for i in order) for r in rows)
            o_order = sorted(range(len(ocols)), key=lambda i: ocols[i])
            o_set = sorted("|".join(norm_cell(r[i]) for i in o_order) for r in orows)
            for i, (s, o) in enumerate(zip(s_set, o_set)):
                if s != o:
                    print(f"   first diff @{i}:\n    spark={s}\n    duck ={o}")
                    break
    print(f"\n{len(failures)} failures: {failures}" if failures else "\nALL OK")
    spark.stop()
    return 1 if failures else 0


if __name__ == "__main__":
    sf = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = sys.argv[2].split(",") if len(sys.argv) > 2 else None
    raise SystemExit(main(sf, only))
