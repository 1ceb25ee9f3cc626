"""Local emulation of the driver's correctness gate.

Runs every ``queries()`` entry on Spark and its ``oracle_sql()`` twin on
DuckDB (same parquet tables registered as views), then compares:
row count, sorted column names, and an order-insensitive value comparison
(columns sorted by name, rows sorted, floats normalized to %.9g).

Usage: python tools/check_contract.py [sf_dir] [query ...]
"""

from __future__ import annotations

import math
import os
import sys
import time

import duckdb

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()


def normalize(rows, cols):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = []
    for r in rows:
        vals = []
        for i in order:
            v = r[i]
            if isinstance(v, float):
                if math.isnan(v):
                    vals.append("nan")
                else:
                    vals.append(f"{v:.9g}")
            else:
                vals.append(str(v))
        out.append("|".join(vals))
    out.sort()
    return out


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])

    # generated-literal oracles (q28/q36) derive their constants from the
    # parquet tables; point them at the same dir the views read from
    os.environ["SPARK_GRAFT_ORACLE_SF_DIR"] = sf_dir

    import __spark_entry__ as entrymod
    from geotiff_tiler_spark.session import get_spark

    spark = get_spark(master="local[8]")
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'"
        )

    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    failures = []
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.time()
        sdf = fn(spark, sf_dir)
        srows = sdf.collect()
        scols = sdf.columns
        t1 = time.time()
        # release localCheckpoint storage (q11's candidate intermediates
        # etc.) so 40+ queries in one session don't accumulate it
        from geotiff_tiler_spark.session import clear_persistent_rdds

        clear_persistent_rdds(spark)
        if name not in oracles:
            print(f"  {name}: rows={len(srows)} (no oracle — rows-only) {t1-t0:.1f}s")
            if len(srows) == 0:
                failures.append((name, "zero rows, no oracle"))
            continue
        ores = con.execute(oracles[name])
        ocols = [d[0] for d in ores.description]
        otypes = {d[0]: str(d[1]) for d in ores.description}
        orows = ores.fetchall()
        ok_cols = sorted(scols) == sorted(ocols)
        # the driver's value hash is TYPE-sensitive: DuckDB promoting an
        # integer SUM to HUGEINT/DECIMAL breaks it even when the rendered
        # values match. Enforce type parity here so it can't regress.
        stypes = dict(sdf.dtypes)
        typemap = {  # duckdb typename -> acceptable spark dtypes
            "BIGINT": {"bigint"},
            "INTEGER": {"int"},
            "DOUBLE": {"double"},
            "FLOAT": {"float"},
            "VARCHAR": {"string"},
            "BOOLEAN": {"boolean"},
        }
        ok_types = True
        for cname, duckt in otypes.items():
            if cname not in stypes:
                continue
            want = typemap.get(duckt)
            if want is None:
                if duckt in ("HUGEINT", "UHUGEINT") or duckt.startswith("DECIMAL"):
                    print(f"    TYPE DRIFT {name}.{cname}: duckdb={duckt} spark={stypes[cname]}")
                    ok_types = False
                continue
            if stypes[cname] not in want:
                print(f"    TYPE DRIFT {name}.{cname}: duckdb={duckt} spark={stypes[cname]}")
                ok_types = False
        if not ok_types:
            failures.append((name, "type drift"))
        ok_cnt = len(srows) == len(orows)
        sn = normalize([tuple(r) for r in srows], scols)
        on = normalize(orows, ocols)
        ok_vals = sn == on
        status = "OK" if (ok_cols and ok_cnt and ok_vals) else "FAIL"
        print(
            f"  {name}: {status} rows={len(srows)}/{len(orows)} cols={ok_cols} "
            f"vals={ok_vals} {t1-t0:.1f}s"
        )
        if status == "FAIL":
            failures.append((name, "mismatch"))
            if not ok_cols:
                print(f"    spark cols: {sorted(scols)}\n    duck  cols: {sorted(ocols)}")
            if ok_cols and not ok_vals:
                diff_s = [x for x in sn if x not in set(on)][:3]
                diff_o = [x for x in on if x not in set(sn)][:3]
                print(f"    spark-only: {diff_s}\n    duck-only : {diff_o}")
    spark.stop()
    if failures:
        print("FAILURES:", failures)
        return 1
    print("all queries match")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
