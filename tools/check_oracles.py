"""Local replica of the driver's correctness gate: run every
``__spark_entry__.queries()`` entry on Spark AND its ``oracle_sql()``
on DuckDB over the same parquet tables; compare row count, column
names, and an order-insensitive value hash.

Usage: python tools/check_oracles.py [--sf /root/testdata/sf0.01] [names...]
"""

from __future__ import annotations

import argparse
import hashlib
import os
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

TABLES = [
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
]


def canon_value(v):
    if v is None:
        return "NULL"
    if isinstance(v, float):
        return repr(v)  # exact repr — engines must agree bit-for-bit
    if isinstance(v, bytes):
        return v.hex()
    return str(v)


def table_hash(rows, colnames):
    order = sorted(range(len(colnames)), key=lambda i: colnames[i])
    lines = sorted(
        "\x1f".join(canon_value(r[i]) for i in order) for r in rows
    )
    h = hashlib.sha256()
    for line in lines:
        h.update(line.encode())
        h.update(b"\n")
    return h.hexdigest()


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default="/root/testdata/sf0.01")
    ap.add_argument("names", nargs="*")
    args = ap.parse_args()

    import duckdb

    # VALUES-style oracles recomputed from parquet (s_ivf_topk) must
    # read the SAME sf dir the Spark side runs on, not the driver's
    # default sf0.01 — set before entry's oracle_sql() is consulted
    os.environ["OSM_SPARK_ORACLE_SF"] = args.sf

    import __spark_entry__ as entry
    from osm_spark.session import get_spark

    missing = [t for t in TABLES if not Path(f"{args.sf}/{t}.parquet").exists()]
    if missing:
        print(f"error: --sf {args.sf} is missing tables: {missing}")
        return 2

    spark = get_spark("oracle-check", shuffle_partitions=8)
    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{args.sf}/{t}.parquet')")

    qs = entry.queries()
    oracles = entry.oracle_sql()
    names = args.names or list(qs)
    n_fail = 0
    for name in names:
        t0 = time.time()
        if name not in qs:
            print(f"FAIL  {name:24s} unknown query name")
            n_fail += 1
            continue
        try:
            sdf = qs[name](spark, args.sf)
            spd = sdf.toPandas()          # single Spark execution —
            scols = sdf.columns           # rows derive from the same df
            srows = list(spd.itertuples(index=False, name=None))
        except Exception as e:
            print(f"FAIL  {name:24s} spark error: {e}")
            n_fail += 1
            continue
        if name not in oracles:
            print(f"ROWS  {name:24s} rows={len(srows)} (no oracle — rows-only)"
                  f" [{time.time() - t0:.1f}s]")
            if len(srows) == 0:
                print(f"      WARNING: {name} returned 0 rows")
            continue
        try:
            res = con.sql(oracles[name])
            dpd = res.df()                # single DuckDB execution
            dcols = list(dpd.columns)
            drows = list(dpd.itertuples(index=False, name=None))
        except Exception as e:
            print(f"FAIL  {name:24s} duckdb error: {str(e)[:200]}")
            n_fail += 1
            continue
        ok_cols = sorted(scols) == sorted(dcols)
        ok_count = len(srows) == len(drows)
        ok_hash = (
            table_hash(srows, scols) == table_hash(drows, dcols)
            if ok_cols and ok_count
            else False
        )
        # mirror the driver's pandas-based canonicalizer: dtype drift
        # (e.g. DuckDB HUGEINT -> float64) and unhashable object cells
        # (lists) break its sort/hash even when string-hashes agree
        ok_pandas = True
        if ok_cols:
            try:
                def kind(dt: str) -> str:
                    # driver hashing is int-width-insensitive (r01 evidence:
                    # g17_knn passed with int32-vs-int64 drift) but breaks on
                    # float-vs-int and likely on datetime-unit drift
                    if dt.startswith(("int", "uint")):
                        return "int"
                    if dt.startswith("float"):
                        return "float"
                    return dt

                for c in scols:
                    a, b = str(spd[c].dtype), str(dpd[c].dtype)
                    if kind(a) != kind(b):
                        print(f"      DTYPE {c}: spark={a} duckdb={b}")
                        ok_pandas = False
                    if a == "object" and len(spd) and isinstance(
                        spd[c].iloc[0], (list, dict)
                    ):
                        print(f"      UNHASHABLE object column: {c}")
                        ok_pandas = False
            except Exception as e:  # arrow conversion failures etc.
                print(f"      pandas-canon probe failed: {e}")
                ok_pandas = False
        status = "OK  " if (ok_cols and ok_count and ok_hash and ok_pandas) else "FAIL"
        if status == "FAIL":
            n_fail += 1
        print(
            f"{status}  {name:24s} rows={len(srows)}/{len(drows)} "
            f"cols={'=' if ok_cols else f'{scols} vs {dcols}'} hash={'=' if ok_hash else 'X'}"
            f" [{time.time() - t0:.1f}s]"
        )
        if not ok_hash and ok_cols and ok_count and len(srows) < 100000:
            # show first differing canonical line for debugging
            order = sorted(range(len(scols)), key=lambda i: scols[i])
            sl = sorted("\x1f".join(canon_value(r[i]) for i in order) for r in srows)
            dl = sorted("\x1f".join(canon_value(r[i]) for i in order) for r in drows)
            for a, b in zip(sl, dl):
                if a != b:
                    print(f"      spark : {a[:160]}")
                    print(f"      duckdb: {b[:160]}")
                    break
    stale = sorted(set(oracles) - set(qs))
    if stale and not args.names:
        print(f"\nFAIL: oracle_sql() keys with no queries() entry "
              f"(never validated): {stale}")
        n_fail += 1
    print(f"\n{len(names) - n_fail}/{len(names)} passed")
    spark.stop()
    return 1 if n_fail else 0


if __name__ == "__main__":
    raise SystemExit(main())
