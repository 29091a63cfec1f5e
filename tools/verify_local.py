"""Local replica of the driver's DuckDB-oracle correctness check.

Runs every QUERIES[name] on Spark and the matching ORACLES[name] on
DuckDB at the given sf dir, then compares: row count, column names,
and order-insensitive values (rows sorted, columns sorted by name,
doubles compared to 1e-9 after the queries' own rounding).

Usage: python tools/verify_local.py [sf_dir] [query ...]
"""

from __future__ import annotations

import math
import os
import sys
import time

import duckdb

sys.path.insert(0, "/root/repo")

TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()


def norm_cell(v):
    if v is None:
        return None
    if isinstance(v, bool):
        return int(v)
    if isinstance(v, float):
        # EXACT comparison — queries must round in-query on both sides
        # so doubles are bit-identical; no tolerance here, matching the
        # driver's value-hash behavior
        return "NaN" if math.isnan(v) else v
    if isinstance(v, (list, tuple)):
        return tuple(norm_cell(x) for x in v)
    return v


def canon(rows, columns):
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    out = [tuple(norm_cell(r[i]) for i in order) for r in rows]
    out.sort(key=lambda t: tuple((x is None, str(type(x)), x) for x in t))
    return out


def _duck_family(ty):
    t = str(ty).upper()
    if t in ("HUGEINT", "UHUGEINT") or t.startswith("DECIMAL"):
        # the driver's hasher renders these as float64 while Spark
        # emits int64 — numerically-equal values hash-mismatch. Flag
        # them outright (round-4 driver regression class).
        return "DRIVER-UNHASHABLE"
    if t in ("TINYINT", "SMALLINT", "INTEGER", "BIGINT", "UTINYINT", "USMALLINT", "UINTEGER", "UBIGINT"):
        return "int"
    if t in ("FLOAT", "DOUBLE", "REAL"):
        return "float"
    if t == "BOOLEAN":
        return "bool"
    if t in ("VARCHAR", "TEXT"):
        return "str"
    return "other"


def _spark_family(dt):
    t = dt.lower()
    if t in ("tinyint", "smallint", "int", "bigint", "byte", "short", "long", "integer"):
        return "int"
    if t in ("float", "double"):
        return "float"
    if t == "boolean":
        return "bool"
    if t == "string":
        return "str"
    return "other"


def dtype_mismatches(spark_dtypes, con, oracle_sql):
    """Compare DuckDB declared output types (LIMIT-0 plan, no data
    scanned) against the Spark schema, int-family vs float-family —
    the check the fetchall()-based value compare is blind to because
    DuckDB collapses HUGEINT to a Python int."""
    rel = con.sql(f"SELECT * FROM ({oracle_sql}) q LIMIT 0")
    ofam = {c: _duck_family(t) for c, t in zip(rel.columns, rel.types)}
    sfam = dict(spark_dtypes)
    out = []
    for c, fam in ofam.items():
        if fam == "DRIVER-UNHASHABLE":
            out.append(f"{c}: oracle emits HUGEINT/DECIMAL (cast to BIGINT)")
        elif c in sfam and fam != "other" and _spark_family(sfam[c]) != fam:
            out.append(f"{c}: spark {sfam[c]} vs oracle {fam}")
    return out


def main():
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])

    from redshells_spark import get_spark_session
    from redshells_spark.queries import get_oracles, get_queries
    from redshells_spark.session import _host_driver_memory

    # without a pinned heap, a quarter of the host (as perfbench/run.py
    # takes): a verify and a pytest JVM side by side must both fit
    heap = None if os.environ.get("SPARK_GRAFT_DRIVER_MEM") else {
        "spark.driver.memory": _host_driver_memory(share=4)
    }
    spark = get_spark_session("verify_local", shuffle_partitions=16, extra_confs=heap)
    spark.sparkContext.setLogLevel("ERROR")
    con = duckdb.connect()
    for t in TABLES:
        # driver testdata ships single files; Spark-written corpora
        # (tools/scale_probe.py) are part-file directories
        path = f"{sf_dir}/{t}.parquet"
        if os.path.isdir(path):
            path = f"{path}/*.parquet"
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{path}'")

    queries, oracles = get_queries(), get_oracles()
    results = {}
    for name, fn in queries.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            sdf = fn(spark, sf_dir)
            scols = sdf.columns
            sdtypes = sdf.dtypes
            srows = [tuple(r) for r in sdf.collect()]
        except Exception as e:  # noqa: BLE001
            results[name] = f"SPARK ERROR: {type(e).__name__}: {e}"
            print(f"{name:32s} SPARK ERROR: {e}", flush=True)
            continue
        if name not in oracles:
            results[name] = f"rows-only: {len(srows)} rows"
            print(f"{name:32s} rows-only  {len(srows):7d} rows  {time.time()-t0:5.1f}s", flush=True)
            continue
        try:
            cur = con.execute(oracles[name])
            ocols = [d[0] for d in cur.description]
            orows = cur.fetchall()
        except Exception as e:  # noqa: BLE001
            results[name] = f"ORACLE ERROR: {type(e).__name__}: {e}"
            print(f"{name:32s} ORACLE ERROR: {e}", flush=True)
            continue
        status = []
        try:
            dt_bad = dtype_mismatches(sdtypes, con, oracles[name])
        except Exception as e:  # noqa: BLE001
            dt_bad = [f"dtype-probe error: {e}"]
        if dt_bad:
            status.append(f"DTYPE {dt_bad}")
        if sorted(scols) != sorted(ocols):
            status.append(f"COLS spark={sorted(scols)} oracle={sorted(ocols)}")
        if len(srows) != len(orows):
            status.append(f"COUNT spark={len(srows)} oracle={len(orows)}")
        if not status:
            cs, co = canon(srows, scols), canon(orows, ocols)
            if cs != co:
                diffs = [
                    (a, b) for a, b in zip(cs, co) if a != b
                ][:3]
                status.append(f"VALUES ({sum(1 for a, b in zip(cs, co) if a != b)} rows differ) e.g. {diffs}")
        verdict = "OK" if not status else "; ".join(status)
        results[name] = verdict
        print(f"{name:32s} {('MATCH ' if verdict == 'OK' else 'FAIL  ')}{len(srows):7d} rows  {time.time()-t0:5.1f}s  {verdict if verdict != 'OK' else ''}", flush=True)

    n_ok = sum(1 for v in results.values() if v == "OK")
    n_ro = sum(1 for v in results.values() if str(v).startswith("rows-only"))
    print(f"\n{n_ok} matched, {n_ro} rows-only, {len(results) - n_ok - n_ro} failed, of {len(results)}")
    spark.stop()
    return 0 if n_ok + n_ro == len(results) else 1


if __name__ == "__main__":
    raise SystemExit(main())
