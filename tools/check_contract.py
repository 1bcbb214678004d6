"""Self-check of the __spark_entry__ driver contract.

Runs every queries() entry on Spark and its oracle_sql() on DuckDB at
the given sf dir, then compares row count, column names, and an
order-insensitive value fingerprint — a local stand-in for the driver's
CORRECTNESS harness.
"""

from __future__ import annotations

import hashlib
import math
import os
import sys

import duckdb

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()


def norm(v):
    # Fixed 6-DECIMAL-PLACE formatting, matching the driver's
    # normalization. The r02 lesson: %.6g collapses to 6 *significant*
    # digits, which masks exactly the last-decimal flips the driver
    # hashes differently (a 1-ulp engine difference landing on a
    # round(x, 6) boundary). Integral floats still collapse to int
    # strings for int/double type tolerance — that cannot mask a flip,
    # since the flipped neighbor formats differently either way.
    if v is None:
        return "NULL"
    if isinstance(v, float):
        if math.isnan(v):
            return "NULL"
        if v == 0.0:
            return "0"  # fold -0.0
        if v == int(v) and abs(v) < 1e15:
            return str(int(v))
        return f"{v:.6f}"
    if isinstance(v, bool):
        return str(int(v))
    return str(v)


def fingerprint(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    lines = sorted("|".join(norm(r[i]) for i in order) for r in rows)
    h = hashlib.sha256()
    for ln in lines:
        h.update(ln.encode())
        h.update(b"\n")
    return h.hexdigest()[:16]


def _dtype_kind(dt) -> str:
    """Collapse a pandas dtype to the equivalence class the driver's
    hasher cares about: int-vs-float is the hazard (a hasher that
    stringifies 1 vs 1.0 diverges even when every value is equal —
    the r03 rollup_sliding_5m failure). bool folds to int (norm()
    does the same), datetimes/objects/strings compare by kind name."""
    k = dt.kind  # numpy kind char: i/u int, f float, b bool, M datetime, O object
    if k in ("i", "u", "b"):
        return "int"
    if k == "f":
        return "float"
    if k == "M":
        return "datetime"
    return "other"


def dtype_audit(sf_dir: str, only: list[str] | None = None) -> int:
    """Compare Spark result dtypes vs DuckDB oracle dtypes (as pandas)
    for every contract query. Any int-vs-float kind mismatch on a
    shared column is a latent driver-hash failure even when values
    match — VERDICT r03 'Next round' item #2."""
    import __spark_entry__ as entrymod
    from adtk_spark.session import get_spark

    cores = int(os.environ.get("SPARK_GRAFT_CHECK_CORES", "8"))
    spark = get_spark("dtype-audit", cores=cores, shuffle_partitions=cores)
    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")

    qs, oracles = entrymod.queries(), entrymod.oracle_sql()
    failures = []
    for name, fn in qs.items():
        if only and name not in only:
            continue
        if name not in oracles:
            continue
        try:
            spdf = fn(spark, sf_dir).toPandas()
            ddf = con.sql(oracles[name]).df()
        except Exception as e:
            print(f"FAIL {name}: error: {e}")
            failures.append(name)
            continue
        bad = []
        for c in spdf.columns:
            if c not in ddf.columns:
                continue
            ks, kd = _dtype_kind(spdf[c].dtype), _dtype_kind(ddf[c].dtype)
            if ks != kd and {ks, kd} == {"int", "float"}:
                # float side is only safe if every value is integral
                # AND the int side cannot exceed float64's exact range
                fl = spdf[c] if ks == "float" else ddf[c]
                it = ddf[c] if ks == "float" else spdf[c]
                nonint = fl.dropna().map(lambda v: v != int(v)).any()
                big = it.dropna().abs().max() if len(it.dropna()) else 0
                bad.append(f"{c}: spark={spdf[c].dtype} duck={ddf[c].dtype}"
                           f"{' NONINTEGRAL' if nonint else ''}"
                           f"{' >2^53' if big and big > 2**53 else ''}")
        if bad:
            print(f"DTYPE-MISMATCH {name}: {'; '.join(bad)}")
            failures.append(name)
        else:
            print(f"ok   {name}")
    print("\nDTYPE FAILURES:", failures or "none")
    spark.stop()
    return 1 if failures else 0


def main(sf_dir: str, only: list[str] | None = None):
    import __spark_entry__ as entrymod
    from adtk_spark.session import get_spark

    cores = int(os.environ.get("SPARK_GRAFT_CHECK_CORES", "8"))
    spark = get_spark("contract-check", cores=cores, shuffle_partitions=cores)
    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")

    qs, oracles = entrymod.queries(), entrymod.oracle_sql()
    failures = []
    for name, fn in qs.items():
        if only and name not in only:
            continue
        try:
            sdf = fn(spark, sf_dir)
            scols = sdf.columns
            srows = [tuple(r) for r in sdf.collect()]
        except Exception as e:
            print(f"FAIL {name}: spark error: {e}")
            failures.append(name)
            continue
        if name not in oracles:
            print(f"ok?  {name}: rows={len(srows)} (no oracle, rows-only check)")
            continue
        try:
            res = con.sql(oracles[name])
            dcols = res.columns
            drows = res.fetchall()
        except Exception as e:
            print(f"FAIL {name}: duckdb error: {e}")
            failures.append(name)
            continue
        ok_schema = sorted(c.lower() for c in scols) == sorted(c.lower() for c in dcols)
        ok_rows = len(srows) == len(drows)
        fs = fingerprint(scols, srows)
        fd = fingerprint(dcols, drows)
        status = "OK  " if (ok_schema and ok_rows and fs == fd) else "FAIL"
        print(f"{status} {name}: spark {len(srows)}r cols={sorted(scols)} hash={fs} | "
              f"duck {len(drows)}r hash={fd}{'' if ok_schema else ' SCHEMA-MISMATCH ' + str(sorted(dcols))}")
        if status == "FAIL":
            failures.append(name)
            # show a few diffs
            order_s = sorted(range(len(scols)), key=lambda i: scols[i])
            order_d = sorted(range(len(dcols)), key=lambda i: dcols[i])
            s_lines = {"|".join(norm(r[i]) for i in order_s) for r in srows}
            d_lines = {"|".join(norm(r[i]) for i in order_d) for r in drows}
            for ln in list(s_lines - d_lines)[:3]:
                print(f"      spark-only: {ln}")
            for ln in list(d_lines - s_lines)[:3]:
                print(f"      duck-only:  {ln}")
    print("\nFAILURES:", failures or "none")
    spark.stop()
    return 1 if failures else 0


if __name__ == "__main__":
    argv = [a for a in sys.argv[1:] if a != "--dtypes"]
    mode = dtype_audit if "--dtypes" in sys.argv else main
    sf = argv[0] if len(argv) > 0 else "/root/testdata/sf0.01"
    only = argv[1].split(",") if len(argv) > 1 else None
    raise SystemExit(mode(sf, only))
