"""Local stand-in for the driver's correctness gate.

Runs each __spark_entry__.queries() entry on Spark and its oracle_sql()
twin on DuckDB over the same parquet tables, then compares row count,
sorted column names, and an order-insensitive value hash. Strict about
values: floats compared via repr (bit-exact), timestamps normalized to
ISO format. If this passes, a looser driver compare passes too.

BOTH result sets go through pandas — DuckDB via `.df()`, Spark via
`.toPandas()` — because that is the dtype path the driver's
canonicalizer uses, and it must be applied to BOTH sides:
- An uncast output SUM in the oracle is HUGEINT (int128); pandas
  coerces it to float64 ("3.0") while a non-null Spark long stays
  int64 ("3") → driver hash mismatch that fetchall() (native ints)
  cannot see. All five red CORRECTNESS_r02 rows were this.
- A NULLABLE bigint column becomes float64 on BOTH sides ("3161.0" ==
  "3161.0") → the driver passes, so comparing pandas-duck against
  collect()-spark (native int "3161") would flag false mismatches
  (7 queries, all driver-green in r2, fail that way).
Two rounds of red rows (r1 array cells, r2 HUGEINT) came from this
gate being laxer than the driver; keep both sides on the pandas path.

Usage: python tools/check_oracle.py [sf_dir] [query ...]
"""

from __future__ import annotations

import hashlib
import math
import os
import sys
import time

import numpy as np
import pandas as pd

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

# argv parsing happens under __main__ (bottom of file): this module is
# exec'd by tests/test_check_oracle_canonicalizer.py at pytest
# collection time, where argv[1] is a pytest argument — reading it here
# would silently make SF_DIR e.g. 'tests/' (r14 ADVICE).
SF_DIR = "/root/testdata/sf0.01"
ONLY: set = set()

from pyspark_etl_project_spark.plans.tables import TABLES  # noqa: E402
# (shared with the Spark load path — a copy here once meant a new table
# could exist Spark-side with no DuckDB view, failing with a confusing
# error instead of a mismatch)


def norm_value(v):
    if isinstance(v, np.ndarray):
        v = v.tolist()
    if isinstance(v, np.generic):
        v = v.item()
    if v is None or v is pd.NaT:
        return "NULL"
    if isinstance(v, (bytes, bytearray)):
        return bytes(v).hex()
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return repr(v)
    if isinstance(v, bool):
        return str(int(v))
    if hasattr(v, "isoformat"):  # datetime/date
        s = v.isoformat(sep=" ") if hasattr(v, "hour") else v.isoformat()
        return s
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(norm_value(x) for x in v) + "]"
    return str(v)


def frame_digest(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i].lower())
    row_hashes = sorted(
        hashlib.md5("\x1f".join(norm_value(r[i]) for i in order).encode()).hexdigest()
        for r in rows
    )
    return hashlib.md5("\n".join(row_hashes).encode()).hexdigest()


def main():
    import duckdb

    import __spark_entry__ as entrymod
    from pyspark_etl_project_spark.session import get_spark

    spark = get_spark("check_oracle")
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'")

    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    # A typo'd/removed name on the command line must be a hard error —
    # otherwise the filter skips everything and the gate prints
    # "0 failures" with ZERO coverage.
    unknown = ONLY - set(qs)
    if unknown:
        print(f"ERROR: unknown query name(s): {sorted(unknown)}")
        sys.exit(2)
    failures = []
    for name, fn in qs.items():
        if ONLY and name not in ONLY:
            continue
        t0 = time.time()
        try:
            sdf = fn(spark, SF_DIR)
            # Registry policy (r6 lesson): no query returns an
            # array/map/struct column — the DRIVER's canonicalizer
            # pandas-sorts result columns and throws "unhashable type"
            # on complex cells even when values are right. Reject here
            # so the hazard can't recur.
            complex_cols = [f.name for f in sdf.schema.fields
                            if f.dataType.typeName()
                            in ("array", "map", "struct")]
            if complex_cols:
                failures.append(name)
                print(f"FAIL {name}: complex-typed output columns "
                      f"{complex_cols} (driver canonicalizer cannot sort "
                      f"them — emit scalar columns)")
                continue
            spdf = sdf.toPandas()
            # Driver-canonicalizer simulation: the external gate sorts
            # the pandas frame by all columns before hashing. Anything
            # sort_values chokes on (unhashable cells, incomparable
            # mixed types) is a driver-red `err` row even when values
            # are correct — reproduce that failure mode here.
            try:
                spdf.sort_values(by=sorted(spdf.columns))
            except Exception as e:  # noqa: BLE001
                failures.append(name)
                print(f"FAIL {name}: driver canonicalizer would fail "
                      f"(pandas sort_values): {e}")
                continue
            scols = list(spdf.columns)
            srows = [tuple(r) for r in spdf.itertuples(index=False, name=None)]
        except Exception as e:  # noqa: BLE001
            failures.append(name)
            print(f"FAIL {name}: spark error: {e}")
            continue
        if name not in oracles:
            print(f"ok   {name}: rows-only ({len(srows)} rows, no oracle) "
                  f"[{time.time()-t0:.1f}s]")
            continue
        try:
            # .df() (pandas), not fetchall(): reproduces the driver's
            # canonicalizer dtypes (HUGEINT -> float64, LIST -> ndarray).
            ddf = con.execute(oracles[name]).df()
            dcols = list(ddf.columns)
            drows = [tuple(r) for r in ddf.itertuples(index=False, name=None)]
        except Exception as e:  # noqa: BLE001
            failures.append(name)
            print(f"FAIL {name}: duckdb error: {e}")
            continue

        problems = []
        if len(srows) != len(drows):
            problems.append(f"rowcount spark={len(srows)} duck={len(drows)}")
        if sorted(c.lower() for c in scols) != sorted(c.lower() for c in dcols):
            problems.append(f"cols spark={sorted(scols)} duck={sorted(dcols)}")
        if not problems:
            sh = frame_digest(scols, srows)
            dh = frame_digest(dcols, drows)
            if sh != dh:
                problems.append("value-hash mismatch")
                _diff_sample(scols, srows, dcols, drows)
        if problems:
            failures.append(name)
            print(f"FAIL {name}: {'; '.join(problems)}")
        else:
            print(f"ok   {name}: {len(srows)} rows hash-match [{time.time()-t0:.1f}s]")

    print(f"\n{len(failures)} failures" + (f": {failures}" if failures else ""))
    spark.stop()
    sys.exit(1 if failures else 0)


def _diff_sample(scols, srows, dcols, drows, n=3):
    sorder = sorted(range(len(scols)), key=lambda i: scols[i].lower())
    dorder = sorted(range(len(dcols)), key=lambda i: dcols[i].lower())
    skeys = {"\x1f".join(norm_value(r[i]) for i in sorder) for r in [tuple(x) for x in srows]}
    dkeys = {"\x1f".join(norm_value(r[i]) for i in dorder) for r in drows}
    only_s = list(skeys - dkeys)[:n]
    only_d = list(dkeys - skeys)[:n]
    cols = [scols[i] for i in sorder]
    print(f"    columns: {cols}")
    for r in only_s:
        print(f"    spark-only: {r.split(chr(31))}")
    for r in only_d:
        print(f"    duck-only:  {r.split(chr(31))}")


if __name__ == "__main__":
    if len(sys.argv) > 1:
        SF_DIR = sys.argv[1]
    ONLY = set(sys.argv[2:])
    main()
