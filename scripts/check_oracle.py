"""Local stand-in for the driver's correctness gate: run every
queries() entry on Spark AND its oracle_sql() on DuckDB at sf0.01,
compare row count + column names + order-insensitive value hash.

Usage: python scripts/check_oracle.py [sf_dir] [query ...]
"""

from __future__ import annotations

import hashlib
import os
import sys
import time
from datetime import date, datetime
from decimal import Decimal

import duckdb

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()


def canon(v):
    if v is None:
        return "NULL"
    # pandas NaT/NaN scalars (the oracle rows now come through pandas,
    # matching the driver harness) canonicalize as NULL
    try:
        import pandas as _pd

        if _pd.api.types.is_scalar(v) and _pd.isna(v):
            return "NULL"
    except Exception:
        pass
    if isinstance(v, float):
        return repr(v)
    if isinstance(v, Decimal):
        return repr(float(v))
    if isinstance(v, datetime):
        # DuckDB DATE comes through pandas as a midnight datetime64 while
        # Spark keeps DateType — the driver hashes those equal (q3 was
        # green in r1), so canonicalize midnight timestamps to dates.
        if v.hour == v.minute == v.second == v.microsecond == 0:
            return v.date().isoformat()
        return v.strftime("%Y-%m-%d %H:%M:%S.%f")
    if isinstance(v, date):
        return v.isoformat()
    if isinstance(v, bool):
        return str(int(v))
    return str(v)


def table_hash(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    lines = sorted("|".join(canon(r[i]) for i in order) for r in rows)
    h = hashlib.sha256()
    for line in lines:
        h.update(line.encode())
        h.update(b"\n")
    return h.hexdigest()[:16]


def main():
    sf_dir = sys.argv[1] if len(sys.argv) > 1 and "/" in sys.argv[1] else "/root/testdata/sf0.01"
    only = [a for a in sys.argv[1:] if "/" not in a]

    from rheoceros_spark.session import get_session

    import __spark_entry__ as entrymod

    spark = get_session(
        "check_oracle",
        master="local[8]",
        shuffle_partitions=16,
        extra_confs={"spark.ui.enabled": "false", "spark.driver.memory": "16g"},
    )
    con = duckdb.connect()

    for t in TABLES:
        path = f"{sf_dir}/{t}.parquet"
        if os.path.isdir(path):
            # Spark-written dataset directory → glob the part files
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{path}/*.parquet'")
        elif os.path.exists(path):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{path}'")
        # missing tables are skipped: synthetic scale dirs (e.g. the sf1
        # stability corpus) carry only the tables under test

    qs, oracles = entrymod.queries(), entrymod.oracle_sql()
    if "--retired" in only or any(n in entrymod.retired_queries() for n in only):
        # include driver-window retirees (verification twins) so they
        # stay parity-gated even without official rows
        only = [n for n in only if n != "--retired"]
        qs = {**qs, **entrymod.retired_queries()}
        oracles = {**oracles, **entrymod.retired_oracle_sql()}
    if "--staged" in only or any(n in entrymod._STAGED_QUERIES for n in only):
        # staged-for-next-round queries are parity-gated here the same
        # way pytest's test_staged.py gates them at the small sfs
        only = [n for n in only if n != "--staged"]
        qs = {**qs, **entrymod._STAGED_QUERIES}
        oracles = {**oracles, **entrymod._STAGED_ORACLES}
    names = [n for n in qs if not only or n in only]
    results = {}
    for name in names:
        t0 = time.time()
        try:
            df = qs[name](spark, sf_dir)
            scols = df.columns
            srows = [tuple(r) for r in df.collect()]
        except Exception as e:
            results[name] = f"SPARK ERROR: {type(e).__name__}: {str(e)[:160]}"
            print(f"✗ {name}: {results[name]}")
            continue
        if name not in oracles:
            results[name] = f"rows-only ({len(srows)} rows)"
            print(f"~ {name}: no oracle, {len(srows)} rows [{time.time()-t0:.1f}s]")
            continue
        try:
            # Go through pandas like the driver harness does: DuckDB
            # HUGEINT (bare integer sum()) becomes float64 here, so a
            # local green predicts a driver green (VERDICT r1 #2 —
            # fetchall() hid exactly that class of mismatch).
            pdf = con.sql(oracles[name]).df()
            dcols = [c.lower() for c in pdf.columns]
            drows = list(pdf.itertuples(index=False, name=None))
        except Exception as e:
            results[name] = f"ORACLE ERROR: {type(e).__name__}: {str(e)[:160]}"
            print(f"✗ {name}: {results[name]}")
            continue
        ok_count = len(srows) == len(drows)
        ok_schema = sorted(c.lower() for c in scols) == sorted(dcols)
        sh = table_hash([c.lower() for c in scols], srows)
        dh = table_hash(dcols, drows)
        ok_hash = sh == dh
        status = "✓" if (ok_count and ok_schema and ok_hash) else "✗"
        detail = []
        if not ok_count:
            detail.append(f"rows {len(srows)} vs {len(drows)}")
        if not ok_schema:
            detail.append(f"schema {sorted(scols)} vs {sorted(dcols)}")
        if not ok_hash and ok_count and ok_schema:
            detail.append(f"hash {sh} vs {dh}")
            # show first differing line for debugging
            order_s = sorted(range(len(scols)), key=lambda i: scols[i].lower())
            order_d = sorted(range(len(dcols)), key=lambda i: dcols[i])
            sl = sorted("|".join(canon(r[i]) for i in order_s) for r in srows)
            dl = sorted("|".join(canon(r[i]) for i in order_d) for r in drows)
            for a, b in zip(sl, dl):
                if a != b:
                    detail.append(f"first diff:\n  spark: {a[:200]}\n  duck : {b[:200]}")
                    break
        results[name] = "OK" if status == "✓" else "; ".join(detail)
        print(f"{status} {name} ({len(srows)} rows, hash {sh}) [{time.time()-t0:.1f}s]" + ("" if status == "✓" else f"\n   {results[name]}"))

    bad = {k: v for k, v in results.items() if v not in ("OK",) and not v.startswith("rows-only")}
    print(f"\n{len(names) - len(bad)}/{len(names)} OK")
    if bad:
        sys.exit(1)


if __name__ == "__main__":
    main()
