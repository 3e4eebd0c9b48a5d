#!/usr/bin/env python
"""Local mimic of the driver's correctness gate.

Runs every ``queries()`` entry at sf0.01 (or $SPARK_GRAFT_ORACLE_DIR)
and its ``oracle_sql()`` in DuckDB over the same parquet, then
compares: row count, sorted column names, and the exact multiset of
row values (columns sorted by name). Zero tolerance — if this passes,
any reasonable value-hash in the real driver matches too.

Usage: python scripts/oracle_check.py [query ...]
"""

from __future__ import annotations

import math
import os
import sys
import time
from collections import Counter
from datetime import date, datetime
from decimal import Decimal

import duckdb

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

TABLES = (
    "region nation customer supplier part orders lineitem events "
    "documents embeddings"
).split()


def _norm(v):
    """Normalize a cell for cross-engine comparison."""
    if isinstance(v, Decimal):
        return ("dec", str(v))
    if isinstance(v, float):
        if math.isnan(v):
            return ("f", "nan")
        return ("f", repr(v))
    if isinstance(v, datetime):
        return ("ts", v.isoformat())
    if isinstance(v, date):
        return ("d", v.isoformat())
    if isinstance(v, (list, tuple)):
        return tuple(_norm(x) for x in v)
    return v


def _rowset(rows, colnames):
    order = sorted(range(len(colnames)), key=lambda i: colnames[i])
    return Counter(tuple(_norm(r[i]) for i in order) for r in rows)


def duck_class(t: str) -> str:
    """Map a DECLARED DuckDB column type to the pandas dtype class
    its ``.df()`` conversion produces — so the dtype gate needs no
    second query execution (r03 ADVICE): ``DESCRIBE <sql>`` plans
    without running. HUGEINT is the load-bearing case: pandas
    renders it float64 (the r02 hash-mismatch class)."""
    t = t.upper()
    if t.endswith("[]") or t.startswith(("LIST", "ARRAY")):
        return "list"
    if t.startswith(("STRUCT", "MAP", "UNION")):
        return "dict"
    if t in ("HUGEINT", "UHUGEINT"):
        return "float"  # pandas renders as float64 — the r02 drift
    if t in (
        "TINYINT", "SMALLINT", "INTEGER", "BIGINT",
        "UTINYINT", "USMALLINT", "UINTEGER", "UBIGINT",
    ):
        return "int"
    if t.startswith("DECIMAL"):
        return "decimal"
    if t in ("DOUBLE", "FLOAT", "REAL"):
        return "float"
    if t == "BOOLEAN":
        return "bool"
    if t == "DATE":
        return "date"
    if t.startswith(("TIMESTAMP", "DATETIME")):
        return "datetime"
    if t in ("VARCHAR", "BLOB", "UUID", "JSON"):
        return "str"
    return t.lower()


def _dtype_problems(sdf, d_classes, srows):
    """Pandas-dtype-class drift between the engines.

    The round driver compares results after pandas conversion, where
    DuckDB HUGEINT (any un-cast integer SUM) silently becomes
    float64 and DECIMAL becomes object — so an exact value match on
    ``fetchall`` rows (above) can still hash-mismatch in the driver.
    *d_classes* comes from ``DESCRIBE`` via :func:`duck_class`;
    date-vs-datetime is benign (driver-normalized, r01 evidence).
    """
    sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
    from dtype_audit import spark_class

    s_classes = {
        f.name: spark_class(f.dataType.simpleString())
        for f in sdf.schema.fields
    }
    benign = {("date", "datetime"), ("datetime", "date")}
    # a Spark int column CONTAINING nulls also lands as float64 in
    # pandas, so int-vs-float is benign iff the data has a null
    # (schema nullability is too permissive to trust)
    has_null = {
        c: any(r[c] is None for r in srows) for c in sdf.columns
    }
    out = []
    # registry rule: no nested (array/map/struct) output columns —
    # the driver's pandas sort-then-hash canonicalizer raises
    # `unhashable type: 'list'` on any such cell (r03 red rows)
    for c, k in s_classes.items():
        if k == "list" or k.startswith(("map", "struct")):
            out.append(f"nested[{c}] spark={k} — driver cannot hash")
    for c in s_classes:
        if c not in d_classes:
            continue
        pair = (s_classes[c], d_classes[c])
        if pair[0] == pair[1] or pair in benign:
            continue
        if pair == ("int", "float") and has_null.get(c):
            continue
        if "unknown-empty" in pair:
            continue
        out.append(f"dtype[{c}] spark={pair[0]} duckdb-pandas={pair[1]}")
    return out


def main() -> int:
    import __spark_entry__ as e
    from etl_python_azure_spark.session import get_spark

    sf_dir = os.environ.get("SPARK_GRAFT_ORACLE_DIR", "/root/testdata/sf0.01")
    only = set(sys.argv[1:])

    if os.environ.get("SPARK_GRAFT_VANILLA"):
        # driver-environment mimic: a bare session with none of our
        # factory's confs — load_tables must pin everything the query
        # semantics rely on (ns timestamps, UTC, NTZ normalization)
        from pyspark.sql import SparkSession

        spark = (
            SparkSession.builder.appName("oracle-check-vanilla")
            .master("local[8]")
            .getOrCreate()
        )
    else:
        spark = get_spark("oracle-check")
    con = duckdb.connect()
    for t in TABLES:
        p = f"{sf_dir}/{t}.parquet"
        if os.path.exists(p):
            # single file (testdata) or Spark-written directory of
            # part files (scale-rehearsal data) — glob the latter
            src = f"{p}/*.parquet" if os.path.isdir(p) else p
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{src}'")

    qs, oracles = e.queries(), e.oracle_sql()
    failures = []
    for name, builder in qs.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            sdf = builder(spark, sf_dir)
            scols = sdf.columns
            srows = sdf.collect()
        except Exception as ex:  # noqa: BLE001
            failures.append(name)
            print(f"FAIL {name}: spark error: {ex}")
            continue
        if name not in oracles:
            print(f"ok   {name}: rows-only ({len(srows)} rows, "
                  f"{time.time()-t0:.1f}s) [no oracle]")
            continue
        try:
            # one execution: DESCRIBE only plans (dtype gate input),
            # fetchall materializes (row compare input)
            desc = con.execute("DESCRIBE " + oracles[name]).fetchall()
            d_classes = {r[0]: duck_class(r[1]) for r in desc}
            cur = con.execute(oracles[name])
            ocols = [d[0] for d in cur.description]
            orows = cur.fetchall()
        except Exception as ex:  # noqa: BLE001
            failures.append(name)
            print(f"FAIL {name}: duckdb error: {ex}")
            continue
        problems = _dtype_problems(sdf, d_classes, srows)
        if sorted(scols) != sorted(ocols):
            problems.append(f"columns spark={sorted(scols)} oracle={sorted(ocols)}")
        if len(srows) != len(orows):
            problems.append(f"rowcount spark={len(srows)} oracle={len(orows)}")
        if not problems:
            s_set, o_set = _rowset(srows, scols), _rowset(orows, ocols)
            if s_set != o_set:
                diff_s = s_set - o_set
                diff_o = o_set - s_set
                ex_s = next(iter(diff_s), None)
                ex_o = next(iter(diff_o), None)
                problems.append(
                    f"values differ ({sum(diff_s.values())} spark-only rows); "
                    f"e.g. spark={ex_s} oracle={ex_o}"
                )
        if problems:
            failures.append(name)
            print(f"FAIL {name}: " + "; ".join(problems))
        else:
            print(f"ok   {name}: {len(srows)} rows match ({time.time()-t0:.1f}s)")

    n = len(only & qs.keys()) if only else len(qs)
    print(f"\n{n - len(failures)}/{n} queries pass")
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
