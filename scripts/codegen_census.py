#!/usr/bin/env python
"""Whole-stage-codegen census of the query registry.

Runs every registry query (or the ones named) twice over, in one
session: a first pass in registry order, then a second pass in the
same order. After each query it reads Spark's ``CodegenMetrics``
compilation counter, so the census says, per query, how many classes
the first pass newly compiled (``new``) and how many the second pass
compiled again (``again``). With a generated-class cache that holds
the working set, ``again`` is only the classes whose source differs
run to run; with a smaller cache it is everything evicted in between.
At the end it reports the JVM's metaspace, where the compiled classes
live.

``session.CODEGEN_CACHE_MAX_ENTRIES`` is sized from this census.

Usage::

    python scripts/codegen_census.py --sf-dir DIR [--max-entries N]
                                     [--out FILE] [query ...]

*DIR* holds the registry's parquet tables (the census behind the
session constant used the sf0.001 test tables).

``--max-entries`` replaces the session's cache size for this run
(e.g. 100, Spark's default, to see what a default session pays).
The JSON goes to ``--out`` (default: stdout); a summary goes to
stderr.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def metaspace_mb(spark) -> dict[str, float]:
    """Used bytes (MB) of the JVM's metaspace pools."""
    mf = spark.sparkContext._jvm.java.lang.management.ManagementFactory
    out = {}
    for pool in mf.getMemoryPoolMXBeans():
        name = pool.getName()
        if name in ("Metaspace", "Compressed Class Space"):
            out[name] = round(pool.getUsage().getUsed() / 2**20, 1)
    return out


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--sf-dir", required=True)
    ap.add_argument("--max-entries", type=int, default=None)
    ap.add_argument("--out", default=None)
    ap.add_argument("queries", nargs="*")
    args = ap.parse_args()

    from etl_python_azure_spark.queries import registry
    from etl_python_azure_spark.session import (
        codegen_compilations as compiles,
        get_spark,
    )

    extra = None
    if args.max_entries is not None:
        extra = {"spark.sql.codegen.cache.maxEntries": str(args.max_entries)}
    spark = get_spark("codegen-census", extra_conf=extra)
    reg = registry()
    names = args.queries or list(reg)
    spark.range(1000).selectExpr("sum(id)").collect()  # JVM warm-up

    counts: dict[str, dict[str, int]] = {n: {} for n in names}
    errors: dict[str, str] = {}
    t0 = time.time()
    for key in ("new", "again"):
        for name in names:
            before = compiles(spark)
            try:
                reg[name].builder(spark, args.sf_dir).write.format(
                    "noop"
                ).mode("overwrite").save()
            except Exception as ex:  # recorded, never silently dropped
                errors[name] = f"{type(ex).__name__}: {str(ex)[:200]}"
            counts[name][key] = compiles(spark) - before
            spark.catalog.clearCache()

    total_new = sum(c["new"] for c in counts.values())
    total_again = sum(c["again"] for c in counts.values())
    again = {n: c["again"] for n, c in counts.items() if c["again"]}
    census = {
        "sf_dir": os.path.basename(args.sf_dir.rstrip("/")),
        "cores": spark.sparkContext.defaultParallelism,
        "max_entries": int(
            spark.conf.get("spark.sql.codegen.cache.maxEntries")
        ),
        "queries": len(names),
        "first_pass_compiles": total_new,
        "second_pass_compiles": total_again,
        "queries_compiling_again": len(again),
        "metaspace_mb": metaspace_mb(spark),
        "wall_s": round(time.time() - t0, 1),
        "top_new": dict(
            sorted(
                ((n, c["new"]) for n, c in counts.items()),
                key=lambda kv: -kv[1],
            )[:10]
        ),
        "top_again": dict(sorted(again.items(), key=lambda kv: -kv[1])[:10]),
        "errors": errors,
        "per_query": counts,
    }
    text = json.dumps(census, indent=1)
    if args.out:
        with open(args.out, "w") as fh:
            fh.write(text + "\n")
    else:
        print(text)
    print(
        f"max_entries={census['max_entries']}: first pass "
        f"{total_new} compiles, second pass {total_again} "
        f"({len(again)} queries), metaspace {census['metaspace_mb']}, "
        f"{len(errors)} errors, {census['wall_s']} s",
        file=sys.stderr,
    )
    spark.stop()


if __name__ == "__main__":
    main()
