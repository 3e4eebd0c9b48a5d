"""The session factory's codegen policy: a generated class is compiled
once per process, not once per LRU turn of Spark's default 100-entry
class cache."""

from __future__ import annotations

from etl_python_azure_spark.session import (
    CODEGEN_CACHE_MAX_ENTRIES,
    codegen_compilations,
)

# each plan compiles two classes of its own (the literal is inlined in
# the generated code), so 75 plans cycle 150 distinct classes: more
# than Spark's default cache holds
_PLANS = 75


def _run_plans(spark) -> int:
    before = codegen_compilations(spark)
    for i in range(_PLANS):
        spark.range(0, 4, 1, 1).selectExpr(f"id * {i + 7919} AS x").collect()
    return codegen_compilations(spark) - before


def test_codegen_cache_holds_the_working_set(spark):
    assert spark.conf.get("spark.sql.codegen.cache.maxEntries") == str(
        CODEGEN_CACHE_MAX_ENTRIES
    )
    first = _run_plans(spark)
    assert first > 100
    assert _run_plans(spark) == 0
