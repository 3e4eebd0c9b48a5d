"""Guards on the round-driver contract (__spark_entry__ + bench)."""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

import __spark_entry__ as entrymod

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_registry_shape():
    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    assert len(qs) >= 60
    # every oracle refers to a registered query
    assert set(oracles) <= set(qs)
    # builders are callables; oracle SQL is non-empty text
    assert all(callable(f) for f in qs.values())
    assert all(isinstance(s, str) and s.strip() for s in oracles.values())


def test_entry_smoke(spark):
    df = entrymod.entry(spark)
    rows = df.collect()
    assert len(rows) > 0
    assert "sum_qty" in df.columns


def test_bench_emits_one_json_line(sf_dir, tmp_path):
    detail = str(tmp_path / "detail.json")
    env = dict(
        os.environ,
        SPARK_GRAFT_SF_DIR=sf_dir,
        SPARK_GRAFT_BENCH_DETAIL=detail,
    )
    out = subprocess.run(
        [sys.executable, os.path.join(REPO, "bench.py")],
        capture_output=True,
        text=True,
        cwd=REPO,
        env=env,
        timeout=600,
    )
    assert out.returncode == 0, out.stderr[-2000:]
    line = out.stdout.strip().splitlines()[-1]
    # the driver captures only the tail of stdout — r04's full
    # per-query map outgrew it and the bench gate recorded
    # parsed:null. Hard ceiling so the line always survives capture.
    assert len(line.encode()) <= 2048, f"bench line {len(line)}B > 2KB"
    payload = json.loads(line)
    assert payload["unit"] == "sec" and payload["queries"]
    assert payload["value"] > 0
    assert payload["n_queries"] >= len(payload["queries"])
    # full per-query map lands in the (redirected) detail file
    d = json.load(open(detail))
    assert len(d["queries"]) == payload["n_queries"]
    assert d["value"] == payload["value"]


def test_driver_window_invariants():
    """The correctness driver records the FIRST 50 registry entries;
    guard the invariants that make the window worth its slots: 50
    unique names, all registered, and every registry query has an
    oracle (no rows-only entries slip back in)."""
    from etl_python_azure_spark.queries import DRIVER_WINDOW, registry

    reg = registry()
    # the window deliberately OVERFLOWS 50 (missing-name armor: the
    # driver records the first 50 resolvable entries, so a typo
    # slides fill up instead of shrinking the window)
    resolvable = [n for n in DRIVER_WINDOW if n in reg]
    assert len(resolvable) >= 50
    assert len(set(DRIVER_WINDOW)) == len(DRIVER_WINDOW)
    assert list(reg)[:50] == resolvable[:50]
    assert all(spec.oracle is not None for spec in reg.values())


# sha256 of json.dumps([[name, oracle_sql], ...]) in registry() order:
# pins every registry name, its slot and its oracle SQL byte for byte,
# so a refactor of the registry or the query modules is provably a
# no-op for the driver. Recompute only when a query is meant to change.
REGISTRY_PIN = (
    "e155071b03a571401794b9bebefcd8672e3bc6da71e63f50bd1a2675eaf35f41"
)


def test_registry_order_and_oracles_pinned():
    import hashlib

    from etl_python_azure_spark.queries import registry

    pairs = [[name, spec.oracle] for name, spec in registry().items()]
    digest = hashlib.sha256(json.dumps(pairs).encode()).hexdigest()
    assert len(pairs) == 282
    assert digest == REGISTRY_PIN


def _script_names(filename: str, attrs: list[str]) -> list[str]:
    """Load name lists from a repo-root script (bench.py,
    scripts/dump_plans.py) without importing it as a package — the
    scripts import nothing at top level that needs Spark."""
    import importlib.util
    import os
    import sys

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    path = os.path.join(root, filename)
    spec = importlib.util.spec_from_file_location("m_", path)
    mod = importlib.util.module_from_spec(spec)
    sys.modules["m_"] = mod
    spec.loader.exec_module(mod)
    out: list[str] = []
    for a in attrs:
        out += getattr(mod, a)
    return out


def _coupled_names(source: str) -> list[str]:
    """Every list in the repo that names registry queries, by key.
    IMPORTANT: callers must call registry() BEFORE this for the
    sources populated by query-module imports (artifact consumer
    sets) — the reverse order passes vacuously on an empty set when
    a test runs standalone (the r06 item-7 fix pattern)."""
    if source == "bench":
        return _script_names("bench.py", ["HEADLINE", "OPTIONAL"])
    if source == "plan_audit":
        return _script_names(
            os.path.join("scripts", "dump_plans.py"), ["QUERIES"]
        )
    if source == "driver_window":
        from etl_python_azure_spark.queries import DRIVER_WINDOW

        return list(DRIVER_WINDOW)
    if source == "artifact_consumers":
        from etl_python_azure_spark.queries._artifacts import (
            artifact_consumers,
        )

        return sorted(artifact_consumers())
    raise ValueError(source)


@pytest.mark.parametrize(
    "source",
    ["bench", "plan_audit", "driver_window", "artifact_consumers"],
)
def test_registry_coupled_lists_resolve(source):
    """Every query name any registry-coupled list mentions — the
    bench lists, the plan-audit list, the driver window, the
    train-once artifact consumer sets — must resolve in the
    registry, and each list must be non-empty.
    A typo would silently shrink the bench (names are filtered with
    `if q in reg`), skip prewarm for a real consumer (bench re-times
    training), crash the plan audit, or burn a driver window slot on
    a nonexistent query. One parametrized helper so a future list
    gets one new parameter, not a hand-rolled test that can go
    vacuous (r06 verdict item 7)."""
    from etl_python_azure_spark.queries import registry

    # registry() FIRST: it imports the query modules that populate
    # the consumer sets — reversed order passes vacuously on an
    # empty set when this test runs standalone.
    reg = set(registry())
    assert reg, "registry is empty"
    names = _coupled_names(source)
    assert names, f"{source} list is empty"
    missing = [n for n in names if n not in reg]
    assert not missing, f"{source} names not in registry: {missing}"
