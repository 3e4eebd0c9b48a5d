"""The benchmark's own tests: seeded stubs, the output checks, and the
metric names against BENCHMARK.json. No Spark session is started.

Run from the repository root::

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import re

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from perfbench import checks, run
from perfbench.harness import fastest
from perfbench.layers import iteration_metrics
from perfbench.stubs import BASE_URL, LatinadStub
from perfbench.trace import TARGETS, GroupStats, Span, Tracer
from perfbench.workloads import DATA_DIR, PINS_FILE, QUERY_TABLES, input_rows

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
NAME = re.compile(r"^[A-Za-z0-9_.-]+$")


def _spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def _latinad(seed: int) -> LatinadStub:
    return LatinadStub(seed, n_displays=20, n_contents=12, rows_per_report=6, delay_s=0)


def _latinad_bodies(stub: LatinadStub) -> list[tuple[int, str]]:
    urls = [f"{BASE_URL}/displays", f"{BASE_URL}/contents?length=11000&start=0&order=desc"]
    urls += [f"{BASE_URL}/report?content={c}&displays=1" for c in stub.content_ids]
    return [stub(u, {}) for u in urls]


# -- stubs --------------------------------------------------------------------


def test_same_seed_gives_identical_bodies():
    assert _latinad_bodies(_latinad(7)) == _latinad_bodies(_latinad(7))


def test_another_seed_gives_different_bodies():
    assert _latinad_bodies(_latinad(7)) != _latinad_bodies(_latinad(8))


def test_latinad_stub_fails_its_seeded_set():
    stub = LatinadStub(3, n_contents=200, rows_per_report=2, delay_s=0)
    statuses = {
        int(c): stub(f"{BASE_URL}/report?content={c}", {})[0] for c in stub.content_ids
    }
    failed = {c for c, s in statuses.items() if s >= 500}
    assert failed == set(stub.failing) and len(failed) == 2
    assert stub.expected().failed_requests == 2


# -- checks -------------------------------------------------------------------


def _write_latinad_sink(root: str, stub: LatinadStub, drop_row: bool = False) -> None:
    want = stub.expected()
    pq.write_table(pa.table({"id": np.arange(want.displays)}), _mk(root, "display_info"))
    pq.write_table(pa.table({"id": np.arange(want.contents)}), _mk(root, "contenido_display"))
    reports = want.reports.iloc[1:] if drop_row else want.reports
    pq.write_to_dataset(pa.Table.from_pandas(reports, preserve_index=False),
                        os.path.join(root, "contenido_data"), partition_cols=["Fecha"])


def _mk(root: str, table: str) -> str:
    os.makedirs(os.path.join(root, table), exist_ok=True)
    return os.path.join(root, table, "part-0.parquet")


def test_checker_accepts_the_expected_latinad_sink(tmp_path):
    stub = _latinad(5)
    _write_latinad_sink(str(tmp_path), stub)
    landed = checks.check_latinad(str(tmp_path), len(stub.failing), stub.expected())
    assert landed == 19 + 12 + len(stub.expected().reports)


def test_checker_rejects_a_dropped_row(tmp_path):
    stub = _latinad(5)
    _write_latinad_sink(str(tmp_path), stub, drop_row=True)
    with pytest.raises(checks.CheckFailed, match="contenido_data"):
        checks.check_latinad(str(tmp_path), len(stub.failing), stub.expected())


def test_checker_rejects_tampered_failed_requests(tmp_path):
    stub = _latinad(5)
    _write_latinad_sink(str(tmp_path), stub)
    with pytest.raises(checks.CheckFailed, match="failed_requests"):
        checks.check_latinad(str(tmp_path), len(stub.failing) + 1, stub.expected())


def test_checker_rejects_a_changed_value():
    want = _latinad(5).expected().reports
    got = want.copy()
    got.loc[3, "shows"] += 1
    assert checks.checksum(got) != checks.checksum(want)


def test_checksum_ignores_row_order_and_int_width():
    df = pd.DataFrame({"a": [1, 2, 3], "b": ["x", "y", None], "c": [0.5, 1.5, 2.0]})
    t = pa.table({"c": [2.0, 0.5, 1.5], "a": pa.array([3, 1, 2], pa.int32()),
                  "b": [None, "x", "y"]})
    assert checks.checksum(df) == checks.checksum(t)
    assert checks.checksum(df) != checks.checksum(df.iloc[:2])


# -- analytics pins and stated sizes -------------------------------------------


def test_oracle_pins_are_the_oracles_answers():
    """The committed pins are what each registry DuckDB oracle answers
    on the committed tables (takes ~30 s: one oracle is slow)."""
    from etl_python_azure_spark.queries import registry

    got = checks.oracle_pins(registry(), sorted(QUERY_TABLES), DATA_DIR)
    assert got == checks.load_pins(PINS_FILE)


def test_check_pin_rejects_a_changed_result():
    rows = [(1, "a", 2.5), (2, "b", None)]
    cols = ["k", "s", "v"]
    pin = {"rows": 2, "hash": checks.result_hash(rows, cols)}
    checks.check_pin("q", list(reversed(rows)), cols, pin)
    with pytest.raises(checks.CheckFailed, match="values differ"):
        checks.check_pin("q", [(1, "a", 2.5), (2, "b", 0.0)], cols, pin)
    with pytest.raises(checks.CheckFailed, match="rows"):
        checks.check_pin("q", rows[:1], cols, pin)


def test_stated_sizes_match_the_inputs():
    """BENCHMARK.json and the README state the sizes the code runs."""
    why = {w["name"]: w["why"] for w in _spec()["workloads"]}
    with open(os.path.join(ROOT, "perfbench", "README.md")) as fh:
        readme = fh.read()
    lat = LatinadStub(1, delay_s=0)
    rows_k = round(len(lat.expected().reports) / 1000)
    stated = {
        "latinad_fanout": [f"{len(lat.content_ids)} report GETs",
                           f"{len(lat.display_ids)} displays",
                           f"{lat.rows_per_report} rows each", f"~{rows_k}k rows"],
        "analytics_queries": [f"{len(QUERY_TABLES)} registry queries",
                              f"{input_rows():,} input rows"],
    }
    for name, phrases in stated.items():
        for phrase in phrases:
            assert phrase in why[name], (name, phrase)
            assert phrase in readme, (name, phrase)


# -- time estimate -------------------------------------------------------------


def test_fastest_sums_each_parts_fastest_time():
    parts = [{"a": 3.0, "b": 1.0}, {"a": 2.0, "b": 1.5}, {"a": 2.5, "b": 0.5}]
    assert fastest(parts) == pytest.approx(2.5)
    assert fastest([{"iteration": 4.0}, {"iteration": 3.5}]) == 3.5
    assert fastest([]) == 0.0


# -- metric names --------------------------------------------------------------


def test_benchmark_json_shape():
    spec = _spec()
    assert set(spec) == {"command", "paths", "run_seconds", "workloads",
                         "end_to_end", "per_layer"}
    assert [w["name"] for w in spec["workloads"]] == list(run.WORKLOADS)
    assert all(set(w) == {"name", "why"} for w in spec["workloads"])
    e2e = {m["name"]: m for m in spec["end_to_end"]}
    assert e2e["setup_s"]["unit"] == "s" and e2e["setup_s"]["better"] == "lower"
    assert all(0 < m["bound"] <= 0.25 for m in spec["end_to_end"])
    assert max(m["bound"] for m in spec["end_to_end"]) == e2e["setup_s"]["bound"]
    names = [m["name"] for m in spec["end_to_end"] + spec["per_layer"]]
    assert len(names) == len(set(names))
    assert all(NAME.match(n) and len(n) <= 64 for n in names)


def test_emitted_names_are_the_listed_ones():
    spec = _spec()
    result = {"failed": 0, "attempted": 3, "setup_s": 1.0, "run_s": 1.0,
              "rows_per_s": 1.0, "ok_frac": 1.0, "layers": {}}
    for trace, key in ((False, "end_to_end"), (True, "per_layer")):
        line = run.metrics_line(result, trace, spec)
        assert list(line["metrics"]) == [m["name"] for m in spec[key]]
        assert all(NAME.match(n) for n in line["metrics"])


def test_every_traced_metric_is_listed():
    """What the tracer, the stubs and the workloads produce is a subset
    of BENCHMARK.json's per-layer names."""
    listed = {m["name"] for m in _spec()["per_layer"]}
    tracer = Tracer(sc=None)
    names = ["iteration", *TARGETS, *(f"queries.{q}" for q in QUERY_TABLES)]
    tracer.spans = [Span(n, f"it1/{i}", 0 if i else None, 0.0, 1.0) for i, n in enumerate(names)]
    tracer.spans[0].children = list(range(1, len(names)))
    for sp in tracer.spans:
        sp.counts = GroupStats(jobs=1, stages=1, tasks=1)
    extra = {f"queries.{q}.build_s": 0.1 for q in QUERY_TABLES}
    sample = {"spans": list(range(len(names))), "rows": 10, "files": (2, 100),
              "upstream": {"calls": 3, "failed": 0, "bytes": 9, "busy_s": 0.1,
                           "distinct_urls": 3},
              "extra": extra}
    produced = set(iteration_metrics(tracer, sample, {}))
    produced |= {"trace.run_s", "trace.overhead_s", "host.peak_rss_mb",
                 "host.loadavg_start", "host.loadavg_end"}
    assert produced <= listed, sorted(produced - listed)
    assert listed <= produced, sorted(listed - produced)
