"""The benchmark workloads.

Each workload builds its inputs from the seed (``prepare``), runs one
timed iteration into a fresh sink directory (``iteration``) and checks
what that iteration landed (``check``, untimed). The program is
called through module attributes (``latinad_plan.run_latinad`` and so
on), so the tracer's wrappers apply when they are installed.
"""

from __future__ import annotations

import os
from contextlib import nullcontext
from time import perf_counter

import numpy as np
import pyarrow.parquet as pq

from etl_python_azure_spark.plans import latinad as latinad_plan

from . import checks
from .stubs import BASE_URL, WINDOW_END, WINDOW_START, LatinadStub, UpstreamCounters


class Workload:
    name = ""
    min_iterations = 1  # timed iterations per run, however long they take

    def __init__(self, spark, seed: int, tracer=None):
        self.spark = spark
        self.seed = seed
        self.tracer = tracer
        self.counters: UpstreamCounters | None = None
        self.layer: dict[str, float] = {}  # counts the last check measured
        # wall seconds of each independent part of the last iteration;
        # empty when the iteration is one part
        self.parts: dict[str, float] = {}

    def prepare(self) -> None:
        """Build the inputs and the expected outputs from the seed."""

    def iteration(self, sink_root: str):
        raise NotImplementedError

    def check(self, handle, sink_root: str) -> int:
        """Raise :class:`checks.CheckFailed` on a wrong output; return
        the rows the iteration landed (pipelines) or scanned
        (analytics)."""
        raise NotImplementedError


class LatinadFanout(Workload):
    """Hourly Latinad refresh: fan-out report GETs, explode, window
    overwrite of ``contenido_data`` plus two catalog tables."""

    name = "latinad_fanout"
    # 3-4 s each with their checks, so five outlast run_seconds and
    # every run times the same stretch of the slow warm-up slope (3.8 s
    # falling to 3.4 s over ten iterations)
    min_iterations = 5

    def prepare(self) -> None:
        self.counters = UpstreamCounters(self.spark.sparkContext)
        self.stub = LatinadStub(self.seed, counters=self.counters)
        self.want = self.stub.expected()

    def iteration(self, sink_root: str):
        return latinad_plan.run_latinad(
            self.spark, self.stub, BASE_URL, sink_root=sink_root,
            window_start=WINDOW_START, window_end=WINDOW_END,
        )

    def check(self, res, sink_root: str) -> int:
        failed = res.failed_requests.count()
        self.spark.catalog.clearCache()  # the run's persisted fetch frame
        return checks.check_latinad(sink_root, failed, self.want)


# copies of the sf0.01 test tables described in TESTDATA.md
DATA_DIR = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data")
# row count and result hash of each query's DuckDB oracle on DATA_DIR
PINS_FILE = os.path.join(DATA_DIR, "oracle_pins.json")
# registry query -> the tables it scans: two relational controls and
# the connected-components and streaming dedup-fold families (26 and
# 52 jobs). The slower dedup, curation and ANN queries do not fit the
# run-time budget (README, "Time budget").
QUERY_TABLES = {
    "pricing_summary": ("lineitem",),
    "shipping_priority": ("customer", "orders", "lineitem"),
    "cc_cluster_sizes": ("documents",),
    "streaming_span_dedup_equiv": ("documents",),
}


class AnalyticsQueries(Workload):
    """Four registry builders on the sf0.01 tables, in a seed-permuted
    order. Each result is checked against the pinned hash of its
    registry DuckDB oracle's answer (``data/oracle_pins.json``)."""

    name = "analytics_queries"
    # a warm pass is 6-9 s, so run_seconds alone would give two; by the
    # fifth pass after the cold one each query is near its plateau
    min_iterations = 4

    def prepare(self) -> None:
        from etl_python_azure_spark.queries import registry

        self.registry = registry()
        self.input_rows = input_rows()
        self.pins = checks.load_pins(PINS_FILE)
        names = sorted(QUERY_TABLES)
        self.order = [names[i] for i in np.random.default_rng([self.seed, 6]).permutation(len(names))]

    def iteration(self, sink_root: str):
        """Build and run each query. Results are at most a few hundred
        rows, so ``collect`` forces them as cheaply as a ``noop`` write
        and hands the rows to the check without a second run."""
        results, build_s = {}, {}
        for name in self.order:
            traced = self.tracer is not None and self.tracer.installed
            span = self.tracer.span(f"queries.{name}") if traced else nullcontext()
            t0 = perf_counter()
            with span:
                df = self.registry[name].builder(self.spark, DATA_DIR)
                build_s[name] = perf_counter() - t0
                results[name] = (df.collect(), df.columns)
            self.spark.catalog.clearCache()
            self.parts[name] = perf_counter() - t0
        self.layer = {f"queries.{n}.build_s": s for n, s in build_s.items()}
        return results

    def check(self, results, sink_root: str) -> int:
        for name, (rows, columns) in results.items():
            checks.check_pin(name, rows, columns, self.pins[name])
        return self.input_rows


def input_rows() -> int:
    """Input rows one analytics pass scans: each query's tables."""
    return sum(
        pq.ParquetFile(os.path.join(DATA_DIR, f"{t}.parquet")).metadata.num_rows
        for tables in QUERY_TABLES.values() for t in tables
    )


WORKLOADS = {w.name: w for w in (LatinadFanout, AnalyticsQueries)}
