"""Seeded stub of the LatinAD REST API.

The stub is a transport callable ``(url, headers) -> (status, body)``
as :mod:`etl_python_azure_spark.sources.rest` expects. Everything it
serves derives from the seed, so one seed gives byte-identical bodies
in every process. A fixed per-request delay models the remote
round-trip, and a seeded set of requests answers 5xx (failures the
pipeline records as data, not benchmark failures).

The stub counts what it serves (calls, 5xx answers, body bytes, time
busy and the distinct URLs asked for) in Spark accumulators, so GETs
made on executors inside ``mapInPandas`` are counted too. The stub
also derives the exact outputs the pipeline must land, which the
checks in :mod:`perfbench.checks` compare against the sinks.
"""

from __future__ import annotations

import datetime as _dt
import json
import time
import zlib
from dataclasses import dataclass
from urllib.parse import parse_qs, urlsplit

import numpy as np
import pandas as pd
from pyspark.accumulators import AccumulatorParam

BASE_URL = "http://stub"
WINDOW_START = _dt.date(2024, 1, 1)
WINDOW_END = _dt.date(2024, 1, 28)
N_DATES = 26
DATES = [str(WINDOW_START + _dt.timedelta(days=i)) for i in range(N_DATES)]
EXCLUDED_DISPLAY = 40660  # run_latinad filters this id out


def _rng(seed: int, *salt: int) -> np.random.Generator:
    return np.random.default_rng([seed, *salt])


class _SetUnion(AccumulatorParam):
    """Accumulates the union of URL fingerprints."""

    def zero(self, value):
        return set()

    def addInPlace(self, a, b):
        a |= b
        return a


class UpstreamCounters:
    """Accumulators a stub adds to on every GET it serves."""

    def __init__(self, sc):
        self.calls = sc.accumulator(0)
        self.failed = sc.accumulator(0)
        self.bytes = sc.accumulator(0)
        self.busy_s = sc.accumulator(0.0)
        self.urls = sc.accumulator(set(), _SetUnion())

    def snapshot(self) -> dict:
        return {
            "calls": self.calls.value,
            "failed": self.failed.value,
            "bytes": self.bytes.value,
            "busy_s": self.busy_s.value,
            "distinct_urls": len(self.urls.value),
        }


class _Stub:
    """Shared serving loop: delay, count, dispatch by path."""

    counters: UpstreamCounters | None = None
    delay_s: float = 0.0

    def route(self, path: str, query: dict) -> tuple[int, str]:
        raise NotImplementedError

    def __call__(self, url: str, headers: dict) -> tuple[int, str]:
        t0 = time.perf_counter()
        if self.delay_s:
            time.sleep(self.delay_s)
        parts = urlsplit(url)
        status, body = self.route(parts.path, parse_qs(parts.query))
        c = self.counters
        if c is not None:
            c.calls.add(1)
            c.failed.add(int(status >= 500))
            c.bytes.add(len(body))
            c.urls.add({zlib.crc32(url.encode())})
            c.busy_s.add(time.perf_counter() - t0)
        return status, body


# ---------------------------------------------------------------------------
# LatinAD
# ---------------------------------------------------------------------------


class LatinadStub(_Stub):
    """Displays catalog, one contents page, one report GET per content."""

    def __init__(self, seed: int, n_displays: int = 900, n_contents: int = 300,
                 rows_per_report: int = 100, fail_frac: float = 0.01,
                 delay_s: float = 0.02, counters: UpstreamCounters | None = None):
        self.seed = seed
        self.rows_per_report = rows_per_report
        self.delay_s = delay_s
        self.counters = counters
        rng = _rng(seed, 1)
        ids = rng.choice(np.arange(1, 100_000), n_displays, replace=False)
        if EXCLUDED_DISPLAY not in ids:
            ids[0] = EXCLUDED_DISPLAY
        self.display_ids = np.sort(ids).astype(np.int64)
        self.content_ids = np.sort(
            rng.choice(np.arange(1000, 1_000_000), n_contents, replace=False)
        ).astype(np.int64)
        n_fail = max(1, round(fail_frac * n_contents))
        self.failing = frozenset(
            int(c) for c in rng.choice(self.content_ids, n_fail, replace=False)
        )

    # -- catalogs -----------------------------------------------------------
    def displays(self) -> list[dict]:
        return [
            {
                "id": int(d), "company_id": int(d % 40), "name": f"display-{d}",
                "resolution_width": 1920, "resolution_height": 1080,
                "latitude": -33.0 - (d % 100) / 100.0,
                "longitude": -70.0 - (d % 100) / 100.0,
                "slots": int(d % 8), "slot_length": 10, "published": bool(d % 10),
                "country": "CL" if d % 3 else "AR",
                "audience_provider": {"id": int(d % 5), "name": f"prov{d % 5}"},
            }
            for d in self.display_ids
        ]

    def contents(self) -> list[dict]:
        return [
            {
                "id": int(c), "name": f"content-{c}",
                "type": "video" if c % 2 else "image",
                # every 7th file name is over the 50-char gate
                "file": f"file-{c}.mp4" if c % 7 else "x" * 60,
                "width": 1280, "height": 720, "length": 15, "ready": True,
                "company_id": int(c % 40), "category": f"cat{c % 6}",
                "count_displays": int(c % 9),
            }
            for c in self.content_ids
        ]

    # -- report fan-out -----------------------------------------------------
    def report_arrays(self, content: int) -> dict[str, np.ndarray]:
        """The report rows for one content, column-wise. ~0.5% of rows
        have no display and ~0.5% an empty date (the pipeline drops
        both); ~9% have no impacts (the pipeline fills 0)."""
        n = self.rows_per_report
        rng = _rng(self.seed, 2, content)
        return {
            "display": self.display_ids[rng.integers(0, len(self.display_ids), n)],
            "display_null": rng.random(n) < 0.005,
            "shows": rng.integers(0, 50, n),
            "total_time": 100 * rng.integers(0, 900, n),
            "date_idx": rng.integers(0, N_DATES, n),
            "date_empty": rng.random(n) < 0.005,
            "impacts": rng.integers(0, 1000, n),
            "impacts_null": rng.random(n) < 0.09,
        }

    def report_body(self, content: int) -> str:
        a = self.report_arrays(content)
        rows = [
            {
                "display": None if dn else int(d),
                "content": content,
                "child_content_id": None,
                "shows": int(s),
                "total_time": int(t),
                "date": "" if de else DATES[di],
                "impacts": None if imn else int(im),
            }
            for d, dn, s, t, di, de, im, imn in zip(
                a["display"], a["display_null"], a["shows"], a["total_time"],
                a["date_idx"], a["date_empty"], a["impacts"], a["impacts_null"],
            )
        ]
        return json.dumps({"report": rows})

    def route(self, path: str, query: dict) -> tuple[int, str]:
        if path == "/displays":
            return 200, json.dumps(self.displays())
        if path == "/contents":
            start = int(query.get("start", ["0"])[0])
            length = int(query.get("length", ["11000"])[0])
            return 200, json.dumps({"data": self.contents()[start:start + length]})
        if path == "/report":
            content = int(query["content"][0])
            if content in self.failing:
                return 503, "upstream unavailable"
            return 200, self.report_body(content)
        return 404, "not found"

    # -- expected outputs ---------------------------------------------------
    def expected_reports(self) -> pd.DataFrame:
        """``contenido_data`` as the pipeline must land it."""
        frames = []
        for c in self.content_ids:
            c = int(c)
            if c in self.failing:
                continue
            a = self.report_arrays(c)
            keep = ~a["display_null"] & ~a["date_empty"]
            frames.append(pd.DataFrame({
                "display": a["display"][keep],
                "content": c,
                "shows": a["shows"][keep],
                "total_time": a["total_time"][keep] / 100,
                "Fecha": np.asarray(DATES, dtype=object)[a["date_idx"][keep]],
                "impacts": np.where(a["impacts_null"][keep], 0, a["impacts"][keep]),
            }))
        df = pd.concat(frames, ignore_index=True)
        df["llave"] = (
            df["content"].astype(str) + df["display"].astype(str) + df["Fecha"]
        )
        df["content_name"] = "content-" + df["content"].astype(str)
        df["status"] = 200
        # the request URL rides along into the table; one per content
        csv = ",".join(str(d) for d in self.display_ids if d != EXCLUDED_DISPLAY)
        urls = {
            int(c): f"{BASE_URL}/report?content={c}&displays={csv}"
            f"&from={WINDOW_START}&to={WINDOW_END}&per_date=1"
            for c in self.content_ids
        }
        df["url"] = pd.Categorical(df["content"].map(urls))
        return df

    def expected(self) -> LatinadExpected:
        return LatinadExpected(
            displays=len(self.display_ids) - 1,
            contents=len(self.content_ids),
            failed_requests=len(self.failing),
            reports=self.expected_reports(),
        )


@dataclass
class LatinadExpected:
    displays: int
    contents: int
    failed_requests: int
    reports: pd.DataFrame
