"""REST-source tests with fake transports (no network in container)."""

from __future__ import annotations

import http.server
import json
import socket
import threading
import time

import pytest
from pyspark.sql import functions as F

from etl_python_azure_spark.sources.rest import (
    FETCH_IN_FLIGHT,
    distributed_fetch,
    fetch_json,
    paginated_fetch,
    parse_fetched_json,
    records_to_df,
    urllib_transport,
)


def fake_transport_factory(responses: dict[str, tuple[int, str]]):
    def transport(url, headers):
        return responses.get(url, (404, "not found"))

    return transport


def test_fetch_json_envelope_and_status():
    t = fake_transport_factory(
        {"http://x/data": (200, json.dumps({"data": [{"id": 1}, {"id": 2}]}))}
    )
    recs = fetch_json(t, "http://x/data", envelope_key="data")
    assert [r["id"] for r in recs] == [1, 2]
    with pytest.raises(RuntimeError, match="status=404"):
        fetch_json(t, "http://x/missing")


def test_paginated_fetch_stops_on_short_page():
    pages = {
        "http://x?length=2&start=0": (200, json.dumps([{"i": 0}, {"i": 1}])),
        "http://x?length=2&start=2": (200, json.dumps([{"i": 2}])),
    }
    t = fake_transport_factory(pages)
    recs = paginated_fetch(
        t, "http://x?length={length}&start={start}", page_size=2, max_pages=5
    )
    assert [r["i"] for r in recs] == [0, 1, 2]


def test_records_to_df_flattens_nested(spark):
    recs = [
        {"id": 1, "audience_provider": {"id": 9, "name": "prov"}},
        {"id": 2, "audience_provider": None},
    ]
    df = records_to_df(spark, recs)
    assert set(df.columns) == {"id", "audience_provider_id", "audience_provider_name"}
    got = {r.id: r.audience_provider_name for r in df.collect()}
    assert got == {1: "prov", 2: None}


# module-level so it pickles cleanly to executors
def _executor_transport(url, headers):
    if url.endswith("/boom"):
        return -1, "connection refused"
    content_id = url.rsplit("/", 1)[-1]
    return 200, json.dumps(
        {"report": [{"display": 7, "content": int(content_id), "shows": 3}]}
    )


def test_distributed_fetch_error_capture(spark):
    reqs = spark.createDataFrame(
        [(1, "http://api/report/1"), (2, "http://api/report/2"), (3, "http://api/boom")],
        "content_id long, url string",
    )
    fetched = distributed_fetch(reqs, _executor_transport)
    rows = {r.content_id: r for r in fetched.collect()}
    assert rows[1].status == 200 and rows[3].status == -1
    assert "refused" in rows[3].body

    ok = fetched.filter(F.col("status") == 200)
    parsed = parse_fetched_json(
        ok,
        "display int, content int, shows int",
        envelope_key="report",
    )
    got = {r.content: (r.display, r.shows) for r in parsed.collect()}
    assert got == {1: (7, 3), 2: (7, 3)}
    assert "body" not in parsed.columns


def _aligned_reply(i: int) -> tuple[int, str]:
    if i % 5 == 3:
        return 500, f"server error {i}"
    if i % 7 == 6:
        return -1, f"connection refused {i}"
    return 200, json.dumps({"report": [{"content": i}]})


def test_distributed_fetch_overlaps_gets_and_keeps_rows_aligned(spark, tmp_path):
    """One task's GETs overlap, at most FETCH_IN_FLIGHT at a time, and
    each reply lands on its own row even when replies come back out
    of order."""
    stamps = tmp_path / "stamps.log"

    def transport(url, headers):
        i = int(url.rsplit("/", 1)[-1])
        t0 = time.monotonic()
        time.sleep(0.005 * ((i * 7) % 11 + 1))  # 5–55 ms: out of order
        t1 = time.monotonic()
        with open(stamps, "a") as f:
            f.write(f"{t0} {t1}\n")
        return _aligned_reply(i)

    n = 24
    reqs = spark.createDataFrame(
        [(i, f"tag-{i}", f"http://api/report/{i}") for i in range(n)],
        "content_id long, tag string, url string",
    ).coalesce(1)
    assert reqs.rdd.getNumPartitions() == 1
    rows = distributed_fetch(reqs, transport).collect()

    assert sorted(r.content_id for r in rows) == list(range(n))
    for r in rows:
        assert r.tag == f"tag-{r.content_id}"
        assert r.url == f"http://api/report/{r.content_id}"
        assert (r.status, r.body) == _aligned_reply(r.content_id)
    assert {r.status for r in rows} == {200, 500, -1}

    events = []
    for line in stamps.read_text().splitlines():
        t0, t1 = map(float, line.split())
        events += [(t0, 1), (t1, -1)]
    in_flight = peak = 0
    for _, step in sorted(events):  # an end sorts before a start at a tie
        in_flight += step
        peak = max(peak, in_flight)
    assert len(events) == 2 * n
    assert 1 < peak <= FETCH_IN_FLIGHT


def _raising_transport(url, headers):
    if url.endswith("/9"):
        raise ValueError("transport bug on report 9")
    return 200, "{}"


def test_distributed_fetch_transport_that_raises_fails_the_task(spark):
    """Per-row capture is the transport's job: an exception escaping
    it fails the task instead of becoming a row."""
    reqs = spark.createDataFrame(
        [(i, f"http://api/report/{i}") for i in range(12)],
        "content_id long, url string",
    ).coalesce(1)
    with pytest.raises(Exception, match="transport bug on report 9"):
        distributed_fetch(reqs, _raising_transport).collect()


def test_urllib_transport_keeps_http_status():
    """A 4xx/5xx reply keeps its status and body; only failures below
    HTTP (here a refused connection) read as -1."""

    class Unavailable(http.server.BaseHTTPRequestHandler):
        def do_GET(self):
            body = b"down for maintenance"
            self.send_response(503)
            self.send_header("Content-Length", str(len(body)))
            self.end_headers()
            self.wfile.write(body)

        def log_message(self, *args):
            pass

    server = http.server.ThreadingHTTPServer(("127.0.0.1", 0), Unavailable)
    threading.Thread(target=server.serve_forever, daemon=True).start()
    transport = urllib_transport(timeout=10)
    try:
        url = f"http://127.0.0.1:{server.server_address[1]}/report"
        assert transport(url, {}) == (503, "down for maintenance")
        with pytest.raises(RuntimeError, match="status=503"):
            fetch_json(transport, url)
    finally:
        server.shutdown()
        server.server_close()

    with socket.socket() as s:
        s.bind(("127.0.0.1", 0))
        closed_port = s.getsockname()[1]
    status, body = transport(f"http://127.0.0.1:{closed_port}/report", {})
    assert status == -1 and body


# ---- datatable-protocol pagination properties (r03 verdict item 8) ----

from hypothesis import given, settings
from hypothesis import strategies as st


@settings(max_examples=50, deadline=None)
@given(total=st.integers(0, 47), page_size=st.integers(1, 12))
def test_paginated_fetch_recovers_all_records(total, page_size):
    """A well-behaved datatable server (`L:78` protocol): any
    (total, page_size) combination — including ragged and empty last
    pages — yields exactly the full record list, in order."""
    data = [{"i": i} for i in range(total)]

    def transport(url, headers):
        import urllib.parse as up

        q = dict(up.parse_qsl(up.urlsplit(url).query))
        start, length = int(q["start"]), int(q["length"])
        return 200, json.dumps(data[start : start + length])

    recs = paginated_fetch(
        transport,
        "http://x?length={length}&start={start}",
        page_size=page_size,
        max_pages=100,
    )
    assert recs == data


@settings(max_examples=30, deadline=None)
@given(total=st.integers(1, 30), page_size=st.integers(1, 10))
def test_paginated_fetch_duplicate_page_defense(total, page_size):
    """A misbehaving server that ignores ``start=`` (always returns
    the first page) must not loop or duplicate: the walk stops as
    soon as a page repeats, so the result is exactly one page."""
    data = [{"i": i} for i in range(total)]

    def transport(url, headers):
        import urllib.parse as up

        q = dict(up.parse_qsl(up.urlsplit(url).query))
        return 200, json.dumps(data[: int(q["length"])])

    recs = paginated_fetch(
        transport,
        "http://x?length={length}&start={start}",
        page_size=page_size,
        max_pages=100,
    )
    assert recs == data[:page_size]


def test_paginated_fetch_id_key_survives_identical_pages():
    """With row identity, genuinely identical-looking consecutive
    pages keep paginating (the equality heuristic would truncate),
    and a server that ignores start= still stops after one page."""
    data = [{"id": i, "v": "same"} for i in range(5)]

    def honest(url, headers):
        import urllib.parse as up

        q = dict(up.parse_qsl(up.urlsplit(url).query))
        s, ln = int(q["start"]), int(q["length"])
        return 200, json.dumps(data[s : s + ln])

    recs = paginated_fetch(
        honest, "http://x?length={length}&start={start}",
        page_size=2, max_pages=10, id_key="id",
    )
    assert recs == data

    def stuck(url, headers):
        import urllib.parse as up

        q = dict(up.parse_qsl(up.urlsplit(url).query))
        return 200, json.dumps(data[: int(q["length"])])

    recs = paginated_fetch(
        stuck, "http://x?length={length}&start={start}",
        page_size=2, max_pages=10, id_key="id",
    )
    assert recs == data[:2]
