"""Spark 4 streaming Python DataSource: rest format with a record cursor."""

from __future__ import annotations

import json

from etl_python_azure_spark.sources.rest_datasource import RestDataSource


# resolved by dotted path on executors (tests dir is on PYTHONPATH);
# file-backed fake API: ?file=<path> points at a JSON list of records;
# serves DataTables-style envelopes with recordsTotal
def stream_fake_transport(url, headers):
    path = url.split("file=")[1].split("&")[0]
    with open(path) as fh:
        all_items = json.load(fh)
    start = int(url.split("start=")[1].split("&")[0])
    length = int(url.split("length=")[1].split("&")[0])
    return 200, json.dumps(
        {
            "recordsTotal": len(all_items),
            "data": all_items[start : start + length],
        }
    )


def _run_rest_stream(spark, api_file, ckpt, out):
    spark.dataSource.register(RestDataSource)
    stream = (
        spark.readStream.format("rest")
        .schema("id long, name string")
        .option(
            "url",
            f"http://api/items?length={{length}}&start={{start}}&file={api_file}",
        )
        .option("page_size", "10")
        .option("pages_per_batch", "2")
        .option("envelope_key", "data")
        .option("total_key", "recordsTotal")
        .option("transport", "test_rest_datasource.stream_fake_transport")
        .load()
    )
    epochs = []

    def sink(batch, epoch_id):
        epochs.append(epoch_id)
        batch.write.mode("append").parquet(out)

    q = (
        stream.writeStream.foreachBatch(sink)
        .option("checkpointLocation", ckpt)
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    return epochs


def test_rest_stream_incremental_cursor(spark, tmp_path):
    api_file = str(tmp_path / "api.json")
    ckpt = str(tmp_path / "ckpt")
    out = str(tmp_path / "out")
    records = [{"id": i, "name": f"item{i}"} for i in range(25)]
    with open(api_file, "w") as fh:
        json.dump(records, fh)

    epochs = _run_rest_stream(spark, api_file, ckpt, out)
    rows = spark.read.parquet(out).collect()
    assert sorted(r.id for r in rows) == list(range(25))
    # 25 records at 2 pages x 10 per trigger → at least 2 data epochs
    assert len([e for e in epochs]) >= 2

    # API grows by 5 records; restart from the same checkpoint must
    # ingest ONLY the new tail (cursor restored, no re-fetch)
    records += [{"id": i, "name": f"item{i}"} for i in range(25, 30)]
    with open(api_file, "w") as fh:
        json.dump(records, fh)
    _run_rest_stream(spark, api_file, ckpt, out)
    ids = sorted(r.id for r in spark.read.parquet(out).collect())
    assert ids == list(range(30))  # each id exactly once
