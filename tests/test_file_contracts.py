"""Schema-contract file sources."""

from __future__ import annotations

from pyspark.sql import types as T

from etl_python_azure_spark.sources.files import (
    read_csv_contract,
    read_jsonl_contract,
    split_corrupt,
)

SCHEMA = T.StructType(
    [
        T.StructField("id", T.LongType()),
        T.StructField("name", T.StringType()),
        T.StructField("score", T.DoubleType()),
    ]
)


def test_jsonl_contract_quarantines_malformed(spark, tmp_path):
    p = tmp_path / "in.jsonl"
    p.write_text(
        '{"id": 1, "name": "a", "score": 0.5}\n'
        "not json at all\n"
        '{"id": 2, "name": "b", "score": 1.5}\n'
        '{"id": "BAD-TYPE", "name": "c", "score": 2.5}\n'
    )
    # cache: counting the quarantine side alone is otherwise
    # disallowed (corrupt-record column pruning restriction)
    df = read_jsonl_contract(spark, str(p), SCHEMA).cache()
    clean, bad = split_corrupt(df)
    ids = sorted(r.id for r in clean.collect())
    assert ids == [1, 2]
    assert clean.columns == ["id", "name", "score"]
    assert bad.count() == 2  # the non-JSON line and the type violation


def test_jsonl_failfast_raises(spark, tmp_path):
    import pytest
    from py4j.protocol import Py4JJavaError

    p = tmp_path / "ff.jsonl"
    p.write_text('{"id": 1}\nnope\n')
    with pytest.raises(Exception):
        read_jsonl_contract(spark, str(p), SCHEMA, mode="FAILFAST").collect()


def test_csv_contract_reads_with_header(spark, tmp_path):
    p = tmp_path / "in.csv"
    p.write_text("id,name,score\n1,a,0.5\n2,b,1.5\n")
    df = read_csv_contract(spark, str(p), SCHEMA).cache()
    clean, bad = split_corrupt(df)
    assert bad.count() == 0
    assert {(r.id, r.name, r.score) for r in clean.collect()} == {
        (1, "a", 0.5),
        (2, "b", 1.5),
    }
