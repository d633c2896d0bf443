"""The replica corpus behind ``scripts/bench_sf1.py``'s exactly-10x
oracle: replicas must share no token with the base or each other."""

import importlib.util
from pathlib import Path

import pytest


def _bench_sf1():
    path = Path(__file__).resolve().parent.parent / "scripts" / "bench_sf1.py"
    spec = importlib.util.spec_from_file_location("bench_sf1", path)
    m = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(m)
    return m


def test_replica_docs_renames_every_token(spark):
    m = _bench_sf1()
    docs = spark.createDataFrame([(1, "red fox"), (2, "zqa zq")], "doc_id long, text string")
    got = sorted(tuple(r) for r in m.replica_docs(docs, 3).collect())
    assert got == [(30_000_001, "redzq3 foxzq3"), (30_000_002, "zqazq3 zqzq3")]


@pytest.mark.parametrize("text", ["abzq1", "zq12 fox", "red abzq7 fox"])
def test_replica_docs_rejects_tokens_a_rename_could_produce(spark, text):
    m = _bench_sf1()
    docs = spark.createDataFrame([(1, "red fox"), (2, text)], "doc_id long, text string")
    with pytest.raises(ValueError, match="zq<digits>"):
        m.replica_docs(docs, 1)
