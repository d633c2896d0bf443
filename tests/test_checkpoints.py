"""Warehouse checkpointing: lineage sidecars, config-hash resume, and
resume-equals-single-run over the full pipeline."""

from __future__ import annotations

import json
import os

from pyspark.sql import functions as F

from record_linkage_spark.sources.checkpoints import Warehouse, config_hash


def test_write_read_and_lineage(spark, tmp_path):
    wh = Warehouse(root=str(tmp_path), spark=spark)
    df = spark.range(100).withColumn("v", F.col("id") * 2)
    wh.write("stage_a", df, cfg={"p": 1}, metrics={"n": 100})
    assert wh.exists("stage_a")
    lin = wh.lineage("stage_a")
    assert lin["stage"] == "stage_a"
    assert lin["config_hash"] == config_hash({"p": 1})
    assert lin["row_count"] == 100
    assert sum(p["rows"] for p in lin["partitions"]) == 100
    assert lin["metrics"] == {"n": 100}
    assert wh.read("stage_a").count() == 100


def test_run_stage_resume_and_invalidation(spark, tmp_path):
    wh = Warehouse(root=str(tmp_path), spark=spark)
    calls = []

    def make():
        calls.append(1)
        return spark.range(10)

    wh.run_stage("s", make, cfg={"v": 1})
    wh.run_stage("s", make, cfg={"v": 1})  # resumed — no recompute
    assert len(calls) == 1
    wh.run_stage("s", make, cfg={"v": 2})  # config changed — recompute
    assert len(calls) == 2
    wh.run_stage("s", make, cfg={"v": 2}, resume=False)  # forced
    assert len(calls) == 3


def test_pipeline_resume_equivalence(spark, tmp_path):
    """resume-from-checkpoint equals single-run (SURVEY §5 item 4)."""
    from record_linkage_spark.plans.pipeline import LinkagePipeline

    wh1 = str(tmp_path / "wh1")
    pipe = LinkagePipeline(spark, wh1, n_entities=80, dup_rate=1.8)
    r1 = pipe.run(resume=True)

    # delete downstream stages, keep upstream — rerun must reproduce exactly
    import shutil

    for stage in ["scored_pairs", "match_edges", "clusters"]:
        shutil.rmtree(os.path.join(wh1, stage), ignore_errors=True)
    pipe2 = LinkagePipeline(spark, wh1, n_entities=80, dup_rate=1.8)
    r2 = pipe2.run(resume=True)

    assert r1["global"] == r2["global"]
    assert r1["n_candidates"] == r2["n_candidates"]
    assert r1["n_clusters"] == r2["n_clusters"]

    c1 = sorted(
        map(tuple, spark.read.parquet(os.path.join(wh1, "clusters")).collect())
    )
    assert len(c1) > 0

    # the fusion stage materializes one golden record per resolved entity
    golden = spark.read.parquet(os.path.join(wh1, "golden_records"))
    assert golden.count() == r2["n_clusters"]
    assert {"entity_id", "n_members", "member_ids", "rep_id"} <= set(
        golden.columns
    )
    with open(os.path.join(wh1, "pipeline_report.json")) as f:
        rep = json.load(f)
    assert rep["global"]["f1"] == r2["global"]["f1"]
    # the report carries the pair-counting family and the cluster-repair
    # summary next to pairwise F1
    assert rep["pair_counting"]["adjusted_rand"] > 0.8
    assert set(rep["repair"]) == {
        "entities_with_conflicts", "conflict_pairs",
        "unscored_within_pairs", "merge_candidate_entity_pairs",
    }


def test_format_gate_resolves_parquet_without_jars(spark, tmp_path):
    """No Iceberg jars in this container -> auto resolves to parquet."""
    wh = Warehouse(root=str(tmp_path), spark=spark)
    assert wh.fmt == "auto"
    assert wh.resolved_fmt() == "parquet"


def test_format_gate_selects_iceberg_writer(spark, tmp_path, monkeypatch):
    """With Iceberg available the writer must take the writeTo branch
    (jars absent here, so the branch itself is mocked)."""
    import record_linkage_spark.sources.checkpoints as cp

    calls = {}
    monkeypatch.setattr(cp, "_iceberg_available", lambda s: True)
    wh = Warehouse(root=str(tmp_path), spark=spark)
    assert wh.resolved_fmt() == "iceberg"
    assert wh.table_ident("profiles") == "spark_catalog.rl_warehouse.profiles"

    def fake_iceberg(name, df, partition_by):
        calls["name"] = name
        calls["partition_by"] = partition_by
        return [{"file": "snap-0.parquet", "rows": df.count()}]

    monkeypatch.setattr(wh, "_write_iceberg", fake_iceberg)
    monkeypatch.setattr(wh, "read", lambda name: spark.range(3).toDF("id"))
    df = spark.range(3).toDF("id")
    wh.write("stage_x", df, cfg={"a": 1})
    assert calls["name"] == "stage_x"
    lin = wh.lineage("stage_x")
    assert lin["format"] == "iceberg"
    assert lin["row_count"] == 3
    # parquet path untouched on disk for the table itself
    assert not (tmp_path / "stage_x" / "_SUCCESS").exists()


def test_zorder_by_clusters_stage_files(spark, tmp_path):
    """write(zorder_by=...) lays the stage table out on the Morton code:
    lineage records the z-spec, and rebuilding the z-values from that
    spec shows every parquet file covers a DISJOINT z-range (the footer
    min/max a reader prunes by)."""
    from pyspark.sql import functions as F

    from record_linkage_spark.operators.layout import range_bucket, zvalue
    from record_linkage_spark.sources.checkpoints import Warehouse

    wh = Warehouse(root=str(tmp_path / "zwh"), spark=spark)
    df = spark.range(4096, numPartitions=8).select(
        F.col("id"),
        (F.col("id") % 64).cast("double").alias("x"),
        (F.col("id") / 64).cast("double").alias("y"),
    )
    wh.write("pts", df, cfg={"v": 1}, zorder_by=["x", "y"])

    lin = wh.lineage("pts")
    zmeta = lin["zorder"]
    assert zmeta["columns"] == ["x", "y"]
    assert zmeta["bits"] == 16
    assert zmeta["ranges"]["x"] == [0.0, 63.0]

    back = wh.read("pts").withColumn("_file", F.input_file_name())
    bits = zmeta["bits"]
    buckets = [
        range_bucket(F.col(c).cast("double"), *zmeta["ranges"][c], bits)
        for c in zmeta["columns"]
    ]
    spans = (
        back.withColumn("zval", zvalue(buckets, bits))
        .groupBy("_file")
        .agg(F.min("zval").alias("lo"), F.max("zval").alias("hi"))
        .orderBy("lo")
        .collect()
    )
    assert len(spans) > 1
    for a, b in zip(spans, spans[1:]):
        assert a.hi <= b.lo  # contiguous non-overlapping z-ranges per file

    # row content is unchanged by the layout
    assert wh.read("pts").count() == 4096
    assert set(wh.read("pts").columns) == {"id", "x", "y"}


def test_zorder_by_handles_constant_and_null_columns(spark, tmp_path):
    from pyspark.sql import functions as F

    from record_linkage_spark.sources.checkpoints import Warehouse

    wh = Warehouse(root=str(tmp_path / "zwh2"), spark=spark)
    df = spark.range(50).select(
        F.col("id"),
        F.lit(7.0).alias("c"),                       # degenerate range
        F.when(F.col("id") % 5 == 0, None).otherwise(F.col("id"))
        .cast("double").alias("n"),                  # nulls present
    )
    out = wh.write("deg", df, cfg={}, zorder_by=["c", "n"])
    assert out.count() == 50
    assert wh.lineage("deg")["zorder"]["ranges"]["c"] == [7.0, 8.0]


def test_zorder_by_explicit_ranges(spark, tmp_path):
    """write(zorder_by=..., zorder_ranges=...) pins the bucket ranges
    instead of deriving them from the frame (the contract needed for any
    future append/incremental write path: ranges must be FIXED across
    epochs or files from different writes cover incomparable key
    spaces). Lineage records the explicit ranges and their source."""
    import pytest
    from pyspark.sql import functions as F

    from record_linkage_spark.sources.checkpoints import Warehouse

    wh = Warehouse(root=str(tmp_path / "zwh3"), spark=spark)
    df = spark.range(256).select(
        F.col("id"),
        (F.col("id") % 16).cast("double").alias("x"),
        (F.col("id") / 16).cast("double").alias("y"),
    )
    ranges = {"x": (0.0, 100.0), "y": (0.0, 100.0)}
    wh.write("pinned", df, cfg={}, zorder_by=["x", "y"], zorder_ranges=ranges)
    zmeta = wh.lineage("pinned")["zorder"]
    assert zmeta["ranges"] == {"x": [0.0, 100.0], "y": [0.0, 100.0]}
    assert zmeta["ranges_source"] == "explicit"
    assert wh.read("pinned").count() == 256

    # derived path labels itself too
    wh.write("derived", df, cfg={}, zorder_by=["x"])
    assert wh.lineage("derived")["zorder"]["ranges_source"] == "derived"

    # validation: missing column / degenerate range are rejected
    with pytest.raises(ValueError):
        wh.write("bad1", df, cfg={}, zorder_by=["x", "y"],
                 zorder_ranges={"x": (0.0, 1.0)})
    with pytest.raises(ValueError):
        wh.write("bad2", df, cfg={}, zorder_by=["x"],
                 zorder_ranges={"x": (5.0, 5.0)})
