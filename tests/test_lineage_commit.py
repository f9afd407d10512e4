"""The bucket commit shared by extraction, ingestion, crawl planning and
the curation stage checkpoints: every processed bucket commits a manifest,
including one no row hashes to, so a resume never recomputes it."""

import json

import pytest

pyspark = pytest.importorskip("pyspark")


@pytest.fixture(scope="module")
def spark():
    from pyspark.sql import SparkSession

    s = (
        SparkSession.builder.master("local[2]")
        .appName("lineage-commit-tests")
        .config("spark.sql.shuffle.partitions", "2")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    yield s
    s.stop()


def test_commit_bucketed_stage_manifests_empty_buckets(spark, tmp_path):
    from nreadspark.lineage import (
        LINEAGE_DIR,
        bucket_col,
        commit_bucketed_stage,
        completed_buckets,
    )

    n_buckets = 16
    df = spark.createDataFrame([(f"doc-{i}",) for i in range(3)], "doc_id string")
    hit = {r["b"] for r in df.select(bucket_col(n_buckets).alias("b")).collect()}
    assert len(hit) < n_buckets  # the ids leave most buckets empty
    out = str(tmp_path / "stage")

    total = commit_bucketed_stage(spark, df, out, "s", n_buckets, {}, resume=False)
    assert total == 3
    assert completed_buckets(out) == set(range(n_buckets))
    lineage = tmp_path / "stage" / LINEAGE_DIR
    for b in set(range(n_buckets)) - hit:
        manifest = json.loads((lineage / f"bucket={b}.json").read_text())
        assert manifest["bucket"] == b and manifest["docs"] == 0

    mtimes = {p.name: p.stat().st_mtime_ns for p in lineage.glob("bucket=*.json")}
    again = commit_bucketed_stage(spark, df, out, "s", n_buckets, {}, resume=True)
    assert again == total
    # every bucket was already committed: the resume writes no manifest
    assert {p.name: p.stat().st_mtime_ns for p in lineage.glob("bucket=*.json")} == mtimes
