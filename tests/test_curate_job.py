"""End-to-end corpus-curation pipeline (jobs/curate.py): quality filter ->
boilerplate line removal -> MinHash near-dup clustering -> canonical
survivors, each stage verified on a crafted corpus."""

import pytest

pyspark = pytest.importorskip("pyspark")


@pytest.fixture(scope="module")
def spark():
    from pyspark.sql import SparkSession

    s = (
        SparkSession.builder.master("local[4]")
        .appName("curate-tests")
        .config("spark.sql.shuffle.partitions", "4")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    yield s
    s.stop()


def test_curate_pipeline_stages(spark, tmp_path):
    import os
    import sys

    sys.path.insert(
        0, os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "jobs")
    )
    from curate import curate_resumable

    body = (
        "this article has plenty of decent words, proper length, and it "
        "even terminates with punctuation."
    )
    rows = [
        # near-identical trio -> one survivor (doc 1)
        ("1", "SUBSCRIBE NOW, " + body),
        ("2", "SUBSCRIBE NOW, " + body + " tiny tail."),
        ("3", "SUBSCRIBE NOW, " + body + " other tail."),
        # unique keeper
        ("4", "SUBSCRIBE NOW, a completely different story, told with other words, ends well."),
        # quality rejects
        ("5", "too short."),
        ("6", "this one has braces { code } and plenty of words to pass the length rule today."),
    ]
    docs = spark.createDataFrame(rows, "doc_id string, text string")
    # line_min_repeats=4: only the banner (present in ALL 4 quality
    # survivors) counts as boilerplate; the trio's shared body segments
    # (3 docs) stay, so the near-dup stage still sees them
    surviving, stats = curate_resumable(
        spark, docs, str(tmp_path / "out"), min_words=5, minhash_threshold=0.5,
        line_min_repeats=4, line_delimiter=",",
    )

    assert stats["input_docs"] == 6
    assert stats["quality_dropped"] == 2  # docs 5 (short) and 6 (brace)
    assert "brace" in stats["quality_drop_reasons"]
    # 'SUBSCRIBE NOW' repeats across all 4 surviving docs -> removed
    assert stats["boilerplate_lines_removed"] == 4
    assert stats["near_dup_pairs"] >= 2  # the trio collapses
    out = {r["doc_id"]: r["text"] for r in surviving.collect()}
    assert set(out) == {"1", "4"}
    assert "SUBSCRIBE NOW" not in out["1"] and out["1"].startswith("this article")
    assert stats["surviving_docs"] == 2
    assert stats["emptied_by_line_dedup"] == 0


def test_curate_emptied_docs_are_not_cross_clustered(spark, tmp_path):
    """Docs fully emptied by boilerplate removal must NOT be treated as
    near-duplicates of each other (all empty texts tokenize identically);
    they bypass the pair graph and survive with the count exposed."""
    import os
    import sys

    sys.path.insert(
        0, os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "jobs")
    )
    from curate import curate_resumable

    rows = [
        ("a", "SAME BANNER."),
        ("b", "SAME BANNER."),
        ("c", "SAME BANNER."),
        ("d", "a genuinely unique article, with plenty of words, ending properly."),
    ]
    docs = spark.createDataFrame(rows, "doc_id string, text string")
    surviving, stats = curate_resumable(
        spark, docs, str(tmp_path / "out"), min_words=2, minhash_threshold=0.5,
        line_min_repeats=3, line_delimiter=",",
    )
    assert stats["emptied_by_line_dedup"] == 3
    assert stats["near_dup_pairs"] == 0  # empties never enter the graph
    assert {r["doc_id"] for r in surviving.collect()} == {"a", "b", "c", "d"}
