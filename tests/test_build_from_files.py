"""Shuffle-free file-per-segment build (bleve offline-Builder shape,
/root/reference/index/scorch/builder.go:116-167): parity with the
in-memory index and manifest-based resume."""

import os

import pytest
from pyspark.sql import functions as F


@pytest.fixture(scope="module")
def corpus_files(spark, transcripts, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("fcorpus"))
    transcripts.repartition(4).write.mode("overwrite").parquet(d)
    return d, [
        os.path.join(d, f) for f in os.listdir(d) if f.endswith(".parquet")
    ]


def test_file_build_matches_inmemory(spark, transcripts, tindex,
                                     corpus_files, tmp_path):
    from bleve_spark.index.segments import (
        SegmentStore,
        build_segments_from_files,
    )

    d, paths = corpus_files
    root = str(tmp_path / "idx")
    stats = build_segments_from_files(
        spark, paths, ["conv_id", "turn_idx"], {"text": "standard"}, root
    )
    assert len(stats) == len(paths)
    assert sum(s["doc_count"] for s in stats) == transcripts.count()

    store = SegmentStore(spark, root)
    got = (
        store.postings_df(["conv_id", "turn_idx"])
        .select("field", "term", "conv_id", "turn_idx", "tf", "norm")
    )
    want = tindex.postings.where(F.col("field") == "text").select(
        "field", "term", "conv_id", "turn_idx", "tf", "norm"
    )
    assert got.exceptAll(want).count() == 0
    assert want.exceptAll(got).count() == 0


def test_file_build_resume_skips_done(spark, corpus_files, tmp_path):
    from bleve_spark.index.segments import build_segments_from_files

    d, paths = corpus_files
    root = str(tmp_path / "idx")
    first = build_segments_from_files(
        spark, paths, ["conv_id", "turn_idx"], {"text": "standard"}, root
    )
    again = build_segments_from_files(
        spark, paths, ["conv_id", "turn_idx"], {"text": "standard"}, root
    )
    assert all(m["resumed"] for m in again)
    assert [m["segment_id"] for m in again] == [
        m["segment_id"] for m in first
    ]
