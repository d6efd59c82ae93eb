"""Deletes & updates on the segment store — the reference's obsolete
bitmaps (/root/reference/index/scorch/scorch.go:659-667, README
:113-137): deleted docs vanish from reads immediately; merges reclaim
them physically (compacted doc renumbering); batch update = delete +
re-introduce (index.go:35-65)."""

import pytest
from pyspark.sql import functions as F

from bleve_spark.index.build import index_table
from bleve_spark.index.segments import SegmentStore, build_segments
from bleve_spark.search.searcher import search

KEYS = ["conv_id", "turn_idx"]
FIELDS = {"text": "standard"}


@pytest.fixture()
def store(spark, transcripts, tmp_path):
    root = str(tmp_path / "idx")
    build_segments(transcripts, KEYS, FIELDS, root, n_segments=4)
    return SegmentStore(spark, root)


def test_delete_hides_docs_and_merge_reclaims(spark, transcripts, store):
    total = transcripts.count()
    victims = transcripts.where(F.col("conv_id") < "conv00000005")
    n_victims = victims.count()
    assert 0 < n_victims < total

    n = store.delete_docs(victims, KEYS)
    assert n == n_victims
    # immediate read-side effect
    assert store.doc_table().count() == total - n_victims
    live_keys = {
        (r["conv_id"], r["turn_idx"])
        for r in store.postings_df(KEYS)
        .select(*KEYS).distinct().collect()
    }
    assert all(k[0] >= "conv00000005" for k in live_keys)
    # stats see the live doc count
    assert store.stats(["text"]).doc_count == total - n_victims

    # merge physically reclaims: merged store == fresh build of live
    from bleve_spark.index.merge import merge_to_single

    final = merge_to_single(spark, store.root, fanin=4)
    merged = SegmentStore(spark, final)
    assert merged.deletions() is None
    assert merged.doc_table().count() == total - n_victims

    live_df = transcripts.where(F.col("conv_id") >= "conv00000005")
    idx_mem = index_table(live_df, KEYS, FIELDS, persist=False)
    idx_seg = merged.to_indexed_table(live_df, KEYS, FIELDS)
    q = {"field": "text", "match": "spark data"}
    h_mem = search(idx_mem, q, size=10)["hits"]
    h_seg = search(idx_seg, q, size=10)["hits"]
    assert [(h["id"], round(h["score"], 9)) for h in h_mem] == [
        (h["id"], round(h["score"], 9)) for h in h_seg
    ]


def test_update_docs_replaces_rows(spark, transcripts, store):
    # rewrite one conversation's text
    upd = transcripts.where(F.col("conv_id") == "conv00000003").withColumn(
        "text", F.lit("replacement zebra text")
    )
    n_upd = upd.count()
    store.update_docs(upd, KEYS, FIELDS)

    total = transcripts.count()
    assert store.doc_table().count() == total  # same doc population
    # new content searchable, old content for that conv gone
    post = store.postings_df(KEYS)
    zebra = post.where(F.col("term") == "zebra")
    assert zebra.count() == n_upd
    old_terms = post.where(
        (F.col("conv_id") == "conv00000003")
        & ~F.col("term").isin("replacement", "zebra", "text")
    )
    assert old_terms.count() == 0


def test_tiered_merge_reclaims_deletes(spark, transcripts, store):
    victims = transcripts.where(F.col("turn_idx") == 0)
    store.delete_docs(victims, KEYS)
    from bleve_spark.index.merge import tiered_merge

    final = tiered_merge(spark, store.root)
    merged = SegmentStore(spark, final)
    assert final != store.root  # deletes alone must trigger a plan
    assert merged.doc_table().count() == (
        transcripts.count() - victims.count()
    )


def test_snapshot_rollback(spark, transcripts, store):
    """Snapshot epochs are rollback points (rollback.go:35-140): an
    epoch pinned before a delete still sees the deleted docs; one
    pinned after does not; new segments are invisible to old epochs."""
    total = transcripts.count()
    e0 = store.commit_snapshot()

    victims = transcripts.where(F.col("conv_id") < "conv00000003")
    nv = victims.count()
    store.delete_docs(victims, KEYS)
    e1 = store.commit_snapshot()

    extra = transcripts.where(F.col("conv_id") == "conv00000003")
    store.update_docs(
        extra.withColumn("text", F.lit("fresh zzz")), KEYS, FIELDS
    )
    e2 = store.commit_snapshot()

    v0, v1, v2 = (store.at_epoch(e) for e in (e0, e1, e2))
    assert v0.doc_table().count() == total
    assert v1.doc_table().count() == total - nv
    # e2: conv 3's old rows deleted, fresh rows in a new segment
    assert v2.doc_table().count() == total - nv
    assert (
        v2.postings_df(KEYS)
        .where(F.col("term") == "zzz").count() > 0
    )
    assert (
        v1.postings_df(KEYS)
        .where(F.col("term") == "zzz").count() == 0
    )


def test_merge_reclaims_without_driver_collect(
    spark, transcripts, store, monkeypatch
):
    """Scale path: with delete_broadcast_max=0 the merge must NOT
    collect the deletions rows to the driver — delete sets are written
    as per-segment compact parquet and loaded lazily on executors —
    yet produce byte-identical results to the broadcast fast path."""
    import os

    from bleve_spark.index import merge as M
    from bleve_spark.index.merge import merge_to_single

    total = transcripts.count()
    victims = transcripts.where(F.col("conv_id") < "conv00000005")
    n_victims = victims.count()
    store.delete_docs(victims, KEYS)

    # trip any driver-side materialization of the per-row delete set:
    # row-level collect is only legal for the per-segment COUNT agg
    real_collect = type(transcripts).collect

    def guarded_collect(self):
        rows = real_collect(self)
        cols = set(self.columns)
        assert not (
            {"seg", "local"} <= cols and len(rows) > 64
        ), "full deletions collected to the driver"
        return rows

    monkeypatch.setattr(type(transcripts), "collect", guarded_collect)
    final = merge_to_single(
        spark, store.root, fanin=4, delete_broadcast_max=0
    )
    monkeypatch.setattr(type(transcripts), "collect", real_collect)

    merged = SegmentStore(spark, final)
    assert merged.deletions() is None
    assert merged.doc_table().count() == total - n_victims
    # the compact per-segment delete parquet was the vehicle
    inter = f"{store.root}_L1"
    assert os.path.isdir(os.path.join(inter, "_dels_compact"))

    # identical search results to a fresh build of the live docs
    live_df = transcripts.where(F.col("conv_id") >= "conv00000005")
    idx_mem = index_table(live_df, KEYS, FIELDS, persist=False)
    idx_seg = merged.to_indexed_table(live_df, KEYS, FIELDS)
    q = {"field": "text", "match": "spark data"}
    h_mem = search(idx_mem, q, size=10)["hits"]
    h_seg = search(idx_seg, q, size=10)["hits"]
    assert [(h["id"], round(h["score"], 9)) for h in h_mem] == [
        (h["id"], round(h["score"], 9)) for h in h_seg
    ]
