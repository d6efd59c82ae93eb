"""Live mapping-update validation — mirrors the reference's
index_update_test.go (TestCompareFieldMapping / TestCompareMappings /
TestDeletedFields accept+reject cases) over index/update.py, plus the
apply path: a deleted field stops matching while other fields keep
exact scores."""

import pytest

from bleve_spark.index.mapping import FieldMapping, IndexMapping
from bleve_spark.index.update import (
    UpdateFieldInfo,
    apply_index_update,
    compare_field_mapping,
    compare_mappings,
    deleted_fields,
)


def _fm(**kw):
    return FieldMapping(**kw)


# --- compareFieldMapping table (index_update_test.go:40-292) ---

def test_both_nil_errors():
    with pytest.raises(ValueError):
        compare_field_mapping(None, None)


def test_updated_nil_deletes():
    info = compare_field_mapping(_fm(include_in_all=False), None)
    assert info == UpdateFieldInfo(deleted=True)


def test_updated_nil_but_in_all_errors():
    with pytest.raises(ValueError):
        compare_field_mapping(_fm(include_in_all=True), None)


def test_type_change_errors():
    with pytest.raises(ValueError):
        compare_field_mapping(_fm(type="text"), _fm(type="datetime"))


def test_synonym_source_change_ok():
    info = compare_field_mapping(
        _fm(type="text", synonym_source="a"),
        _fm(type="text", synonym_source="b"),
    )
    assert info == UpdateFieldInfo()


def test_analyzer_change_errors():
    with pytest.raises(ValueError):
        compare_field_mapping(
            _fm(type="text", analyzer="a"), _fm(type="text", analyzer="b")
        )


def test_vector_dims_change_errors():
    with pytest.raises(ValueError):
        compare_field_mapping(
            _fm(type="vector", dims=128, similarity="l2_norm"),
            _fm(type="vector", dims=1024, similarity="l2_norm"),
        )


def test_vector_similarity_change_errors():
    with pytest.raises(ValueError):
        compare_field_mapping(
            _fm(type="vector_base64", dims=128, similarity="l2_norm"),
            _fm(type="vector_base64", dims=128,
                similarity="dot_product"),
        )


def test_include_in_all_change_errors():
    with pytest.raises(ValueError):
        compare_field_mapping(
            _fm(type="number", include_in_all=True),
            _fm(type="number", include_in_all=False),
        )


def test_include_term_vectors_change_errors():
    with pytest.raises(ValueError):
        compare_field_mapping(
            _fm(type="number", include_term_vectors=False),
            _fm(type="number", include_term_vectors=True),
        )


def test_skip_freq_norm_change_errors():
    with pytest.raises(ValueError):
        compare_field_mapping(
            _fm(type="number", skip_freq_norm=True),
            _fm(type="number", skip_freq_norm=False),
        )


def test_index_drop_gives_index_and_docvalues():
    info = compare_field_mapping(
        _fm(type="geopoint", index=True, include_in_all=False),
        _fm(type="geopoint", index=False, include_in_all=False),
    )
    assert info == UpdateFieldInfo(index=True, doc_values=True)


def test_index_raise_errors():
    with pytest.raises(ValueError):
        compare_field_mapping(
            _fm(type="number", index=False),
            _fm(type="number", index=True),
        )


def test_docvalues_drop():
    info = compare_field_mapping(
        _fm(type="number", docvalues=True, include_in_all=False),
        _fm(type="number", docvalues=False, include_in_all=False),
    )
    assert info == UpdateFieldInfo(doc_values=True)


def test_datetime_format_change_errors():
    with pytest.raises(ValueError):
        compare_field_mapping(
            _fm(type="datetime", date_format="a"),
            _fm(type="datetime", date_format="b"),
        )


def test_irrelevant_attrs_ignored_for_other_types():
    """Analyzer/dims/similarity/synonym changes are no-ops for a
    datetime field (last table case)."""
    info = compare_field_mapping(
        _fm(type="datetime", analyzer="a", date_format="a",
            store=True, index=False, include_term_vectors=True,
            include_in_all=False, docvalues=False, skip_freq_norm=True,
            dims=128, similarity="dot_product", synonym_source="a"),
        _fm(type="datetime", analyzer="b", date_format="a",
            store=True, index=False, include_term_vectors=True,
            include_in_all=False, docvalues=False, skip_freq_norm=True,
            dims=256, similarity="l2_norm", synonym_source="b"),
    )
    assert info == UpdateFieldInfo()


# --- compareMappings (top-level invariants) ---

def _im(**kw):
    return IndexMapping(**kw)


@pytest.mark.parametrize("ori_kw,upd_kw", [
    ({"default_type": "a"}, {"default_type": "b"}),
    ({"index_dynamic": True}, {"index_dynamic": False}),
    ({"store_dynamic": True}, {"store_dynamic": False}),
    ({"docvalues_dynamic": True}, {"docvalues_dynamic": False}),
    ({"default_analyzer": "a", "index_dynamic": True},
     {"default_analyzer": "b", "index_dynamic": True}),
    ({"scoring_model": "bm25"}, {"scoring_model": "weird"}),
])
def test_compare_mappings_rejects(ori_kw, upd_kw):
    with pytest.raises(ValueError):
        compare_mappings(_im(**ori_kw), _im(**upd_kw))


def test_compare_mappings_accepts_scoring_swap_and_analyzer_static():
    compare_mappings(_im(scoring_model="bm25"),
                     _im(scoring_model="tf-idf"))
    compare_mappings(
        _im(default_analyzer="a", index_dynamic=False,
            store_dynamic=False, docvalues_dynamic=False),
        _im(default_analyzer="b", index_dynamic=False,
            store_dynamic=False, docvalues_dynamic=False),
    )


# --- DeletedFields end-to-end + apply ---

_STATIC = {
    "index_dynamic": False,
    "store_dynamic": False,
    "docvalues_dynamic": False,
}


def _corpus_mapping(with_source=True):
    props = {
        "text": {"fields": [{"type": "text",
                             "include_in_all": False}]},
    }
    if with_source:
        props["source"] = {"fields": [{
            "type": "text", "analyzer": "keyword",
            "include_in_all": False,
        }]}
    return IndexMapping.from_dict({**_STATIC,
                                   "default_mapping":
                                   {"dynamic": False,
                                    "properties": props}})


def test_deleted_fields_reports_removal():
    finfo = deleted_fields(_corpus_mapping(True), _corpus_mapping(False))
    assert set(finfo) == {"source"}
    assert finfo["source"].deleted


def test_deleted_fields_rejects_new_field():
    with pytest.raises(ValueError):
        deleted_fields(_corpus_mapping(False), _corpus_mapping(True))


def test_deleted_fields_rejects_when_dynamic():
    ori = IndexMapping.from_dict({"default_mapping": {"properties": {
        "a": {"fields": [{"type": "text", "include_in_all": False}]},
        "b": {"fields": [{"type": "text", "include_in_all": False}]},
    }}})
    upd = IndexMapping.from_dict({"default_mapping": {"properties": {
        "a": {"fields": [{"type": "text", "include_in_all": False}]},
    }}})
    # index_dynamic defaults True → deletion illegal
    with pytest.raises(ValueError):
        deleted_fields(ori, upd)


def test_apply_update_drops_field_keeps_scores(spark):
    from bleve_spark.index.mapping import index_with_mapping
    from bleve_spark.search.searcher import search_df

    df = spark.createDataFrame(
        [(1, "quick brown fox", "web"),
         (2, "quick dog", "web"),
         (3, "lazy fox", "book")],
        "doc_id int, text string, source string",
    )
    idx = index_with_mapping(df, ["doc_id"], _corpus_mapping(True),
                             persist=True)
    before_text = {
        (r["doc_id"], round(r["score"], 6))
        for r in search_df(idx, {"field": "text", "match": "fox"},
                           size=10).collect()
    }
    assert search_df(idx, {"field": "source", "term": "web"},
                     size=10).count() == 2

    upd = apply_index_update(idx, _corpus_mapping(False))
    # deleted field stops matching…
    assert search_df(upd, {"field": "source", "term": "web"},
                     size=10).count() == 0
    # …while the other field keeps EXACT scores
    after_text = {
        (r["doc_id"], round(r["score"], 6))
        for r in search_df(upd, {"field": "text", "match": "fox"},
                           size=10).collect()
    }
    assert after_text == before_text and len(after_text) == 2
    # the original index view is untouched
    assert search_df(idx, {"field": "source", "term": "web"},
                     size=10).count() == 2


def test_apply_update_store_drop_enforced(spark):
    """A store-flag drop must actually stop the field from being
    retrievable (the reference removes the stored data via
    UpdateFieldInfo), and must NOT mutate the original index's
    PlannedField objects."""
    from bleve_spark.index.mapping import index_with_mapping
    from bleve_spark.search.searcher import search

    def m(store):
        return IndexMapping.from_dict({"default_mapping": {
            "dynamic": False,
            "properties": {
                "text": {"dynamic": False, "fields": [
                    {"type": "text", "include_in_all": False},
                ]},
                "note": {"dynamic": False, "fields": [
                    {"type": "text", "analyzer": "keyword",
                     "include_in_all": False, "store": store},
                ]},
            },
        }})

    df = spark.createDataFrame(
        [(1, "quick fox", "n1"), (2, "quick dog", "n2")],
        "doc_id int, text string, note string",
    )
    idx = index_with_mapping(df, ["doc_id"], m(True), persist=True)
    res = search(idx, {"field": "text", "match": "quick"},
                 fields=["note"])
    assert all(h["fields"].get("note") for h in res["hits"])

    upd = apply_index_update(idx, m(False))
    res2 = search(upd, {"field": "text", "match": "quick"},
                  fields=["note"])
    assert all("note" not in h["fields"] for h in res2["hits"])
    # the ORIGINAL index is untouched: flag and retrievability
    assert idx.planned_fields["note"].store is True
    res3 = search(idx, {"field": "text", "match": "quick"},
                  fields=["note"])
    assert all(h["fields"].get("note") for h in res3["hits"])


def test_apply_update_drops_field_at_rest_factory(spark, tmp_path):
    """An at-rest (persist=False) index reads postings through its
    pushed-down at-rest reader — the update must thread its drop
    predicate INTO the reader, not just the in-memory relation,
    or the deleted field keeps matching from the chunk scan."""
    from bleve_spark.index.mapping import index_with_mapping_at_rest
    from bleve_spark.search.searcher import search_df

    df = spark.createDataFrame(
        [(1, "quick brown fox", "web"),
         (2, "quick dog", "web"),
         (3, "lazy fox", "book")],
        "doc_id int, text string, source string",
    )
    idx = index_with_mapping_at_rest(
        df, ["doc_id"], _corpus_mapping(True),
        str(tmp_path / "upd_store"), n_segments=2, persist=False,
    )
    assert idx.at_rest is not None
    assert search_df(idx, {"field": "source", "term": "web"},
                     size=10).count() == 2
    before_text = {
        (r["doc_id"], round(r["score"], 6))
        for r in search_df(idx, {"field": "text", "match": "fox"},
                           size=10).collect()
    }

    upd = apply_index_update(idx, _corpus_mapping(False))
    assert search_df(upd, {"field": "source", "term": "web"},
                     size=10).count() == 0
    after_text = {
        (r["doc_id"], round(r["score"], 6))
        for r in search_df(upd, {"field": "text", "match": "fox"},
                           size=10).collect()
    }
    assert after_text == before_text and len(after_text) == 2
    # original untouched
    assert search_df(idx, {"field": "source", "term": "web"},
                     size=10).count() == 2
