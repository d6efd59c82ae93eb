"""Live mapping-update validation — the reference's
index_update.go:46-126 ``DeletedFields``/``compareMappings``: decide
which edits to an IndexMapping are legal WITHOUT reindexing (only
removals: a whole field mapping, or its index/store/docvalues flags
flipping true→false), and return per-field deletion info the search
layer uses to stop serving deleted fields.

Illegal edits (anything that would change already-written postings —
new fields, type/analyzer/dateFormat changes, flags flipping
false→true, fields inside `_all`, dynamic mappings) raise ValueError
with the reference's error conditions; see
tests/test_mapping_update.py mirroring index_update_test.go.
"""

from __future__ import annotations

from dataclasses import dataclass, field as dc_field

from bleve_spark.index.mapping import (
    DocumentMapping,
    FieldMapping,
    IndexMapping,
    PATH_SEP,
)


@dataclass
class UpdateFieldInfo:
    """bleve_index_api UpdateFieldInfo: which aspects of a field are
    being dropped by a mapping update."""

    deleted: bool = False
    index: bool = False
    doc_values: bool = False
    store: bool = False

    def any(self) -> bool:
        return self.deleted or self.index or self.doc_values or self.store


@dataclass
class _PathInfo:
    field_maps: list = dc_field(default_factory=list)  # (fm, root, analyzer, dtp)
    dynamic: bool = False
    path: str = ""
    parent_path: str = ""
    analyzer: str = ""


def compare_field_mapping(
    ori: FieldMapping | None, upd: FieldMapping | None
) -> UpdateFieldInfo:
    """index_update.go compareFieldMapping — the per-field legality
    table (all accept/reject cases of TestCompareFieldMapping)."""
    rv = UpdateFieldInfo()
    if upd is None:
        if ori is not None and not ori.include_in_all:
            rv.deleted = True
            return rv
        if ori is None:
            raise ValueError("both field mappings cannot be nil")
        raise ValueError("deleted field present in '_all' field")
    if ori is None:
        raise ValueError(
            "matching field not found in original index mapping"
        )
    if ori.type != upd.type:
        raise ValueError("field type cannot be updated")
    if ori.type == "text" and ori.analyzer != upd.analyzer:
        raise ValueError("analyzer cannot be updated for text fields")
    if ori.type == "datetime" and ori.date_format != upd.date_format:
        raise ValueError(
            "dateFormat cannot be updated for datetime fields"
        )
    if ori.type in ("vector", "vector_base64"):
        if ori.dims != upd.dims:
            raise ValueError(
                "dimensions cannot be updated for vector fields"
            )
        if ori.similarity != upd.similarity:
            raise ValueError(
                "similarity cannot be updated for vector fields"
            )
    if ori.include_in_all != upd.include_in_all:
        raise ValueError("includeInAll cannot be changed")
    if ori.include_term_vectors != upd.include_term_vectors:
        raise ValueError("includeTermVectors cannot be changed")
    if ori.skip_freq_norm != upd.skip_freq_norm:
        raise ValueError("skipFreqNorm cannot be changed")
    if ori.store != upd.store:
        if upd.store:
            raise ValueError("store cannot be changed from false to true")
        if upd.include_in_all:
            raise ValueError(
                "store cannot be changed if field present in '_all'"
            )
        rv.store = True
    if ori.index != upd.index:
        if upd.index:
            raise ValueError("index cannot be changed from false to true")
        if upd.include_in_all:
            raise ValueError(
                "index cannot be changed if field present in '_all'"
            )
        rv.index = True
        rv.doc_values = True
    if ori.docvalues != upd.docvalues:
        if upd.docvalues:
            raise ValueError(
                "docvalues cannot be changed from false to true"
            )
        if upd.include_in_all:
            raise ValueError(
                "docvalues cannot be changed if field present in '_all'"
            )
        rv.doc_values = True
    return rv


def compare_mappings(ori: IndexMapping, upd: IndexMapping) -> None:
    """index_update.go compareMappings — top-level invariants."""
    if ori.type_field != upd.type_field and (
        ori.type_mapping or upd.type_mapping
    ):
        raise ValueError(
            "type field cannot be changed when type mappings are present"
        )
    if ori.default_type != upd.default_type:
        raise ValueError("default type cannot be changed")
    if ori.index_dynamic != upd.index_dynamic:
        raise ValueError("index dynamic cannot be changed")
    if ori.store_dynamic != upd.store_dynamic:
        raise ValueError("store dynamic cannot be changed")
    if ori.docvalues_dynamic != upd.docvalues_dynamic:
        raise ValueError("docvalues dynamic cannot be changed")
    if ori.default_analyzer != upd.default_analyzer and upd.index_dynamic:
        raise ValueError(
            "default analyzer cannot be changed if index dynamic is true"
        )
    if (ori.default_datetime_parser != upd.default_datetime_parser
            and upd.index_dynamic):
        raise ValueError(
            "default datetime parser cannot be changed if index "
            "dynamic is true"
        )
    if ori.scoring_model != upd.scoring_model:
        legal = ("", "tf-idf", "tfidf", "bm25")
        if (ori.scoring_model not in legal
                or upd.scoring_model not in legal):
            raise ValueError(
                "scoring model can only be changed between '', "
                "'tf-idf' and 'bm25'"
            )


def check_updated_mapping(
    ori: DocumentMapping | None, upd: DocumentMapping | None
) -> None:
    """index_update.go checkUpdatedMapping — the update may not ADD
    document mappings or field mappings, nor flip nested."""
    if ori is None:
        if upd is None or not upd.enabled:
            return
        raise ValueError("updated index mapping contains new properties")
    if upd is None or not upd.enabled:
        return
    if ori.nested != upd.nested:
        raise ValueError("nested property cannot be changed")
    for name, upd_dm in upd.properties.items():
        check_updated_mapping(ori.properties.get(name), upd_dm)
    ori_names = {fm.name for fm in ori.fields}
    for fm in upd.fields:
        if fm.name not in ori_names:
            raise ValueError("updated index mapping contains new fields")


def _add_path_info(paths: dict, name: str, dm: DocumentMapping,
                   im: IndexMapping, parent: _PathInfo | None,
                   root_name: str) -> None:
    if not dm.enabled:
        return
    info = paths.get(name)
    if info is None:
        info = _PathInfo()
        info.dynamic = dm.dynamic and im.index_dynamic
        info.analyzer = im.analyzer_name_for_path(name)
    info.dynamic = (info.dynamic or dm.dynamic) and im.index_dynamic
    info.path = name
    if parent is not None:
        info.parent_path = parent.path
    for cname, cdm in dm.properties.items():
        pname = f"{name}{PATH_SEP}{cname}" if name else cname
        _add_path_info(paths, pname, cdm, im, info, root_name)
    for fm in dm.fields:
        analyzer = (
            im.analyzer_name_for_path(name) if fm.type == "text" else ""
        )
        if fm.type == "text" and fm.analyzer:
            analyzer = fm.analyzer
        dtp = ""
        if fm.type == "datetime":
            dtp = fm.date_format or im.default_datetime_parser
        info.field_maps.append((fm, root_name, analyzer, dtp))
    paths[name] = info


def _used_components(paths: dict, im: IndexMapping):
    analysis = im.analysis or {}
    custom_an = analysis.get("analyzers") or {}
    custom_dt = analysis.get("date_time_parsers") or {}
    used_an, used_dt = {}, {}
    for info in paths.values():
        for fm, _root, analyzer, dtp in info.field_maps:
            if fm.type == "text" and analyzer in custom_an:
                used_an[analyzer] = custom_an[analyzer]
            if fm.type == "datetime" and dtp in custom_dt:
                used_dt[dtp] = custom_dt[dtp]
    return used_an, used_dt


def _compare_custom(ori_paths, upd_paths, ori: IndexMapping,
                    upd: IndexMapping) -> None:
    ori_an, ori_dt = _used_components(ori_paths, ori)
    upd_an, upd_dt = _used_components(upd_paths, upd)
    for name, cfg in upd_an.items():
        if name in ori_an:
            if ori_an[name] != cfg:
                raise ValueError(
                    f"analyzer {name} changed while being used by fields"
                )
        else:
            raise ValueError(
                f"analyzer {name} newly added to an existing field"
            )
    for name, cfg in upd_dt.items():
        if name in ori_dt:
            if ori_dt[name] != cfg:
                raise ValueError(
                    f"datetime parser {name} changed while being used "
                    "by fields"
                )
        else:
            raise ValueError(
                f"datetime parser {name} added to an existing field"
            )
    oa, ua = ori.analysis or {}, upd.analysis or {}
    if (oa.get("synonym_sources") or {}) != (ua.get("synonym_sources")
                                             or {}):
        raise ValueError("synonym sources cannot be changed")
    for part in ("char_filters", "token_filters", "token_maps",
                 "tokenizers"):
        if (oa.get(part) or {}) != (ua.get(part) or {}):
            raise ValueError(f"{part} cannot be changed")


def _add_field_info(finfo: dict, ori: _PathInfo,
                    upd: _PathInfo | None) -> None:
    if upd is None:
        for fm, root, _an, _dt in ori.field_maps:
            info = compare_field_mapping(fm, None)
            _validate_field_info(info, finfo, ori, fm)
        return
    if upd.dynamic and ori.analyzer != upd.analyzer:
        raise ValueError("analyzer has been changed for a dynamic mapping")
    for fm, root, ori_an, ori_dt in ori.field_maps:
        upd_fm = None
        upd_an = upd_dt = ""
        for ufm, uroot, uan, udt in upd.field_maps:
            if uroot == root and ufm.name == fm.name:
                upd_fm = ufm
                if ufm.type == "text":
                    upd_an = uan
                elif ufm.type == "datetime":
                    upd_dt = udt
        if upd_an and ori_an != upd_an:
            raise ValueError("analyzer has been changed for a text field")
        if upd_dt and ori_dt != upd_dt:
            raise ValueError(
                "datetime parser has been changed for a datetime field"
            )
        info = compare_field_mapping(fm, upd_fm)
        _validate_field_info(info, finfo, ori, fm)


def _validate_field_info(info: UpdateFieldInfo, finfo: dict,
                         ori: _PathInfo, fm: FieldMapping) -> None:
    field_name = fm.name or ori.path
    name = (
        f"{ori.parent_path}{PATH_SEP}{field_name}"
        if ori.parent_path else field_name
    )
    if info.any() and ori.dynamic:
        raise ValueError("updated field is under a dynamic property")
    old = finfo.get(name)
    if old is not None:
        if old != info:
            raise ValueError(
                "updated field impossible to verify because multiple "
                "mappings point to the same field name"
            )
    else:
        finfo[name] = info


def deleted_fields(
    ori: IndexMapping, upd: IndexMapping
) -> dict[str, UpdateFieldInfo]:
    """index_update.go DeletedFields: validate ``upd`` as a live
    update of ``ori`` and return {field name → UpdateFieldInfo} for
    every field with changes (only removals are legal)."""
    compare_mappings(ori, upd)
    for name, upd_dm in upd.type_mapping.items():
        check_updated_mapping(ori.type_mapping.get(name), upd_dm)
    check_updated_mapping(ori.default_mapping, upd.default_mapping)

    ori_paths: dict = {}
    upd_paths: dict = {}
    for name, dm in ori.type_mapping.items():
        _add_path_info(ori_paths, "", dm, ori, None, name)
    _add_path_info(ori_paths, "", ori.default_mapping, ori, None, "")
    for name, dm in upd.type_mapping.items():
        _add_path_info(upd_paths, "", dm, upd, None, name)
    _add_path_info(upd_paths, "", upd.default_mapping, upd, None, "")

    _compare_custom(ori_paths, upd_paths, ori, upd)

    finfo: dict[str, UpdateFieldInfo] = {}
    for path, info in ori_paths.items():
        _add_field_info(finfo, info, upd_paths.get(path))

    for name in list(finfo):
        info = finfo[name]
        if not info.any():
            del finfo[name]
            continue
        if info.deleted:
            if upd.index_dynamic:
                raise ValueError(
                    "mapping cannot be removed when index dynamic is true"
                )
            if upd.store_dynamic:
                raise ValueError(
                    "mapping cannot be removed when store dynamic is true"
                )
            if upd.docvalues_dynamic:
                raise ValueError(
                    "mapping cannot be removed when docvalues dynamic "
                    "is true"
                )
    return finfo


def apply_index_update(idx, upd: IndexMapping):
    """Apply a validated live mapping update to an IndexedTable
    WITHOUT reindexing: fields whose mapping was deleted (or whose
    index flag dropped) stop matching — their postings and dictionary
    rows are filtered out and their analyzers unregistered; fields
    whose store flag dropped leave stored-field retrieval. Everything
    else keeps exact scores: per-field stats and doc_count are
    untouched, matching the reference where the update only threads
    UpdateFieldInfo into the index (index_update.go / UpdateIndex).

    Returns a NEW IndexedTable view; the original is untouched."""
    import copy

    from pyspark.sql import functions as F

    ori = getattr(idx, "mapping", None)
    if ori is None:
        raise ValueError(
            "apply_index_update requires a mapping-built index"
        )
    finfo = deleted_fields(ori, upd)
    drop_index = sorted(
        n for n, i in finfo.items() if i.deleted or i.index
    )
    drop_store = sorted(
        n for n, i in finfo.items() if i.deleted or i.store
    )
    new = copy.copy(idx)
    if drop_index:
        new.postings = idx.postings.where(
            ~F.col("field").isin(drop_index)
        )
        # an at-rest index reads through its reader, which bypasses
        # the filtered `postings` relation — the drop rides inside
        # every pushed-down chunk scan instead
        if idx.at_rest is not None:
            new.at_rest = idx.at_rest.restricted(
                ~F.col("field").isin(drop_index)
            )
        if idx.dictionary is not None:
            new.dictionary = idx.dictionary.where(
                ~F.col("field").isin(drop_index)
            )
        new._dict_map = None
        new.field_analyzers = {
            k: v for k, v in idx.field_analyzers.items()
            if k not in drop_index
        }
    if drop_store and getattr(idx, "planned_fields", None):
        # copy each PlannedField before flipping store — a shared
        # reference would flip the flag on the ORIGINAL index too
        new.planned_fields = {
            k: (copy.copy(v) if k in drop_store else v)
            for k, v in idx.planned_fields.items()
        }
        for k in drop_store:
            if k in new.planned_fields:
                new.planned_fields[k].store = False
    new.mapping = upd
    return new
